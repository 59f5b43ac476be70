"""Keep zipimport's archive directories across ``invalidate_caches()``.

Spark's Python worker calls ``importlib.invalidate_caches()`` before
every task (``pyspark.worker_util.setup_spark_files``). Before Python
3.13, that makes every cached ``zipimport.zipimporter`` re-read the
whole central directory of its archive. A worker holds one importer per
sub-package it imported from ``pyspark.zip`` (about 1,300 entries) or
the py4j zip, 14-16 in all, so the call costs about 0.1 s of CPU per
task. From 3.13 on, the call only drops the cached directory and the
next import re-reads it, so nothing is wrapped there.

``install()`` wraps ``zipimporter.invalidate_caches``: an archive is
re-read only when its ``os.stat`` stamp (mtime, size, inode) changed
since it was last read; otherwise the importer takes the directory
already cached for that archive. A rewritten archive, such as a
re-added ``--py-files`` zip, is still re-read. The package installs
this on import, so every worker that unpickles one of its closures
gets it.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> os.stat stamp taken just before its last read; one
# per process, like zipimport's own _zip_directory_cache it guards
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (idempotent; a no-op on
    Python 3.13 and later, and before 3.10, whose zipimporter has no
    such method)."""
    if sys.version_info >= (3, 13):
        return
    cls = zipimport.zipimporter
    reread = getattr(cls, "invalidate_caches", None)
    if reread is None or reread.__module__ == __name__:
        return

    def invalidate_caches(self) -> None:
        # stat before reading, so a rewrite during the read leaves the
        # older stamp behind and the next call reads again
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        if stamp is None:
            _stamps.pop(self.archive, None)
        else:
            _stamps[self.archive] = stamp

    invalidate_caches.__wrapped__ = reread
    cls.invalidate_caches = invalidate_caches
