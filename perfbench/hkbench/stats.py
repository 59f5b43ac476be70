"""Pure summary statistics used by the benchmark (no Spark, no I/O)."""

from __future__ import annotations

import statistics

#: samples that must lie beyond a reported tail percentile
TAIL_BEYOND = 10


def p50(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int] | None:
    """The highest percentile of ``values`` that has at least ``beyond``
    samples above it, as ``(value, percentile, n)``.

    With ``n`` samples that is the ``beyond + 1``-th largest one, at
    percentile ``100 * (n - beyond) / n``. None when fewer than
    ``beyond + 1`` samples exist: no percentile has enough samples
    beyond it.
    """
    n = len(values)
    if n <= beyond:
        return None
    ordered = sorted(values)
    return float(ordered[n - beyond - 1]), 100.0 * (n - beyond) / n, n


def recall_at_k(exact_top: list, returned: list) -> float:
    """Share of the exact top-K keys present in the returned keys."""
    if not exact_top:
        raise ValueError("exact top-K is empty")
    got = set(returned)
    return sum(1 for key in exact_top if key in got) / len(exact_top)


def count_are(exact_counts: dict, returned: dict) -> float:
    """Mean relative error of returned counts against exact counts,
    over the returned keys that have an exact count."""
    errs = [
        abs(count - exact_counts[key]) / exact_counts[key]
        for key, count in returned.items()
        if exact_counts.get(key)
    ]
    if not errs:
        raise ValueError("no returned key has an exact count")
    return sum(errs) / len(errs)


def error_rate(raised: int, wrong: int, attempted: int) -> float:
    """(operations that raised + wrong results) / operations attempted."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    return (raised + wrong) / attempted
