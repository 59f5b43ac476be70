"""Installs the benchmark's span wrappers in the Spark Python workers of
a traced run. Python imports this module at interpreter start because
the traced run puts this directory on the workers' ``PYTHONPATH``; the
spans go to the directory named by ``PERFBENCH_TRACE_DIR``."""

import os

if os.environ.get("PERFBENCH_TRACE_DIR"):
    from hkbench import spans

    spans.install(spans.Recorder(os.environ["PERFBENCH_TRACE_DIR"]))
