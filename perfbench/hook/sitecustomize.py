"""Installs the benchmark's span tracer in every Python process Spark
starts (planning workers, read tasks, write tasks) when the driver has
set ``PERFBENCH_TRACE_DIR``. This directory is put on ``PYTHONPATH``
only for traced runs."""

import os
import sys

if os.environ.get("PERFBENCH_TRACE_DIR"):
    try:
        from perfbench import trace

        trace.install()
    except Exception as exc:  # a worker must still run untraced
        print(f"perfbench: tracer not installed: {exc!r}", file=sys.stderr)
