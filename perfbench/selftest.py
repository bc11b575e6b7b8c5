#!/usr/bin/env python3
"""Fast self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

Runs every workload end to end at ``--scale tiny`` with one planted
wrong expectation (op 1's), and asserts that exactly that op is counted
as failed: the checks run, a wrong answer shows in ``failed`` /
``failed_frac`` and is not swallowed, and every other op's output
matched. Then a traced run of each workload asserts that every
per-layer metric is reported and that the layers the workload loads
read non-zero. Each run is a fresh process (a fresh JVM), about half a
minute each; exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

from perfbench.layers import PER_LAYER  # noqa: E402
from perfbench.run import END_TO_END  # noqa: E402
from perfbench.workloads import PLANTED_OP, WORKLOADS  # noqa: E402


#: per-layer metrics each workload must move when traced
TRACED_NONZERO = {
    "scan_grid": ["datasource.plan_s", "datasource.cells_read", "datasource.read_s",
                  "zarr.store.get_calls", "zarr.codecs.decode_calls",
                  "zarr.table.evaluate_s", "zarr.table.fill_cells", "spark.tasks"],
    "ingest_dedup": ["io.write_bulk_s", "io.append_s", "io.objects_written",
                     "zarr.codecs.encode_calls", "pruning.zarr_sql_plan_s",
                     "operators.lsh_pairs_s", "operators.verified_pairs",
                     "operators.components", "spark.jobs"],
}


def run(workload: str, *extra: str) -> tuple:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--scale", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0 and len(lines) >= 2, (
        f"{workload}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(lines[-2])["context"], json.loads(lines[-1])


def main() -> int:
    for name in WORKLOADS:
        ctx, res = run(name, "--trace", "0", "--plant-wrong")
        failed_ops = [f["op"] for f in ctx["failures"]]
        assert failed_ops == [PLANTED_OP], f"{name}: failed ops {ctx['failures']}"
        assert res["failed"] == 1 and res["correct"] is False, f"{name}: {res}"
        assert ctx["failed_frac"]["value"] == 1 / res["attempted"], ctx["failed_frac"]
        assert sorted(res["metrics"]) == sorted(n for n, _ in END_TO_END), res["metrics"]
        print(f"ok {name}: {res['attempted']} ops, planted failure counted")
    for name, nonzero in TRACED_NONZERO.items():
        ctx, res = run(name, "--trace", "1")
        assert res["failed"] == 0 and res["correct"] is True, ctx["failures"]
        assert sorted(res["metrics"]) == sorted(n for n, _ in PER_LAYER), res["metrics"]
        zero = [m for m in nonzero if not res["metrics"][m]["value"] > 0]
        assert not zero, f"{name}: traced metrics read 0: {zero}"
        print(f"ok {name} traced: every per-layer metric reported")
    return 0


if __name__ == "__main__":
    sys.exit(main())
