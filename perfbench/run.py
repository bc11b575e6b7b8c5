#!/usr/bin/env python3
"""Seeded closed-loop benchmark of arrow_zarr_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run: generate the workload's inputs
from the seed (untimed), start a fresh ``local[nproc]`` session and
open the inputs (``setup_s``), run one cold op (``first_op_s``), then
run warm ops back to back for ``--seconds`` seconds. Every op's output
is checked against expectations computed from the seeded inputs.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the warm ops alternate traced/untraced and the last
line carries the per-layer metrics (medians over traced ops) and the
tracer's overhead. The line before it is the run's context: host,
versions, seed, input sizes, failed ops. Every op's record (latency,
Spark job/stage/task counts, per-layer values) and the spans, each
tagged with its op, go to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# import this directory's modules as ``perfbench.*`` only: on the path
# as a script directory, ``trace.py`` would shadow the stdlib module
sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

END_TO_END = [
    ("setup_s", "s"),
    ("first_op_s", "s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
    ("rows_per_s", "rows/s"),
    ("peak_rss_mb", "MB"),
]
#: a run starts no further warm op after this many seconds in total, so
#: that it ends within three minutes on a slow host
HARD_STOP_S = 110.0


def descendants() -> set:
    """Pids of every live process below this one, read from /proc."""
    children: dict = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            children.setdefault(int(fields[1]), []).append(int(p))
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = set(), [os.getpid()]
    while frontier:
        for c in children.get(frontier.pop(), []):
            if c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def adopt_orphans() -> None:
    """Make this process the subreaper of its tree: a process whose
    parent dies (a Python worker of the JVM) is re-parented here, so
    ``stop_processes`` can find it and wait for it."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def stop_processes(spark) -> None:
    """Stop the session, then the JVM it launched (it exits when its
    stdin closes), then every process still below this one; return only
    when each has ended and been reaped."""
    if spark is not None:
        try:
            spark.stop()
        except Exception:
            traceback.print_exc()
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    sig = signal.SIGTERM
    while True:
        while True:  # reap every child that has ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        left = descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        time.sleep(0.1)


class PeakRss:
    """Samples the summed RSS of this process and all its descendants
    (the JVM and Spark's Python workers) from /proc."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> int:
        rss = 0
        for pid in descendants() | {os.getpid()}:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return rss

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, self._sample())

    def start(self):
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._sample())
        return self.peak / 1e6


def tail(latencies: list) -> tuple:
    """(value, percentile): the highest sample with at least ten samples
    above it, at its whole percentile rank. With 21 samples or fewer that
    sample is no higher than the median, so such runs report their
    maximum (percentile 100)."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 21:
        return xs[-1], 100
    return xs[n - 11], (100 * (n - 10)) // n


def java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True,
                             timeout=30).stderr
        # stderr starts with "Picked up JAVA_TOOL_OPTIONS" (isolate_env)
        found = [line for line in out.splitlines() if " version " in line]
        return found[0] if found else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def spark_counts(sc, group: str) -> dict:
    """Exact job/stage/task counts of one op from the status tracker;
    stages count only if they ran a task (skipped stages did no work)."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for s in stage_ids:
        info = tracker.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            stages += 1
            tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def isolate_env(workdir: str, trace_dir: str | None) -> None:
    """Keep every file Spark, the JVM and Python write under ``workdir``;
    put the tracer hook on the workers' path for traced runs."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # the JVM writes hsperfdata under /tmp whatever java.io.tmpdir says
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        opts + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
    # get_spark's 16g default heap is more than a shared host should lend
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    if trace_dir:
        from perfbench import trace

        os.environ[trace.TRACE_DIR_ENV] = trace_dir
        trace.configure(trace_dir)
        hook = os.path.join(HERE, "hook")
        parts = [hook, ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(parts)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="corrupt one op's expectation (self-test only)")
    args = ap.parse_args(argv)
    t_start = time.monotonic()

    from perfbench import inputs, layers
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    if not os.path.isdir(os.path.join(ROOT, "arrow_zarr_spark")):
        print("perfbench: arrow_zarr_spark not found next to perfbench/", file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(base, "work", tag)
    results_dir = os.path.join(base, "results")
    trace_dir = os.path.join(results_dir, f"{tag}-spans") if args.trace else None
    for d in (workdir, results_dir) + ((trace_dir,) if trace_dir else ()):
        os.makedirs(d, exist_ok=True)
    isolate_env(workdir, trace_dir)
    cpus = len(os.sched_getaffinity(0))
    java = java_version()

    adopt_orphans()
    # a run stopped from outside still stops its processes (``finally``)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    rss = PeakRss()
    spark = None
    try:
        wl = WORKLOADS[args.workload](args.seed, inputs.SIZES[args.scale], workdir,
                                      plant=args.plant_wrong)
        sizes = wl.generate()

        # -- setup: session + registration, then opening the inputs ------
        t0 = time.monotonic()
        import pyspark

        from arrow_zarr_spark import register
        from arrow_zarr_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus)
        register(spark)
        rss.start()
        session_s = time.monotonic() - t0
        if args.trace:
            from perfbench import trace

            trace.install()
        wl.open(spark)
        setup_s = time.monotonic() - t0

        # -- ops ---------------------------------------------------------
        sc = spark.sparkContext
        records = []

        def one_op(i: int, traced: bool) -> dict:
            group = f"perfbench-op-{i}"
            sc.setJobGroup(group, group)
            if traced:
                trace.set_active(True)
            rec = {"op": i, "traced": traced, "errors": []}
            a = time.monotonic()
            try:
                out = wl.run_op(i)
            except Exception as exc:  # an op that raises counts as failed
                out = None
                rec["errors"].append(f"raised {type(exc).__name__}: {exc}"[:500])
            b = time.monotonic()
            if traced:
                trace.set_active(False)
            rec.update(start=a, end=b, latency_s=b - a)
            rec.update(spark_counts(sc, group))
            if out is not None:
                try:
                    rec["errors"].extend(wl.check(i, out))
                    wl.after_op(i)
                except Exception as exc:
                    rec["errors"].append(f"check raised {type(exc).__name__}: {exc}"[:500])
            rec["extra"] = dict(wl.extra)
            rec["failed"] = bool(rec["errors"])
            records.append(rec)
            return rec

        first = one_op(0, traced=False)
        for i in range(1, 1 + wl.warmup_ops):
            one_op(i, traced=False)
        warm_recs = []
        # a traced run needs a traced and an untraced op for the overhead
        min_ops = max(wl.min_warm_ops, 2 * args.trace)
        warm_start = time.monotonic()
        while True:
            now = time.monotonic()
            if now - t_start > HARD_STOP_S and warm_recs:
                break
            if now - warm_start >= args.seconds and len(warm_recs) >= min_ops:
                break
            traced = bool(args.trace) and len(warm_recs) % 2 == 0
            warm_recs.append(one_op(len(records), traced))
        finish = wl.finish() if args.trace else {}
        peak_mb = rss.stop()
    finally:
        stop_processes(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    lat = [r["latency_s"] for r in warm_recs]
    failed = sum(r["failed"] for r in records)
    tail_s, tail_pct = tail(lat)
    e2e = {
        "setup_s": setup_s,
        "first_op_s": first["latency_s"],
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_s,
        "rows_per_s": wl.rows_per_op * len(lat) / sum(lat),
        "peak_rss_mb": peak_mb,
    }
    def extra_median(key):
        got = [r["extra"][key] for r in warm_recs if key in r["extra"]]
        return statistics.median(got) if got else None

    ratio = extra_median("bytes_stored_per_input_byte")
    context = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": cpus, "host_cpus": os.cpu_count(), "local_width": cpus,
        "versions": {
            "python": platform.python_version(), "pyspark": pyspark.__version__,
            "pyarrow": __import__("pyarrow").__version__,
            "numpy": __import__("numpy").__version__, "java": java,
        },
        "inputs": sizes, "rows_per_op": wl.rows_per_op,
        "stored_objects": extra_median("stored_objects"),
        "attempted": len(records), "failed": failed,
        "failed_frac": {"value": failed / len(records), "unit": "ratio"},
        "bytes_stored_per_input_byte": (
            {"value": ratio, "unit": "ratio"} if ratio is not None else None),
        "tail_percentile": tail_pct, "warm_ops": len(lat),
        "setup_parts_s": {"session": session_s, "open": setup_s - session_s},
        "failures": [{"op": r["op"], "errors": r["errors"]} for r in records if r["failed"]],
    }

    if args.trace:
        spans = trace.load_spans(trace_dir)
        traced = [r for r in warm_recs if r["traced"]]
        untraced = [r for r in warm_recs if not r["traced"]]
        per_op = layers.split_by_op(spans, [(r["start"], r["end"]) for r in traced])
        for r, op_spans in zip(traced, per_op):
            for sp in op_spans:
                sp["op"] = r["op"]
            r["layers"] = layers.op_metrics(op_spans, r["start"], r["end"])
            r["layers"].update({f"spark.{k}": r[k] for k in ("jobs", "stages", "tasks")})
            r["layers"]["io.bytes_stored_per_input_byte"] = \
                r["extra"].get("bytes_stored_per_input_byte", 0.0)
            r["layers"]["operators.components"] = r["extra"].get("components", 0)
        p50_t = statistics.median(r["latency_s"] for r in traced)
        p50_u = statistics.median(r["latency_s"] for r in untraced)
        values = {}
        for name, unit in layers.PER_LAYER:
            got = [r["layers"][name] for r in traced if name in r["layers"]]
            if got:
                values[name] = (statistics.median_low(got) if unit == "count"
                                else statistics.median(got))
        cand = finish.get("candidate_pairs", 0)
        ver = finish.get("verified_pairs", 0)
        values.update({
            "operators.candidate_pairs": cand, "operators.verified_pairs": ver,
            "operators.verify_yield": ver / cand if cand else 0.0,
            "trace.op_p50_traced_s": p50_t, "trace.op_p50_untraced_s": p50_u,
            "trace.overhead_frac": p50_t / p50_u - 1.0,
        })
        metrics = {n: {"value": values[n], "unit": u} for n, u in layers.PER_LAYER}
        with open(os.path.join(results_dir, f"{tag}-spans.jsonl"), "w") as f:
            f.writelines(json.dumps(sp) + "\n" for sp in spans)
        shutil.rmtree(trace_dir)
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
        context["end_to_end"] = metrics

    with open(os.path.join(results_dir, f"{tag}.json"), "w") as f:
        json.dump({"context": context, "metrics": metrics, "ops": records}, f, indent=1)
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": failed == 0, "attempted": len(records),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
