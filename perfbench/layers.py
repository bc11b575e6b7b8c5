"""Per-layer metrics from the spans of one op.

Spans come from :mod:`perfbench.trace`; an op owns every span that
starts inside its driver-side time window. Times are summed over
processes and threads, so with several tasks in flight a layer's
seconds can exceed the op's wall time. ``spark.outside_reader_s`` is
the exception: the op's wall time during which no planning or reader
span was open anywhere.
"""

from __future__ import annotations

#: (metric, unit) in report order
PER_LAYER = [
    ("datasource.plan_s", "s"),
    ("datasource.meta_gets", "count"),
    ("datasource.cells_planned", "count"),
    ("datasource.cells_read", "count"),
    ("datasource.cells_read_frac", "ratio"),
    ("datasource.partitions", "count"),
    ("datasource.read_s", "s"),
    ("datasource.assemble_s", "s"),
    ("datasource.to_batch_s", "s"),
    ("datasource.batches", "count"),
    ("zarr.store.get_calls", "count"),
    ("zarr.store.get_mb", "MB"),
    ("zarr.store.get_s", "s"),
    ("zarr.codecs.decode_calls", "count"),
    ("zarr.codecs.decoded_mb", "MB"),
    ("zarr.codecs.decode_s", "s"),
    ("zarr.codecs.encode_calls", "count"),
    ("zarr.codecs.encode_s", "s"),
    ("zarr.table.evaluate_s", "s"),
    ("zarr.table.fill_cells", "count"),
    ("pruning.zarr_sql_plan_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.outside_reader_s", "s"),
    ("io.write_small_s", "s"),
    ("io.write_bulk_s", "s"),
    ("io.append_s", "s"),
    ("io.readback_s", "s"),
    ("io.objects_written", "count"),
    ("io.mb_written", "MB"),
    ("io.bytes_stored_per_input_byte", "ratio"),
    ("operators.lsh_pairs_s", "s"),
    ("operators.candidate_pairs", "count"),
    ("operators.verified_pairs", "count"),
    ("operators.verify_yield", "ratio"),
    ("operators.components_s", "s"),
    ("operators.components", "count"),
    ("trace.op_p50_traced_s", "s"),
    ("trace.op_p50_untraced_s", "s"),
    ("trace.overhead_frac", "ratio"),
]

PLAN_SPANS = ("ds.schema", "ds.reader", "ds.pushFilters", "ds.partitions")
#: spans during which reader code runs, for ``outside_reader_s``
READER_SPANS = PLAN_SPANS + ("ds.read", "pruning.zarr_sql")
#: benchmark-level spans of the ingest cycle -> metric
IO_STEPS = {
    "io.write_small": "io.write_small_s",
    "io.write_bulk": "io.write_bulk_s",
    "io.append": "io.append_s",
    "io.readback": "io.readback_s",
}


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def op_metrics(spans: list, start: float, end: float) -> dict:
    """Per-layer metrics of the op that ran in ``[start, end]``."""
    by_id = {s["id"]: s for s in spans}
    by_name: dict = {}
    for s in spans:
        parent = by_id.get(s["parent"])
        if parent is not None and parent["name"] == s["name"]:
            continue  # count a nested call of the same layer once
        by_name.setdefault(s["name"], []).append(s)

    def named(name):
        return by_name.get(name, [])

    def total(name, key=None):
        return sum((s.get(key, 0) if key else _dur(s)) for s in named(name))

    m = {}
    m["datasource.plan_s"] = sum(total(n) for n in PLAN_SPANS)
    gets = named("store.get")
    m["datasource.meta_gets"] = sum(1 for s in gets if s.get("meta"))
    parts = named("ds.partitions")
    m["datasource.cells_planned"] = sum(s["planned"] for s in parts)
    m["datasource.cells_read"] = len(named("ds.load_cell"))
    grid = sum(s["grid"] for s in parts)
    m["datasource.cells_read_frac"] = m["datasource.cells_read"] / grid if grid else 0.0
    m["datasource.partitions"] = sum(s["parts"] for s in parts)
    reads = named("ds.read")
    m["datasource.read_s"] = sum(s["inside"] for s in reads)
    # self time of read: its inside time minus cells it loaded inline
    # (on its own thread); with the prefetch pool this is batch
    # assembly plus waiting for the pool
    inline = {}
    for s in named("ds.load_cell"):
        r = by_id.get(s["parent"])
        if r is not None and r["name"] == "ds.read" and r["tid"] == s["tid"] \
                and r["pid"] == s["pid"]:
            inline[r["id"]] = inline.get(r["id"], 0.0) + _dur(s)
    m["datasource.assemble_s"] = sum(s["inside"] - inline.get(s["id"], 0.0) for s in reads)
    m["datasource.to_batch_s"] = total("ds.to_batch")
    m["datasource.batches"] = total("ds.read", "batches")
    m["zarr.store.get_calls"] = len(gets)
    m["zarr.store.get_mb"] = total("store.get", "bytes") / 1e6
    m["zarr.store.get_s"] = total("store.get")
    m["zarr.codecs.decode_calls"] = len(named("codecs.decode"))
    m["zarr.codecs.decoded_mb"] = total("codecs.decode", "bytes") / 1e6
    m["zarr.codecs.decode_s"] = total("codecs.decode")
    m["zarr.codecs.encode_calls"] = len(named("codecs.encode"))
    m["zarr.codecs.encode_s"] = total("codecs.encode")
    m["zarr.table.evaluate_s"] = total("table.evaluate")
    m["zarr.table.fill_cells"] = sum(1 for s in gets if s.get("absent"))
    m["pruning.zarr_sql_plan_s"] = total("pruning.zarr_sql")
    busy = _covered(
        [(s["start"], s["end"]) for n in READER_SPANS for s in named(n)], start, end)
    m["spark.outside_reader_s"] = (end - start) - busy
    for span_name, metric in IO_STEPS.items():
        m[metric] = total(span_name)
    m["io.objects_written"] = len(named("store.set"))
    m["io.mb_written"] = total("store.set", "bytes") / 1e6
    m["operators.lsh_pairs_s"] = total("operators.lsh_pairs")
    m["operators.components_s"] = total("operators.components")
    return m


def split_by_op(spans: list, windows: list) -> list:
    """Group spans by the op window ``(start, end)`` they start in."""
    out = [[] for _ in windows]
    order = sorted(range(len(windows)), key=lambda k: windows[k][0])
    for s in spans:
        for k in order:
            a, b = windows[k]
            if a <= s["start"] <= b:
                out[k].append(s)
                break
    return out
