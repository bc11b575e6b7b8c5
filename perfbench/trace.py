"""Span tracing of the package's layers, from outside the package.

``install()`` wraps the public entry points of each layer (and two
private steps of the reader: loading a cell and assembling a batch) in
place. Every wrapped call records a
span ``(name, start, end, parent, id, pid, tid)`` plus a few counters
(bytes, cells, batches) in memory; a span that closes with no open
parent on its thread appends its buffered spans to
``<trace dir>/spans-<pid>.jsonl``. Spark's Python workers are separate
processes, so the driver sets ``PERFBENCH_TRACE_DIR`` and puts
``perfbench/hook`` on ``PYTHONPATH`` before the JVM starts; the hook's
``sitecustomize`` calls ``install()`` in every worker.

A wrapped call records only while ``<trace dir>/on`` exists, so the
driver can interleave traced and untraced ops in one session and
measure the tracer's overhead. Start and end are ``time.monotonic()``,
one system-wide clock on Linux, so worker spans are attributed to an
op by its driver-side time window.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time

TRACE_DIR_ENV = "PERFBENCH_TRACE_DIR"

_dir = None
_sentinel = None
_local = threading.local()
_lock = threading.Lock()
_buf: list = []
_ids = itertools.count(1)
_fd = None
_fd_pid = None
#: the open reader span of this process: parent of spans that start on
#: the reader's prefetch threads (one task runs per worker process)
_entry = None
_installed = False


def configure(trace_dir) -> None:
    """Record spans under ``trace_dir`` (``None`` turns tracing off)."""
    global _dir, _sentinel
    _dir = trace_dir
    _sentinel = os.path.join(trace_dir, "on") if trace_dir else None


configure(os.environ.get(TRACE_DIR_ENV))


def active() -> bool:
    return _sentinel is not None and os.path.exists(_sentinel)


def set_active(on: bool) -> None:
    if on:
        with open(_sentinel, "w"):
            pass
    elif os.path.exists(_sentinel):
        os.remove(_sentinel)


class Span:
    __slots__ = ("name", "id", "parent", "start", "end", "tid", "attrs")

    def __init__(self, name: str, parent):
        self.name = name
        self.id = f"{os.getpid()}:{next(_ids)}"
        self.parent = parent
        self.tid = threading.get_ident()
        self.attrs: dict = {}
        self.start = time.monotonic()
        self.end = None


def _stack() -> list:
    st = getattr(_local, "stack", None)
    if st is None:
        st = _local.stack = []
    return st


def begin(name: str) -> Span:
    st = _stack()
    parent = st[-1].id if st else (_entry.id if _entry is not None else None)
    sp = Span(name, parent)
    st.append(sp)
    return sp


def finish(sp: Span) -> None:
    sp.end = time.monotonic()
    st = _stack()
    if st and st[-1] is sp:
        st.pop()
    rec = {"name": sp.name, "id": sp.id, "parent": sp.parent,
           "start": sp.start, "end": sp.end, "pid": os.getpid(),
           "tid": sp.tid}
    if sp.attrs:
        rec.update(sp.attrs)
    with _lock:
        _buf.append(rec)
        if not st:
            _flush_locked()


def _flush_locked() -> None:
    global _fd, _fd_pid
    if not _buf or _dir is None:
        return
    pid = os.getpid()
    if _fd_pid != pid:  # first write, or a forked worker
        _fd = os.open(os.path.join(_dir, f"spans-{pid}.jsonl"),
                      os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
        _fd_pid = pid
    os.write(_fd, "".join(json.dumps(r) + "\n" for r in _buf).encode())
    _buf.clear()


class span:
    """Context manager for a benchmark-level span (recorded only while
    tracing is on)."""

    def __init__(self, name: str):
        self.name, self.sp = name, None

    def __enter__(self):
        if active():
            self.sp = begin(self.name)
        return self.sp

    def __exit__(self, *exc):
        if self.sp is not None:
            finish(self.sp)
        return False


# -- wrappers ---------------------------------------------------------------

def _wrap(name: str, fn, after=None):
    """Time ``fn``; ``after(span, args, kwargs, result)`` adds counters."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not active():
            return fn(*args, **kwargs)
        sp = begin(name)
        try:
            out = fn(*args, **kwargs)
            if after is not None:
                after(sp, args, kwargs, out)
            return out
        finally:
            finish(sp)

    wrapper.__perfbench_orig__ = fn
    return wrapper


def _wrap_read(fn):
    """Time a reader generator by the time spent inside it (its
    ``next()`` calls), not by how long Spark takes to drain it."""

    @functools.wraps(fn)
    def read(self, partition):
        global _entry
        if not active():
            yield from fn(self, partition)
            return
        sp = begin("ds.read")
        prev, _entry = _entry, sp
        inside = 0.0
        batches = rows = 0
        gen = fn(self, partition)
        try:
            while True:
                t = time.monotonic()
                try:
                    batch = next(gen)
                except StopIteration:
                    inside += time.monotonic() - t
                    break
                inside += time.monotonic() - t
                batches += 1
                rows += batch.num_rows
                yield batch
        finally:
            gen.close()
            _entry = prev
            sp.attrs.update(inside=inside, batches=batches, rows=rows)
            finish(sp)

    read.__perfbench_orig__ = fn
    return read


_META_SUFFIXES = ("zarr.json", ".zarray", ".zattrs", ".zgroup", ".zmetadata")


def _after_get(sp, args, kwargs, out):
    key = args[1] if len(args) > 1 else kwargs.get("key", "")
    sp.attrs["bytes"] = len(out) if out is not None else 0
    if str(key).endswith(_META_SUFFIXES):
        sp.attrs["meta"] = 1
    elif out is None:
        sp.attrs["absent"] = 1


def _after_set(sp, args, kwargs, out):
    value = args[2] if len(args) > 2 else kwargs.get("value", b"")
    sp.attrs["bytes"] = len(value)


def _after_decode(sp, args, kwargs, out):
    sp.attrs["bytes"] = int(getattr(out, "nbytes", 0))


def _after_partitions(sp, args, kwargs, out):
    reader = args[0]
    planned = 0
    for p in out:
        if p.cells is not None:
            planned += len(p.cells)
        else:
            planned += sum(int(b) - int(a) for a, b in p.spans)
    sp.attrs.update(parts=len(out), planned=planned,
                    grid=int(reader.plan.n_cells))


def _patch_everywhere(orig, wrapper) -> None:
    """Rebind every module-level name in the package bound to ``orig``
    (``from .codecs import decode_chunk`` copies the reference)."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("arrow_zarr_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, wrapper)


def _patch_method(cls, attr: str, make) -> None:
    fn = cls.__dict__.get(attr)
    if fn is not None and not hasattr(fn, "__perfbench_orig__"):
        setattr(cls, attr, make(fn))


def install() -> None:
    """Wrap the layer entry points in this process (idempotent)."""
    global _installed
    if _installed or _dir is None:
        return
    _installed = True
    import arrow_zarr_spark  # noqa: F401
    import arrow_zarr_spark.io  # noqa: F401
    import arrow_zarr_spark.operators.dedup as dedup
    import arrow_zarr_spark.operators.pipelines  # noqa: F401
    import arrow_zarr_spark.pruning as pruning
    import arrow_zarr_spark.sinks  # noqa: F401
    import arrow_zarr_spark.zarr.array  # noqa: F401
    from arrow_zarr_spark.datasource import ZarrDataSource, ZarrReader
    from arrow_zarr_spark.zarr import codecs
    from arrow_zarr_spark.zarr.store import LocalStore
    from arrow_zarr_spark.zarr.table import ChunkPlan

    for attr in ("schema", "reader"):
        _patch_method(ZarrDataSource, attr,
                      lambda fn, a=attr: _wrap(f"ds.{a}", fn))
    _patch_method(ZarrReader, "pushFilters",
                  lambda fn: _wrap("ds.pushFilters", fn))
    _patch_method(ZarrReader, "partitions",
                  lambda fn: _wrap("ds.partitions", fn, _after_partitions))
    _patch_method(ZarrReader, "read", _wrap_read)
    _patch_method(ZarrReader, "_load_cell",
                  lambda fn: _wrap("ds.load_cell", fn))
    _patch_method(ZarrReader, "_to_batch",
                  lambda fn: _wrap("ds.to_batch", fn))
    for attr in ("get", "get_range"):
        _patch_method(LocalStore, attr,
                      lambda fn: _wrap("store.get", fn, _after_get))
    for attr in ("set", "set_exclusive"):
        _patch_method(LocalStore, attr,
                      lambda fn: _wrap("store.set", fn, _after_set))
    _patch_method(ChunkPlan, "evaluate",
                  lambda fn: _wrap("table.evaluate", fn))
    for name, span_name, after in (
        ("decode_chunk", "codecs.decode", _after_decode),
        ("decode_shard_selected", "codecs.decode", _after_decode),
        ("encode_chunk", "codecs.encode", None),
    ):
        orig = getattr(codecs, name)
        _patch_everywhere(orig, _wrap(span_name, orig, after))
    for mod, name, span_name in (
        (pruning, "zarr_sql", "pruning.zarr_sql"),
        (arrow_zarr_spark.io, "write_zarr", "io.write_zarr"),
        (dedup, "minhash_lsh_pairs", "operators.lsh_pairs"),
        (dedup, "connected_components", "operators.components"),
    ):
        orig = getattr(mod, name)
        _patch_everywhere(orig, _wrap(span_name, orig))


def load_spans(trace_dir: str) -> list:
    spans = []
    for f in sorted(os.listdir(trace_dir)):
        if f.startswith("spans-") and f.endswith(".jsonl"):
            with open(os.path.join(trace_dir, f)) as fh:
                spans.extend(json.loads(line) for line in fh if line.strip())
    return spans
