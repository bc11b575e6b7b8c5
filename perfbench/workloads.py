"""The benchmark workloads.

Each workload is a closed loop of identical-shape ops against one Spark
session. ``generate`` builds the seeded inputs with numpy (untimed),
``open`` opens the inputs (part of ``setup_s``), ``run_op`` is one timed
op, and ``check`` compares its output with expectations computed from
the seeded inputs. ``plant`` makes one op's expectation wrong on purpose
(the self-test uses it to prove a failed check is counted).
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil

import numpy as np

from . import inputs
from .trace import span

#: the op whose expectation ``plant`` corrupts
PLANTED_OP = 1


def _close(got, want, rel: float = 1e-9) -> bool:
    if got is None or want is None:
        return got is want
    return math.isclose(float(got), float(want), rel_tol=rel, abs_tol=1e-6)


class Workload:
    name = ""
    #: ops after the cold one that run and are checked but stay out of
    #: the warm statistics
    warmup_ops = 0
    #: warm ops a run measures even past ``--seconds``
    min_warm_ops = 2

    def __init__(self, seed: int, sizes: dict, workdir: str, plant: bool = False):
        self.seed = seed
        self.sizes = sizes
        self.workdir = workdir
        self.plant = plant
        self.rows_per_op = 0
        self.extra: dict = {}  # per-op values the run reports

    def op_rng(self, i: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, 100, i])

    def want(self, i: int, value):
        """Expected value, off by one on the planted op."""
        if self.plant and i == PLANTED_OP:
            return value + 1
        return value

    def generate(self) -> dict:
        return {}

    def open(self, spark) -> None:
        self.spark = spark

    def run_op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, out) -> list:
        raise NotImplementedError

    def after_op(self, i: int) -> None:
        pass

    def finish(self) -> dict:
        """Untimed per-run extras (after the measured window)."""
        return {}


class ScanGrid(Workload):
    """Full-store SUM of every column of a 2-D blosc-LZ4 grid."""

    name = "scan_grid"
    # a session's warm scans still speed up by up to 30% over their
    # first four or five ops
    warmup_ops = 4

    def generate(self) -> dict:
        s = self.sizes
        self.store = inputs.make_grid_store(
            os.path.join(self.workdir, "grid"), self.seed,
            s["grid_side"], s["grid_chunk"])
        self.rows_per_op = self.store.rows
        return {"rows": self.store.rows, "objects": self.store.objects,
                "mb": self.store.nbytes / 1e6,
                "absent_chunks": self.store.absent_chunks}

    def open(self, spark) -> None:
        super().open(spark)
        self.cols = sorted(spark.read.format("zarr").load(self.store.path).columns)

    def run_op(self, i: int):
        from pyspark.sql import functions as F

        # a fresh DataFrame per op: re-running one DataFrame would reuse
        # its shuffle output and skip the scan
        df = self.spark.read.format("zarr").load(self.store.path)
        return df.agg(*[F.sum(c).alias(c) for c in self.cols]).collect()[0].asDict()

    def check(self, i: int, out) -> list:
        bad = []
        for c in self.cols:
            want = self.want(i, self.store.sums[c])
            if c in inputs.GRID_INT_ARRAYS:
                ok = out[c] == want
            else:
                ok = _close(out[c], want)
            if not ok:
                bad.append(f"sum({c}) = {out[c]!r}, want {want!r}")
        return bad


class IngestCycle(Workload):
    """One ingest cycle through ``write_zarr`` with stats on: a small
    fresh store (driver fast path), a bulk overwrite (distributed path),
    two appends (boundary-chunk merge) and a verified read-back: a
    stats-pruned key-range aggregate through ``zarr_sql`` and a row
    count."""

    #: numeric columns of the lineitem-shaped frame, 8 bytes each
    ROW_BYTES = 6 * 8

    def generate(self) -> dict:
        s = self.sizes
        self.small, self.bulk, self.app = s["small_rows"], s["bulk_rows"], s["append_rows"]
        self.total = self.bulk + 2 * self.app
        self.cols = inputs.lineitem_columns(np.arange(self.total), self.seed)
        self.rows_per_op = self.small + self.total
        self.bulk_path = os.path.join(self.workdir, "bulk")
        return {"small_rows": self.small, "bulk_rows": self.bulk,
                "append_rows": self.app, "input_mb": self.rows_per_op * self.ROW_BYTES / 1e6}

    def open(self, spark) -> None:
        super().open(spark)
        cpus = spark.sparkContext.defaultParallelism
        frame = inputs.lineitem_frame
        self.small_df = frame(spark, 0, self.small, self.seed, 1)
        self.bulk_df = frame(spark, 0, self.bulk, self.seed, cpus)
        self.app_dfs = [
            frame(spark, self.bulk + k * self.app, self.bulk + (k + 1) * self.app,
                  self.seed, 1)
            for k in range(2)
        ]
        for df in (self.small_df, self.bulk_df, *self.app_dfs):
            df.schema

    def _small_path(self, i: int) -> str:
        return os.path.join(self.workdir, f"small-{i}")

    def run_op(self, i: int):
        import arrow_zarr_spark
        from arrow_zarr_spark import io
        from pyspark.sql import functions as F

        spark, chunk = self.spark, self.sizes["bulk_chunk"]
        with span("io.write_small"):
            io.write_zarr(self.small_df, self._small_path(i), mode="overwrite")
        with span("io.write_bulk"):
            io.write_zarr(self.bulk_df, self.bulk_path, chunk_rows=chunk,
                          mode="overwrite")
        with span("io.append"):
            for df in self.app_dfs:
                io.write_zarr(df, self.bulk_path, chunk_rows=chunk, mode="append")
        lo = int(self.op_rng(i).integers(0, self.total - chunk))
        with span("io.readback"):
            # a key range within one or two store objects, which the
            # writer's statistics prune; through zarr_sql, so its
            # planning is measured too
            pruned = arrow_zarr_spark.zarr_sql(spark, (
                "SELECT COUNT(*), SUM(l_quantity), SUM(l_extendedprice) "
                f"FROM ingested WHERE l_orderkey BETWEEN {lo} AND {lo + chunk // 2}"
            ), {"ingested": self.bulk_path})
            keys = spark.read.format("zarr").option("columns", "l_orderkey") \
                .load(self.bulk_path).agg(F.count("*"), F.max("l_orderkey"))
            return lo, tuple(pruned.collect()[0]), tuple(keys.collect()[0])

    def check(self, i: int, out) -> list:
        lo, got, (count, top) = out
        chunk = self.sizes["bulk_chunk"]
        n, q, p = inputs.lineitem_agg(self.cols, lo, lo + chunk // 2)
        bad = []
        if got[0] != n or not _close(got[1], q) or not _close(got[2], p):
            bad.append(f"read-back [{lo}, +{chunk // 2}]: got {got}, want {(n, q, p)}")
        want = self.want(i, self.total)
        if count != want or top != self.total - 1:
            bad.append(f"read-back count/max: got {(count, top)}, want {(want, self.total - 1)}")
        return bad

    def after_op(self, i: int) -> None:
        objects, stored = inputs.dir_stats(self.bulk_path)
        small_objects, small = inputs.dir_stats(self._small_path(i))
        self.extra["stored_objects"] = objects + small_objects
        self.extra["bytes_stored_per_input_byte"] = (
            (stored + small) / (self.rows_per_op * self.ROW_BYTES))
        shutil.rmtree(self._small_path(i), ignore_errors=True)


class DedupPipeline(Workload):
    """``fuzzy_dedup_pipeline`` over a documents corpus with planted
    near-duplicate groups; bypasses every Zarr layer."""


    def generate(self) -> dict:
        s = self.sizes
        self.docs = inputs.make_documents(self.seed, s["docs"], s["dup_groups"])
        self.rows_per_op = len(self.docs.rows)
        return {"docs": len(self.docs.rows), "dup_groups": len(self.docs.groups),
                "docs_mb": self.docs.nbytes / 1e6}

    def open(self, spark) -> None:
        super().open(spark)
        self.df = spark.createDataFrame(
            self.docs.rows,
            "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
        )
        self.df.schema
        self.first_hash = None

    def run_op(self, i: int):
        from arrow_zarr_spark.operators.pipelines import fuzzy_dedup_pipeline

        return fuzzy_dedup_pipeline(self.df).collect()

    def check(self, i: int, out) -> list:
        bad = []
        members = {r["doc_id"]: (r["n_members"] or 1) for r in out}
        total = sum(members.values())
        want = self.want(i, len(self.docs.rows))
        if total != want:
            bad.append(f"sum(n_members) = {total}, want {want}")
        for g in self.docs.groups:
            kept = [d for d in g if d in members]
            if len(kept) != 1 or members[kept[0]] != len(g):
                bad.append(f"group {g}: survivors {kept}")
                break
        digest = hashlib.sha256(
            repr(sorted(tuple(r) for r in out)).encode()).hexdigest()
        if self.first_hash is None:
            self.first_hash = digest
        elif digest != self.first_hash:
            bad.append("output hash differs from the first op's")
        self.extra["components"] = sum(1 for v in members.values() if v > 1)
        return bad

    def finish(self) -> dict:
        """Candidate and verified pair counts (deterministic per seed),
        counted once after the measured window."""
        from arrow_zarr_spark.operators.dedup import minhash_lsh_pairs

        cand = minhash_lsh_pairs(self.df, verify_jaccard=False).count()
        ver = minhash_lsh_pairs(self.df, verify_jaccard=True,
                                jaccard_threshold=0.7).count()
        return {"candidate_pairs": cand, "verified_pairs": ver}


class IngestDedup(Workload):
    """A data-pipeline op: one :class:`IngestCycle`, then one
    :class:`DedupPipeline`. They share a workload (and a session)
    because each costs a fresh JVM's set-up plus a 15-20 s cold first
    op per run, and a full measurement (22 runs per workload in 3,420 s)
    has no room for three such workloads; per-layer metrics still tell
    the ``io`` and ``operators`` halves apart."""

    name = "ingest_dedup"
    # one op takes 9-15 s after a 25-38 s cold first op: a warm-up op or
    # a second warm op would not fit the run budget
    min_warm_ops = 1

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.steps = [IngestCycle(*args, **kwargs), DedupPipeline(*args, **kwargs)]
        for step in self.steps:
            step.extra = self.extra

    def generate(self) -> dict:
        sizes = {}
        for step in self.steps:
            sizes.update(step.generate())
        self.rows_per_op = sum(step.rows_per_op for step in self.steps)
        return sizes

    def open(self, spark) -> None:
        super().open(spark)
        for step in self.steps:
            step.open(spark)

    def run_op(self, i: int):
        return [step.run_op(i) for step in self.steps]

    def check(self, i: int, out) -> list:
        return [e for step, o in zip(self.steps, out) for e in step.check(i, o)]

    def after_op(self, i: int) -> None:
        for step in self.steps:
            step.after_op(i)

    def finish(self) -> dict:
        done = {}
        for step in self.steps:
            done.update(step.finish())
        return done


WORKLOADS = {w.name: w for w in (ScanGrid, IngestDedup)}
