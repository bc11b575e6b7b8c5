"""Chunk-statistics pruning: the writer's per-object [min, max]
attributes (parquet-row-group-style stats — the reference stubs
statistics, opener.rs:171-173) and the scan's planning-time object
pruning built on them.

Soundness bar: pruning may only drop PROVABLY-empty objects. Stale,
missing, NaN-contaminated, or wrong-length stats must all degrade to
"keep", never to wrong answers.
"""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    In,
    IsNull,
    LessThan,
    Not,
)

from arrow_zarr_spark.datasource import ZarrDataSource
from arrow_zarr_spark.filters import ChunkPredicate, interval_possible
from arrow_zarr_spark.io import write_zarr
from arrow_zarr_spark.zarr import infer_store_arrays, open_store
from arrow_zarr_spark.zarr.meta import STATS_ATTR_KEY


class TestIntervalPossible:
    def test_comparisons(self):
        lo, hi = 10, 20
        assert not interval_possible(ChunkPredicate("k", "eq", 5), lo, hi)
        assert interval_possible(ChunkPredicate("k", "eq", 10), lo, hi)
        assert interval_possible(ChunkPredicate("k", "eq", 20), lo, hi)
        assert not interval_possible(ChunkPredicate("k", "lt", 10), lo, hi)
        assert interval_possible(ChunkPredicate("k", "lt", 11), lo, hi)
        assert interval_possible(ChunkPredicate("k", "le", 10), lo, hi)
        assert not interval_possible(ChunkPredicate("k", "le", 9), lo, hi)
        assert not interval_possible(ChunkPredicate("k", "gt", 20), lo, hi)
        assert interval_possible(ChunkPredicate("k", "gt", 19), lo, hi)
        assert interval_possible(ChunkPredicate("k", "ge", 20), lo, hi)
        assert not interval_possible(ChunkPredicate("k", "ge", 21), lo, hi)

    def test_neq_prunes_only_constant_objects(self):
        assert not interval_possible(ChunkPredicate("k", "neq", 7), 7, 7)
        assert interval_possible(ChunkPredicate("k", "neq", 7), 7, 8)

    def test_isin(self):
        p = ChunkPredicate("k", "isin", (1, 5, 30))
        assert not interval_possible(p, 10, 20)
        assert interval_possible(p, 10, 30)

    def test_null_semantics(self):
        # decoded zarr chunks never contain nulls
        assert not interval_possible(ChunkPredicate("k", "isnull"), 0, 9)
        assert interval_possible(ChunkPredicate("k", "notnull"), 0, 9)

    def test_unknown_bounds_never_prune(self):
        assert interval_possible(ChunkPredicate("k", "eq", 5), None, None)
        assert interval_possible(ChunkPredicate("k", "eq", 5), None, 9)

    def test_incomparable_types_never_prune(self):
        assert interval_possible(ChunkPredicate("k", "eq", "abc"), 0, 9)


def _reader_cells(path, filters):
    """Surviving cells after static stats pruning, via the real
    DataSource planning path (pushFilters before partitions, as Spark
    calls it)."""
    ds = ZarrDataSource({"path": path})
    reader = ds.reader(ds.schema())
    list(reader.pushFilters(filters))
    return [c for p in reader.partitions() for c in p.cells]


class TestWriterStats:
    def test_stats_written_per_object(self, spark, tmp_path):
        path = str(tmp_path / "s1")
        df = spark.range(0, 1000, 1, 4).select(
            F.col("id").cast("long").alias("k"),
            (F.col("id") * 0.5).alias("v"),
            F.concat(F.lit("t"), F.col("id").cast("string")).alias("s"),
        )
        write_zarr(df, path, chunk_rows=100)
        metas = {
            a.meta.name: a.meta for a in infer_store_arrays(open_store(path))
        }
        ks = metas["k"].attributes[STATS_ATTR_KEY]
        assert len(ks) == 10
        assert ks[0] == [0, 99] and ks[9] == [900, 999]
        vs = metas["v"].attributes[STATS_ATTR_KEY]
        assert vs[0] == [0.0, 49.5]
        # strings carry (lexicographic) stats too
        ss = metas["s"].attributes[STATS_ATTR_KEY]
        assert len(ss) == 10 and ss[0][0].startswith("t")

    def test_stats_off(self, spark, tmp_path):
        path = str(tmp_path / "s2")
        df = spark.range(0, 100).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=50, stats=False)
        meta = infer_store_arrays(open_store(path))[0].meta
        assert STATS_ATTR_KEY not in meta.attributes

    def test_nan_bounds_encode_as_null(self, spark, tmp_path):
        path = str(tmp_path / "s3")
        df = spark.range(0, 200, 1, 2).select(
            F.col("id").alias("k"),
            F.when(F.col("id") == 150, F.lit(float("nan")))
            .otherwise(F.col("id") * 1.0)
            .alias("v"),
        )
        write_zarr(df, path, chunk_rows=100)
        vs = {
            a.meta.name: a.meta for a in infer_store_arrays(open_store(path))
        }["v"].attributes[STATS_ATTR_KEY]
        assert vs[0] == [0.0, 99.0]
        assert vs[1] == [None, None]  # NaN-contaminated: unknown

    def test_sharded_stats_are_shard_granular(self, spark, tmp_path):
        path = str(tmp_path / "s4")
        df = spark.range(0, 2000, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100, shard_chunks=5)
        ks = infer_store_arrays(open_store(path))[0].meta.attributes[
            STATS_ATTR_KEY
        ]
        assert len(ks) == 4  # 2000 / (100*5) objects
        assert ks[0] == [0, 499]


class TestStatsObjectCap:
    """STATS_MAX_OBJECTS: past the inline cap statistics move to the
    sharded sidecar (round 8 — pruning survives, zarr.json stays
    planning-readable); since r11 STATS_GRID_MAX_OBJECTS is a tier
    cutover everywhere (refresh_stats distributes past it), never a
    skip."""

    def test_write_past_cap_moves_stats_to_sidecar(
        self, spark, tmp_path, monkeypatch
    ):
        # round 8: past-cap writes no longer DROP stats — the entries
        # move to sharded sidecar blocks behind a marker attribute and
        # pruning survives (tests/test_stats_sidecar.py has the full
        # matrix; this pins the write_zarr entry point)
        import arrow_zarr_spark.io as io_mod
        from arrow_zarr_spark.zarr.stats import is_sidecar_marker

        monkeypatch.setattr(io_mod, "STATS_MAX_OBJECTS", 4)
        path = str(tmp_path / "cap1")
        df = spark.range(0, 800, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)  # 8 objects > cap 4
        meta = infer_store_arrays(open_store(path))[0].meta
        marker = meta.attributes[STATS_ATTR_KEY]
        assert is_sidecar_marker(marker)
        assert marker["n_entries"] == 8
        got = (
            spark.read.format("zarr")
            .load(path)
            .filter(F.col("k") >= 750)
            .count()
        )
        assert got == 50

    def test_append_past_cap_migrates_inline_to_sidecar(
        self, spark, tmp_path, monkeypatch
    ):
        import arrow_zarr_spark.io as io_mod
        from arrow_zarr_spark.zarr.stats import (
            is_sidecar_marker,
            resolve_stats,
        )

        path = str(tmp_path / "cap2")
        df = spark.range(0, 400, 1, 2).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)  # 4 objects, stats on
        store = open_store(path)
        meta = infer_store_arrays(store)[0].meta
        inline = meta.attributes[STATS_ATTR_KEY]
        assert len(inline) == 4
        monkeypatch.setattr(io_mod, "STATS_MAX_OBJECTS", 6)
        more = spark.range(400, 800, 1, 2).select(F.col("id").alias("k"))
        write_zarr(more, path, chunk_rows=100, mode="append")
        meta = infer_store_arrays(store)[0].meta
        marker = meta.attributes[STATS_ATTR_KEY]
        assert is_sidecar_marker(marker)
        entries = resolve_stats(store, "k", marker)
        assert len(entries) == 8
        # the migrated old entries survived verbatim (no boundary
        # recompute here: 400 % 100 == 0)
        assert entries[:4] == inline
        assert spark.read.format("zarr").load(path).count() == 800

    def test_grid_write_past_inline_cap_uses_sidecar(
        self, spark, tmp_path, monkeypatch
    ):
        # round 8: past the INLINE cap the grid writer moves entries
        # to the sidecar (pruning survives); only past the driver-
        # memory grid bound (STATS_GRID_MAX_OBJECTS) does it skip
        import arrow_zarr_spark.io as io_mod
        from arrow_zarr_spark.io import write_zarr_grid
        from arrow_zarr_spark.zarr.stats import (
            is_sidecar_marker,
            resolve_stats,
        )

        monkeypatch.setattr(io_mod, "STATS_MAX_OBJECTS", 4)
        path = str(tmp_path / "cap3")
        rows = [
            (float(x), float(y), float(x * 10 + y))
            for x in range(8)
            for y in range(8)
        ]
        df = spark.createDataFrame(rows, ["x", "y", "val"])
        write_zarr_grid(
            df, path, dims=("x", "y"), chunk_shape=(2, 2)
        )  # 16 cells > inline cap 4 -> sidecar
        store = open_store(path)
        metas = {
            a.meta.name: a.meta for a in infer_store_arrays(store)
        }
        marker = metas["val"].attributes[STATS_ATTR_KEY]
        assert is_sidecar_marker(marker)
        assert len(resolve_stats(store, "val", marker)) == 16
        got = spark.read.format("zarr").load(path)
        assert got.count() == 64
        assert (
            got.filter(F.col("val") == 73.0).select("x", "y").collect()[0][:]
            == (7.0, 3.0)
        )

    def test_grid_write_past_old_grid_bound_keeps_stats(
        self, spark, tmp_path, monkeypatch
    ):
        """r10: the grid WRITE verbs carry no driver-side stats bound
        anymore — past what used to be STATS_GRID_MAX_OBJECTS the
        sidecar assembles distributed instead of skipping (and since
        r11 refresh_stats distributes past the cutover too — no verb
        skips stats anywhere)."""
        import warnings as _warnings

        import arrow_zarr_spark.io as io_mod
        from arrow_zarr_spark.io import write_zarr_grid
        from arrow_zarr_spark.zarr.stats import (
            is_sidecar_marker,
            resolve_stats,
        )

        monkeypatch.setattr(io_mod, "STATS_MAX_OBJECTS", 4)
        path = str(tmp_path / "cap3b")
        rows = [
            (float(x), float(y), float(x * 10 + y))
            for x in range(8)
            for y in range(8)
        ]
        df = spark.createDataFrame(rows, ["x", "y", "val"])
        with _warnings.catch_warnings():
            _warnings.simplefilter("error", UserWarning)  # no cap warning
            write_zarr_grid(
                df, path, dims=("x", "y"), chunk_shape=(2, 2)
            )  # 16 cells > both caps -> distributed sidecar
        store = open_store(path)
        metas = {
            a.meta.name: a.meta for a in infer_store_arrays(store)
        }
        marker = metas["val"].attributes[STATS_ATTR_KEY]
        assert is_sidecar_marker(marker)
        assert len(resolve_stats(store, "val", marker)) == 16
        assert spark.read.format("zarr").load(path).count() == 64

    def test_refresh_stats_builds_sidecar_past_cap(
        self, spark, tmp_path, monkeypatch
    ):
        import arrow_zarr_spark.io as io_mod
        from arrow_zarr_spark.io import refresh_stats
        from arrow_zarr_spark.zarr.stats import (
            is_sidecar_marker,
            resolve_stats,
        )

        path = str(tmp_path / "cap4")
        df = spark.range(0, 800, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100, stats=False)
        monkeypatch.setattr(io_mod, "STATS_MAX_OBJECTS", 4)
        n = refresh_stats(spark, path)
        assert n == 8  # computed, not skipped (round 8)
        store = open_store(path)
        meta = infer_store_arrays(store)[0].meta
        marker = meta.attributes[STATS_ATTR_KEY]
        assert is_sidecar_marker(marker)
        entries = resolve_stats(store, "k", marker)
        assert entries[0] == [0, 99] and entries[7] == [700, 799]


class TestStaticPruning:
    def test_range_predicate_prunes_objects(self, spark, tmp_path):
        path = str(tmp_path / "p1")
        df = spark.range(0, 1000, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)
        assert len(_reader_cells(path, [])) == 10
        assert _reader_cells(path, [LessThan(("k",), 250)]) == [
            (0,), (1,), (2,),
        ]
        assert _reader_cells(path, [GreaterThan(("k",), 949)]) == [(9,)]
        assert _reader_cells(
            path, [GreaterThan(("k",), 149), LessThan(("k",), 350)]
        ) == [(1,), (2,), (3,)]
        assert _reader_cells(path, [EqualTo(("k",), 555)]) == [(5,)]
        assert _reader_cells(path, [In(("k",), (5, 905))]) == [(0,), (9,)]
        assert _reader_cells(path, [IsNull(("k",))]) == []
        # Not(In) is uncompilable -> no pruning, conservative
        assert len(_reader_cells(path, [Not(In(("k",), (5,)))])) == 10

    def test_values_correct_across_boundaries(self, spark, tmp_path):
        path = str(tmp_path / "p2")
        df = spark.range(0, 1000, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)
        back = spark.read.format("zarr").load(path)
        got = sorted(
            r.k
            for r in back.filter(
                (F.col("k") >= 199) & (F.col("k") <= 301)
            ).collect()
        )
        assert got == list(range(199, 302))

    def test_stale_stats_are_ignored(self, spark, tmp_path):
        """Wrong-length stats (out-of-band edits) must disable pruning,
        not corrupt it."""
        path = str(tmp_path / "p3")
        df = spark.range(0, 1000, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)
        store = open_store(path)
        doc = json.loads(store.get("k/zarr.json"))
        doc["attributes"][STATS_ATTR_KEY] = [[0, 1]]  # wrong length
        store.set("k/zarr.json", json.dumps(doc).encode())
        # consolidated root also rewritten so planning sees the tamper
        root = json.loads(store.get("zarr.json"))
        cons = root.get("consolidated_metadata")
        if cons:
            cons["metadata"]["k"]["attributes"][STATS_ATTR_KEY] = [[0, 1]]
            store.set("zarr.json", json.dumps(root).encode())
        assert len(_reader_cells(path, [LessThan(("k",), 50)])) == 10

    def test_malformed_entries_keep_cells(self, spark, tmp_path):
        path = str(tmp_path / "p4")
        df = spark.range(0, 300, 1, 2).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)
        store = open_store(path)
        for key in ("k/zarr.json", "zarr.json"):
            doc = json.loads(store.get(key))
            target = (
                doc["attributes"]
                if key != "zarr.json"
                else doc["consolidated_metadata"]["metadata"]["k"][
                    "attributes"
                ]
            )
            target[STATS_ATTR_KEY] = [None, "bogus", [100, 199]]
            store.set(key, json.dumps(doc).encode())
        # entries 0/1 unknown -> kept; entry 2 provably out of range
        assert _reader_cells(path, [LessThan(("k",), 50)]) == [(0,), (1,)]

    def test_nan_objects_never_pruned(self, spark, tmp_path):
        path = str(tmp_path / "p5")
        df = spark.range(0, 200, 1, 2).select(
            F.col("id").alias("k"),
            F.when(F.col("id") == 150, F.lit(float("nan")))
            .otherwise(F.col("id") * 1.0)
            .alias("v"),
        )
        write_zarr(df, path, chunk_rows=100)
        # v > 1e9 matches nothing, but the NaN object's bounds are
        # unknown so only the clean object is pruned
        assert _reader_cells(path, [GreaterThan(("v",), 1e9)]) == [(1,)]
        back = spark.read.format("zarr").load(path)
        assert back.filter(F.col("v") > 1e9).count() == 0

    def test_sharded_store_prunes_shard_objects(self, spark, tmp_path):
        path = str(tmp_path / "p6")
        df = spark.range(0, 2000, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100, shard_chunks=5)
        assert _reader_cells(path, [LessThan(("k",), 400)]) == [(0,)]
        back = spark.read.format("zarr").load(path)
        got = sorted(r.k for r in back.filter("k < 400").collect())
        assert got == list(range(400))

    def test_timestamp_store_prunes(self, spark, tmp_path):
        path = str(tmp_path / "p7")
        df = spark.range(0, 240, 1, 2).select(
            F.col("id").alias("k"),
            F.expr(
                "timestamp_ntz '2024-01-01 00:00:00' + make_interval("
                "0, 0, 0, 0, id, 0, 0)"
            ).alias("ts"),
        )
        write_zarr(df, path, chunk_rows=60)
        cells = _reader_cells(
            path,
            [GreaterThan(("ts",), __import__("datetime").datetime(
                2024, 1, 8, 12, 0, 0
            ))],
        )
        assert cells == [(3,)]  # hours 180..239 start 2024-01-08T12
        back = spark.read.format("zarr").load(path)
        n = back.filter(
            F.col("ts") > F.lit("2024-01-08 12:00:00").cast("timestamp_ntz")
        ).count()
        assert n == 59


class TestAppendStats:
    def test_append_merges_and_recomputes_boundary(self, spark, tmp_path):
        path = str(tmp_path / "a1")
        write_zarr(
            spark.range(0, 250).select(F.col("id").alias("k")),
            path,
            chunk_rows=100,
        )
        write_zarr(
            spark.range(250, 450).select(F.col("id").alias("k")),
            path,
            chunk_rows=100,
            mode="append",
        )
        ks = infer_store_arrays(open_store(path))[0].meta.attributes[
            STATS_ATTR_KEY
        ]
        assert ks == [[0, 99], [100, 199], [200, 299], [300, 399],
                      [400, 449]]
        assert _reader_cells(path, [LessThan(("k",), 150)]) == [(0,), (1,)]
        back = spark.read.format("zarr").load(path)
        assert sorted(r.k for r in back.filter("k >= 420").collect()) == list(
            range(420, 450)
        )

    def test_append_to_statless_store_keeps_old_unknown(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "a2")
        write_zarr(
            spark.range(0, 250).select(F.col("id").alias("k")),
            path,
            chunk_rows=100,
            stats=False,
        )
        write_zarr(
            spark.range(250, 400).select(F.col("id").alias("k")),
            path,
            chunk_rows=100,
            mode="append",
        )
        ks = infer_store_arrays(open_store(path))[0].meta.attributes[
            STATS_ATTR_KEY
        ]
        # old objects unknown (sound: never pruned); boundary + new known
        assert ks == [None, None, [200, 299], [300, 399]]
        # unknowns kept, known out-of-range object pruned
        assert _reader_cells(path, [LessThan(("k",), 150)]) == [(0,), (1,)]
        back = spark.read.format("zarr").load(path)
        assert back.count() == 400

    def test_rechunk_regenerates_stats(self, spark, tmp_path):
        from arrow_zarr_spark.io import rechunk_zarr

        src, dst = str(tmp_path / "a3s"), str(tmp_path / "a3d")
        write_zarr(
            spark.range(0, 1000, 1, 4).select(F.col("id").alias("k")),
            src,
            chunk_rows=50,
            stats=False,
        )
        rechunk_zarr(spark, src, dst, chunk_rows=250)
        ks = infer_store_arrays(open_store(dst))[0].meta.attributes[
            STATS_ATTR_KEY
        ]
        assert ks == [[0, 249], [250, 499], [500, 749], [750, 999]]


class TestFormatSinkStats:
    def test_sink_writes_stats_full_and_tail_chunks(self, spark, tmp_path):
        """Staged full chunks' stats ride the commit messages; tail
        chunks (packed leftovers) get theirs at commit."""
        path = str(tmp_path / "fs1")
        df = spark.range(0, 1050, 1, 3).select(
            F.col("id").alias("k"),
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("s"),
        )
        df.write.format("zarr").option("chunk_rows", "100").mode(
            "overwrite"
        ).save(path)
        metas = {
            a.meta.name: a.meta for a in infer_store_arrays(open_store(path))
        }
        ks = metas["k"].attributes[STATS_ATTR_KEY]
        assert len(ks) == 11  # 10 full + 1 tail (or mixed split)
        assert all(
            isinstance(e, list) and len(e) == 2 and e[0] <= e[1] for e in ks
        )
        # every value is covered by exactly its object's interval
        back = spark.read.format("zarr").load(path)
        assert back.count() == 1050
        lo = min(e[0] for e in ks)
        hi = max(e[1] for e in ks)
        assert lo == 0 and hi == 1049
        # string columns carry lexicographic stats through the sink too
        assert len(metas["s"].attributes[STATS_ATTR_KEY]) == len(ks)

    def test_sink_stats_prune_end_to_end(self, spark, tmp_path):
        path = str(tmp_path / "fs2")
        # sorted single partition -> monotone chunks -> selective stats
        df = (
            spark.range(0, 2000)
            .select(F.col("id").alias("k"))
            .coalesce(1)
        )
        df.write.format("zarr").option("chunk_rows", "200").mode(
            "overwrite"
        ).save(path)
        cells = _reader_cells(path, [LessThan(("k",), 150)])
        assert cells == [(0,)]
        back = spark.read.format("zarr").load(path)
        assert sorted(r.k for r in back.filter("k < 150").collect()) == list(
            range(150)
        )

    def test_sink_stats_disabled(self, spark, tmp_path):
        path = str(tmp_path / "fs3")
        spark.range(0, 100).select(F.col("id").alias("k")).write.format(
            "zarr"
        ).option("chunk_rows", "50").option("stats", "false").mode(
            "overwrite"
        ).save(path)
        meta = infer_store_arrays(open_store(path))[0].meta
        assert STATS_ATTR_KEY not in meta.attributes

    def test_sink_append_merges_stats(self, spark, tmp_path):
        path = str(tmp_path / "fs4")
        df1 = spark.range(0, 400).select(F.col("id").alias("k")).coalesce(1)
        df1.write.format("zarr").option("chunk_rows", "100").mode(
            "overwrite"
        ).save(path)
        df2 = spark.range(400, 600).select(F.col("id").alias("k")).coalesce(1)
        df2.write.format("zarr").option("chunk_rows", "100").mode(
            "append"
        ).save(path)
        ks = infer_store_arrays(open_store(path))[0].meta.attributes[
            STATS_ATTR_KEY
        ]
        assert ks == [[0, 99], [100, 199], [200, 299], [300, 399],
                      [400, 499], [500, 599]]


class TestStaleAppendStats:
    def test_append_drops_wrong_length_old_stats(self, spark, tmp_path):
        """Old stats whose length mismatches the old grid are provably
        stale — the append must drop them (old entries unknown), never
        merge a prefix."""
        path = str(tmp_path / "sa1")
        write_zarr(
            spark.range(0, 300).select(F.col("id").alias("k")),
            path,
            chunk_rows=100,
        )
        store = open_store(path)
        for key in ("k/zarr.json", "zarr.json"):
            doc = json.loads(store.get(key))
            target = (
                doc["attributes"]
                if key != "zarr.json"
                else doc["consolidated_metadata"]["metadata"]["k"][
                    "attributes"
                ]
            )
            target[STATS_ATTR_KEY] = [[999, 999]]  # wrong length
            store.set(key, json.dumps(doc).encode())
        write_zarr(
            spark.range(300, 500).select(F.col("id").alias("k")),
            path,
            chunk_rows=100,
            mode="append",
        )
        ks = infer_store_arrays(open_store(path))[0].meta.attributes[
            STATS_ATTR_KEY
        ]
        assert ks == [None, None, None, [300, 399], [400, 499]]


class TestCoordinatePruning:
    """Planning-time pruning from COORDINATE values — needs no writer
    statistics, so it works on any store (the reference's own lat/lon
    fixture included)."""

    def test_reference_filter_shape_prunes_4_of_9(self, spark):
        """The reference's filter_test keeps exactly 4 of 9 chunks
        under lat < 38.1 AND lon > -116.9 (filter_test,
        zarr_data_stream.rs:1160-1203) — here the same 4 survive at
        PLANNING time, before any chunk read."""
        from arrow_zarr_spark import fixtures

        path = fixtures.write_lat_lon_store()
        cells = _reader_cells(
            path,
            [LessThan(("lat",), 38.1), GreaterThan(("lon",), -116.9)],
        )
        assert cells == [(0, 1), (0, 2), (1, 1), (1, 2)]
        # and the values still come out exactly right
        back = (
            spark.read.format("zarr")
            .load(path)
            .filter("lat < 38.1 AND lon > -116.9")
        )
        got = sorted(r.data for r in back.collect())
        want = sorted(
            float(i * 8 + j)
            for i in range(8)
            for j in range(8)
            if (35.0 + i) < 38.1 and (-120.0 + j) > -116.9
        )
        assert got == want

    def test_all_coords_cartesian_prunes(self, spark):
        from arrow_zarr_spark import fixtures
        from arrow_zarr_spark.datasource import ZarrDataSource

        path = fixtures.write_lat_lon_store()
        ds = ZarrDataSource({"path": path, "columns": "lat,lon"})
        r = ds.reader(ds.schema())
        list(r.pushFilters([LessThan(("lat",), 36.0)]))
        cells = [c for p in r.partitions() for c in p.cells]
        assert cells == [(0, 0), (0, 1), (0, 2)]

    def test_unsorted_coordinate_still_sound(self, spark, tmp_path):
        """Per-chunk min/max needs no sortedness; values must stay
        exactly equal to the unpruned scan."""
        from arrow_zarr_spark.zarr import write_store

        path = str(tmp_path / "coord_unsorted")
        lat = np.array([5.0, 1.0, 9.0, 2.0, 8.0, 3.0])
        write_store(
            path,
            arrays={"lat": lat, "data": np.arange(6.0)},
            chunk_shapes={"lat": (2,), "data": (2,)},
            dimension_names={"lat": ("lat",), "data": ("lat",)},
        )
        cells = _reader_cells(path, [GreaterThan(("lat",), 7.0)])
        # chunk bounds: (1,5), (2,9), (3,8) -> chunks 1 and 2 survive
        assert cells == [(1,), (2,)]
        back = spark.read.format("zarr").load(path).filter("lat > 7.0")
        assert sorted(r.data for r in back.collect()) == [2.0, 4.0]

    def test_oversized_coordinate_never_read_at_planning(self, spark):
        """Past the cap the planner must not read the coordinate —
        pruning silently degrades to the dynamic phase."""
        from arrow_zarr_spark import fixtures
        from arrow_zarr_spark.datasource import ZarrDataSource

        path = fixtures.write_lat_lon_store()
        ds = ZarrDataSource({"path": path, "coord_prune_cap": "4"})
        r = ds.reader(ds.schema())
        list(r.pushFilters([LessThan(("lat",), 36.0)]))
        cells = [c for p in r.partitions() for c in p.cells]
        assert len(cells) == 9  # 8 > cap of 4: nothing pruned

    def test_mixed_coord_and_data_predicates(self, spark):
        """A data-column conjunct (no bounds on a 2-D array) must not
        disable the coordinate conjunct's pruning."""
        from arrow_zarr_spark import fixtures

        path = fixtures.write_lat_lon_store()
        cells = _reader_cells(
            path,
            [LessThan(("lat",), 36.0), GreaterThan(("data",), -1.0)],
        )
        assert cells == [(0, 0), (0, 1), (0, 2)]


class TestStringPruning:
    def test_prefix_successor(self):
        from arrow_zarr_spark.filters import prefix_successor

        assert prefix_successor("ab") == "ac"
        assert prefix_successor("a" + chr(0x10FFFF)) == "b"
        assert prefix_successor(chr(0x10FFFF)) is None

    def test_string_stats_written_and_truncated(self, spark, tmp_path):
        path = str(tmp_path / "ss1")
        long = "x" * 100
        df = spark.range(0, 200, 1, 1).select(
            F.col("id").alias("k"),
            F.when(F.col("id") < 100, F.concat(F.lit("a"), F.col("id")))
            .otherwise(F.lit(long))
            .alias("s"),
        )
        write_zarr(df, path, chunk_rows=100)
        metas = {
            a.meta.name: a.meta for a in infer_store_arrays(open_store(path))
        }
        ss = metas["s"].attributes[STATS_ATTR_KEY]
        assert ss[0] == ["a0", "a99"]
        # chunk 1 is all the 100-char string: min truncates down to 64
        # chars, max rounds UP so the pair still brackets the value
        assert ss[1][0] == "x" * 64
        assert ss[1][1] == "x" * 63 + "y"
        assert ss[1][0] <= long <= ss[1][1]

    def test_string_eq_and_range_prune(self, spark, tmp_path):
        path = str(tmp_path / "ss2")
        df = spark.range(0, 300, 1, 1).select(
            F.col("id").alias("k"),
            F.when(F.col("id") < 100, F.lit("alpha"))
            .when(F.col("id") < 200, F.lit("beta"))
            .otherwise(F.lit("gamma"))
            .alias("s"),
        )
        write_zarr(df, path, chunk_rows=100)
        assert _reader_cells(path, [EqualTo(("s",), "beta")]) == [(1,)]
        assert _reader_cells(path, [GreaterThan(("s",), "delta")]) == [(2,)]
        back = spark.read.format("zarr").load(path)
        assert back.filter("s = 'beta'").count() == 100
        assert back.filter("s > 'delta'").count() == 100

    def test_startswith_static_and_dynamic(self, spark, tmp_path):
        from pyspark.sql.datasource import StringStartsWith

        path = str(tmp_path / "ss3")
        df = spark.range(0, 300, 1, 1).select(
            F.col("id").alias("k"),
            F.when(F.col("id") < 100, F.lit("apple"))
            .when(F.col("id") < 200, F.lit("apricot"))
            .otherwise(F.lit("banana"))
            .alias("s"),
        )
        write_zarr(df, path, chunk_rows=100)
        # static: "ap" covers chunks 0 and 1, never chunk 2
        assert _reader_cells(path, [StringStartsWith(("s",), "ap")]) == [
            (0,), (1,),
        ]
        assert _reader_cells(path, [StringStartsWith(("s",), "apr")]) == [
            (1,),
        ]
        back = spark.read.format("zarr").load(path)
        assert back.filter(F.col("s").startswith("ap")).count() == 200
        assert back.filter(F.col("s").contains("rico")).count() == 100
        assert back.filter(F.col("s").endswith("nana")).count() == 100

    def test_string_filters_exact_on_mixed_chunks(self, spark, tmp_path):
        """A chunk containing matching AND non-matching rows must
        surface only the matches (dynamic mask + Spark's exact
        filter)."""
        path = str(tmp_path / "ss4")
        df = spark.range(0, 100, 1, 1).select(
            F.col("id").alias("k"),
            F.concat(F.lit("doc"), F.col("id")).alias("s"),
        )
        write_zarr(df, path, chunk_rows=40)
        back = spark.read.format("zarr").load(path)
        got = sorted(r.k for r in back.filter("s LIKE 'doc9%'").collect())
        assert got == [9] + list(range(90, 100))


class TestReviewHardening:
    def test_malformed_datetime_stats_keep_not_crash(self, spark, tmp_path):
        path = str(tmp_path / "rh1")
        df = spark.range(0, 120, 1, 1).select(
            F.col("id").alias("k"),
            F.expr(
                "timestamp_ntz '2024-01-01' + make_interval(0,0,0,0,id,0,0)"
            ).alias("ts"),
        )
        write_zarr(df, path, chunk_rows=60)
        store = open_store(path)
        for key in ("ts/zarr.json", "zarr.json"):
            doc = json.loads(store.get(key))
            target = (
                doc["attributes"]
                if key != "zarr.json"
                else doc["consolidated_metadata"]["metadata"]["ts"][
                    "attributes"
                ]
            )
            target[STATS_ATTR_KEY] = [["garbage", 5], [None, None]]
            store.set(key, json.dumps(doc).encode())
        import datetime

        # planning must not raise; malformed bounds keep both cells
        cells = _reader_cells(
            path,
            [GreaterThan(("ts",), datetime.datetime(2024, 1, 3))],
        )
        assert len(cells) == 2

    def test_inf_bounds_encode_as_null(self, spark, tmp_path):
        path = str(tmp_path / "rh2")
        df = spark.range(0, 200, 1, 2).select(
            F.col("id").alias("k"),
            F.when(F.col("id") == 150, F.lit(float("inf")))
            .otherwise(F.col("id") * 1.0)
            .alias("v"),
        )
        write_zarr(df, path, chunk_rows=100)
        store = open_store(path)
        # strict-JSON parse must succeed (no Infinity literal)
        json.loads(
            store.get("v/zarr.json").decode(), parse_constant=lambda c: (
                (_ for _ in ()).throw(ValueError(f"non-standard JSON {c}"))
            ),
        )
        vs = {
            a.meta.name: a.meta
            for a in infer_store_arrays(open_store(path))
        }["v"].attributes[STATS_ATTR_KEY]
        assert vs[1] == [None, None] or vs[1][1] is None


class TestGridStats:
    def test_grid_writer_records_per_cell_stats(self, spark, tmp_path):
        from arrow_zarr_spark.io import write_zarr_grid

        path = str(tmp_path / "g1")
        rows = [
            (float(x), float(y), float(x * 10 + y))
            for x in range(6)
            for y in range(6)
        ]
        df = spark.createDataFrame(rows, ["x", "y", "v"])
        write_zarr_grid(df, path, dims=["x", "y"], chunk_shape=(3, 3))
        meta = {
            a.meta.name: a.meta for a in infer_store_arrays(open_store(path))
        }["v"]
        s = meta.attributes[STATS_ATTR_KEY]
        assert len(s) == 4  # 2x2 cell grid, C-order
        assert s[0] == [0.0, 22.0]  # x 0..2, y 0..2
        assert s[1] == [3.0, 25.0]  # x 0..2, y 3..5
        assert s[3] == [33.0, 55.0]

    def test_grid_data_predicate_prunes_cells(self, spark, tmp_path):
        from arrow_zarr_spark.io import write_zarr_grid

        path = str(tmp_path / "g2")
        rows = [
            (float(x), float(y), float(x * 10 + y))
            for x in range(6)
            for y in range(6)
        ]
        df = spark.createDataFrame(rows, ["x", "y", "v"])
        write_zarr_grid(df, path, dims=["x", "y"], chunk_shape=(3, 3))
        assert _reader_cells(path, [GreaterThan(("v",), 30.0)]) == [
            (1, 0), (1, 1),
        ]
        # composes with coordinate pruning on the same scan
        assert _reader_cells(
            path, [GreaterThan(("v",), 30.0), LessThan(("y",), 3.0)]
        ) == [(1, 0)]
        back = spark.read.format("zarr").load(path)
        got = sorted(
            r.v for r in back.filter("v > 30 AND y < 3").collect()
        )
        assert got == sorted(
            float(x * 10 + y) for x in range(6) for y in range(3)
            if x * 10 + y > 30
        )

    def test_sparse_cells_bound_to_fill(self, spark, tmp_path):
        from arrow_zarr_spark.io import write_zarr_grid

        path = str(tmp_path / "g3")
        df = spark.createDataFrame(
            [(0.0, 0.0, 5.0), (3.0, 3.0, 9.0)], ["x", "y", "v"]
        )
        write_zarr_grid(
            df, path, dims=["x", "y"], chunk_shape=(1, 1), fill_value=-1.0
        )
        meta = {
            a.meta.name: a.meta for a in infer_store_arrays(open_store(path))
        }["v"]
        s = meta.attributes[STATS_ATTR_KEY]
        assert len(s) == 4  # 2x2 axes grid of 1x1 chunks
        # never-written cells bound to the fill they materialize as
        assert s[1] == [-1.0, -1.0] and s[2] == [-1.0, -1.0]
        # a fill-only predicate keeps only the fill cells
        assert _reader_cells(path, [EqualTo(("v",), -1.0)]) == [
            (0, 1), (1, 0),
        ]
        back = spark.read.format("zarr").load(path)
        assert back.filter("v = -1.0").count() == 2

    def test_fresh_create_past_old_cap_keeps_stats_distributed(
        self, spark, tmp_path, monkeypatch
    ):
        """r9 (r8 verdict item 6): a FRESH grid create whose cell
        count exceeds the old driver-side bound must still record
        statistics — assembled as distributed sidecar blocks (one
        task per block, absent cells fill-bound in-task), never a
        driver-side entries list — and prune scans from them."""
        import arrow_zarr_spark.io as io_mod
        import arrow_zarr_spark.zarr.stats as stats_mod
        from arrow_zarr_spark.io import write_zarr_grid
        from arrow_zarr_spark.zarr.stats import (
            is_sidecar_marker,
            resolve_stats,
        )

        path = str(tmp_path / "g5")
        rows = [
            (float(x), float(y), float(x * 10 + y))
            for x in range(8)
            for y in range(8)
        ]
        # sparse: drop one cell entirely so the absent-cell fill
        # bound is exercised on the distributed path
        rows = [r for r in rows if not (r[0] >= 6 and r[1] >= 6)]
        df = spark.createDataFrame(rows, ["x", "y", "v"])
        monkeypatch.setattr(io_mod, "STATS_MAX_OBJECTS", 4)
        monkeypatch.setattr(stats_mod, "STATS_BLOCK_ENTRIES", 6)
        write_zarr_grid(
            df, path, dims=["x", "y"], chunk_shape=(2, 2),
            fill_value=-1.0,
        )  # 16 cells > old cap 4 — previously warned + skipped stats
        store = open_store(path)
        meta = {
            a.meta.name: a.meta for a in infer_store_arrays(store)
        }["v"]
        marker = meta.attributes[STATS_ATTR_KEY]
        assert is_sidecar_marker(marker)
        assert marker["n_entries"] == 16 and marker["sidecar"] == 3
        entries = resolve_stats(store, "v", marker)
        assert entries[0] == [0.0, 11.0]  # x 0..1, y 0..1
        assert entries[15] == [-1.0, -1.0]  # the absent cell: fill
        assert entries[12] == [60.0, 71.0]  # x 6..7, y 0..1
        # pruning works end-to-end off the sidecar blocks: row x=6..7
        # keeps its three data cells (maxes 71/73/75); the absent
        # cell (3,3) and every other row prune away
        assert _reader_cells(path, [GreaterThan(("v",), 70.0)]) == [
            (3, 0), (3, 1), (3, 2),
        ]
        back = spark.read.format("zarr").load(path)
        assert back.filter("v = -1.0").count() == 4  # the fill cell

    def test_grid_stats_off(self, spark, tmp_path):
        from arrow_zarr_spark.io import write_zarr_grid

        path = str(tmp_path / "g4")
        df = spark.createDataFrame([(0.0, 1.0)], ["x", "v"])
        write_zarr_grid(
            df, path, dims=["x"], chunk_shape=(1,), stats=False
        )
        meta = {
            a.meta.name: a.meta for a in infer_store_arrays(open_store(path))
        }["v"]
        assert STATS_ATTR_KEY not in meta.attributes


def test_long_string_fill_pair_brackets_value():
    """Grid absent-cell bounds for a >64-char string fill must bracket
    the value readers materialize (the hi side rounds UP)."""
    from arrow_zarr_spark.io import _stat_encode

    fill = "A" * 100
    lo = _stat_encode(np.asarray(fill, dtype=object), np.dtype(object))
    hi = _stat_encode(
        np.asarray(fill, dtype=object), np.dtype(object), upper=True
    )
    assert lo <= fill <= hi


def test_cell_ordinal_matches_enumeration_order(spark, tmp_path):
    """ChunkPlan.cell_ordinal is THE cell numbering: it must equal the
    index of the cell in cells()' row-major enumeration."""
    from arrow_zarr_spark.zarr import ChunkPlan, write_store

    path = str(tmp_path / "ord3d")
    write_store(
        path,
        arrays={"d": np.arange(120.0).reshape(4, 5, 6)},
        chunk_shapes={"d": (2, 2, 2)},
        dimension_names={"d": ("a", "b", "c")},
    )
    plan = ChunkPlan(infer_store_arrays(open_store(path)))
    for i, cell in enumerate(plan.cells()):
        assert plan.cell_ordinal(cell) == i


class TestRefreshStats:
    def test_retrofits_statless_store(self, spark, tmp_path):
        from arrow_zarr_spark.io import refresh_stats

        path = str(tmp_path / "rf1")
        df = spark.range(0, 600, 1, 2).select(
            F.col("id").alias("k"),
            F.concat(F.lit("s"), F.col("id").cast("string")).alias("t"),
        )
        write_zarr(df, path, chunk_rows=100, stats=False)
        assert len(_reader_cells(path, [LessThan(("k",), 50)])) == 6
        n = refresh_stats(spark, path)
        assert n == 12  # 6 objects x 2 eligible arrays
        ks = {
            a.meta.name: a.meta.attributes.get(STATS_ATTR_KEY)
            for a in infer_store_arrays(open_store(path))
        }
        assert ks["k"] == [[i * 100, i * 100 + 99] for i in range(6)]
        assert ks["t"] is not None  # strings get lexicographic bounds
        assert _reader_cells(path, [LessThan(("k",), 50)]) == [(0,)]
        back = spark.read.format("zarr").load(path)
        assert sorted(r.k for r in back.filter("k < 50").collect()) == list(
            range(50)
        )

    def test_refresh_on_sharded_store(self, spark, tmp_path):
        from arrow_zarr_spark.io import refresh_stats

        path = str(tmp_path / "rf2")
        df = spark.range(0, 1000, 1, 2).select(F.col("id").alias("k"))
        write_zarr(
            df, path, chunk_rows=50, shard_chunks=5, stats=False
        )
        refresh_stats(spark, path)
        ks = infer_store_arrays(open_store(path))[0].meta.attributes[
            STATS_ATTR_KEY
        ]
        assert ks == [[i * 250, i * 250 + 249] for i in range(4)]

    def test_refresh_replaces_stale_stats(self, spark, tmp_path):
        from arrow_zarr_spark.io import refresh_stats

        path = str(tmp_path / "rf3")
        df = spark.range(0, 200, 1, 1).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)
        store = open_store(path)
        doc = json.loads(store.get("k/zarr.json"))
        doc["attributes"][STATS_ATTR_KEY] = [[5, 5]]  # stale garbage
        store.set("k/zarr.json", json.dumps(doc).encode())
        refresh_stats(spark, path)
        ks = infer_store_arrays(open_store(path))[0].meta.attributes[
            STATS_ATTR_KEY
        ]
        assert ks == [[0, 99], [100, 199]]

    def test_refresh_past_cutover_recomputes_distributed(
        self, spark, tmp_path, monkeypatch
    ):
        """r11 (VERDICT r10 item 2): past STATS_GRID_MAX_OBJECTS the
        retrofit no longer skips-and-strips — the recompute runs
        fully distributed (spark.range work list, mapInPandas pair
        compute, complete-block sidecar writes) and a mutated
        third-party store gets FRESH, correct bounds. The cap is now
        a tier cutover, not a capability bound."""
        import arrow_zarr_spark.io as io_mod
        from arrow_zarr_spark.io import refresh_stats

        path = str(tmp_path / "rf5")
        df = spark.range(0, 600, 1, 2).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)  # stats on: 6 objects
        # a third-party writer mutated the data: poison the stats
        store = open_store(path)
        doc = json.loads(store.get("k/zarr.json"))
        doc["attributes"][STATS_ATTR_KEY] = [[900, 999]] * 6  # stale
        store.set("k/zarr.json", json.dumps(doc).encode())
        assert refresh_stats(spark, path) == 6  # computed, not skipped
        after = infer_store_arrays(open_store(path))[0].meta.attributes
        assert after[STATS_ATTR_KEY] == [
            [i * 100, i * 100 + 99] for i in range(6)
        ]  # fresh bounds, inline (6 <= STATS_MAX_OBJECTS)
        assert _reader_cells(path, [LessThan(("k",), 50)]) == [(0,)]

    def test_refresh_past_cutover_builds_sidecar(
        self, spark, tmp_path, monkeypatch
    ):
        """Distributed tier + past the INLINE cap: the complete-block
        path writes the sidecar executor-side; resolve_stats sees the
        same entries the driver tier would have assembled."""
        import arrow_zarr_spark.io as io_mod
        from arrow_zarr_spark.io import refresh_stats
        from arrow_zarr_spark.zarr.stats import (
            is_sidecar_marker,
            resolve_stats,
        )

        path = str(tmp_path / "rf6")
        df = spark.range(0, 800, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100, stats=False)
        monkeypatch.setattr(io_mod, "STATS_MAX_OBJECTS", 4)
        assert refresh_stats(spark, path) == 8
        store = open_store(path)
        marker = infer_store_arrays(store)[0].meta.attributes[
            STATS_ATTR_KEY
        ]
        assert is_sidecar_marker(marker)
        entries = resolve_stats(store, "k", marker)
        assert entries[0] == [0, 99] and entries[7] == [700, 799]
        assert _reader_cells(path, [LessThan(("k",), 50)]) == [(0,)]

    def test_unknown_column_rejected(self, spark, tmp_path):
        from arrow_zarr_spark.io import refresh_stats
        from arrow_zarr_spark.zarr import ZarrFormatError

        path = str(tmp_path / "rf4")
        write_zarr(
            spark.range(0, 10).select(F.col("id").alias("k")), path
        )
        with pytest.raises(ZarrFormatError, match="no such"):
            refresh_stats(spark, path, columns=["zz"])
