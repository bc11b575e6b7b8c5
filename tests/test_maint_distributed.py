"""r10: the maintenance verbs' DISTRIBUTED listing tier.

commit_version got the no-driver-key-list discipline in r9; this file
pins the same contract for every remaining maintenance verb —
vacuum_versions / scrub / repair / rollback / sync / export
(zarr/versions.py) and replicate_zarr / vacuum_zarr (io.py) — by
forcing the tier cutover to 0 (the commit-tier test pattern:
monkeypatch MAINT_DRIVER_LIST_MAX) and asserting the distributed tier
produces results identical to the serial tier on twin stores.

The reference has no maintenance surface at all (its store access is
read-only scanning, config.rs:126-132); the scale discipline here is
self-imposed: no verb may carry an O(n_objects) driver term.
"""

import os
import time

import pytest
from pyspark.sql import functions as F

import arrow_zarr_spark.zarr.versions as V
from arrow_zarr_spark import read_zarr
from arrow_zarr_spark.io import replicate_zarr, vacuum_zarr, write_zarr
from arrow_zarr_spark.zarr import (
    commit_version,
    open_store,
    rollback_zarr,
    vacuum_versions,
)
from arrow_zarr_spark.zarr.versions import (
    export_version,
    repair_zarr,
    scrub_zarr,
    sync_zarr,
)


def _table(spark, lo, hi, mul=2):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * mul).alias("v")
    )


def _age_objects(path):
    """Push every content object outside the default grace window."""
    store = open_store(path)
    old = time.time() - 7200
    for k in list(store.walk_prefix(V._OBJECTS_DIR)):
        p = os.path.join(path, *k.split("/"))
        os.utime(p, (old, old))


def _store_bytes(path, skip_versions=False):
    store = open_store(path)
    return {
        k: store.get(k)
        for k in store.walk_keys()
        if not (skip_versions and k.startswith(V.VERSIONS_PREFIX))
    }


@pytest.fixture
def force_distributed(monkeypatch):
    monkeypatch.setattr(V, "MAINT_DRIVER_LIST_MAX", 0)


class TestVacuumVersionsDistributed:
    def test_sweep_matches_serial(
        self, spark, tmp_path, force_distributed
    ):
        twins = []
        for name in ("a", "b"):
            d = str(tmp_path / name)
            write_zarr(_table(spark, 0, 200), d, chunk_rows=16)
            commit_version(spark, d, "v1")
            write_zarr(
                _table(spark, 0, 120, mul=-3), d, chunk_rows=16,
                mode="overwrite",
            )
            commit_version(spark, d, "v2")
            _age_objects(d)
            twins.append(d)
        out_d = vacuum_versions(twins[0], keep_last=1, spark=spark)
        out_s = vacuum_versions(twins[1], keep_last=1)
        assert out_d["dropped_versions"] == out_s["dropped_versions"] == [1]
        assert out_d["deleted_objects"] == out_s["deleted_objects"] > 0
        assert out_d["skipped_young"] == out_s["skipped_young"]
        # the kept version still reads, the dropped one is gone
        assert read_zarr(spark, twins[0], version=2).count() == 120
        with pytest.raises(Exception):
            read_zarr(spark, twins[0], version=1).count()

    def test_grace_window_respected_in_tasks(
        self, spark, tmp_path, force_distributed
    ):
        d = str(tmp_path / "s")
        write_zarr(_table(spark, 0, 64), d, chunk_rows=16)
        commit_version(spark, d, "v1")
        write_zarr(
            _table(spark, 0, 32, mul=5), d, chunk_rows=16, mode="overwrite"
        )
        commit_version(spark, d, "v2")
        # objects are FRESH: guard 1 must keep every candidate
        out = vacuum_versions(d, keep_last=1, spark=spark)
        assert out["deleted_objects"] == 0
        assert out["skipped_young"] > 0
        assert read_zarr(spark, d, version=2).count() == 32


class TestScrubRepairDistributed:
    def test_statuses_match_serial(
        self, spark, tmp_path, force_distributed
    ):
        d = str(tmp_path / "s")
        write_zarr(_table(spark, 0, 96), d, chunk_rows=16)
        commit_version(spark, d, "baseline")
        st = open_store(d)
        st.set("v/c/2", b"\x00rot\x00")   # modified
        st.delete("k/c/4")                 # missing
        st.set("stray", b"x")              # extra
        got = sorted(
            (r["key"], r["status"])
            for r in scrub_zarr(spark, d).collect()
        )
        want = sorted(V._scrub_rows(None, d))
        assert got == want
        assert ("v/c/2", "modified") in got
        assert ("k/c/4", "missing") in got
        assert ("stray", "extra") in got

    def test_repair_heals_through_distributed_scrub(
        self, spark, tmp_path, force_distributed
    ):
        d = str(tmp_path / "s")
        write_zarr(_table(spark, 0, 96), d, chunk_rows=16)
        commit_version(spark, d, "baseline")
        st = open_store(d)
        st.set("v/c/2", b"\x00rot\x00")
        st.delete("k/c/4")
        info = repair_zarr(spark, d)
        assert info["n_repaired"] == 2
        assert info["n_scanned"] > 0
        df = spark.read.format("zarr").load(d)
        assert df.count() == 96
        assert df.agg(F.sum("v")).first()[0] == sum(
            2 * i for i in range(96)
        )


class TestRollbackDistributed:
    def test_rollback_matches_serial(
        self, spark, tmp_path, force_distributed
    ):
        twins = []
        for name in ("a", "b"):
            d = str(tmp_path / name)
            write_zarr(_table(spark, 0, 80), d, chunk_rows=16)
            commit_version(spark, d, "v1")
            write_zarr(
                _table(spark, 0, 200, mul=-7), d, chunk_rows=16,
                mode="overwrite",
            )
            twins.append(d)
        out_d = rollback_zarr(spark, twins[0], 1)
        out_s = rollback_zarr(None, twins[1], 1)
        assert out_d == out_s
        assert out_d["deleted"] > 0  # the 200-row store's extra chunks
        for d in twins:
            df = spark.read.format("zarr").load(d)
            assert df.count() == 80
            assert df.agg(F.sum("v")).first()[0] == sum(
                2 * i for i in range(80)
            )


class TestSyncDistributed:
    def test_sync_matches_serial(
        self, spark, tmp_path, force_distributed
    ):
        pairs = []
        for name in ("a", "b"):
            src = str(tmp_path / f"src_{name}")
            dst = str(tmp_path / f"dst_{name}")
            write_zarr(_table(spark, 0, 64), src, chunk_rows=16)
            commit_version(spark, src, "v1")
            replicate_zarr(None, src, dst, include_versions=True)
            write_zarr(
                _table(spark, 0, 96, mul=3), src, chunk_rows=16,
                mode="overwrite",
            )
            commit_version(spark, src, "v2")
            pairs.append((src, dst))
        out_d = sync_zarr(spark, *pairs[0])
        out_s = sync_zarr(None, *pairs[1])
        assert out_d == out_s
        assert out_d["to_version"] == 2
        assert out_d["n_objects_copied"] > 0
        for src, dst in pairs:
            assert _store_bytes(dst) == _store_bytes(src)

    def test_sync_is_incremental_on_distributed_tier(
        self, spark, tmp_path, force_distributed
    ):
        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        write_zarr(_table(spark, 0, 64), src, chunk_rows=16)
        commit_version(spark, src, "v1")
        replicate_zarr(None, src, dst, include_versions=True)
        write_zarr(
            _table(spark, 0, 80), src, chunk_rows=16, mode="append"
        )
        commit_version(spark, src, "v2")
        out = sync_zarr(spark, src, dst)
        # the append's delta, not the whole store: unchanged chunks
        # are never re-sent
        assert 0 < out["n_objects_copied"] < 20
        rep = sync_zarr(spark, src, dst)
        assert rep["to_version"] == rep["from_version"] == 2  # no-op


class TestReplicateDistributed:
    def test_replica_matches_serial(
        self, spark, tmp_path, force_distributed
    ):
        src = str(tmp_path / "src")
        write_zarr(_table(spark, 0, 128), src, chunk_rows=16)
        commit_version(spark, src, "v1")
        d_dist = str(tmp_path / "d_dist")
        d_ser = str(tmp_path / "d_ser")
        out_d = replicate_zarr(
            spark, src, d_dist, include_versions=True, verify=True
        )
        out_s = replicate_zarr(
            None, src, d_ser, include_versions=True, verify=True
        )
        assert out_d == out_s
        assert out_d["n_mismatch"] == 0
        assert _store_bytes(d_dist) == _store_bytes(d_ser) == _store_bytes(
            src
        )

    def test_replicate_without_versions(
        self, spark, tmp_path, force_distributed
    ):
        src = str(tmp_path / "src")
        write_zarr(_table(spark, 0, 64), src, chunk_rows=16)
        commit_version(spark, src, "v1")
        dst = str(tmp_path / "dst")
        replicate_zarr(spark, src, dst, include_versions=False)
        assert _store_bytes(dst) == _store_bytes(src, skip_versions=True)


class TestVacuumZarrDistributed:
    def test_orphans_match_serial(
        self, spark, tmp_path, force_distributed
    ):
        twins = []
        for name in ("a", "b"):
            d = str(tmp_path / name)
            write_zarr(_table(spark, 0, 64), d, chunk_rows=16)
            st = open_store(d)
            st.set("__stage__/leftover", b"x")
            st.set("v/c/99", b"beyond-grid")
            st.set("nobody/zarr.bin", b"?")
            twins.append(d)
        out_d = vacuum_zarr(twins[0], dry_run=True, spark=spark)
        out_s = vacuum_zarr(twins[1], dry_run=True)
        assert out_d["orphans"] == out_s["orphans"]
        assert out_d["n_orphans"] == out_s["n_orphans"] == 3
        out_d = vacuum_zarr(twins[0], dry_run=False, spark=spark)
        assert out_d["n_orphans"] == 3 and out_d["deleted"]
        assert vacuum_zarr(twins[0], spark=spark)["orphans"] == []
        assert spark.read.format("zarr").load(twins[0]).count() == 64


class TestExportDistributed:
    def test_export_matches_serial(
        self, spark, tmp_path, force_distributed
    ):
        src = str(tmp_path / "src")
        write_zarr(_table(spark, 0, 72), src, chunk_rows=16)
        commit_version(spark, src, "v1")
        write_zarr(
            _table(spark, 0, 40, mul=9), src, chunk_rows=16,
            mode="overwrite",
        )
        commit_version(spark, src, "v2")
        e_dist = str(tmp_path / "e_dist")
        e_ser = str(tmp_path / "e_ser")
        out_d = export_version(spark, src, e_dist, version=1)
        out_s = export_version(None, src, e_ser, version=1)
        assert out_d["n_objects"] == out_s["n_objects"]
        assert _store_bytes(e_dist) == _store_bytes(e_ser)
        df = spark.read.format("zarr").load(e_dist)
        assert df.count() == 72
        # overwrite-clear on the distributed tier
        out_d2 = export_version(
            spark, src, e_dist, version=2, mode="overwrite"
        )
        assert out_d2["version"] == 2
        assert spark.read.format("zarr").load(e_dist).count() == 40


class TestClearStoreDistributed:
    def test_overwrite_clears_distributed(
        self, spark, tmp_path, force_distributed
    ):
        """write_zarr(mode='overwrite') past the maintenance cap must
        clear the old keys through the distributed sweep (no driver
        key list) and leave exactly the new store + its history."""
        d = str(tmp_path / "s")
        write_zarr(_table(spark, 0, 128), d, chunk_rows=16)
        commit_version(spark, d, "v1")
        write_zarr(
            _table(spark, 0, 48, mul=11), d, chunk_rows=16,
            mode="overwrite",
        )
        df = spark.read.format("zarr").load(d)
        assert df.count() == 48
        assert df.agg(F.sum("v")).first()[0] == sum(
            11 * i for i in range(48)
        )
        # history survived the overwrite-clear
        assert read_zarr(spark, d, version=1).count() == 128
        # no stale chunk objects from the 128-row layout remain live
        assert vacuum_zarr(d, spark=spark)["orphans"] == []

    def test_replicate_overwrite_clears_history_distributed(
        self, spark, tmp_path, force_distributed
    ):
        src = str(tmp_path / "src")
        old = str(tmp_path / "old")
        write_zarr(_table(spark, 0, 64), src, chunk_rows=16)
        write_zarr(_table(spark, 0, 96, mul=7), old, chunk_rows=16)
        commit_version(spark, old, "stale history")
        out = replicate_zarr(spark, src, old, mode="overwrite")
        assert out["n_mismatch"] == 0
        # the overwritten replica carries neither old data nor the
        # old store's version history
        assert _store_bytes(old) == _store_bytes(src)


class TestCdcDistributed:
    def test_cdc_matches_small_tier(
        self, spark, tmp_path, force_distributed
    ):
        """version_cdc past the cap builds its work list DISTRIBUTED
        (ordinals -> covering-block sha resolution -> compare, no
        driver work list); the rows must equal the small tier's on
        the same history — append (added), overwrite-region
        (modified), and byte-identical chunks never surfacing."""
        from arrow_zarr_spark.zarr.versions import version_cdc

        d = str(tmp_path / "s")
        write_zarr(_table(spark, 0, 64), d, chunk_rows=16)
        commit_version(spark, d, "v1")
        write_zarr(
            _table(spark, 48, 96, mul=5), d, chunk_rows=16,
            mode="append",
        )
        commit_version(spark, d, "v2")

        def rows(df):
            return sorted(
                (
                    r["array"], r["pos"], r["coords"], r["change"],
                    r["old_value"], r["new_value"],
                )
                for r in df.collect()
            )

        got = rows(version_cdc(spark, d, 1, 2))  # forced distributed
        V.MAINT_DRIVER_LIST_MAX = 1 << 17  # small tier for the twin run
        want = rows(version_cdc(spark, d, 1, 2))
        assert got == want
        assert len(got) > 0
        assert all(c == "added" for _, _, _, c, _, _ in got)

    def test_cdc_distributed_modified_and_removed(
        self, spark, tmp_path, force_distributed
    ):
        from arrow_zarr_spark.zarr.versions import version_cdc

        d = str(tmp_path / "s")
        write_zarr(_table(spark, 0, 64), d, chunk_rows=16)
        commit_version(spark, d, "v1")
        # shrink + change values: removed positions AND modified ones
        write_zarr(
            _table(spark, 0, 40, mul=9), d, chunk_rows=16,
            mode="overwrite",
        )
        commit_version(spark, d, "v2")
        out = version_cdc(spark, d, 1, 2)
        by_change = {
            r["change"]: r["cnt"]
            for r in out.groupBy("change").count()
            .withColumnRenamed("count", "cnt").collect()
        }
        # v column: 40 modified in-range (2i -> 9i, i>0 differs; i=0
        # equal), 24 removed per array; k identical in range
        assert by_change.get("removed", 0) == 48  # k and v, 24 each
        assert by_change.get("modified", 0) == 39  # v only, i=1..39

    def test_stat_view_refresh_distributed_equals_scratch(
        self, spark, tmp_path, force_distributed
    ):
        """refresh_chunk_stat_view past the cap: the changed-chunk
        decision distributes (covering-block sha resolution) and
        full-grid recomputes enumerate in the tasks; result must stay
        row-for-row equal to a from-scratch chunk_stat_view(v2) —
        which itself runs the sc.range work-list tier here."""
        from arrow_zarr_spark.zarr.versions import (
            chunk_stat_view,
            refresh_chunk_stat_view,
        )

        d = str(tmp_path / "s")
        write_zarr(_table(spark, 0, 64), d, chunk_rows=16)
        commit_version(spark, d, "v1")
        base = chunk_stat_view(spark, d, 1).localCheckpoint()
        write_zarr(
            _table(spark, 48, 96, mul=5), d, chunk_rows=16,
            mode="append",
        )
        commit_version(spark, d, "v2")

        def rows(df):
            return sorted(
                (r["array"], r["chunk_pos"], r["n_values"], r["value_sum"])
                for r in df.collect()
            )

        got = rows(refresh_chunk_stat_view(spark, d, base, 1, 2))
        want = rows(chunk_stat_view(spark, d, 2))
        assert got == want and len(want) > 0


class TestAuditDiffDistributed:
    def test_audit_and_diff_match_small_tier(
        self, spark, tmp_path, force_distributed
    ):
        """audit_zarr (fsck) and diff_zarr over huge grids enumerate
        their work lists in the tasks; rows must equal the small
        tier's."""
        from arrow_zarr_spark.io import audit_zarr, diff_zarr

        a = str(tmp_path / "a")
        b = str(tmp_path / "b")
        bad = str(tmp_path / "bad")
        write_zarr(_table(spark, 0, 64), a, chunk_rows=16)
        write_zarr(_table(spark, 0, 64, mul=3), b, chunk_rows=16)
        write_zarr(_table(spark, 0, 64), bad, chunk_rows=16)
        open_store(bad).set("v/c/1", b"\x00broken")

        def rows(df):
            return sorted(tuple(r) for r in df.collect())

        got_audit = rows(audit_zarr(spark, bad))
        got_diff = rows(diff_zarr(spark, a, b))
        V.MAINT_DRIVER_LIST_MAX = 1 << 17
        assert got_audit == rows(audit_zarr(spark, bad))
        assert got_diff == rows(diff_zarr(spark, a, b))
        assert any(not r[3] for r in got_audit)  # the broken chunk
        assert any(r[2] == "changed" for r in got_diff)


class TestRefreshStatsDistributed:
    """r11 (VERDICT r10 item 2): refresh_stats's [lo, hi] assembly
    past STATS_GRID_MAX_OBJECTS runs fully distributed — spark.range
    work list, mapInPandas pair compute, complete-block sidecar
    writes — with NO per-object driver list. Cutover forced to 0;
    distributed results must be byte-identical to the driver tier's
    on twin stores."""

    def test_distributed_equals_serial_twin_stores(
        self, spark, tmp_path, monkeypatch
    ):
        import arrow_zarr_spark.io as io_mod
        import arrow_zarr_spark.zarr.stats as stats_mod
        from arrow_zarr_spark.io import refresh_stats

        monkeypatch.setattr(io_mod, "STATS_MAX_OBJECTS", 4)
        monkeypatch.setattr(stats_mod, "STATS_BLOCK_ENTRIES", 3)
        paths = {}
        for name in ("serial", "dist"):
            d = str(tmp_path / name)
            write_zarr(
                _table(spark, 0, 200, mul=-7), d, chunk_rows=16,
                stats=False,
            )
            paths[name] = d
        n_serial = refresh_stats(spark, paths["serial"])
        n_dist = refresh_stats(spark, paths["dist"])
        assert n_dist == n_serial > 0
        assert _store_bytes(paths["dist"]) == {
            k.replace(paths["serial"], paths["dist"]): v
            for k, v in _store_bytes(paths["serial"]).items()
        }

    def test_distributed_inline_under_inline_cap(
        self, spark, tmp_path, monkeypatch
    ):
        """Cutover 0 but n_objects under the inline cap: the
        distributed tier's bounded collect publishes the INLINE
        representation — same bytes as the driver tier."""
        import arrow_zarr_spark.io as io_mod
        from arrow_zarr_spark.io import refresh_stats
        from arrow_zarr_spark.zarr.array import infer_store_arrays
        from arrow_zarr_spark.zarr.stats import is_sidecar_marker

        a = str(tmp_path / "a")
        b = str(tmp_path / "b")
        for d in (a, b):
            write_zarr(
                _table(spark, 0, 96), d, chunk_rows=16, stats=False
            )
        refresh_stats(spark, a)
        refresh_stats(spark, b)
        assert _store_bytes(b) == {
            k.replace(a, b): v for k, v in _store_bytes(a).items()
        }
        from arrow_zarr_spark.io import STATS_ATTR_KEY

        attrs = {
            m.meta.name: m.meta.attributes.get(STATS_ATTR_KEY)
            for m in infer_store_arrays(open_store(b))
        }
        assert isinstance(attrs["k"], list)  # inline, not a marker
        assert not is_sidecar_marker(attrs["k"])

    def test_distributed_deletes_stale_sidecar_tail(
        self, spark, tmp_path, monkeypatch
    ):
        """A prior sidecar written with a SMALLER block size leaves
        more blocks than the new marker advertises — the distributed
        tier sweeps the tail (block-count arithmetic, no listing)."""
        import arrow_zarr_spark.io as io_mod
        import arrow_zarr_spark.zarr.stats as stats_mod
        from arrow_zarr_spark.io import refresh_stats
        from arrow_zarr_spark.zarr.array import infer_store_arrays
        from arrow_zarr_spark.io import STATS_ATTR_KEY
        from arrow_zarr_spark.zarr.stats import resolve_stats

        d = str(tmp_path / "t")
        write_zarr(
            _table(spark, 0, 160), d, chunk_rows=16, stats=False
        )  # 10 objects
        monkeypatch.setattr(io_mod, "STATS_MAX_OBJECTS", 4)
        monkeypatch.setattr(stats_mod, "STATS_BLOCK_ENTRIES", 2)
        assert refresh_stats(spark, d) == 20  # 10 objects x 2 columns
        store = open_store(d)
        assert len(list(store.walk_prefix("__stats__/k"))) == 5
        monkeypatch.setattr(stats_mod, "STATS_BLOCK_ENTRIES", 8)
        assert refresh_stats(spark, d) == 20
        store = open_store(d)
        assert len(list(store.walk_prefix("__stats__/k"))) == 2
        meta = {
            m.meta.name: m.meta
            for m in infer_store_arrays(store)
        }["k"]
        entries = resolve_stats(
            store, "k", meta.attributes[STATS_ATTR_KEY]
        )
        assert entries == [[i * 16, i * 16 + 15] for i in range(10)]

    def test_torn_prior_refresh_debris_swept(
        self, spark, tmp_path, monkeypatch
    ):
        """r13 (the r11 ADVICE): a TORN prior refresh can write
        sidecar blocks without ever updating the marker — debris the
        old marker-count sweep never saw. The sweep now walks the
        array's actual sidecar prefix and drops every block past the
        new count (O(actual blocks), a store-listing term)."""
        import arrow_zarr_spark.io as io_mod
        import arrow_zarr_spark.zarr.stats as stats_mod
        from arrow_zarr_spark.io import refresh_stats

        d = str(tmp_path / "torn")
        write_zarr(
            _table(spark, 0, 160), d, chunk_rows=16, stats=False
        )  # 10 objects
        monkeypatch.setattr(io_mod, "STATS_MAX_OBJECTS", 4)
        monkeypatch.setattr(stats_mod, "STATS_BLOCK_ENTRIES", 8)
        store = open_store(d)
        # torn larger refresh: unadvertised tail blocks, NO marker
        store.set("__stats__/k/7.json", b"[[0, 1]]")
        store.set("__stats__/k/12.json", b"[[0, 1]]")
        store.set("__stats__/k/not-a-block.txt", b"x")
        assert refresh_stats(spark, d) == 20
        store = open_store(d)
        keys = sorted(store.walk_prefix("__stats__/k/"))
        # 10 objects / 8 per block = 2 live blocks; debris gone,
        # non-block keys untouched
        assert keys == [
            "__stats__/k/0.json",
            "__stats__/k/1.json",
            "__stats__/k/not-a-block.txt",
        ]
        from arrow_zarr_spark.io import STATS_ATTR_KEY
        from arrow_zarr_spark.zarr.array import infer_store_arrays
        from arrow_zarr_spark.zarr.stats import resolve_stats

        meta = {
            m.meta.name: m.meta
            for m in infer_store_arrays(store)
        }["k"]
        entries = resolve_stats(
            store, "k", meta.attributes[STATS_ATTR_KEY]
        )
        assert entries == [[i * 16, i * 16 + 15] for i in range(10)]


class TestRenameDistributed:
    """r11 (VERDICT r10 item 3): rename_zarr_array's chunk-copy work
    list past MAINT_DRIVER_LIST_MAX is chunk ORDINALS (sc.range over
    the grid — metadata arithmetic, never a listing); the residual
    sweep is O(debris). Cutover forced to 0; distributed bytes must
    equal the serial tier's on twin stores."""

    def test_table_rename_matches_serial(
        self, spark, tmp_path, force_distributed
    ):
        from arrow_zarr_spark.io import rename_zarr_array

        a = str(tmp_path / "a")
        b = str(tmp_path / "b")
        for d in (a, b):
            write_zarr(_table(spark, 0, 200, mul=3), d, chunk_rows=16)
        n_dist = rename_zarr_array(a, "v", "w", spark=spark)
        V.MAINT_DRIVER_LIST_MAX = 1 << 17
        try:
            n_serial = rename_zarr_array(b, "v", "w", spark=spark)
        finally:
            V.MAINT_DRIVER_LIST_MAX = 0
        assert n_dist == n_serial > 0
        assert _store_bytes(a) == {
            k.replace(b, a): v for k, v in _store_bytes(b).items()
        }
        back = read_zarr(spark, a)
        assert back.filter(F.col("w") == 33).count() == 1

    def test_grid_rename_skips_absent_cells(
        self, spark, tmp_path, force_distributed
    ):
        """Grid store with an absent (pure-fill) cell: the ordinal
        job's get returns None there and skips — no phantom object
        appears under the new name."""
        from arrow_zarr_spark.io import rename_zarr_array, write_zarr_grid

        twins = []
        for name in ("ga", "gb"):
            d = str(tmp_path / name)
            rows = [
                (float(x), float(y), float(x * 10 + y))
                for x in range(6)
                for y in range(6)
                if not (x >= 4 and y >= 4)  # absent corner cell
            ]
            df = spark.createDataFrame(rows, ["x", "y", "val"])
            write_zarr_grid(
                df, d, dims=("x", "y"), chunk_shape=(2, 2),
                fill_value=-1.0,
            )
            twins.append(d)
        a, b = twins
        n_dist = rename_zarr_array(a, "val", "temp", spark=spark)
        V.MAINT_DRIVER_LIST_MAX = 1 << 17
        try:
            n_serial = rename_zarr_array(b, "val", "temp", spark=spark)
        finally:
            V.MAINT_DRIVER_LIST_MAX = 0
        assert n_dist == n_serial
        assert _store_bytes(a) == {
            k.replace(b, a): v for k, v in _store_bytes(b).items()
        }
        # fresh relation per action: the pinned Spark 4.1 plan-reuse
        # caveat (tests/test_datasource.py::TestPushdownPlanReuse)
        assert read_zarr(spark, a).filter("temp = -1.0").count() == 4
        assert read_zarr(spark, a).count() == 36

    def test_v2_rename_matches_serial(
        self, spark, tmp_path, force_distributed
    ):
        from arrow_zarr_spark.io import rename_zarr_array

        a = str(tmp_path / "v2a")
        b = str(tmp_path / "v2b")
        for d in (a, b):
            write_zarr(
                _table(spark, 0, 120), d, chunk_rows=16,
                zarr_format=2,
            )
        n_dist = rename_zarr_array(a, "v", "vv", spark=spark)
        V.MAINT_DRIVER_LIST_MAX = 1 << 17
        try:
            n_serial = rename_zarr_array(b, "v", "vv", spark=spark)
        finally:
            V.MAINT_DRIVER_LIST_MAX = 0
        assert n_dist == n_serial > 0
        assert _store_bytes(a) == {
            k.replace(b, a): v for k, v in _store_bytes(b).items()
        }

    def test_residual_debris_moves_across(
        self, spark, tmp_path, force_distributed
    ):
        """A foreign key a third-party writer parked under the old
        column is not enumerable from the grid — the residual sweep
        carries it to the new name (the serial tier's behavior)."""
        from arrow_zarr_spark.io import rename_zarr_array

        d = str(tmp_path / "deb")
        write_zarr(_table(spark, 0, 64), d, chunk_rows=16)
        store = open_store(d)
        store.set("v/notes.txt", b"third-party debris")
        n = rename_zarr_array(d, "v", "w", spark=spark)
        store = open_store(d)
        assert store.get("w/notes.txt") == b"third-party debris"
        assert not list(store.walk_prefix("v"))
        assert n == 4 + 1 + 1  # 4 chunk objects + zarr.json + debris
        back = read_zarr(spark, d)
        assert back.filter(F.col("w") == 10).count() == 1
