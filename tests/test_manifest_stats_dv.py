"""Guards for the round-5 manifest extensions: per-file column stats
(file skipping) and delete vectors (merge-on-read DELETE).

Same contract as test_round5_guards: the whole protocol runs with the
rename family FORBIDDEN — PUT / exclusive-create / LIST / GET only.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.plans.ingest import (
    _current_manifest_doc,
    commit_append_manifest,
    commit_compact_manifest,
    commit_delete_manifest,
    commit_delete_vector,
    commit_merge_manifest,
    manifest_expire,
    manifest_gc,
    prune_file_list,
    read_manifest_pruned,
    read_manifest_sink,
)


@pytest.fixture
def no_rename(monkeypatch):
    def _forbid(*a, **k):  # pragma: no cover - only hit on regression
        raise AssertionError("rename-family call inside manifest commit path")

    monkeypatch.setattr(os, "rename", _forbid)
    monkeypatch.setattr(os, "replace", _forbid)
    monkeypatch.setattr(os, "link", _forbid)
    monkeypatch.setattr(shutil, "move", _forbid)


def _rows(spark, lo, hi):
    # clustered on payload so repartitionByRange gives tight per-file
    # ranges — the layout stats pruning is designed for
    return (
        spark.range(lo, hi)
        .select(
            F.concat(F.lit("k"), F.col("id")).alias("game_url"),
            F.col("id").alias("payload"),
        )
        .repartitionByRange(4, "payload")
    )


class TestColumnStatsPruning:
    def test_stats_recorded_per_file(self, spark, tmp_path, no_rename):
        sink = str(tmp_path / "msink")
        commit_append_manifest(
            _rows(spark, 0, 400).localCheckpoint(), sink, stats_cols=["payload"]
        )
        _, doc = _current_manifest_doc(sink)
        assert set(doc["stats"]) == set(doc["files"])
        for st in doc["stats"].values():
            mn, mx = st["payload"]
            assert 0 <= mn <= mx <= 399

    def test_narrow_range_skips_files_and_matches_full_scan(
        self, spark, tmp_path, no_rename
    ):
        sink = str(tmp_path / "msink")
        commit_append_manifest(
            _rows(spark, 0, 400).localCheckpoint(), sink, stats_cols=["payload"]
        )
        kept, skipped = prune_file_list(sink, "payload", 10, 20)
        assert skipped, "range-clustered layout must skip at least one file"
        pruned = read_manifest_pruned(spark, sink, "payload", 10, 20)
        full = read_manifest_sink(spark, sink).where(F.col("payload").between(10, 20))
        assert sorted(r["payload"] for r in pruned.collect()) == sorted(
            r["payload"] for r in full.collect()
        )
        # the pruned plan reads ONLY the kept files
        assert set(pruned.inputFiles()) <= {f"file://{f}" for f in kept} | set(kept)

    def test_disjoint_range_returns_none(self, spark, tmp_path, no_rename):
        sink = str(tmp_path / "msink")
        commit_append_manifest(
            _rows(spark, 0, 400).localCheckpoint(), sink, stats_cols=["payload"]
        )
        assert read_manifest_pruned(spark, sink, "payload", 1000, 2000) is None

    def test_stats_stick_without_argument_on_later_appends(
        self, spark, tmp_path, no_rename
    ):
        sink = str(tmp_path / "msink")
        commit_append_manifest(
            _rows(spark, 0, 100).localCheckpoint(), sink, stats_cols=["payload"]
        )
        # second append does NOT pass stats_cols — the sink keeps
        # computing them (pruning never silently degrades)
        commit_append_manifest(_rows(spark, 100, 200).localCheckpoint(), sink)
        _, doc = _current_manifest_doc(sink)
        assert set(doc["stats"]) == set(doc["files"])

    def test_unstatted_files_conservatively_kept(self, spark, tmp_path, no_rename):
        sink = str(tmp_path / "msink")
        # first append has no stats at all
        commit_append_manifest(_rows(spark, 0, 100).localCheckpoint(), sink)
        _, doc = _current_manifest_doc(sink)
        assert "stats" not in doc
        kept, skipped = prune_file_list(sink, "payload", 0, 1)
        assert not skipped and set(kept) == set(doc["files"])

    def test_compaction_recomputes_stats(self, spark, tmp_path, no_rename):
        sink = str(tmp_path / "msink")
        for lo in (0, 100, 200, 300):
            commit_append_manifest(
                _rows(spark, lo, lo + 100).localCheckpoint(),
                sink,
                stats_cols=["payload"],
            )
        retired = commit_compact_manifest(spark, sink, target_files=2)
        assert retired > 2
        _, doc = _current_manifest_doc(sink)
        assert len(doc["files"]) == 2
        assert set(doc["stats"]) == set(doc["files"])

    def test_timestamp_stats_serialize_and_prune(self, spark, tmp_path, no_rename):
        sink = str(tmp_path / "msink")
        df = (
            spark.range(0, 200)
            .select(
                F.concat(F.lit("k"), F.col("id")).alias("game_url"),
                F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 3600).alias("ts"),
            )
            .repartitionByRange(4, "ts")
        )
        commit_append_manifest(df.localCheckpoint(), sink, stats_cols=["ts"])
        _, doc = _current_manifest_doc(sink)
        # isoformat strings in the JSON doc (lexicographic == chrono)
        json.dumps(doc)  # must be JSON-serializable end to end
        some = next(iter(doc["stats"].values()))["ts"]
        assert isinstance(some[0], str) and some[0] < some[1]
        kept, skipped = prune_file_list(
            sink, "ts", "2023-11-14T00:00:00", "2023-11-14T23:59:59"
        )
        assert skipped, "one-day window must skip files outside it"


class TestEmptyPartFiles:
    """Spark writes a part file for partition 0 even when the partition
    is empty; a commit must list only the files that hold rows."""

    @staticmethod
    def _half_empty(spark):
        return spark.range(0, 10, 1, 2).where("id >= 5").select(
            F.concat(F.lit("k"), F.col("id")).alias("game_url")
        )

    def test_append_lists_only_files_with_rows(self, spark, tmp_path, no_rename):
        sink = str(tmp_path / "msink")
        assert commit_append_manifest(self._half_empty(spark), sink) == 5
        _, doc = _current_manifest_doc(sink)
        assert len(doc["files"]) == 1
        assert read_manifest_sink(spark, sink).count() == 5

    def test_merge_lists_only_files_with_rows(self, spark, tmp_path, no_rename):
        sink = str(tmp_path / "msink")
        assert commit_merge_manifest(self._half_empty(spark), sink) == (5, 0)
        _, doc = _current_manifest_doc(sink)
        assert len(doc["files"]) == 1

    def test_merge_replacing_a_whole_file_lists_no_empty_rewrite(self, spark, tmp_path, no_rename):
        sink = str(tmp_path / "msink")
        rows = spark.range(5).select(
            F.concat(F.lit("k"), F.col("id")).alias("game_url"), F.col("id").alias("payload")
        ).coalesce(1)
        assert commit_append_manifest(rows, sink) == 5
        upsert = rows.withColumn("payload", F.col("payload") + 100)
        assert commit_merge_manifest(upsert, sink) == (0, 5)
        _, doc = _current_manifest_doc(sink)
        assert len(doc["files"]) == 1
        got = sorted(r["payload"] for r in read_manifest_sink(spark, sink).collect())
        assert got == [100, 101, 102, 103, 104]


class TestDeleteVectors:
    pytestmark = pytest.mark.slow  # heavy suite, default-profile excluded (r16)
    def _seed(self, spark, sink, n=300):
        commit_append_manifest(
            _rows(spark, 0, n).localCheckpoint(), sink, stats_cols=["payload"]
        )

    def _k(self, spark, ids):
        return spark.createDataFrame([(f"k{i}",) for i in ids], "game_url string")

    def test_delete_masks_rows_without_rewriting_files(
        self, spark, tmp_path, no_rename
    ):
        sink = str(tmp_path / "msink")
        self._seed(spark, sink)
        _, before = _current_manifest_doc(sink)
        n = commit_delete_vector(self._k(spark, range(0, 50)), sink)
        assert n == 50
        _, after = _current_manifest_doc(sink)
        assert after["files"] == before["files"], "merge-on-read: no data rewrite"
        assert after["delete_files"]
        got = read_manifest_sink(spark, sink)
        assert got.count() == 250
        assert got.where(F.col("game_url") == "k0").count() == 0

    def test_time_travel_shows_pre_delete_rows(self, spark, tmp_path, no_rename):
        sink = str(tmp_path / "msink")
        self._seed(spark, sink)
        gen_before, _ = _current_manifest_doc(sink)
        commit_delete_vector(self._k(spark, range(0, 50)), sink)
        assert read_manifest_sink(spark, sink, generation=gen_before).count() == 300
        assert read_manifest_sink(spark, sink).count() == 250

    def test_delete_missing_keys_publishes_nothing(self, spark, tmp_path, no_rename):
        sink = str(tmp_path / "msink")
        self._seed(spark, sink)
        gen0, _ = _current_manifest_doc(sink)
        assert commit_delete_vector(self._k(spark, range(900, 950)), sink) == 0
        assert _current_manifest_doc(sink)[0] == gen0

    def test_double_delete_counts_live_rows_only(self, spark, tmp_path, no_rename):
        sink = str(tmp_path / "msink")
        self._seed(spark, sink)
        assert commit_delete_vector(self._k(spark, range(0, 50)), sink) == 50
        # overlap 25: only the 25 still-live rows count
        assert commit_delete_vector(self._k(spark, range(25, 75)), sink) == 25
        assert read_manifest_sink(spark, sink).count() == 225

    def test_reappend_deleted_key_is_visible_old_row_stays_masked(
        self, spark, tmp_path, no_rename
    ):
        sink = str(tmp_path / "msink")
        self._seed(spark, sink)
        commit_delete_vector(self._k(spark, range(0, 50)), sink)
        # re-append 10 of the deleted keys: the audit reads through the
        # mask and admits them; the file-scoped vector keeps masking the
        # OLD rows while the new rows are visible
        n = commit_append_manifest(_rows(spark, 0, 10).localCheckpoint(), sink)
        assert n == 10
        got = read_manifest_sink(spark, sink)
        assert got.count() == 260
        assert got.where(F.col("game_url") == "k5").count() == 1
        # keys 10..49 stay masked
        assert got.where(F.col("game_url") == "k20").count() == 0

    def test_merge_upsert_of_deleted_key_is_insert(self, spark, tmp_path, no_rename):
        sink = str(tmp_path / "msink")
        self._seed(spark, sink)
        commit_delete_vector(self._k(spark, range(0, 50)), sink)
        batch = spark.createDataFrame(
            [("k5", 10005), ("k100", 10100)], "game_url string, payload bigint"
        )
        res = commit_merge_manifest(batch.localCheckpoint(), sink)
        assert (res.inserted, res.updated) == (1, 1)  # k5 insert, k100 update
        got = read_manifest_sink(spark, sink)
        assert got.where(F.col("game_url") == "k5").first()["payload"] == 10005
        assert got.where(F.col("game_url") == "k100").first()["payload"] == 10100
        assert got.count() == 251  # 250 live (k100 replaced in place) + re-inserted k5

    def test_compaction_materializes_delete_vectors(self, spark, tmp_path, no_rename):
        sink = str(tmp_path / "msink")
        self._seed(spark, sink)
        commit_delete_vector(self._k(spark, range(0, 50)), sink)
        commit_compact_manifest(spark, sink, target_files=2)
        _, doc = _current_manifest_doc(sink)
        assert "delete_files" not in doc
        got = read_manifest_sink(spark, sink)
        assert got.count() == 250
        assert got.where(F.col("game_url") == "k0").count() == 0
        # stats recomputed over the compacted files
        assert set(doc["stats"]) == set(doc["files"])

    def test_gc_keeps_live_delete_files_reaps_expired(self, spark, tmp_path, no_rename):
        sink = str(tmp_path / "msink")
        self._seed(spark, sink)
        commit_delete_vector(self._k(spark, range(0, 50)), sink)
        _, doc = _current_manifest_doc(sink)
        dv_files = list(doc["delete_files"])
        assert manifest_gc(sink) == 0, "live delete vectors must survive gc"
        assert all(os.path.exists(f) for f in dv_files)
        # materialize, expire history, gc: the vectors become garbage
        commit_compact_manifest(spark, sink, target_files=2)
        manifest_expire(sink, keep_last=1)
        manifest_gc(sink)
        assert not any(os.path.exists(f) for f in dv_files)
        assert read_manifest_sink(spark, sink).count() == 250

    def test_cow_delete_skips_tombstoned_rows(self, spark, tmp_path, no_rename):
        sink = str(tmp_path / "msink")
        self._seed(spark, sink)
        commit_delete_vector(self._k(spark, range(0, 50)), sink)
        # COW-delete an overlapping range: only live rows rewrite
        n = commit_delete_manifest(self._k(spark, range(40, 60)), sink)
        assert n == 10
        got = read_manifest_sink(spark, sink)
        assert got.count() == 240
        _, doc = _current_manifest_doc(sink)
        # stats survive the COW rewrite for every current file
        assert set(doc["stats"]) == set(doc["files"])

    def test_pruned_read_applies_delete_mask(self, spark, tmp_path, no_rename):
        sink = str(tmp_path / "msink")
        self._seed(spark, sink)
        commit_delete_vector(self._k(spark, range(10, 15)), sink)
        pruned = read_manifest_pruned(spark, sink, "payload", 0, 20)
        assert sorted(r["payload"] for r in pruned.collect()) == [
            *range(0, 10),
            *range(15, 21),
        ]


class TestBloomPruning:
    pytestmark = pytest.mark.slow  # heavy suite, default-profile excluded (r16)
    """Per-file bloom filters: point-lookup skipping on keys whose
    per-file min/max ranges all overlap (stats-pruning's blind spot)."""

    @staticmethod
    def _scattered(spark, n=400):
        # keys scattered across files by an unrelated hash: every
        # file's [min, max] covers ~the whole key space
        return (
            spark.range(0, n)
            .select(
                F.col("id").alias("game_url"),
                (F.col("id") * 7 % 100).alias("payload"),
            )
            .repartition(4, "payload")
        )

    def test_point_lookup_skips_files_and_matches_full_scan(
        self, spark, tmp_path, no_rename
    ):
        from chesscom_etl_tableau_spark.plans.ingest import (
            prune_file_list_eq,
            read_manifest_point,
        )

        sink = str(tmp_path / "msink")
        commit_append_manifest(
            self._scattered(spark).localCheckpoint(),
            sink,
            stats_cols=["game_url"],
            bloom_cols=["game_url"],
        )
        # stats alone cannot skip a mid-range key here
        _, range_skipped = prune_file_list(sink, "game_url", 200, 200)
        assert range_skipped == []
        kept, skipped = prune_file_list_eq(sink, "game_url", 200)
        assert len(kept) == 1 and len(skipped) == 3
        got = read_manifest_point(spark, sink, "game_url", 200).collect()
        assert [(r["game_url"], r["payload"]) for r in got] == [(200, 0)]

    def test_missing_key_prunes_every_file(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import (
            prune_file_list_eq,
            read_manifest_point,
        )

        sink = str(tmp_path / "msink")
        commit_append_manifest(
            self._scattered(spark).localCheckpoint(),
            sink,
            bloom_cols=["game_url"],
        )
        # no stats tracked: only blooms can skip — and for a key that
        # was never written, they skip everything (FP rate at this
        # fill is ~1e-9 per file, deterministic given the hash family)
        kept, skipped = prune_file_list_eq(sink, "game_url", 10_000_019)
        assert kept == [] and len(skipped) == 4
        assert read_manifest_point(spark, sink, "game_url", 10_000_019) is None

    def test_blooms_stick_and_carry_across_appends(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import prune_file_list_eq

        sink = str(tmp_path / "msink")
        commit_append_manifest(
            self._scattered(spark, 200).localCheckpoint(), sink, bloom_cols=["game_url"]
        )
        _, doc1 = _current_manifest_doc(sink)
        # second append names no bloom_cols: tracking must continue
        commit_append_manifest(
            spark.range(1000, 1200)
            .select(F.col("id").alias("game_url"), F.lit(0).cast("long").alias("payload"))
            .localCheckpoint(),
            sink,
        )
        _, doc2 = _current_manifest_doc(sink)
        assert set(doc2["blooms"]["files"]) >= set(doc2["files"])
        # carried files keep their exact bitsets (immutability)
        for f, per in doc1["blooms"]["files"].items():
            assert doc2["blooms"]["files"][f] == per
        # a key from the second batch prunes all first-batch files
        kept, skipped = prune_file_list_eq(sink, "game_url", 1100)
        assert all(f in doc1["files"] for f in skipped if f in doc1["files"])
        assert any(f not in doc1["files"] for f in kept)

    def test_compaction_recomputes_blooms(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import (
            prune_file_list_eq,
            read_manifest_point,
        )

        sink = str(tmp_path / "msink")
        for lo in (0, 400, 800):
            commit_append_manifest(
                spark.range(lo, lo + 400)
                .select(F.col("id").alias("game_url"), (F.col("id") % 9).alias("payload"))
                .repartition(4)
                .localCheckpoint(),
                sink,
                bloom_cols=["game_url"],
            )
        assert commit_compact_manifest(spark, sink, target_files=2) > 0
        _, doc = _current_manifest_doc(sink)
        assert set(doc["blooms"]["files"]) == set(doc["files"])
        got = read_manifest_point(spark, sink, "game_url", 555).collect()
        assert [(r["game_url"], r["payload"]) for r in got] == [(555, 555 % 9)]
        kept, _ = prune_file_list_eq(sink, "game_url", 10_000_019)
        assert kept == []

    def test_merge_rewrite_refreshes_blooms_for_new_files(
        self, spark, tmp_path, no_rename
    ):
        from chesscom_etl_tableau_spark.plans.ingest import read_manifest_point

        sink = str(tmp_path / "msink")
        commit_append_manifest(
            self._scattered(spark).localCheckpoint(), sink, bloom_cols=["game_url"]
        )
        commit_merge_manifest(
            spark.createDataFrame([(200, 999), (10_000, 1)], "game_url long, payload long")
            .localCheckpoint(),
            sink,
        )
        _, doc = _current_manifest_doc(sink)
        assert set(doc["blooms"]["files"]) == set(doc["files"])
        got = read_manifest_point(spark, sink, "game_url", 200).collect()
        assert [(r["game_url"], r["payload"]) for r in got] == [(200, 999)]
        got2 = read_manifest_point(spark, sink, "game_url", 10_000).collect()
        assert [(r["game_url"], r["payload"]) for r in got2] == [(10_000, 1)]

    def test_point_read_applies_delete_mask(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import read_manifest_point

        sink = str(tmp_path / "msink")
        commit_append_manifest(
            self._scattered(spark).localCheckpoint(), sink, bloom_cols=["game_url"]
        )
        commit_delete_vector(
            spark.createDataFrame([(200,)], "game_url long"), sink
        )
        got = read_manifest_point(spark, sink, "game_url", 200)
        assert got is None or got.count() == 0

    def test_driver_and_executor_hashes_agree(self, spark):
        # the Python probe must reproduce the JVM bit positions exactly
        from chesscom_etl_tableau_spark.plans.ingest import _bloom_positions

        m, k = 4096, 5
        vals = [0, 1, 123456789, "abc", "k200"]
        s = F.md5(F.col("v").cast("string"))
        h1 = F.conv(F.substring(s, 1, 8), 16, 10).cast("long")
        h2 = F.conv(F.substring(s, 9, 8), 16, 10).cast("long")
        pos = F.array(*[F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(k)])
        for v in vals:
            df = spark.createDataFrame(
                [(v,)], f"v {'string' if isinstance(v, str) else 'long'}"
            )
            jvm = df.select(pos.alias("p")).first()["p"]
            assert [int(x) for x in jvm] == _bloom_positions(v, m, k)


class TestWarehouseTransactions:
    pytestmark = pytest.mark.slow  # heavy suite, default-profile excluded (r16)
    """Cross-table atomicity: one txn doc pins every table's file list."""

    @staticmethod
    def _batch(spark, lo, hi):
        facts = spark.range(lo, hi).select(
            F.col("id").alias("game_url"),
            (F.col("id") % 10).alias("user_id"),
            F.col("id").alias("value"),
        )
        dim = spark.range(0, 10).select(
            F.col("id").alias("user_id"), (F.col("id") % 3).alias("tier")
        )
        return facts, dim

    def test_both_tables_flip_together(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import (
            commit_tables,
            read_warehouse_table,
            warehouse_tables,
        )

        wh = str(tmp_path / "wh")
        facts, dim = self._batch(spark, 0, 100)
        out = commit_tables(
            {"facts": facts.localCheckpoint(), "dim": dim.localCheckpoint()}, wh
        )
        assert out == {"facts": 100, "dim": 10}
        assert warehouse_tables(wh) == ["dim", "facts"]
        assert read_warehouse_table(spark, wh, "facts").count() == 100
        assert read_warehouse_table(spark, wh, "dim").count() == 10

    def test_crash_before_publish_leaves_no_table_visible(
        self, spark, tmp_path, no_rename, monkeypatch
    ):
        import builtins

        from chesscom_etl_tableau_spark.plans.ingest import (
            commit_tables,
            read_warehouse_table,
        )

        wh = str(tmp_path / "wh")
        facts, dim = self._batch(spark, 0, 50)
        real_open = builtins.open

        def crashing_open(path, mode="r", *a, **k):
            if "x" in mode and "txn-" in str(path):
                raise OSError("simulated crash at publish")
            return real_open(path, mode, *a, **k)

        monkeypatch.setattr(builtins, "open", crashing_open)
        with pytest.raises(OSError, match="simulated crash"):
            commit_tables(
                {"facts": facts.localCheckpoint(), "dim": dim.localCheckpoint()}, wh
            )
        monkeypatch.setattr(builtins, "open", real_open)
        # NEITHER table became visible, and the staging was reaped
        assert read_warehouse_table(spark, wh, "facts") is None
        assert read_warehouse_table(spark, wh, "dim") is None
        data_root = tmp_path / "wh" / "tables"
        leftovers = list(data_root.rglob("*.parquet")) if data_root.exists() else []
        assert leftovers == []

    def test_keyed_audit_dedups_across_transactions(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import (
            commit_tables,
            read_warehouse_table,
        )

        wh = str(tmp_path / "wh")
        facts, dim = self._batch(spark, 0, 100)
        keys = {"facts": "game_url", "dim": "user_id"}
        commit_tables(
            {"facts": facts.localCheckpoint(), "dim": dim.localCheckpoint()},
            wh,
            key_cols=keys,
        )
        facts2, dim2 = self._batch(spark, 50, 150)  # 50% overlap
        out = commit_tables(
            {"facts": facts2.localCheckpoint(), "dim": dim2.localCheckpoint()},
            wh,
            key_cols=keys,
        )
        assert out == {"facts": 50, "dim": 0}
        f = read_warehouse_table(spark, wh, "facts")
        assert f.count() == 150
        assert f.groupBy("game_url").count().where(F.col("count") > 1).count() == 0

    def test_commit_after_rival_generation_reads_its_state(
        self, spark, tmp_path, no_rename
    ):
        import os as _os

        from chesscom_etl_tableau_spark.plans.ingest import (
            _warehouse_mdir,
            commit_tables,
            read_warehouse_table,
        )

        wh = str(tmp_path / "wh")
        facts, dim = self._batch(spark, 0, 10)
        commit_tables({"facts": facts.localCheckpoint()}, wh)
        # another writer published generation 2 BEFORE this commit
        # starts, so the commit reads it as current and never loses a
        # race (tests/test_genlog.py races between read and create)
        mdir = _warehouse_mdir(wh)
        with open(_os.path.join(mdir, f"txn-{2:012d}.json"), "x") as fh:
            fh.write('{"generation": 2, "tables": {"facts": {"files": []}}}')
        out = commit_tables({"dim": dim.localCheckpoint()}, wh)
        assert out == {"dim": 10}
        # our commit landed as generation 3, on top of the rival's state
        assert read_warehouse_table(spark, wh, "dim", generation=3).count() == 10

    def test_time_travel_is_cross_table_consistent(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import (
            commit_tables,
            read_warehouse_table,
        )

        wh = str(tmp_path / "wh")
        facts, dim = self._batch(spark, 0, 40)
        commit_tables(
            {"facts": facts.localCheckpoint(), "dim": dim.localCheckpoint()}, wh
        )
        facts2 = spark.range(1000, 1040).select(
            F.col("id").alias("game_url"),
            # cast: lit(77) alone is INT32, and a same-named column with
            # a different parquet physical type breaks schema inference
            F.lit(77).cast("long").alias("user_id"),
            F.col("id").alias("value"),
        )
        dim2 = spark.createDataFrame([(77, 0)], "user_id long, tier long")
        commit_tables(
            {"facts": facts2.localCheckpoint(), "dim": dim2.localCheckpoint()}, wh
        )
        # generation 1: user 77 exists in NEITHER table (consistency);
        # generation 2: it exists in BOTH
        f1 = read_warehouse_table(spark, wh, "facts", generation=1)
        d1 = read_warehouse_table(spark, wh, "dim", generation=1)
        assert f1.where(F.col("user_id") == 77).count() == 0
        assert d1.where(F.col("user_id") == 77).count() == 0
        f2 = read_warehouse_table(spark, wh, "facts", generation=2)
        d2 = read_warehouse_table(spark, wh, "dim", generation=2)
        assert f2.where(F.col("user_id") == 77).count() == 40
        assert d2.where(F.col("user_id") == 77).count() == 1
        assert f2.join(d2, "user_id", "left_anti").count() == 0


class TestProtocolFence:
    def test_future_protocol_refused_single_table(self, spark, tmp_path, no_rename):
        import os as _os

        from chesscom_etl_tableau_spark.plans.ingest import (
            ManifestProtocolError,
            _manifest_dir,
            read_manifest_sink,
        )

        sink = str(tmp_path / "msink")
        commit_append_manifest(
            spark.range(5).select(F.col("id").alias("game_url")).localCheckpoint(),
            sink,
        )
        # a future writer publishes generation 2 under protocol 99
        with open(
            _os.path.join(_manifest_dir(sink), f"manifest-{2:012d}.json"), "x"
        ) as fh:
            fh.write('{"generation": 2, "protocol": 99, "files": []}')
        with pytest.raises(ManifestProtocolError, match="protocol 99"):
            read_manifest_sink(spark, sink)
        # time travel to the supported generation still works
        assert read_manifest_sink(spark, sink, generation=1).count() == 5

    def test_writers_stamp_current_protocol(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import (
            MANIFEST_PROTOCOL,
            _current_manifest_doc,
        )

        sink = str(tmp_path / "msink")
        commit_append_manifest(
            spark.range(5).select(F.col("id").alias("game_url")).localCheckpoint(),
            sink,
        )
        _, doc = _current_manifest_doc(sink)
        assert doc["protocol"] == MANIFEST_PROTOCOL

    def test_legacy_unstamped_doc_reads_as_v1(self, spark, tmp_path, no_rename):
        import json as _json
        import os as _os

        from chesscom_etl_tableau_spark.plans.ingest import (
            _manifest_dir,
            read_manifest_sink,
        )

        sink = str(tmp_path / "msink")
        commit_append_manifest(
            spark.range(5).select(F.col("id").alias("game_url")).localCheckpoint(),
            sink,
        )
        # strip the stamp (a pre-versioning writer's doc)
        mpath = _os.path.join(_manifest_dir(sink), f"manifest-{1:012d}.json")
        with open(mpath) as fh:
            doc = _json.load(fh)
        doc.pop("protocol")
        _os.remove(mpath)
        with open(mpath, "x") as fh:
            _json.dump(doc, fh)
        assert read_manifest_sink(spark, sink).count() == 5


class TestChangeFeed:
    pytestmark = pytest.mark.slow  # heavy suite, default-profile excluded (r16)
    """manifest_change_feed: row-level CDC reconstructed from snapshots."""

    @staticmethod
    def _rows(spark, lo, hi, payload=None):
        return spark.range(lo, hi).select(
            F.col("id").alias("game_url"),
            (F.col("id") * 3 if payload is None else F.lit(payload)).alias("payload"),
        )

    def test_append_emits_inserts_and_reads_only_new_files(
        self, spark, tmp_path, no_rename
    ):
        from chesscom_etl_tableau_spark.plans.ingest import (
            _manifest_doc,
            manifest_change_feed,
        )
        from urllib.parse import unquote, urlparse

        sink = str(tmp_path / "msink")
        commit_append_manifest(self._rows(spark, 0, 100).localCheckpoint(), sink)
        commit_append_manifest(self._rows(spark, 100, 130).localCheckpoint(), sink)
        feed = manifest_change_feed(spark, sink, 1, 2)
        got = feed.collect()
        assert all(r["change_type"] == "insert" for r in got)
        assert sorted(r["game_url"] for r in got) == list(range(100, 130))
        # file pruning: generation-1 files are never opened
        g1_files = set(_manifest_doc(sink, 1)["files"])
        read_paths = {unquote(urlparse(f).path) for f in feed.inputFiles()}
        assert read_paths and read_paths.isdisjoint(g1_files)

    def test_merge_emits_update_pre_and_postimages(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import manifest_change_feed

        sink = str(tmp_path / "msink")
        commit_append_manifest(self._rows(spark, 0, 50).localCheckpoint(), sink)
        batch = spark.createDataFrame(
            [(10, 999), (11, 998), (200, 1)], "game_url long, payload long"
        )
        commit_merge_manifest(batch.localCheckpoint(), sink)
        got = manifest_change_feed(spark, sink, 1, 2).collect()
        by_type = {}
        for r in got:
            by_type.setdefault(r["change_type"], []).append((r["game_url"], r["payload"]))
        assert sorted(by_type["insert"]) == [(200, 1)]
        assert sorted(by_type["update_preimage"]) == [(10, 30), (11, 33)]
        assert sorted(by_type["update_postimage"]) == [(10, 999), (11, 998)]
        assert "delete" not in by_type

    def test_delete_vector_only_diff_emits_deletes(self, spark, tmp_path, no_rename):
        # the generations share every data file; only the DV mask
        # differs — the pruner must still read the masked file
        from chesscom_etl_tableau_spark.plans.ingest import manifest_change_feed

        sink = str(tmp_path / "msink")
        commit_append_manifest(self._rows(spark, 0, 40).localCheckpoint(), sink)
        commit_delete_vector(
            spark.createDataFrame([(7,), (8,)], "game_url long"), sink
        )
        got = manifest_change_feed(spark, sink, 1, 2).collect()
        assert sorted((r["change_type"], r["game_url"]) for r in got) == [
            ("delete", 7),
            ("delete", 8),
        ]

    def test_cow_delete_emits_deletes(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import manifest_change_feed

        sink = str(tmp_path / "msink")
        commit_append_manifest(self._rows(spark, 0, 40).localCheckpoint(), sink)
        commit_delete_manifest(
            spark.createDataFrame([(5,), (6,)], "game_url long"), sink
        )
        got = manifest_change_feed(spark, sink, 1, 2).collect()
        assert sorted((r["change_type"], r["game_url"]) for r in got) == [
            ("delete", 5),
            ("delete", 6),
        ]

    def test_compaction_produces_zero_changes(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import manifest_change_feed

        sink = str(tmp_path / "msink")
        for lo in (0, 40, 80):
            commit_append_manifest(
                self._rows(spark, lo, lo + 40).repartition(3).localCheckpoint(), sink
            )
        assert commit_compact_manifest(spark, sink, target_files=2) > 0
        assert manifest_change_feed(spark, sink, 3, 4).count() == 0

    def test_feed_across_dv_then_compact_shows_only_the_delete(
        self, spark, tmp_path, no_rename
    ):
        from chesscom_etl_tableau_spark.plans.ingest import manifest_change_feed

        sink = str(tmp_path / "msink")
        commit_append_manifest(self._rows(spark, 0, 30).localCheckpoint(), sink)
        commit_delete_vector(spark.createDataFrame([(3,)], "game_url long"), sink)
        commit_compact_manifest(spark, sink, target_files=1)
        got = manifest_change_feed(spark, sink, 1, 3).collect()
        assert sorted((r["change_type"], r["game_url"]) for r in got) == [
            ("delete", 3)
        ]


class TestIncrementalAggView:
    pytestmark = pytest.mark.slow  # heavy suite, default-profile excluded (r16)
    def test_incremental_path_reads_only_new_files(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import (
            read_manifest_sink,
            refresh_incremental_agg,
        )

        sink, view = str(tmp_path / "facts"), str(tmp_path / "view")
        rows1 = spark.range(0, 100).select(
            F.col("id").alias("game_url"),
            (F.col("id") % 4).alias("grp"),
            F.col("id").alias("payload"),
        )
        commit_append_manifest(rows1.localCheckpoint(), sink)
        assert refresh_incremental_agg(spark, sink, view, "grp", "payload")["mode"] == "full"
        rows2 = spark.range(100, 140).select(
            F.col("id").alias("game_url"),
            (F.col("id") % 4).alias("grp"),
            F.col("id").alias("payload"),
        )
        commit_append_manifest(rows2.localCheckpoint(), sink)
        r = refresh_incremental_agg(spark, sink, view, "grp", "payload")
        assert r["mode"] == "incremental" and r["source_generation"] == 2
        got = {
            x["grp"]: (x["n_rows"], x["total"])
            for x in read_manifest_sink(spark, view).collect()
        }
        expect = {
            g: (35, sum(i for i in range(140) if i % 4 == g)) for g in range(4)
        }
        assert got == expect

    def test_noop_when_source_unchanged(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import refresh_incremental_agg

        sink, view = str(tmp_path / "facts"), str(tmp_path / "view")
        commit_append_manifest(
            spark.range(10).select(
                F.col("id").alias("game_url"),
                F.lit(0).alias("grp"),
                F.col("id").alias("payload"),
            ).localCheckpoint(),
            sink,
        )
        refresh_incremental_agg(spark, sink, view, "grp", "payload")
        assert refresh_incremental_agg(spark, sink, view, "grp", "payload")["mode"] == "noop"

    def test_cow_merge_maintained_via_cdc(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import (
            read_manifest_sink,
            refresh_incremental_agg,
        )

        sink, view = str(tmp_path / "facts"), str(tmp_path / "view")
        commit_append_manifest(
            spark.range(0, 50).select(
                F.col("id").alias("game_url"),
                (F.col("id") % 2).alias("grp"),
                F.col("id").alias("payload"),
            ).localCheckpoint(),
            sink,
        )
        refresh_incremental_agg(spark, sink, view, "grp", "payload")
        # COW update rewrites a file: the CDC path applies signed deltas
        # (one update = -preimage +postimage) instead of rescanning
        commit_merge_manifest(
            spark.createDataFrame([(10, 0, 100000)], "game_url long, grp long, payload long")
            .localCheckpoint(),
            sink,
        )
        r = refresh_incremental_agg(spark, sink, view, "grp", "payload")
        assert r["mode"] == "cdc"
        got = {
            x["grp"]: (x["n_rows"], x["total"])
            for x in read_manifest_sink(spark, view).collect()
        }
        assert got[0] == (25, sum(i for i in range(0, 50, 2)) - 10 + 100000)
        assert got[1] == (25, sum(range(1, 50, 2)))

    def test_delete_vector_cdc_drops_empty_groups(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import (
            read_manifest_sink,
            refresh_incremental_agg,
        )

        sink, view = str(tmp_path / "facts"), str(tmp_path / "view")
        commit_append_manifest(
            spark.range(0, 30).select(
                F.col("id").alias("game_url"),
                (F.col("id") % 3).alias("grp"),
                F.col("id").alias("payload"),
            ).localCheckpoint(),
            sink,
        )
        refresh_incremental_agg(spark, sink, view, "grp", "payload")
        # delete EVERY row of group 0 via a delete vector
        commit_delete_vector(
            spark.range(0, 30, 3).select(F.col("id").alias("game_url")).localCheckpoint(),
            sink,
        )
        r = refresh_incremental_agg(spark, sink, view, "grp", "payload")
        assert r["mode"] == "cdc"
        got = {
            x["grp"]: (x["n_rows"], x["total"])
            for x in read_manifest_sink(spark, view).collect()
        }
        assert 0 not in got  # emptied group dropped, not left at zero
        assert got[1] == (10, sum(range(1, 30, 3)))
        assert got[2] == (10, sum(range(2, 30, 3)))

    def test_view_is_time_travelable(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import (
            read_manifest_sink,
            refresh_incremental_agg,
        )

        sink, view = str(tmp_path / "facts"), str(tmp_path / "view")
        for lo in (0, 20):
            commit_append_manifest(
                spark.range(lo, lo + 20).select(
                    F.col("id").alias("game_url"),
                    F.lit(0).alias("grp"),
                    F.lit(1).alias("payload"),
                ).localCheckpoint(),
                sink,
            )
            refresh_incremental_agg(spark, sink, view, "grp", "payload")
        assert read_manifest_sink(spark, view, generation=1).first()["n_rows"] == 20
        assert read_manifest_sink(spark, view, generation=2).first()["n_rows"] == 40


class TestSchemaFence:
    def test_same_name_type_conflict_rejected_at_commit(
        self, spark, tmp_path, no_rename
    ):
        sink = str(tmp_path / "msink")
        commit_append_manifest(
            spark.range(5).select(
                F.col("id").alias("game_url"), F.col("id").alias("user_id")
            ).localCheckpoint(),
            sink,
        )
        bad = spark.range(5, 9).select(
            F.col("id").alias("game_url"),
            F.lit(1).alias("user_id"),  # INT32 vs the stored INT64
        )
        with pytest.raises(ValueError, match="user_id.*int"):
            commit_append_manifest(bad.localCheckpoint(), sink)

    def test_new_columns_still_allowed(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import read_manifest_sink

        sink = str(tmp_path / "msink")
        commit_append_manifest(
            spark.range(5).select(F.col("id").alias("game_url")).localCheckpoint(),
            sink,
        )
        commit_append_manifest(
            spark.range(5, 9).select(
                F.col("id").alias("game_url"), F.lit("x").alias("extra")
            ).localCheckpoint(),
            sink,
        )
        got = read_manifest_sink(spark, sink, merge_schema=True)
        assert got.count() == 9 and "extra" in got.columns

    def test_warehouse_commit_rejects_type_conflict(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import commit_tables

        wh = str(tmp_path / "wh")
        commit_tables(
            {"t": spark.range(5).select(
                F.col("id").alias("game_url"), F.col("id").alias("v")
            ).localCheckpoint()},
            wh,
        )
        with pytest.raises(ValueError, match=r"commit_tables\[t\].*'v'"):
            commit_tables(
                {"t": spark.range(5, 9).select(
                    F.col("id").alias("game_url"),
                    F.col("id").cast("int").alias("v"),
                ).localCheckpoint()},
                wh,
            )


class TestWarehouseRetention:
    def test_expire_then_gc_reaps_only_dead_files(self, spark, tmp_path, no_rename):
        import glob

        from chesscom_etl_tableau_spark.plans.ingest import (
            commit_tables,
            read_warehouse_table,
            warehouse_expire,
            warehouse_gc,
        )

        wh = str(tmp_path / "wh")
        for lo in (0, 50, 100):
            commit_tables(
                {"t": spark.range(lo, lo + 50).select(
                    F.col("id").alias("game_url")
                ).localCheckpoint()},
                wh,
            )
        # all three generations readable before expiry
        assert read_warehouse_table(spark, wh, "t", generation=1).count() == 50
        # gc with full history reaps nothing (every file referenced)
        assert warehouse_gc(wh) == 0
        assert warehouse_expire(wh, keep_last=1) == 2
        # expired generations are gone...
        with pytest.raises(FileNotFoundError):
            read_warehouse_table(spark, wh, "t", generation=1)
        # ...but the head still reads everything (appends share files)
        assert read_warehouse_table(spark, wh, "t").count() == 150
        # append-only history: every file is still live in the head
        assert warehouse_gc(wh) == 0
        assert read_warehouse_table(spark, wh, "t").count() == 150

    def test_gc_reaps_crashed_staging(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import (
            commit_tables,
            warehouse_gc,
        )

        wh = str(tmp_path / "wh")
        commit_tables(
            {"t": spark.range(10).select(F.col("id").alias("game_url")).localCheckpoint()},
            wh,
        )
        # simulate a crash where even the finally-reap was interrupted:
        # stage files by hand under a fake txn dir
        stage = tmp_path / "wh" / "tables" / "t" / "data" / "txn-deadbeef"
        stage.mkdir(parents=True)
        (stage / "part-0.parquet").write_bytes(b"not live")
        assert warehouse_gc(wh) == 1
        assert not stage.exists() or not list(stage.iterdir())
