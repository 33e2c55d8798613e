"""Round-14 operators and hardening.

Covers the r13 advice items on the persisted-index surfaces
(`index_partition_files` non-integer partitions, the
`ivfpq_refit_drifted` corpus-coverage guard) plus the round's new
surfaces as they land (generation-pinned index maintenance, the
multimodal corpus-ingest capstone).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


class TestIndexPartitionFilesNonInteger:
    def test_skips_non_integer_partition_dirs(self, spark, tmp_path):
        # advice r13: a __HIVE_DEFAULT_PARTITION__ (null bucket) or a
        # string partition value must be skipped, not abort the whole
        # compaction/refit with a ValueError
        import os

        from chesscom_etl_tableau_spark.operators.similarity import (
            compact_partitioned_index,
            index_partition_files,
        )

        d = str(tmp_path / "idx")
        df = spark.createDataFrame(
            [(1, 1.0, 0), (2, 2.0, 1)], "vec_id long, v double, bucket int"
        )
        df.write.partitionBy("bucket").parquet(d)
        os.makedirs(os.path.join(d, "bucket=__HIVE_DEFAULT_PARTITION__"))
        os.makedirs(os.path.join(d, "bucket=abc"))
        files = index_partition_files(d, "bucket")
        assert set(files) == {0, 1}
        # compaction over the same layout must not crash either
        assert compact_partitioned_index(spark, d, "bucket") >= 0


class TestIvfPqRefitCorpusGuard:
    pytestmark = pytest.mark.slow  # heavy suite, default-profile excluded (r16)
    def _emb(self, spark):
        rows = [
            (i, [((i * 7 + j * 3) % 11) / 10.0 + 0.1 for j in range(4)])
            for i in range(16)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def _setup(self, spark, d):
        from chesscom_etl_tableau_spark.operators.similarity import (
            assign_buckets,
            pq_encode,
            pq_train,
        )

        emb = self._emb(spark)
        cents = emb.where(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        cent2 = cents.select(
            F.col("centroid_id").alias("bucket"),
            F.col("embedding").alias("__cvec"),
        )
        res = assign_buckets(emb, cents).join(F.broadcast(cent2), "bucket").select(
            "vec_id",
            "bucket",
            F.zip_with(
                F.col("embedding"), F.col("__cvec"), lambda x, c: x - c
            ).alias("__res"),
        )
        books = pq_train(res, m=2, k=4, vec_col="__res", dim=4, corpus_rows=16)
        pq_encode(res, books, vec_col="__res", keep=("bucket",)).select(
            "vec_id", "bucket", "codes"
        ).write.partitionBy("bucket").parquet(d)
        return emb, cents, books

    def test_missing_corpus_ids_raise(self, spark, tmp_path):
        # advice r13: a stale corpus missing indexed ids must abort the
        # refit, not silently drop those rows from the rewritten
        # drifted partitions
        from chesscom_etl_tableau_spark.operators.similarity import (
            ivfpq_refit_drifted,
        )

        d = str(tmp_path / "pq")
        emb, cents, books = self._setup(spark, d)
        zero_baseline = spark.createDataFrame(
            [(0, 1, 0), (1, 1, 0)],
            "bucket int, n_vectors long, mean_resid_micro long",
        )
        stale = emb.where(F.col("vec_id") % 3 != 0)  # ids 0,3,6,... gone
        with pytest.raises(ValueError, match="no row in `corpus`"):
            ivfpq_refit_drifted(spark, d, cents, books, stale, zero_baseline)
        # and the index was NOT rewritten: all 16 codes still present
        assert spark.read.parquet(d).count() == 16

    def test_full_corpus_passes_guard(self, spark, tmp_path):
        from chesscom_etl_tableau_spark.operators.similarity import (
            ivfpq_refit_drifted,
        )

        d = str(tmp_path / "pq_ok")
        emb, cents, books = self._setup(spark, d)
        zero_baseline = spark.createDataFrame(
            [(0, 1, 0), (1, 1, 0)],
            "bucket int, n_vectors long, mean_resid_micro long",
        )
        updated, drifted = ivfpq_refit_drifted(
            spark, d, cents, books, emb, zero_baseline
        )
        assert drifted
        assert spark.read.parquet(d).count() == 16


class TestIndexGenerationLog:
    pytestmark = pytest.mark.slow  # heavy suite, default-profile excluded (r16)
    """Snapshot-isolated index maintenance (r13 verdict ask #2): the
    manifest generation-log discipline over a hive-partitioned index.
    Maintenance commits are additive + a generation publish; a reader
    pinned at generation N is untouched by compact/refit publishing
    N+1; gc is the only deletion."""

    def _fixture(self, spark, d):
        from chesscom_etl_tableau_spark.operators import index_log as IL
        from chesscom_etl_tableau_spark.operators import similarity as SIM

        rows = [
            (i, [((i * 7 + j * 3) % 11) / 10.0 + 0.1 for j in range(4)])
            for i in range(24)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cents = emb.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        path = f"{d}/ivf"
        SIM.ivf_persist(emb.where(F.col("vec_id") % 3 != 0), cents, path)
        IL.index_log_init(path, "bucket")
        gen = IL.index_log_append(
            spark, path,
            SIM.assign_buckets(emb.where(F.col("vec_id") % 3 == 0), cents),
            "bucket",
        )
        queries = emb.where(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return IL, SIM, emb, cents, queries, path, gen

    def test_pinned_reader_survives_compact_and_refit(self, spark, tmp_path):
        import os

        IL, SIM, emb, cents, queries, path, gen = self._fixture(
            spark, str(tmp_path)
        )
        pinned_files = IL.index_log_files(path, gen)
        pinned_content = sorted(
            (r["vec_id"], r["bucket"])
            for r in IL.index_log_read(spark, path, gen).collect()
        )
        pinned_probe = sorted(map(tuple, IL.ivf_topk_generation(
            spark, path, cents, queries, k=3, nprobe=2, generation=gen
        ).collect()))
        retired, g_compact = IL.compact_index_log(spark, path, "bucket")
        assert retired > 0 and g_compact == gen + 1
        zb = spark.createDataFrame(
            [(0, 1, 0), (1, 1, 0), (2, 1, 0)],
            "bucket int, n_vectors long, mean_resid_micro long",
        )
        updated, drifted, g_refit = IL.ivf_refit_drifted_log(
            spark, path, cents, zb
        )
        assert drifted and g_refit == g_compact + 1
        # the pinned generation N view is bit-identical through both
        assert all(os.path.exists(f) for f in pinned_files)
        assert sorted(
            (r["vec_id"], r["bucket"])
            for r in IL.index_log_read(spark, path, gen).collect()
        ) == pinned_content
        assert sorted(map(tuple, IL.ivf_topk_generation(
            spark, path, cents, queries, k=3, nprobe=2, generation=gen
        ).collect())) == pinned_probe
        # no row lost at the head either
        assert IL.index_log_read(spark, path).count() == emb.count()

    def test_compaction_preserves_probe_and_collapses_files(
        self, spark, tmp_path
    ):
        IL, SIM, emb, cents, queries, path, gen = self._fixture(
            spark, str(tmp_path)
        )
        before = sorted(map(tuple, IL.ivf_topk_generation(
            spark, path, cents, queries, k=3, nprobe=2
        ).collect()))
        retired, g2 = IL.compact_index_log(spark, path, "bucket")
        assert retired > 0
        after = sorted(map(tuple, IL.ivf_topk_generation(
            spark, path, cents, queries, k=3, nprobe=2
        ).collect()))
        assert after == before
        doc = IL.index_log_doc(path, g2)
        assert all(len(fs) <= 1 for fs in doc["partitions"].values())
        # idempotent: second compact is a no-op at the same generation
        assert IL.compact_index_log(spark, path, "bucket") == (0, g2)

    def test_gc_reaps_only_unreferenced_generations(self, spark, tmp_path):
        import os

        IL, SIM, emb, cents, queries, path, gen = self._fixture(
            spark, str(tmp_path)
        )
        old_files = set(IL.index_log_files(path, gen))
        _, g2 = IL.compact_index_log(spark, path, "bucket")
        live_files = set(IL.index_log_files(path, g2))
        n = IL.index_log_gc(path, keep_last=1, min_age_sec=0)
        assert n == len(old_files - live_files)
        assert all(os.path.exists(f) for f in live_files)
        assert not any(os.path.exists(f) for f in old_files - live_files)
        # current generation unaffected
        assert IL.index_log_read(spark, path).count() == emb.count()

    def test_append_after_rival_generation_lands_on_top(self, spark, tmp_path):
        import json
        import os

        from chesscom_etl_tableau_spark.plans.genlog import index_log

        IL, SIM, emb, cents, queries, path, gen = self._fixture(
            spark, str(tmp_path)
        )
        # a rival published generation gen+1 (a pure no-op commit)
        # BEFORE this append starts: the append reads it as current and
        # publishes gen+2 on its first try. The lost-race retry itself
        # is exercised in tests/test_genlog.py.
        cur = IL.index_log_doc(path, gen)
        with open(index_log(path).path(gen + 1), "x") as f:
            json.dump(cur, f)
        more = SIM.assign_buckets(
            emb.select(F.col("vec_id") + 100, "embedding").toDF(
                "vec_id", "embedding"
            ).where(F.col("vec_id") % 7 == 0),
            cents,
        )
        g_new = IL.index_log_append(spark, path, more, "bucket")
        assert g_new == gen + 2  # landed on top of the rival
        assert IL.index_log_read(spark, path).count() == emb.count() + more.count()

    def test_refit_drops_no_directories(self, spark, tmp_path):
        import os

        IL, SIM, emb, cents, queries, path, gen = self._fixture(
            spark, str(tmp_path)
        )
        before_files = set(IL.index_log_files(path, gen))
        zb = spark.createDataFrame(
            [(0, 1, 0), (1, 1, 0), (2, 1, 0)],
            "bucket int, n_vectors long, mean_resid_micro long",
        )
        IL.ivf_refit_drifted_log(spark, path, cents, zb)
        # additive rewrite: every pre-refit file still on disk
        assert all(os.path.exists(f) for f in before_files)


GOOD_A = ("the quick brown fox jumps over the lazy dog and then the fox "
          "rests by the river while the dog watches the sky and the wind "
          "moves through the tall grass near the old stone bridge")
GOOD_B = ("a small boat drifts down the wide river past the green hills "
          "and the white birds circle over the water while the sun sets "
          "behind the far mountains and the night comes slowly to the valley")
GOOD_C = ("in the morning the market opens with the smell of fresh bread "
          "and the sound of carts on the cobbles while the vendors call "
          "out their prices and the children run between the wooden stalls")
GOOD_D = ("late in the evening the lanterns are lit along the harbor wall "
          "and the fishermen mend their nets by the light while the tide "
          "turns slowly and the boats knock gently against the wooden piles")


class TestCorpusIngestEmbeddingModality:
    pytestmark = pytest.mark.slow  # heavy suite, default-profile excluded (r16)
    """r13 verdict ask #3: one stream maintains the text LSH index AND
    a generation-logged vector IVF index under the same replay fencing
    — keyed-idempotent vector appends, bootstrap baseline capture, and
    the drift-triggered partial refit as a maintenance hook."""

    COLS = ["doc_id", "text", "lang", "source", "embedding"]

    def _cents(self, spark):
        return spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
            "centroid_id long, embedding array<double>",
        )

    def _dirs(self, tmp_path):
        return (str(tmp_path / "sink"), str(tmp_path / "lsh"),
                str(tmp_path / "reg"), str(tmp_path / "ivf"))

    def test_vector_append_is_keyed_idempotent(self, spark, tmp_path):
        from chesscom_etl_tableau_spark.operators import index_log as IL
        from chesscom_etl_tableau_spark.plans.ingest import read_manifest_sink
        from chesscom_etl_tableau_spark.streaming.corpus_ingest import (
            corpus_ingest_batch,
        )

        sink, lsh, reg, ivf = self._dirs(tmp_path)
        state = {"centroids": self._cents(spark)}
        b1 = spark.createDataFrame(
            [(1, GOOD_A, "en", "s1", [0.9, 0.1, 0.0, 0.0]),
             (3, GOOD_B, "en", "s2", [0.1, 0.9, 0.0, 0.0])],
            self.COLS,
        )
        b2 = spark.createDataFrame(
            [(6, GOOD_C, "en", "s2", [0.8, 0.2, 0.0, 0.0])], self.COLS
        )
        s1 = corpus_ingest_batch(b1, sink, lsh, reg, ivf_path=ivf,
                                 ivf_state=state)
        assert s1["n_vec_appended"] == 2  # bootstrap: persist + log init
        assert state["baseline"] is not None
        s2 = corpus_ingest_batch(b2, sink, lsh, reg, ivf_path=ivf,
                                 ivf_state=state)
        assert s2["n_vec_appended"] == 1
        # replay of batch 2 (registry already has its fp, so fresh=0 —
        # simulate the pre-registry crash instead: wipe only reg state)
        replay = corpus_ingest_batch(b2, sink, lsh, reg, ivf_path=ivf,
                                     ivf_state=state)
        assert replay["n_vec_appended"] == 0
        idx_ids = sorted(
            r["vec_id"] for r in IL.index_log_read(spark, ivf).collect()
        )
        corpus_ids = sorted(
            r["doc_id"] for r in read_manifest_sink(spark, sink).collect()
        )
        assert idx_ids == corpus_ids == [1, 3, 6]

    def test_replay_after_registry_loss_does_not_duplicate_vectors(
        self, spark, tmp_path
    ):
        import shutil as sh

        from chesscom_etl_tableau_spark.operators import index_log as IL
        from chesscom_etl_tableau_spark.streaming.corpus_ingest import (
            corpus_ingest_batch,
        )

        sink, lsh, reg, ivf = self._dirs(tmp_path)
        state = {"centroids": self._cents(spark)}
        b1 = spark.createDataFrame(
            [(1, GOOD_A, "en", "s1", [0.9, 0.1, 0.0, 0.0])], self.COLS
        )
        b2 = spark.createDataFrame(
            [(6, GOOD_C, "en", "s2", [0.1, 0.9, 0.0, 0.0])], self.COLS
        )
        corpus_ingest_batch(b1, sink, lsh, reg, ivf_path=ivf, ivf_state=state)
        reg_lost = str(tmp_path / "reg_lost")
        sh.copytree(reg, reg_lost)
        crashed = corpus_ingest_batch(b2, sink, lsh, reg_lost,
                                      ivf_path=ivf, ivf_state=state)
        assert crashed["n_vec_appended"] == 1
        # crash before the registry commit: the replay recomputes the
        # same survivors; the keyed anti-join must append NOTHING
        replay = corpus_ingest_batch(b2, sink, lsh, reg,
                                     ivf_path=ivf, ivf_state=state)
        assert replay["n_fresh"] == 1 and replay["n_vec_appended"] == 0
        assert sorted(
            r["vec_id"] for r in IL.index_log_read(spark, ivf).collect()
        ) == [1, 6]

    def test_streaming_drain_refits_drifted_bucket(self, spark, tmp_path):
        import os
        import time

        from chesscom_etl_tableau_spark.operators import index_log as IL
        from chesscom_etl_tableau_spark.operators.similarity import (
            ivf_bucket_residuals,
        )
        from chesscom_etl_tableau_spark.streaming.corpus_ingest import (
            streaming_corpus_ingest,
        )

        sink, lsh, reg, ivf = self._dirs(tmp_path)
        drop = tmp_path / "drop"
        drop.mkdir()
        # batch 1: tight around the centroids (low baseline); batch 2:
        # far from c1 but still assigned to it (high residual -> drift)
        b1 = spark.createDataFrame(
            [(1, GOOD_A, "en", "s1", [0.95, 0.05, 0.0, 0.0]),
             (3, GOOD_B, "en", "s2", [0.05, 0.95, 0.0, 0.0])],
            self.COLS,
        )
        b2 = spark.createDataFrame(
            [(6, GOOD_C, "en", "s2", [0.0, 0.5, 0.5, 0.5]),
             (8, GOOD_D, "en", "s1", [0.0, 0.5, 0.6, 0.4])],
            self.COLS,
        )
        for i, b in enumerate((b1, b2)):
            b.coalesce(1).write.mode("append").parquet(str(drop))
            t = time.time() - 100 + i * 10
            for f in os.listdir(drop):
                if f.endswith(".parquet"):
                    p = str(drop / f)
                    if os.path.getmtime(p) > t:
                        os.utime(p, (t, t))
        stats: list = []
        state: dict = {"centroids": self._cents(spark)}
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, lang string, source string, "
                "embedding array<double>"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(drop))
        )
        q = streaming_corpus_ingest(
            stream, sink, lsh, reg, str(tmp_path / "ckpt"), stats=stats,
            ivf_path=ivf, ivf_state=state, refit_every=2,
        )
        q.awaitTermination()
        assert len(stats) == 2
        assert stats[-1].get("n_drifted", 0) >= 1
        assert state.get("drifted")  # bucket 1 drifted and was refitted
        # post-refit: the drifted bucket's residual vs the UPDATED
        # centroids is below its pre-refit residual vs the frozen ones
        idx = IL.index_log_read(spark, ivf)
        assert sorted(r["vec_id"] for r in idx.collect()) == [1, 3, 6, 8]
        resid = {
            r["bucket"]: r["mean_resid_micro"]
            for r in ivf_bucket_residuals(idx, state["centroids"]).collect()
        }
        base = {
            r["bucket"]: r["mean_resid_micro"]
            for r in state["baseline"].collect()
        }
        for b in state["drifted"]:
            assert resid[b] <= base[b] or base[b] == 0


class TestAutoBinDays:
    def test_power_of_two_near_half_mean_length(self, spark):
        from chesscom_etl_tableau_spark.operators.ranges import auto_bin_days

        iv = spark.createDataFrame(
            [("2024-01-01", "2024-01-16")] * 4, "s string, e string"
        ).select(F.col("s").cast("date"), F.col("e").cast("date")).toDF("s", "e")
        assert auto_bin_days(iv, "s", "e") == 8  # len 16 -> half 8
        long_iv = spark.createDataFrame(
            [("2020-01-01", "2024-01-01")], "s string, e string"
        ).select(F.col("s").cast("date"), F.col("e").cast("date")).toDF("s", "e")
        assert auto_bin_days(long_iv, "s", "e") == 64  # clamped
        one_day = spark.createDataFrame(
            [("2024-01-01", "2024-01-01")], "s string, e string"
        ).select(F.col("s").cast("date"), F.col("e").cast("date")).toDF("s", "e")
        assert auto_bin_days(one_day, "s", "e") == 1

    def test_auto_matches_explicit_results(self, spark):
        from chesscom_etl_tableau_spark.operators.ranges import (
            interval_point_join,
        )

        iv = spark.createDataFrame(
            [(1, "2024-01-01", "2024-01-10"), (2, "2024-01-05", "2024-02-20")],
            "iid long, s string, e string",
        ).select("iid", F.col("s").cast("date").alias("s"),
                 F.col("e").cast("date").alias("e"))
        pts = spark.createDataFrame(
            [("2024-01-07",), ("2024-02-01",), ("2023-12-31",)], "p string"
        ).select(F.col("p").cast("date").alias("p"))
        auto = sorted(
            (r["p"], r["iid"])
            for r in interval_point_join(pts, iv, "p", "s", "e").collect()
        )
        explicit = sorted(
            (r["p"], r["iid"])
            for r in interval_point_join(
                pts, iv, "p", "s", "e", bin_days=64
            ).collect()
        )
        assert auto == explicit and len(auto) == 3


class TestConcurrentCorpusIngest:
    pytestmark = pytest.mark.slow  # heavy suite, default-profile excluded (r16)
    """r13 verdict ask #8 (stretch): two corpus-ingest writers over
    DISJOINT sources committing into ONE corpus manifest. The sink's
    exclusive-create generation CAS serializes the publishes
    (losers re-read, re-audit, retry), so every document lands exactly
    once regardless of interleaving; the near-dedup corpus each batch
    compares against is the corpus as-of its own batch start (the
    documented single-batch snapshot — disjoint sources make that
    sound)."""

    def test_two_writers_land_exactly_once(self, spark, tmp_path):
        import threading

        from chesscom_etl_tableau_spark.plans.ingest import read_manifest_sink
        from chesscom_etl_tableau_spark.streaming.corpus_ingest import (
            corpus_ingest_batch,
        )

        sink = str(tmp_path / "sink")
        reg = str(tmp_path / "reg")
        texts = [GOOD_A, GOOD_B, GOOD_C, GOOD_D]
        batches_a = [
            spark.createDataFrame(
                [(10 + i, texts[i], "en", "srcA")],
                ["doc_id", "text", "lang", "source"],
            )
            for i in range(2)
        ]
        batches_b = [
            spark.createDataFrame(
                [(20 + i, texts[2 + i] + " and then some more words follow",
                  "en", "srcB")],
                ["doc_id", "text", "lang", "source"],
            )
            for i in range(2)
        ]
        errs: list = []

        def run(name, batches):
            try:
                lsh = str(tmp_path / f"lsh_{name}")  # per-writer index
                for b in batches:
                    corpus_ingest_batch(b, sink, lsh, reg)
            except Exception as e:  # surface in the main thread
                errs.append(e)

        t1 = threading.Thread(target=run, args=("a", batches_a))
        t2 = threading.Thread(target=run, args=("b", batches_b))
        t1.start(), t2.start()
        t1.join(), t2.join()
        assert not errs, errs
        final = read_manifest_sink(spark, sink)
        got = sorted(r["doc_id"] for r in final.collect())
        assert got == [10, 11, 20, 21]  # every doc exactly once
        fps = read_manifest_sink(spark, reg)
        assert fps.count() == 4
        assert fps.select("fingerprint").distinct().count() == 4


class TestLshGenerationLog:
    def test_pinned_lsh_probe_survives_compaction(self, spark, tmp_path):
        import os

        from chesscom_etl_tableau_spark.operators import index_log as IL
        from chesscom_etl_tableau_spark.operators.dedup import (
            lsh_band_rows,
            lsh_index_persist,
        )

        corpus = spark.createDataFrame(
            [(1, GOOD_A), (3, GOOD_B)], ["doc_id", "text"]
        )
        batch = spark.createDataFrame(
            [(6, GOOD_C), (8, GOOD_B + " extra words at the end")],
            ["doc_id", "text"],
        )
        path = str(tmp_path / "lsh")
        lsh_index_persist(corpus, path)
        IL.index_log_init(path, "pb")
        pinned = IL.index_log_append(spark, path, lsh_band_rows(batch), "pb")
        pinned_files = IL.index_log_files(path, pinned)
        cands = sorted(map(tuple, IL.lsh_candidates_generation(
            spark, path, batch, generation=pinned
        ).collect()))
        assert (8, 3) in cands  # near-dup of doc 3 found via the index
        retired, g2 = IL.compact_index_log(spark, path, "pb")
        assert retired > 0 and g2 == pinned + 1
        assert all(os.path.exists(f) for f in pinned_files)
        again = sorted(map(tuple, IL.lsh_candidates_generation(
            spark, path, batch, generation=pinned
        ).collect()))
        current = sorted(map(tuple, IL.lsh_candidates_generation(
            spark, path, batch
        ).collect()))
        assert again == cands == current

    def test_band_rows_match_persisted_layout(self, spark, tmp_path):
        from chesscom_etl_tableau_spark.operators.dedup import (
            lsh_band_rows,
            lsh_index_persist,
        )

        docs = spark.createDataFrame(
            [(1, GOOD_A), (2, GOOD_C)], ["doc_id", "text"]
        )
        path = str(tmp_path / "lsh2")
        lsh_index_persist(docs, path)
        on_disk = sorted(
            map(tuple, spark.read.parquet(path)
                .select("doc", "band_id", "band_key", "pb").collect())
        )
        computed = sorted(
            map(tuple, lsh_band_rows(docs)
                .select("doc", "band_id", "band_key", "pb").collect())
        )
        assert on_disk == computed


class TestIndexLogDelete:
    """Right-to-be-forgotten on the generation-logged index: deletes
    rewrite only the touched partitions into a new generation; pinned
    pre-delete generations still serve (the audit surface) until gc."""

    def _index(self, spark, d):
        from chesscom_etl_tableau_spark.operators import index_log as IL
        from chesscom_etl_tableau_spark.operators import similarity as SIM

        rows = [
            (i, [((i * 7 + j * 3) % 11) / 10.0 + 0.1 for j in range(4)])
            for i in range(24)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cents = emb.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        path = f"{d}/ivf"
        SIM.ivf_persist(emb, cents, path)
        gen = IL.index_log_init(path, "bucket")
        return IL, emb, cents, path, gen

    def test_delete_excludes_current_keeps_pinned(self, spark, tmp_path):
        IL, emb, cents, path, gen = self._index(spark, str(tmp_path))
        ids = spark.createDataFrame([(0,), (7,), (14,), (21,)], "vec_id long")
        n, g2 = IL.index_log_delete_ids(spark, path, ids)
        assert n == 4 and g2 == gen + 1
        cur_ids = {r["vec_id"] for r in IL.index_log_read(spark, path).collect()}
        assert cur_ids == set(range(24)) - {0, 7, 14, 21}
        pinned_ids = {
            r["vec_id"] for r in IL.index_log_read(spark, path, gen).collect()
        }
        assert pinned_ids == set(range(24))  # time travel shows pre-delete

    def test_noop_delete_publishes_nothing(self, spark, tmp_path):
        IL, emb, cents, path, gen = self._index(spark, str(tmp_path))
        ids = spark.createDataFrame([(999,)], "vec_id long")
        n, g = IL.index_log_delete_ids(spark, path, ids)
        assert (n, g) == (0, gen)
        # and a double delete of real ids is idempotent
        real = spark.createDataFrame([(5,)], "vec_id long")
        n1, g1 = IL.index_log_delete_ids(spark, path, real)
        n2, g2 = IL.index_log_delete_ids(spark, path, real)
        assert n1 == 1 and (n2, g2) == (0, g1)

    def test_untouched_partitions_keep_their_files(self, spark, tmp_path):
        IL, emb, cents, path, gen = self._index(spark, str(tmp_path))
        doc_before = IL.index_log_doc(path, gen)["partitions"]
        from chesscom_etl_tableau_spark.operators.similarity import (
            assign_buckets,
        )

        asg = {r["vec_id"]: r["bucket"] for r in assign_buckets(emb, cents).collect()}
        victim = spark.createDataFrame([(5,)], "vec_id long")
        _, g2 = IL.index_log_delete_ids(spark, path, victim)
        doc_after = IL.index_log_doc(path, g2)["partitions"]
        for b, files in doc_before.items():
            if int(b) != asg[5]:
                assert doc_after[b] == files  # byte-identical carry
            else:
                assert doc_after.get(b, []) != files  # rewritten


class TestIndexLogModelWalk:
    pytestmark = pytest.mark.slow  # heavy suite, default-profile excluded (r16)
    """Model-based randomized walk over the generation log: a seeded
    sequence of append/delete/compact/refit operations, mirrored in a
    driver-side dict model {vec_id -> present}. Invariants after every
    step: (1) the CURRENT generation's id set equals the model, (2)
    every generation snapshot taken along the way replays bit-identical
    content for as long as no gc ran, (3) generation numbers are
    strictly increasing, and (4) compaction/refit never change the id
    set. Two fixed seeds keep the walk deterministic and cheap (Spark
    fixtures are too heavy for hypothesis shrinking)."""

    def _vec(self, i):
        return [((i * 7 + j * 3) % 11) / 10.0 + 0.1 for j in range(4)]

    @pytest.mark.parametrize("seed", [11, 23])
    def test_random_walk_matches_model(self, spark, tmp_path, seed):
        import random

        from chesscom_etl_tableau_spark.operators import index_log as IL
        from chesscom_etl_tableau_spark.operators import similarity as SIM

        rng = random.Random(seed)
        cents = spark.createDataFrame(
            [(i, self._vec(i)) for i in range(3)],
            "centroid_id long, embedding array<double>",
        ).localCheckpoint()
        base_ids = list(range(3, 15))
        emb = spark.createDataFrame(
            [(i, self._vec(i)) for i in base_ids],
            "vec_id long, embedding array<double>",
        )
        path = str(tmp_path / f"walk{seed}")
        SIM.ivf_persist(emb, cents, path)
        gen = IL.index_log_init(path, "bucket")
        model = set(base_ids)
        next_id = 100
        snapshots = {gen: set(model)}

        def current_ids():
            return {
                r["vec_id"] for r in IL.index_log_read(spark, path).collect()
            }

        for step in range(8):
            op = rng.choice(["append", "delete", "compact", "refit"])
            if op == "append":
                ids = [next_id + k for k in range(rng.randint(1, 3))]
                next_id += 10
                df = SIM.assign_buckets(
                    spark.createDataFrame(
                        [(i, self._vec(i)) for i in ids],
                        "vec_id long, embedding array<double>",
                    ),
                    cents,
                )
                g = IL.index_log_append(spark, path, df, "bucket")
                assert g > gen
                gen = g
                model |= set(ids)
            elif op == "delete":
                victims = rng.sample(sorted(model), min(2, len(model)))
                n, g = IL.index_log_delete_ids(
                    spark, path,
                    spark.createDataFrame([(v,) for v in victims], "vec_id long"),
                )
                assert n == len(victims) and g == gen + 1
                gen = g
                model -= set(victims)
            elif op == "compact":
                retired, g = IL.compact_index_log(spark, path, "bucket")
                assert g >= gen
                gen = g
            else:  # refit with an always-drift baseline
                zb = spark.createDataFrame(
                    [(b, 1, 0) for b in range(3)],
                    "bucket int, n_vectors long, mean_resid_micro long",
                )
                _, drifted, g = IL.ivf_refit_drifted_log(spark, path, cents, zb)
                assert g >= gen
                gen = g
            assert current_ids() == model, f"step {step} op {op}"
            snapshots[gen] = set(model)
            # every snapshot still replays its own content (no gc ran)
            probe_gen = rng.choice(sorted(snapshots))
            got = {
                r["vec_id"]
                for r in IL.index_log_read(spark, path, probe_gen).collect()
            }
            assert got == snapshots[probe_gen], f"pinned gen {probe_gen}"

    def test_gc_after_delete_reclaims_rows(self, spark, tmp_path):
        import os

        from chesscom_etl_tableau_spark.operators import index_log as IL
        from chesscom_etl_tableau_spark.operators import similarity as SIM

        cents = spark.createDataFrame(
            [(i, self._vec(i)) for i in range(2)],
            "centroid_id long, embedding array<double>",
        )
        emb = spark.createDataFrame(
            [(i, self._vec(i)) for i in range(2, 12)],
            "vec_id long, embedding array<double>",
        )
        path = str(tmp_path / "gcdel")
        SIM.ivf_persist(emb, cents, path)
        g1 = IL.index_log_init(path, "bucket")
        pre_files = IL.index_log_files(path, g1)
        n, g2 = IL.index_log_delete_ids(
            spark, path, spark.createDataFrame([(5,), (7,)], "vec_id long")
        )
        assert n == 2
        # before gc: the deleted rows' bytes still exist (pinned g1)
        assert all(os.path.exists(f) for f in pre_files)
        deleted_files = set(pre_files) - set(IL.index_log_files(path, g2))
        assert deleted_files  # the touched partitions' old files
        IL.index_log_gc(path, keep_last=1, min_age_sec=0)
        assert not any(os.path.exists(f) for f in deleted_files)
        # and the current view is unchanged by gc
        assert {
            r["vec_id"] for r in IL.index_log_read(spark, path).collect()
        } == set(range(2, 12)) - {5, 7}


class TestCorpusSlicingInvarianceRandomized:
    pytestmark = pytest.mark.slow  # heavy suite, default-profile excluded (r16)
    """Randomized corpora: the final corpus is identical however the
    same arrival order is sliced into micro-batches (the r14
    within-batch + pre-batch-corpus near-dedup semantics). Seeded
    generator mints docs with exact dups, near-dups (one-token edits),
    and low-quality rows; each seed is ingested as 1, 2, and 3 slices
    and the manifest contents must agree exactly."""

    WORDS = ("river stone market bridge lantern harbor meadow valley "
             "morning evening thunder copper willow saffron quiet "
             "journey window garden mountain").split()

    def _mint(self, rng, n):
        docs = []
        for i in range(n):
            kind = rng.random()
            if docs and kind < 0.25:
                # exact dup of an earlier doc
                docs.append((i, docs[rng.randrange(len(docs))][1]))
            elif docs and kind < 0.5:
                # near-dup: swap one token of an earlier doc
                toks = docs[rng.randrange(len(docs))][1].split()
                toks[rng.randrange(len(toks))] = rng.choice(self.WORDS)
                docs.append((i, " ".join(toks)))
            elif kind < 0.6:
                docs.append((i, "x!!! y??? z###"))  # fails quality
            else:
                # stopwords interleaved so the C4 quality gate passes
                toks = []
                for _ in range(15):
                    toks.append(rng.choice(("the", "and", "of", "in")))
                    toks.append(rng.choice(self.WORDS))
                docs.append((i, " ".join(toks)))
        return docs

    @pytest.mark.parametrize("seed", [3, 17])
    def test_slicing_invariance(self, spark, tmp_path, seed):
        import random

        from chesscom_etl_tableau_spark.plans.ingest import read_manifest_sink
        from chesscom_etl_tableau_spark.streaming.corpus_ingest import (
            corpus_ingest_batch,
        )

        rng = random.Random(seed)
        rows = [
            (i, t, "en", f"s{i % 3}") for i, t in self._mint(rng, 14)
        ]
        cols = ["doc_id", "text", "lang", "source"]
        results = {}
        for n_slices in (1, 2, 3):
            root = tmp_path / f"s{seed}_{n_slices}"
            root.mkdir()
            sink, lsh, reg = (str(root / "sink"), str(root / "lsh"),
                              str(root / "reg"))
            bounds = sorted(
                rng.sample(range(1, len(rows)), n_slices - 1)
            ) + [len(rows)] if n_slices > 1 else [len(rows)]
            start = 0
            for end in bounds:
                corpus_ingest_batch(
                    spark.createDataFrame(rows[start:end], cols),
                    sink, lsh, reg,
                )
                start = end
            final = read_manifest_sink(spark, sink)
            results[n_slices] = sorted(
                (r["doc_id"], r["text"]) for r in final.collect()
            )
        assert results[1] == results[2] == results[3], (
            f"seed {seed}: corpus depends on batch slicing"
        )
        assert results[1]  # something survived
