"""Round-4 guards: sketch accuracy bound, ingest commit protocol,
streaming sessionize state bounds, multimodal header decoders.

Each test pins a verdict-r3 ask (VERDICT.md §Next round)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


SF_DIR = "/root/testdata/sf0.001"


class TestApproxDistinctBound:
    """a14: the raw HLL++ estimate (not just the boolean contract column)
    stays within 5 standard errors of exact, per event_type."""

    def test_hll_within_5_sigma(self, spark):
        rsd = 0.02
        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        rows = (
            ev.groupBy("event_type")
            .agg(
                F.approx_count_distinct("user_id", rsd=rsd).alias("approx"),
                F.count_distinct("user_id").alias("exact"),
            )
            .collect()
        )
        assert rows, "events table empty"
        for r in rows:
            bound = 5 * rsd * r["exact"]
            assert abs(r["approx"] - r["exact"]) <= bound, (
                f"{r['event_type']}: |{r['approx']} - {r['exact']}| > {bound}"
            )

    def test_registry_query_contract_column(self, spark):
        import __spark_entry__ as entry

        df = entry.queries()["a14_approx_distinct"](spark, SF_DIR)
        assert df.columns == [
            "event_type",
            "exact_users",
            "n_events",
            "approx_within_bound",
        ]
        assert all(r["approx_within_bound"] for r in df.collect())


class TestMediaHeaderParsers:
    """mm: parse_media does real structural decoding of the four
    self-describing containers _blob_for generates — no codec library.
    (VERDICT.md r3 ask #6.)"""

    def test_roundtrip_all_formats(self):
        from chesscom_etl_tableau_spark.operators.multimodal import (
            _blob_for,
            parse_media,
        )

        for doc_id in range(0, 32):  # 8 of each format
            fmt, w, h, dur = parse_media(_blob_for(doc_id))
            exp_fmt = ("bmp", "ppm", "gif", "wav")[doc_id % 4]
            assert fmt == exp_fmt, doc_id
            if exp_fmt == "wav":
                assert (w, h) == (None, None)
                assert dur == 100 + doc_id % 200
            else:
                assert w == 8 + doc_id % 24
                assert h == 8 + (doc_id * 3) % 24
                assert dur is None

    def test_unrecognized_and_truncated_blobs(self):
        from chesscom_etl_tableau_spark.operators.multimodal import (
            _blob_for,
            parse_media,
        )

        assert parse_media(b"") == (None, None, None, None)
        assert parse_media("plain utf-8 text".encode()) == (None, None, None, None)
        # truncated headers must not crash or invent metadata
        assert parse_media(b"BM\x00\x01") == (None, None, None, None)
        assert parse_media(b"RIFF\x04\x00\x00\x00WAVE") == (None, None, None, None)
        # a real wav truncated mid-data still parses its fmt/data header
        # (duration comes from the declared chunk size, not the payload)
        wav = _blob_for(3)[:60]
        fmt, _, _, dur = parse_media(wav)
        assert fmt == "wav" and dur == 103

    def test_parser_total_on_arbitrary_bytes(self):
        """parse_media must be total: any byte string returns a 4-tuple,
        never raises — fuzzed, including format-magic prefixes."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from chesscom_etl_tableau_spark.operators.multimodal import parse_media

        prefixes = [b"", b"BM", b"P6", b"GIF89a", b"RIFF", b"RIFFxxxxWAVE"]

        @settings(max_examples=300, deadline=None)
        @given(
            st.sampled_from(prefixes),
            st.binary(max_size=128),
        )
        def fuzz(prefix, tail):
            out = parse_media(prefix + tail)
            assert isinstance(out, tuple) and len(out) == 4

        fuzz()

    def test_negative_height_bmp_is_topdown(self):
        from chesscom_etl_tableau_spark.operators.multimodal import parse_media

        blob = (
            b"BM" + (54).to_bytes(4, "little") + b"\x00" * 4
            + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
            + (16).to_bytes(4, "little", signed=True)
            + (-9).to_bytes(4, "little", signed=True)
        )
        assert parse_media(blob) == ("bmp", 16, 9, None)


class TestCommitProtocol:
    """Write-audit-publish closes the concurrent-writer lost-update
    window WITHOUT the heal step (VERDICT.md r3 ask #4). The round-2
    guard test_race_duplicates_then_heal documents the raw-append
    hazard; these tests pin that commit_append prevents it."""

    def test_race_zero_duplicates_without_heal(self, spark, archives_df, tmp_path):
        from chesscom_etl_tableau_spark.plans.ingest import (
            commit_append,
            dedup_against_sink,
        )
        from chesscom_etl_tableau_spark.sources.archives import flatten_archives

        sink = str(tmp_path / "sink")
        flat = flatten_archives(archives_df)
        flat.limit(0).write.parquet(sink)

        batch_a = flat.where(F.col("username") == "player0")
        overlap = batch_a.limit(20)
        batch_b = flat.where(F.col("username") == "player1").unionByName(overlap)

        # Both writers resolve their anti-join against the SAME (empty)
        # snapshot — the exact lost-update interleaving of the r2 test.
        new_a = dedup_against_sink(batch_a, sink).localCheckpoint()
        new_b = dedup_against_sink(batch_b, sink).localCheckpoint()
        n_a = commit_append(new_a, sink)
        n_b = commit_append(new_b, sink)

        sunk = spark.read.parquet(sink)
        total = sunk.count()
        distinct = sunk.select("game_url").distinct().count()
        assert total == distinct, "commit protocol must not admit duplicates"
        assert n_a + n_b == total
        # the second committer's audit dropped exactly the overlap
        assert n_b == new_b.count() - overlap.select("game_url").distinct().count()

    @pytest.mark.parametrize("protocol", ["rename", "manifest"])
    def test_rival_landing_after_dedup_snapshot_is_audited(
        self, spark, archives_df, tmp_path, monkeypatch, protocol
    ):
        """A rival commit lands between ingest's dedup snapshot and its
        commit. The incremental audit reads only the files published
        since the snapshot — the rival's — and drops their keys."""
        from chesscom_etl_tableau_spark.plans import ingest as ING
        from chesscom_etl_tableau_spark.sources.archives import flatten_archives

        sink = str(tmp_path / "sink")
        commit = ING.commit_append if protocol == "rename" else ING.commit_append_manifest

        def sink_files():
            if protocol == "rename":
                return set(ING.data_files(sink))
            return set(ING._current_manifest_doc(sink)[1].get("files", []))

        flat = flatten_archives(archives_df)
        seed = ING.first_seen_wins(
            flat.where(F.col("archive_url").endswith("player0/2024/01")), ["game_url"], ["game_url"]
        )
        rival = ING.first_seen_wins(
            flat.where(F.col("username") == "player1"), ["game_url"], ["game_url"]
        ).localCheckpoint()
        n_seed, n_rival = commit(seed, sink), rival.count()
        rival_files: set[str] = set()
        audited: list[str] = []
        tally, keys_in = ING._tally_archives, ING._keys_in

        def tally_then_rival(staged):
            out = tally(staged)
            before = sink_files()
            assert commit(rival, sink) == n_rival
            rival_files.update(sink_files() - before)
            audited.clear()  # the rival's own audit read the seed file
            return out

        def recording_keys_in(spark_, files, *a):
            audited.extend(files)
            return keys_in(spark_, files, *a)

        monkeypatch.setattr(ING, "_tally_archives", tally_then_rival)
        monkeypatch.setattr(ING, "_keys_in", recording_keys_in)
        r = ING.ingest_archives(
            spark, archives_df, sink, reprocess_last=False, commit_protocol=protocol
        )
        assert rival_files and set(audited) == rival_files
        sunk = spark.read.parquet(sink) if protocol == "rename" else ING.read_manifest_sink(spark, sink)
        distinct = flat.select("game_url").distinct().count()
        assert sunk.count() == sunk.select("game_url").distinct().count() == distinct
        assert r.appended_games == distinct - n_seed - n_rival

    def test_threaded_writers_serialize(self, spark, tmp_path):
        import threading

        from chesscom_etl_tableau_spark.plans.ingest import commit_append

        sink = str(tmp_path / "tsink")
        # 4 writers, heavily overlapping key ranges
        batches = [
            spark.range(i * 50, i * 50 + 200).select(
                F.concat(F.lit("k"), F.col("id")).alias("game_url"),
                F.col("id").alias("payload"),
            ).localCheckpoint()
            for i in range(4)
        ]
        published = [0] * 4
        errs = []

        def commit(i):
            try:
                published[i] = commit_append(batches[i], sink)
            except Exception as exc:  # pragma: no cover
                errs.append(exc)

        threads = [threading.Thread(target=commit, args=(i,)) for i in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs
        sunk = spark.read.parquet(sink)
        assert sunk.count() == sunk.select("game_url").distinct().count() == 350
        assert sum(published) == 350

    def test_stale_lock_is_broken(self, spark, tmp_path):
        import os

        from chesscom_etl_tableau_spark.plans.ingest import commit_append

        sink = str(tmp_path / "ssink")
        lock = sink + ".commitlock"
        os.mkdir(lock)
        os.utime(lock, (1, 1))  # ancient mtime = crashed holder
        df = spark.range(5).select(F.concat(F.lit("k"), F.col("id")).alias("game_url"))
        assert commit_append(df, sink, stale_lock_s=60) == 5
        assert not os.path.exists(lock)

    def test_held_lock_times_out(self, spark, tmp_path):
        import os

        from chesscom_etl_tableau_spark.plans.ingest import commit_append

        sink = str(tmp_path / "lsink")
        os.mkdir(sink + ".commitlock")  # fresh mtime = live holder
        df = spark.range(3).select(F.concat(F.lit("k"), F.col("id")).alias("game_url"))
        with pytest.raises(TimeoutError):
            commit_append(df, sink, lock_timeout_s=1.0)
        os.rmdir(sink + ".commitlock")

    def test_crash_mid_publish_recovers_without_duplicates(self, spark, tmp_path):
        """Simulated crash: half the staged part-files already renamed
        into the sink, stale lock left behind. The re-run must publish
        exactly the missing rows — never duplicate the moved ones."""
        import os
        import shutil

        from chesscom_etl_tableau_spark.plans.ingest import commit_append

        sink = str(tmp_path / "csink")
        df = spark.range(1000).select(
            F.concat(F.lit("k"), F.col("id")).alias("game_url"),
            F.col("id").alias("payload"),
        ).repartition(4)

        # manufacture the crash state: stage, move HALF the files, die
        stage = str(tmp_path / "stage")
        df.write.parquet(stage)
        parts = sorted(f for f in os.listdir(stage) if f.endswith(".parquet"))
        assert len(parts) == 4
        os.makedirs(sink)
        for f in parts[:2]:
            shutil.move(os.path.join(stage, f), os.path.join(sink, f))
        lock = sink + ".commitlock"
        os.mkdir(lock)
        os.utime(lock, (1, 1))  # stale: the holder crashed

        published_before = spark.read.parquet(sink).count()
        assert 0 < published_before < 1000

        # the retry ships the full batch again; audit filters the prefix
        n = commit_append(df.localCheckpoint(), sink, stale_lock_s=60)
        sunk = spark.read.parquet(sink)
        assert n == 1000 - published_before
        assert sunk.count() == sunk.select("game_url").distinct().count() == 1000
        assert not os.path.exists(lock)

    def test_ingest_still_idempotent_end_to_end(self, spark, archives_df, tmp_path):
        from chesscom_etl_tableau_spark.plans.ingest import ingest_archives

        sink = str(tmp_path / "isink")
        state = str(tmp_path / "istate.json")
        r1 = ingest_archives(spark, archives_df, sink, state_path=state)
        r2 = ingest_archives(spark, archives_df, sink, state_path=state)
        sunk = spark.read.parquet(sink)
        assert sunk.count() == sunk.select("game_url").distinct().count() == r1.appended_games
        assert r2.appended_games == 0


class TestProductQuantization:
    pytestmark = pytest.mark.slow  # heavy suite, default-profile excluded (r16)
    def _clustered(self, spark, n_clusters=8, per=25, dim=16, seed=5):
        """Well-separated clusters: centers on +-3 axes, tight noise.
        PQ must preserve these neighborhoods (unlike uniform random
        vectors, where no quantizer can)."""
        import random

        rng = random.Random(seed)
        centers = [
            [3.0 if (c >> b) & 1 else -3.0 for b in range(dim)]
            for c in range(n_clusters)
        ]
        rows = []
        vid = 0
        for c, ctr in enumerate(centers):
            for _ in range(per):
                rows.append(
                    (vid, c, [x + rng.gauss(0, 0.3) for x in ctr])
                )
                vid += 1
        return spark.createDataFrame(
            rows, "vec_id long, cluster int, embedding array<double>"
        )

    def test_codes_shape_and_determinism(self, spark):
        from chesscom_etl_tableau_spark.operators import similarity as SIM

        emb = self._clustered(spark)
        books = SIM.pq_train(emb, m=4, k=8, seed=42)
        assert len(books) == 4 and len(books[0]) == 8 and len(books[0][0]) == 4
        a = {r["vec_id"]: r["codes"] for r in SIM.pq_encode(emb, books).collect()}
        b = {r["vec_id"]: r["codes"] for r in SIM.pq_encode(emb, books).collect()}
        assert a == b
        assert all(len(c) == 4 and all(0 <= x < 8 for x in c) for c in a.values())

    def test_reconstruction_error_decreases_with_k(self, spark):
        import pyspark.sql.functions as FF

        from chesscom_etl_tableau_spark.operators import similarity as SIM

        emb = self._clustered(spark)
        mse = {}
        for k in (2, 8):
            books = SIM.pq_train(emb, m=4, k=k, seed=42)
            mse[k] = (
                SIM.pq_reconstruction_error(emb, books)
                .agg(FF.avg("sq_error"))
                .collect()[0][0]
            )
        assert mse[8] < mse[2]

    def test_recall_on_clusterable_data(self, spark):
        from chesscom_etl_tableau_spark.operators import similarity as SIM

        emb = self._clustered(spark)
        books = SIM.pq_train(emb, m=4, k=8, seed=42)
        qs = emb.where("vec_id < 5").selectExpr("vec_id AS query_id", "embedding")
        exact = {
            (r["query_id"], r["vec_id"])
            for r in SIM.cosine_topk(emb, qs, k=5).collect()
        }
        approx = {
            (r["query_id"], r["vec_id"])
            for r in SIM.pq_topk(emb, books, qs, k=5).collect()
        }
        assert len(exact & approx) / len(exact) >= 0.8

    def test_raw_adc_without_refine(self, spark):
        """refine_factor=0 returns the pure ADC ranking — valid ranks,
        k rows per query, and (on clusterable data) still the right
        cluster even though within-cluster order is code-resolution."""
        from chesscom_etl_tableau_spark.operators import similarity as SIM

        emb = self._clustered(spark)
        books = SIM.pq_train(emb, m=4, k=8, seed=42)
        qs = emb.where("vec_id < 3").selectExpr("vec_id AS query_id", "embedding")
        rows = SIM.pq_topk(emb, books, qs, k=5, refine_factor=0).collect()
        per_q = {}
        for r in rows:
            per_q.setdefault(r["query_id"], []).append(r["rank"])
        assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())
        cl = {r["vec_id"]: r["cluster"] for r in emb.collect()}
        assert all(cl[r["vec_id"]] == cl[r["query_id"]] for r in rows)

    def test_encode_plan_is_scan_local(self, spark):
        from chesscom_etl_tableau_spark.operators import similarity as SIM

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        books = [[[0.0] * 8 for _ in range(4)] for _ in range(8)]  # literal shape
        plan = (
            SIM.pq_encode(emb, books)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan  # literal codebooks -> pure projection


class TestAnalytics:
    def _events(self, spark, rows):
        return spark.createDataFrame(
            rows, "user_id long, event_type string, ts timestamp"
        )

    def test_funnel_strict_order(self, spark):
        from datetime import datetime as dt

        from chesscom_etl_tableau_spark.operators.analytics import funnel_conversion

        ev = self._events(
            spark,
            [
                # u1 completes all three in order
                (1, "signup", dt(2024, 1, 1, 10)),
                (1, "view", dt(2024, 1, 1, 11)),
                (1, "purchase", dt(2024, 1, 1, 12)),
                # u2: purchase BEFORE view -> stops at view
                (2, "signup", dt(2024, 1, 1, 10)),
                (2, "purchase", dt(2024, 1, 1, 11)),
                (2, "view", dt(2024, 1, 1, 12)),
                # u3: view before signup doesn't count; no view after
                (3, "view", dt(2024, 1, 1, 9)),
                (3, "signup", dt(2024, 1, 1, 10)),
                # u4: never signs up
                (4, "view", dt(2024, 1, 1, 10)),
                (4, "purchase", dt(2024, 1, 1, 11)),
            ],
        )
        got = {r["step"]: r["n_users"] for r in funnel_conversion(ev).collect()}
        assert got == {"signup": 3, "view": 2, "purchase": 1}

    def test_retention_offset_zero_is_cohort_size(self, spark):
        from chesscom_etl_tableau_spark.operators.analytics import retention_matrix
        from chesscom_etl_tableau_spark.sources.tables import load_table

        ev = load_table(spark, SF_DIR, "events")
        m = retention_matrix(ev, period="day").collect()
        cohorts = {}
        for r in m:
            cohorts.setdefault(r["cohort"], {})[r["offset"]] = r["n_users"]
        total = ev.select("user_id").distinct().count()
        assert sum(c[0] for c in cohorts.values()) == total
        for c in cohorts.values():
            assert all(n <= c[0] for n in c.values())  # offset-0 is the max

    def test_zscore_flags_planted_spike(self, spark):
        from datetime import datetime as dt

        from chesscom_etl_tableau_spark.operators.analytics import zscore_anomalies

        rows = []
        # 9 quiet days with mild variation (nonzero sigma), then a spike
        for d in range(1, 10):
            for i in range(10 + (d % 2)):
                rows.append((i, "click", dt(2024, 1, d, 12, i)))
        for i in range(50):
            rows.append((i, "click", dt(2024, 1, 10, 12, 0, i)))
        ev = self._events(spark, rows)
        out = {r["day"].isoformat(): r for r in zscore_anomalies(ev).collect()}
        assert out["2024-01-10"]["is_anomaly"]
        assert out["2024-01-10"]["z"] > 3
        # cold-start days carry NULL z and are never flagged
        assert out["2024-01-03"]["z"] is None
        assert not out["2024-01-03"]["is_anomaly"]
        # quiet day with a full window: not an anomaly
        assert out["2024-01-09"]["is_anomaly"] is False
        assert out["2024-01-09"]["z"] is not None

    def test_plan_shapes_no_smj_no_cartesian(self, spark):
        from chesscom_etl_tableau_spark.operators.analytics import (
            funnel_conversion,
            pivot_counts,
            retention_matrix,
        )
        from chesscom_etl_tableau_spark.sources.tables import load_table

        ev = load_table(spark, SF_DIR, "events")
        for df in (
            funnel_conversion(ev),
            retention_matrix(ev, period="day"),
            pivot_counts(ev),
        ):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" not in plan
            assert "CartesianProduct" not in plan
            assert "BroadcastNestedLoopJoin" not in plan

    def test_pivot_row_sums_match_totals(self, spark):
        from chesscom_etl_tableau_spark.operators.analytics import pivot_counts
        from chesscom_etl_tableau_spark.sources.tables import load_table

        ev = load_table(spark, SF_DIR, "events")
        p = pivot_counts(ev)
        assert p.columns == ["day", "click", "error", "purchase", "signup", "view"]
        import pyspark.sql.functions as FF

        summed = p.select(
            (FF.col("click") + FF.col("error") + FF.col("purchase")
             + FF.col("signup") + FF.col("view")).alias("s")
        ).agg(FF.sum("s")).collect()[0][0]
        assert summed == ev.count()


class TestQualityFilter:
    def test_rules_and_reasons(self, spark):
        from chesscom_etl_tableau_spark.operators.text import quality_filter

        # varied long text: no k-gram repeats, healthy stopword ratio
        long_good = " ".join(f"the word{i} and item{i}" for i in range(40))
        docs = spark.createDataFrame(
            [
                (1, long_good, "en"),              # keeps
                (2, "short text", "en"),           # too_short
                (3, long_good, "zh"),              # lang_blocked
                (4, "tok " * 60, "en"),            # repetitious+low_stopword
                (5, None, "en"),                   # empty -> too_short+low_stopword
            ],
            "doc_id long, text string, lang string",
        )
        rows = {r["doc_id"]: r for r in quality_filter(docs).collect()}
        assert rows[1]["keep"] and rows[1]["reasons"] == ""
        assert rows[2]["reasons"] == "too_short;low_stopword"
        assert rows[3]["reasons"] == "lang_blocked"
        assert not rows[3]["keep"]
        assert rows[4]["reasons"] == "low_stopword;repetitious"
        assert rows[5]["reasons"] == "too_short;low_stopword"

    def test_scan_local_no_shuffle(self, spark):
        from chesscom_etl_tableau_spark.operators.text import quality_filter

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        plan = (
            quality_filter(docs)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan  # one projection chain over the scan


class TestStreamingDedup:
    def _write(self, path, rows):
        import json as _json

        path.write_text(
            "\n".join(_json.dumps({"doc_id": i, "text": t}) for i, t in rows) + "\n"
        )

    def _run(self, spark, drop, out, ckpt):
        from chesscom_etl_tableau_spark.streaming.dedup_stream import (
            streaming_exact_dedup,
        )

        stream = spark.readStream.schema("doc_id long, text string").json(str(drop))
        q = (
            streaming_exact_dedup(stream)
            .writeStream.outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", str(out))
            .start()
        )
        q.awaitTermination()

    def test_dedup_across_batches_and_restarts(self, spark, tmp_path):
        drop, out, ckpt = tmp_path / "drop", tmp_path / "out", tmp_path / "ckpt"
        drop.mkdir()
        # batch 1: 3 docs, one internal duplicate (normalized: case and
        # punctuation differences are the SAME fingerprint)
        self._write(
            drop / "b1.json",
            [(1, "Hello, World"), (2, "hello world!!"), (3, "unique one")],
        )
        self._run(spark, drop, out, ckpt)
        # batch 2 (cold restart): re-send old content + one new doc
        self._write(
            drop / "b2.json",
            [(4, "HELLO world"), (5, "unique one"), (6, "brand new")],
        )
        self._run(spark, drop, out, ckpt)

        rows = (
            spark.read.schema("doc_id long, text string, fingerprint string")
            .parquet(str(out))
            .collect()
        )
        ids = sorted(r["doc_id"] for r in rows)
        assert ids == [1, 3, 6]  # first-seen survivors only, across restarts
        assert len({r["fingerprint"] for r in rows}) == 3

    def test_within_watermark_bounded_state_semantics(self, spark, tmp_path):
        """dropDuplicatesWithinWatermark: duplicates inside the
        watermark window collapse; a re-send AFTER the key's state was
        evicted is re-admitted — the documented bounded-state contract
        (the batch compaction owns the long-range invariant)."""
        import json as _json

        from chesscom_etl_tableau_spark.streaming.dedup_stream import (
            streaming_exact_dedup,
        )

        drop, out, ckpt = tmp_path / "wd", tmp_path / "wo", tmp_path / "wc"
        drop.mkdir()

        def write(name, rows):
            (drop / name).write_text(
                "\n".join(
                    _json.dumps({"doc_id": i, "text": t, "ts": ts}) for i, t, ts in rows
                )
                + "\n"
            )

        def run():
            stream = spark.readStream.schema(
                "doc_id long, text string, ts timestamp"
            ).json(str(drop))
            q = (
                streaming_exact_dedup(
                    stream, ts_col="ts", watermark_delay="10 minutes",
                    within_watermark=True,
                )
                .writeStream.outputMode("append")
                .option("checkpointLocation", str(ckpt))
                .trigger(availableNow=True)
                .format("parquet")
                .option("path", str(out))
                .start()
            )
            q.awaitTermination()

        # batch 1: near-simultaneous duplicate collapses
        write("b1.json", [
            (1, "same doc", "2024-01-01T10:00:00"),
            (2, "same doc", "2024-01-01T10:01:00"),
        ])
        run()
        # batch 2: unrelated event drives the watermark to 11:50,
        # evicting the "same doc" state (kept only to 10:00 + 10 min)
        write("b2.json", [(3, "other doc", "2024-01-01T12:00:00")])
        run()
        # batch 3: the SAME content re-sent after eviction is re-admitted
        write("b3.json", [(4, "same doc", "2024-01-01T12:30:00")])
        run()

        ids = sorted(
            r["doc_id"]
            for r in spark.read.schema(
                "doc_id long, text string, ts timestamp, fingerprint string"
            ).parquet(str(out)).collect()
        )
        # 1 survived batch 1; 4 re-admitted after state eviction —
        # the long-range invariant belongs to the batch compaction
        assert ids == [1, 3, 4]

    def test_within_watermark_requires_ts(self, spark):
        from chesscom_etl_tableau_spark.streaming.dedup_stream import (
            streaming_exact_dedup,
        )

        stream = spark.readStream.format("rate").load().selectExpr("CAST(value AS STRING) AS text")
        with pytest.raises(ValueError):
            streaming_exact_dedup(stream, within_watermark=True)


class TestStreamingWindowed:
    def _write(self, path, rows):
        import json as _json

        path.write_text(
            "\n".join(
                _json.dumps({"user_id": u, "event_type": et, "ts": ts})
                for u, et, ts in rows
            )
            + "\n"
        )

    def _run(self, spark, drop, out, ckpt, dim=None):
        from chesscom_etl_tableau_spark.streaming.windowed import (
            enrich_with_dim,
            windowed_event_counts,
        )

        stream = spark.readStream.schema(
            "user_id long, event_type string, ts timestamp"
        ).json(str(drop))
        if dim is not None:
            stream = enrich_with_dim(stream, dim, "event_type")
        q = (
            windowed_event_counts(stream, "10 minutes", watermark_delay="30 minutes")
            .writeStream.outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", str(out))
            .start()
        )
        q.awaitTermination()

    OUT = (
        "window_start timestamp, window_end timestamp, event_type string, "
        "n_events long, n_users long"
    )

    def test_append_emits_only_sealed_windows(self, spark, tmp_path):
        drop, out, ckpt = tmp_path / "d", tmp_path / "o", tmp_path / "c"
        drop.mkdir()
        # two events in the 10:00 window, one late-but-admissible event
        # for it, one event far ahead that advances the watermark
        self._write(
            drop / "b1.json",
            [
                (1, "click", "2024-01-01T10:01:00"),
                (2, "click", "2024-01-01T10:09:00"),
                (3, "view", "2024-01-01T10:15:00"),
            ],
        )
        self._run(spark, drop, out, ckpt)
        # nothing sealed yet: watermark = 10:15 - 30min < any window end
        assert spark.read.schema(self.OUT).parquet(str(out)).count() == 0

        self._write(
            drop / "b2.json",
            [
                (4, "click", "2024-01-01T10:05:00"),  # late, admissible
                (5, "view", "2024-01-01T11:30:00"),   # wm -> 11:00
            ],
        )
        self._run(spark, drop, out, ckpt)
        rows = {
            (r["window_start"].isoformat(), r["event_type"]): r
            for r in spark.read.schema(self.OUT).parquet(str(out)).collect()
        }
        # windows ending <= 11:00 sealed: the 10:00 click window counts
        # the late event exactly once; 10:10 view window sealed too
        assert rows[("2024-01-01T10:00:00", "click")]["n_events"] == 3
        assert rows[("2024-01-01T10:10:00", "view")]["n_events"] == 1
        assert ("2024-01-01T11:30:00", "view") not in rows  # still open

    def test_stream_static_enrichment_joins_dim(self, spark, tmp_path):
        drop, out, ckpt = tmp_path / "d2", tmp_path / "o2", tmp_path / "c2"
        drop.mkdir()
        dim = spark.createDataFrame(
            [("click", "engagement"), ("view", "engagement")],
            "event_type string, category string",
        )
        from chesscom_etl_tableau_spark.streaming.windowed import enrich_with_dim

        stream = spark.readStream.schema(
            "user_id long, event_type string, ts timestamp"
        ).json(str(drop))
        enriched = enrich_with_dim(stream, dim, "event_type")
        self._write(
            drop / "b1.json",
            [(1, "click", "2024-01-01T10:01:00"), (2, "error", "2024-01-01T10:02:00")],
        )
        q = (
            enriched.writeStream.outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", str(out))
            .start()
        )
        q.awaitTermination()
        rows = {
            r["event_type"]: r["category"]
            for r in spark.read.schema(
                "event_type string, user_id long, ts timestamp, category string"
            ).parquet(str(out)).collect()
        }
        assert rows == {"click": "engagement", "error": None}


class TestFusedMediaDecode:
    def test_fused_equals_composed(self, spark):
        from chesscom_etl_tableau_spark.operators.multimodal import (
            attach_media_blob,
            decode_features,
            synth_decode_features,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
        fused = {r["doc_id"]: r for r in synth_decode_features(docs).collect()}
        composed = {
            r["doc_id"]: r
            for r in decode_features(attach_media_blob(docs)).collect()
        }
        assert fused.keys() == composed.keys() and len(fused) == 50
        for k in fused:
            assert fused[k] == composed[k]


class TestBm25:
    def test_plan_shape(self, spark):
        """Top-k must be TakeOrderedAndProject (no global sort), corpus
        stats and df must broadcast (no sort-merge join anywhere)."""
        from chesscom_etl_tableau_spark.operators.text import bm25_topk

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        plan = (
            bm25_topk(docs, ["spark", "join"], top_k=5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "TakeOrderedAndProject" in plan
        assert "SortMergeJoin" not in plan

    def test_scores_match_reference_formula(self, spark):
        """Hand-computed BM25 on a 3-doc corpus (Lucene IDF)."""
        import math

        from chesscom_etl_tableau_spark.operators.text import bm25_topk

        docs = spark.createDataFrame(
            [
                (1, "cat dog cat"),
                (2, "dog dog dog fish"),
                (3, "bird bird"),
            ],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in bm25_topk(docs, ["cat", "dog"], top_k=10).collect()}
        n, avgdl, k1, b = 3, 3.0, 1.2, 0.75

        def partial(tf, df, dl):
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            return idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))

        exp1 = partial(2, 1, 3) + partial(1, 2, 3)  # cat tf=2, dog tf=1
        exp2 = partial(3, 2, 4)
        assert abs(rows[1]["score"] - round(exp1, 6)) < 2e-6
        assert abs(rows[2]["score"] - round(exp2, 6)) < 2e-6
        assert 3 not in rows  # no query term -> no row
        assert rows[1]["n_hits"] == 2 and rows[2]["n_hits"] == 1


class _FakeGroupState:
    """Minimal stand-in for pyspark GroupState, driving the sessionize
    state function directly so state SIZE is observable (the real state
    store is opaque from test code)."""

    def __init__(self, wm_ms: int = 0):
        self._value = None
        self.hasTimedOut = False
        self._wm_ms = wm_ms
        self.timeout_set_to = None
        self.removed = False

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        if self._value is None:
            raise ValueError("state does not exist")
        return self._value

    def update(self, v):
        self._value = v
        self.removed = False

    def remove(self):
        self._value = None
        self.removed = True

    def getCurrentWatermarkMs(self):
        return self._wm_ms


    def setTimeoutTimestamp(self, ms):
        self.timeout_set_to = ms


def _invoke(fn, state, ts_list):
    import pandas as pd

    pdf = pd.DataFrame({"ts": [pd.Timestamp(t) for t in ts_list]})
    return list(fn(("u1",), iter([pdf] if ts_list else []), state))


class TestStreamingSessionizeBounds:
    """Round-3 verdict ask #5: state bound, timeout eviction, and
    restart equivalence for streaming/sessionize.py under the
    adversarial regime watermark_delay >> gap with shuffled arrival."""

    GAP_S = 1800

    def _fn(self):
        from chesscom_etl_tableau_spark.streaming.sessionize import (
            _session_fn_factory,
        )

        return _session_fn_factory(self.GAP_S)

    def test_state_is_bounded_by_open_sessions_not_events(self):
        import random

        fn = self._fn()
        # 40 events per session x 5 sessions, gaps far above 30 min; the
        # watermark never advances (delay >> everything), so nothing
        # seals and ALL sessions stay open.
        base = 1_700_000_000
        events = []
        for s in range(5):
            start = base + s * 50_000  # ~14h apart
            events += [start + i * 60 for i in range(40)]  # 1-min strides
        rng = random.Random(7)
        rng.shuffle(events)

        state = _FakeGroupState(wm_ms=0)
        import datetime as dt

        utc = dt.timezone.utc
        for chunk_at in range(0, len(events), 17):  # many small batches
            chunk = events[chunk_at : chunk_at + 17]
            out = _invoke(
                fn, state, [dt.datetime.fromtimestamp(t, tz=utc) for t in chunk]
            )
            assert out == []  # watermark stuck at 0: nothing may seal
            starts, lasts, ns = state.get
            # THE bound: intervals track open sessions/fragments, never
            # events. A 40-min session seen out of order can transiently
            # split into at most ceil(40/30)=2 fragments until a bridging
            # event arrives — so <=10 for 5 sessions; 200 would mean
            # per-event state.
            assert len(starts) <= 10
        starts, lasts, ns = state.get
        assert len(starts) == 5
        assert sum(ns) == 200  # no event lost while merging intervals
        # idle-flush timer parked at earliest open last+gap
        assert state.timeout_set_to == (min(lasts) + self.GAP_S) * 1000

    def test_timeout_eviction_emits_and_clears(self):
        fn = self._fn()
        state = _FakeGroupState(wm_ms=0)
        import datetime as dt

        utc = dt.timezone.utc
        base = 1_700_000_000
        _invoke(fn, state, [dt.datetime.fromtimestamp(base, tz=utc)])
        assert state.exists

        # the idle flush fires: watermark has passed last+gap
        state.hasTimedOut = True
        state._wm_ms = (base + self.GAP_S + 1) * 1000
        out = _invoke(fn, state, [])
        assert len(out) == 1 and state.removed
        row = out[0].iloc[0]
        assert row["n_events"] == 1 and row["duration_s"] == 0

    def test_partial_timeout_keeps_unsealed_sessions(self):
        fn = self._fn()
        state = _FakeGroupState(wm_ms=0)
        import datetime as dt

        utc = dt.timezone.utc
        base = 1_700_000_000
        two = [base, base + 50_000]  # two separate sessions
        _invoke(fn, state, [dt.datetime.fromtimestamp(t, tz=utc) for t in two])
        state.hasTimedOut = True
        state._wm_ms = (base + self.GAP_S + 1) * 1000  # seals only the first
        out = _invoke(fn, state, [])
        assert len(out) == 1
        starts, lasts, ns = state.get  # second session survived the flush
        assert starts == [base + 50_000]
        assert state.timeout_set_to == (base + 50_000 + self.GAP_S) * 1000

    # ---- restart equivalence (real checkpointed stream) ---------------

    def _write_events(self, path, rows):
        import json as _json

        path.write_text(
            "\n".join(_json.dumps({"user_id": u, "ts": ts}) for u, ts in rows) + "\n"
        )

    def _run(self, spark, drop, out, ckpt):
        from chesscom_etl_tableau_spark.streaming.sessionize import (
            streaming_session_stats,
        )

        stream = spark.readStream.schema("user_id string, ts timestamp").json(str(drop))
        q = (
            streaming_session_stats(stream, gap_minutes=30, watermark_delay="1 day")
            .writeStream.outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", str(out))
            .start()
        )
        q.awaitTermination()

    OUT_SCHEMA = (
        "user_id string, session_start timestamp, session_end timestamp, "
        "n_events long, duration_s long"
    )

    def test_restart_equivalence_with_shuffled_late_arrival(self, spark, tmp_path):
        """The same event set — arriving shuffled, split 1-run vs
        3-runs (each _run is a cold start from the checkpoint) — must
        emit the identical closed-session multiset. Watermark delay
        (1 day) >> gap (30 min), so every event is admissible-late."""
        import random

        base_events = []
        for u in ("u1", "u2"):
            for s in range(3):  # 3 sessions per user, 2h apart
                t0 = 10 * 3600 + s * 7200
                base_events += [
                    (u, f"2024-01-01T{t0 // 3600:02d}:{(t0 % 3600) // 60 + i:02d}:00")
                    for i in range(4)
                ]
        closer = [("u1", "2024-01-05T00:00:00"), ("u2", "2024-01-05T00:00:00")]

        rng = random.Random(13)
        shuffled = base_events[:]
        rng.shuffle(shuffled)

        # pipeline A: everything in one run, closer in a second run
        drop_a, out_a, ckpt_a = tmp_path / "da", tmp_path / "oa", tmp_path / "ca"
        drop_a.mkdir()
        self._write_events(drop_a / "b1.json", shuffled)
        self._run(spark, drop_a, out_a, ckpt_a)
        self._write_events(drop_a / "b2.json", closer)
        self._run(spark, drop_a, out_a, ckpt_a)

        # pipeline B: same shuffled events split over 3 cold restarts
        drop_b, out_b, ckpt_b = tmp_path / "db", tmp_path / "ob", tmp_path / "cb"
        drop_b.mkdir()
        third = len(shuffled) // 3
        self._write_events(drop_b / "b1.json", shuffled[:third])
        self._run(spark, drop_b, out_b, ckpt_b)
        self._write_events(drop_b / "b2.json", shuffled[third : 2 * third])
        self._run(spark, drop_b, out_b, ckpt_b)
        self._write_events(drop_b / "b3.json", shuffled[2 * third :])
        self._run(spark, drop_b, out_b, ckpt_b)
        self._write_events(drop_b / "b4.json", closer)
        self._run(spark, drop_b, out_b, ckpt_b)

        def sessions(path):
            rows = spark.read.schema(self.OUT_SCHEMA).parquet(str(path)).collect()
            return sorted(
                (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
                for r in rows
            )

        sa, sb = sessions(out_a), sessions(out_b)
        assert sa == sb
        assert len(sa) == 6  # 3 closed sessions per user
        assert all(n == 4 for _, _, _, n in sa)
