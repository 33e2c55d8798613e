"""REST source retry semantics, streaming ingest, status log, multimodal
plumbing (SURVEY.md §2.1 S1-S3/S7, §2.7; BASELINE.json north star).
"""

from __future__ import annotations

import binascii
import json

import pytest
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.operators.multimodal import (
    attach_binary,
    audio_features,
    decode_features,
    frame_sample_plan,
)
from chesscom_etl_tableau_spark.plans.status import StatusLogger
from chesscom_etl_tableau_spark.sources.rest import (
    FetchError,
    RetryingFetcher,
    distributed_fetch_archives,
    fetch_archive_lists,
    fetch_archives,
    parse_fetched,
)
from chesscom_etl_tableau_spark.streaming.incremental import run_available_now


class FakeTransport:
    """Scripted transport: url -> list of (status, body) responses."""

    def __init__(self, script: dict[str, list[tuple[int, str]]]):
        self.script = {k: list(v) for k, v in script.items()}
        self.calls: list[str] = []

    def __call__(self, url: str) -> tuple[int, str]:
        self.calls.append(url)
        responses = self.script.get(url)
        if not responses:
            return 404, ""
        return responses.pop(0) if len(responses) > 1 else responses[0]


def _no_sleep(_s: float) -> None:
    return None


class TestRetryingFetcher:
    def test_success_first_try(self):
        t = FakeTransport({"u": [(200, '{"ok": 1}')]})
        f = RetryingFetcher(t, sleep=_no_sleep)
        assert f.fetch_json("u") == {"ok": 1}
        assert f.attempts == 1

    def test_retry_then_success(self):
        t = FakeTransport({"u": [(503, ""), (429, ""), (200, '{"ok": 2}')]})
        f = RetryingFetcher(t, sleep=_no_sleep)
        assert f.fetch_json("u") == {"ok": 2}
        assert f.attempts == 3

    def test_non_retryable_raises_immediately(self):
        t = FakeTransport({"u": [(404, "")]})
        f = RetryingFetcher(t, sleep=_no_sleep)
        with pytest.raises(FetchError):
            f.fetch_json("u")
        assert f.attempts == 1

    def test_exhausted_retries_with_backoff_sequence(self):
        t = FakeTransport({"u": [(503, "")]})
        sleeps: list[float] = []
        f = RetryingFetcher(t, max_retries=3, backoff_s=2.0, sleep=sleeps.append)
        with pytest.raises(FetchError):
            f.fetch_json("u")
        # Reference backoff: 2s then 4s between the 3 attempts
        # (fetch_and_post.py:58,68,83).
        assert sleeps == [2.0, 4.0]
        assert f.attempts == 3

    def test_transport_exception_is_retryable(self):
        calls = {"n": 0}

        def flaky(url):
            calls["n"] += 1
            if calls["n"] < 2:
                raise OSError("conn reset")
            return 200, "{}"

        f = RetryingFetcher(flaky, sleep=_no_sleep)
        assert f.fetch_json("u") == {}


class TestDriverFetch:
    def test_failed_user_skipped(self):
        t = FakeTransport(
            {
                "https://api.chess.com/pub/player/alice/games/archives": [
                    (200, '{"archives": ["https://a/1", "https://a/2"]}')
                ],
                # bob: 404 -> skipped entirely (I7 continue-and-log).
            }
        )
        f = RetryingFetcher(t, sleep=_no_sleep)
        out = fetch_archive_lists(f, ["alice", "bob"])
        assert out == [("alice", "https://a/1"), ("alice", "https://a/2")]

    def test_fetch_archives_splits_errors(self, spark):
        games = [
            {
                "url": "https://game/x",
                "time_control": "600",
                "end_time": 1700000000,
                "pgn": '[Result "1-0"]',
                "white": {"username": "alice", "rating": 1500, "result": "win"},
                "black": {"username": "bob", "rating": 1480, "result": "resigned"},
            }
        ]
        t = FakeTransport({"https://a/1": [(200, json.dumps({"games": games}))]})
        f = RetryingFetcher(t, sleep=_no_sleep)
        df, errors = fetch_archives(
            spark, f, [("alice", "https://a/1"), ("alice", "https://a/bad")]
        )
        assert df.count() == 1
        assert df.first()["games"][0]["url"] == "https://game/x"
        assert len(errors) == 1 and errors[0][1] == "https://a/bad"


class TestDistributedFetch:
    def test_map_in_pandas_fetch(self, spark):
        games = [
            {
                "url": "https://game/y",
                "time_control": "300+2",
                "end_time": 1700000100,
                "pgn": '[Result "0-1"]',
                "white": {"username": "alice", "rating": 1500, "result": "resigned"},
                "black": {"username": "bob", "rating": 1480, "result": "win"},
            }
        ]
        body = json.dumps({"games": games})

        def transport_factory():
            def fetch(url):
                if url.endswith("bad"):
                    return 404, ""
                return 200, body

            return fetch

        urls = spark.createDataFrame(
            [("alice", "https://a/1"), ("alice", "https://a/bad")],
            "username string, archive_url string",
        )
        fetched = distributed_fetch_archives(urls, transport_factory, delay_s=0.0)
        ok, errors = parse_fetched(fetched)
        ok_rows = ok.collect()
        assert len(ok_rows) == 1
        assert ok_rows[0]["games"][0]["url"] == "https://game/y"
        err_rows = errors.collect()
        assert len(err_rows) == 1 and err_rows[0]["archive_url"] == "https://a/bad"


class TestStatusLogger:
    def test_appends_rows(self, spark, tmp_path):
        path = str(tmp_path / "status")
        log = StatusLogger(spark, path, run_id="r1")
        log.log("games_appended", username="alice", message="42")
        log.log("error_fetch_archives", username="bob", http_status="503")
        rows = spark.read.parquet(path).collect()
        assert {r["stage"] for r in rows} == {"games_appended", "error_fetch_archives"}
        assert all(r["run_id"] == "r1" for r in rows)

    def test_best_effort_swallows_failures(self, spark):
        log = StatusLogger(spark, "/nonexistent-root-dir/cannot/write")
        log.log("games_appended")  # must not raise

    def test_disabled_when_no_path(self, spark):
        StatusLogger(spark, None).log("games_appended")  # no-op


class TestStreamingIngest:
    def _write_archive(self, path, archive_url, games):
        rec = {"username": "alice", "archive_url": archive_url, "games": games}
        path.write_text(json.dumps(rec) + "\n")

    def _game(self, gid, end_time):
        return {
            "url": f"https://game/{gid}",
            "time_control": "600",
            "end_time": end_time,
            "pgn": '[Result "1-0"]',
            "white": {"username": "alice", "rating": 1500, "result": "win"},
            "black": {"username": "bob", "rating": 1480, "result": "resigned"},
        }

    def test_available_now_dedups_across_runs(self, spark, tmp_path):
        drop = tmp_path / "drop"
        drop.mkdir()
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")

        # Run 1: archive A with games 1, 2.
        self._write_archive(
            drop / "a.json", "https://archive/a", [self._game(1, 1704067200), self._game(2, 1704070800)]
        )
        run_available_now(spark, str(drop), sink, ckpt)
        assert spark.read.parquet(sink).count() == 2

        # Run 2: archive B re-delivers game 2 (the re-fetched open month,
        # I3) plus new game 3 -> only game 3 appends.
        self._write_archive(
            drop / "b.json", "https://archive/b", [self._game(2, 1704070800), self._game(3, 1704074400)]
        )
        run_available_now(spark, str(drop), sink, ckpt)
        out = spark.read.parquet(sink)
        assert out.count() == 3
        assert out.select("game_url").distinct().count() == 3


class TestMultimodal:
    def test_decode_features_matches_bytes(self, spark):
        docs = spark.createDataFrame(
            [(1, "hello world"), (2, ""), (3, None)], "doc_id long, text string"
        )
        media = attach_binary(docs)
        feats = {r["doc_id"]: r for r in decode_features(media).collect()}
        data = b"hello world"
        assert feats[1]["n_bytes"] == len(data)
        assert feats[1]["checksum_crc32"] == binascii.crc32(data)
        assert feats[1]["feature"] == binascii.hexlify(data[:8]).decode()
        assert feats[2]["n_bytes"] == 0 and feats[3]["n_bytes"] == 0
        # Stubbed decode is deterministic (same bytes -> same fake dims).
        assert feats[2]["fake_width"] == feats[3]["fake_width"]

    def test_null_content_ships_sql_null(self, spark):
        """A NULL blob decodes as empty bytes, and every column a kernel
        leaves empty arrives as SQL NULL (None), never NaN."""
        media = spark.createDataFrame(
            [(1, None), (2, bytearray(b"not a media blob"))], "doc_id long, content binary"
        )
        decoded = {r["doc_id"]: r for r in decode_features(media).collect()}
        audio = {r["doc_id"]: r for r in audio_features(media).collect()}
        assert sorted(decoded) == sorted(audio) == [1, 2]
        assert decoded[1]["n_bytes"] == 0 and decoded[1]["checksum_crc32"] == 0
        assert decoded[1]["feature"] == ""
        assert decoded[2]["n_bytes"] == len(b"not a media blob")
        empty = (
            "format", "width", "height", "duration_ms",
            "mean_r", "mean_g", "mean_b", "min_px", "max_px",
            "lum_b0", "lum_b1", "lum_b2", "lum_b3",
        )
        for r in decoded.values():
            assert all(r[c] is None for c in empty), r
        for r in audio.values():
            assert all(v is None for v in r[1:]), r

    def test_metadata_only_query_prunes_binary(self, spark):
        docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
        media = attach_binary(docs)
        meta_only = media.select("doc_id", F.col("media")["n_bytes"].alias("n_bytes"))
        assert meta_only.first()["n_bytes"] == 3

    def test_frame_sample_fanout(self, spark):
        docs = spark.createDataFrame(
            [(1, "x" * 2500), (2, "y")], "doc_id long, text string"
        )
        frames = frame_sample_plan(attach_binary(docs), every_ms=1000)
        counts = {r["doc_id"]: r["n"] for r in frames.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
        assert counts[1] == 2  # 2500 bytes / 1000 -> 2 frames
        assert counts[2] == 1  # floor(1/1000)=0 -> clamped to 1 frame
        ts = [r["frame_ts_ms"] for r in frames.where("doc_id = 1").orderBy("frame_idx").collect()]
        assert ts == [0, 1000]


class TestStreamingSessionize:
    pytestmark = pytest.mark.slow  # heavy suite, default-profile excluded (r16)
    def _write_events(self, path, rows):
        import json as _json

        lines = [
            _json.dumps({"user_id": u, "ts": ts}) for u, ts in rows
        ]
        path.write_text("\n".join(lines) + "\n")

    def _run(self, spark, drop, out, ckpt, **session_kw):
        from chesscom_etl_tableau_spark.streaming.sessionize import streaming_session_stats

        stream = (
            spark.readStream.schema("user_id string, ts timestamp")
            .json(str(drop))
        )
        q = (
            streaming_session_stats(stream, gap_minutes=30, **session_kw)
            .writeStream.outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", str(out))
            .start()
        )
        q.awaitTermination()

    def test_sessions_close_on_gap_across_batches(self, spark, tmp_path):
        drop = tmp_path / "drop"
        drop.mkdir()
        out, ckpt = tmp_path / "out", tmp_path / "ckpt"

        # Batch 1: two close events -> one open session (nothing emitted).
        self._write_events(
            drop / "b1.json",
            [("u1", "2024-01-01T10:00:00"), ("u1", "2024-01-01T10:10:00")],
        )
        self._run(spark, drop, out, ckpt)

        # Batch 2: an event 110 min later closes the first session.
        self._write_events(drop / "b2.json", [("u1", "2024-01-01T12:00:00")])
        self._run(spark, drop, out, ckpt)

        rows = spark.read.schema(
            "user_id string, session_start timestamp, session_end timestamp, n_events long, duration_s long"
        ).parquet(str(out)).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["user_id"] == "u1"
        assert r["n_events"] == 2
        assert r["duration_s"] == 600

    def test_multiple_sessions_within_batch(self, spark, tmp_path):
        drop = tmp_path / "drop"
        drop.mkdir()
        out, ckpt = tmp_path / "out", tmp_path / "ckpt"
        self._write_events(
            drop / "b1.json",
            [
                ("u1", "2024-01-01T10:00:00"),
                ("u1", "2024-01-01T12:00:00"),
                ("u1", "2024-01-01T14:00:00"),
            ],
        )
        self._run(spark, drop, out, ckpt)
        rows = spark.read.schema(
            "user_id string, session_start timestamp, session_end timestamp, n_events long, duration_s long"
        ).parquet(str(out)).collect()
        # First two sessions closed inline; the 14:00 session stays open.
        assert len(rows) == 2
        assert all(r["n_events"] == 1 for r in rows)

    def test_idle_session_flushed_by_event_time_timeout(self, spark, tmp_path):
        drop = tmp_path / "drop"
        drop.mkdir()
        out, ckpt = tmp_path / "out", tmp_path / "ckpt"

        # Batch 1: one u1 event -> open session in state.
        self._write_events(drop / "b1.json", [("u1", "2024-01-01T10:00:00")])
        self._run(spark, drop, out, ckpt)

        # Batch 2: only u2 traffic, far in the future -> the watermark
        # passes u1's last+gap and the idle session flushes via
        # EventTimeTimeout without any further u1 event.
        self._write_events(drop / "b2.json", [("u2", "2024-01-01T14:00:00")])
        self._run(spark, drop, out, ckpt)

        rows = spark.read.schema(
            "user_id string, session_start timestamp, session_end timestamp, n_events long, duration_s long"
        ).parquet(str(out)).collect()
        u1 = [r for r in rows if r["user_id"] == "u1"]
        assert len(u1) == 1
        assert u1[0]["n_events"] == 1 and u1[0]["duration_s"] == 0

    def test_late_in_watermark_event_does_not_shrink_session(self, spark, tmp_path):
        """ADVICE r1: a late event that is within the watermark but
        sorts before the open session's tail must merge WITHOUT moving
        session_end (or the timeout timestamp) backwards — the batch
        twin sorts all events globally, so the closed session must match
        it: 3 events, end at the true max, duration from true min."""
        drop = tmp_path / "drop"
        drop.mkdir()
        out, ckpt = tmp_path / "out", tmp_path / "ckpt"

        # Batch 1: 10:00 and 10:20 -> open session, watermark ~10:10.
        self._write_events(
            drop / "b1.json",
            [("u1", "2024-01-01T10:00:00"), ("u1", "2024-01-01T10:20:00")],
        )
        self._run(spark, drop, out, ckpt)

        # Batch 2: LATE event 10:15 — above the watermark, below the
        # session tail. Must merge as (10:00 .. 10:20, n=3).
        self._write_events(drop / "b2.json", [("u1", "2024-01-01T10:15:00")])
        self._run(spark, drop, out, ckpt)

        # Batch 3: 12:00 closes the session by gap.
        self._write_events(drop / "b3.json", [("u1", "2024-01-01T12:00:00")])
        self._run(spark, drop, out, ckpt)

        rows = spark.read.schema(
            "user_id string, session_start timestamp, session_end timestamp, n_events long, duration_s long"
        ).parquet(str(out)).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["n_events"] == 3
        assert r["duration_s"] == 1200
        assert str(r["session_start"]) == "2024-01-01 10:00:00"
        assert str(r["session_end"]) == "2024-01-01 10:20:00"

    _SESSION_SCHEMA = (
        "user_id string, session_start timestamp, session_end timestamp, "
        "n_events long, duration_s long"
    )

    def test_late_event_forms_prior_session(self, spark, tmp_path):
        """VERDICT r2 #6: with watermark delay > gap, an in-watermark
        event OLDER than the open session's start by more than the gap
        is a separate PRIOR session — the old single-open-session state
        wrongly merged it. Batch twin: {10:30}, {12:00} are two
        sessions."""
        drop = tmp_path / "drop"
        drop.mkdir()
        out, ckpt = tmp_path / "out", tmp_path / "ckpt"
        wm = {"watermark_delay": "2 hours"}

        # Batch 1: 12:00 -> open session; watermark ~10:00.
        self._write_events(drop / "b1.json", [("u1", "2024-01-01T12:00:00")])
        self._run(spark, drop, out, ckpt, **wm)

        # Batch 2: late 10:30 — inside the watermark, but 90 min before
        # the open session: a prior session, NOT a merge.
        self._write_events(drop / "b2.json", [("u1", "2024-01-01T10:30:00")])
        self._run(spark, drop, out, ckpt, **wm)

        # Batch 3: 15:00 advances the watermark to 13:00, sealing both.
        self._write_events(drop / "b3.json", [("u1", "2024-01-01T15:00:00")])
        self._run(spark, drop, out, ckpt, **wm)

        rows = sorted(
            spark.read.schema(self._SESSION_SCHEMA).parquet(str(out)).collect(),
            key=lambda r: r["session_start"],
        )
        assert [(str(r["session_start"]), r["n_events"], r["duration_s"]) for r in rows] == [
            ("2024-01-01 10:30:00", 1, 0),
            ("2024-01-01 12:00:00", 1, 0),
        ]

    def test_late_event_bridges_two_open_sessions(self, spark, tmp_path):
        """A late event between two open sessions and within the gap of
        both must merge them into ONE session (the batch twin sees the
        globally-sorted run 10:00 < 10:25 < 10:50, all gaps < 30 min).
        The old state closed the earlier session as soon as a later one
        opened, emitting it early with the wrong event count."""
        drop = tmp_path / "drop"
        drop.mkdir()
        out, ckpt = tmp_path / "out", tmp_path / "ckpt"
        wm = {"watermark_delay": "2 hours"}

        # Batch 1: 10:00 and 10:50 — 50 min apart: two open sessions.
        self._write_events(
            drop / "b1.json",
            [("u1", "2024-01-01T10:00:00"), ("u1", "2024-01-01T10:50:00")],
        )
        self._run(spark, drop, out, ckpt, **wm)
        assert spark.read.schema(self._SESSION_SCHEMA).parquet(str(out)).count() == 0

        # Batch 2: late 10:25 bridges them (25 min to each side).
        self._write_events(drop / "b2.json", [("u1", "2024-01-01T10:25:00")])
        self._run(spark, drop, out, ckpt, **wm)

        # Batch 3: 14:00 -> watermark 12:00 seals the merged session.
        self._write_events(drop / "b3.json", [("u1", "2024-01-01T14:00:00")])
        self._run(spark, drop, out, ckpt, **wm)

        rows = spark.read.schema(self._SESSION_SCHEMA).parquet(str(out)).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["n_events"] == 3
        assert str(r["session_start"]) == "2024-01-01 10:00:00"
        assert str(r["session_end"]) == "2024-01-01 10:50:00"
        assert r["duration_s"] == 3000


class TestBatchStreamEquivalence:
    def test_same_archives_same_fact_table(self, spark, archives_df, tmp_path):
        """The batch plan and the streaming topology are two executions
        of the same logical pipeline: identical fact rows out."""
        from chesscom_etl_tableau_spark.plans.ingest import ingest_archives

        # Batch path.
        batch_sink = str(tmp_path / "batch_games")
        ingest_archives(spark, archives_df, sink_path=batch_sink)

        # Streaming path over the same records dropped as JSON files.
        drop = tmp_path / "drop"
        drop.mkdir()
        for i, row in enumerate(archives_df.toJSON().collect()):
            (drop / f"a{i}.json").write_text(row + "\n")
        stream_sink = str(tmp_path / "stream_games")
        run_available_now(spark, str(drop), stream_sink, str(tmp_path / "ckpt"))

        cols = [
            "username", "archive_url", "game_url", "time_control",
            "end_time_utc", "date_ymd", "white_username", "white_rating",
            "black_username", "black_rating", "result", "pgn",
        ]
        b = {tuple(r) for r in spark.read.parquet(batch_sink).select(cols).collect()}
        s = {tuple(r) for r in spark.read.parquet(stream_sink).select(cols).collect()}
        # Same key set always; row equality may differ only for dup keys
        # delivered by different archives (either archive's copy is a
        # valid survivor). Compare keys, then non-archive columns.
        assert {t[2] for t in b} == {t[2] for t in s}
        strip = lambda rows: {tuple(v for i, v in enumerate(t) if i != 1) for t in rows}
        assert strip(b) == strip(s)
