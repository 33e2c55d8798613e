"""Flatten projection + idempotent incremental ingest (SURVEY.md §5.3-§5.4)."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.plans.ingest import (
    ingest_archives,
    load_state,
    prune_processed,
    save_state,
    unmark_last_archive,
)
from chesscom_etl_tableau_spark.schemas import GAMES_SCHEMA
from chesscom_etl_tableau_spark.sources.archives import flatten_archives
from chesscom_etl_tableau_spark.util import local_frame


class TestFlatten:
    def test_schema_and_edge_rows(self, games_df):
        assert [f.name for f in games_df.schema.fields] == [f.name for f in GAMES_SCHEMA.fields]
        by_url = {r["game_url"]: r for r in games_df.collect()}
        # Missing [Result] header -> trailing movetext token.
        assert by_url["https://game/noheader"]["result"] == "1/2-1/2"
        # No PGN result at all -> seat fallback.
        assert by_url["https://game/seatfallback"]["result"] == "agreed / agreed"
        # Empty pgn -> seat fallback still applies (white/black results set).
        assert by_url["https://game/emptypgn"]["result"] == "win / resigned"
        # Garbage end_time -> NULL timestamp + date.
        assert by_url["https://game/badtime"]["end_time_utc"] is None
        assert by_url["https://game/badtime"]["date_ymd"] is None

    def test_empty_archive_emits_nothing(self, games_df):
        assert games_df.where(F.col("archive_url").endswith("2024/04")).count() == 0


class TestIngest:
    pytestmark = pytest.mark.slow  # heavy suite, default-profile excluded (r16)
    def _run(self, spark, archives_df, tmp_path, **kw):
        return ingest_archives(
            spark,
            archives_df,
            sink_path=str(tmp_path / "games"),
            audit_path=str(tmp_path / "audit"),
            state_path=str(tmp_path / "state.json"),
            **kw,
        )

    def test_idempotent_rerun(self, spark, archives_df, tmp_path):
        r1 = self._run(spark, archives_df, tmp_path)
        assert r1.appended_games > 0
        sink = spark.read.parquet(str(tmp_path / "games"))
        n1 = sink.count()
        # game_url is unique after ingest (in-batch + cross-batch dedup).
        assert sink.select("game_url").distinct().count() == n1

        # Re-run over the SAME archives: zero new rows (fetch_and_post.py:4-8).
        r2 = self._run(spark, archives_df, tmp_path)
        assert r2.appended_games == 0
        assert spark.read.parquet(str(tmp_path / "games")).count() == n1

    def test_reprocess_last_archive_no_dupes(self, spark, archives_df, tmp_path):
        self._run(spark, archives_df, tmp_path)
        n1 = spark.read.parquet(str(tmp_path / "games")).count()
        # unmark_last + rerun = the I3 late-data path; dedup absorbs it.
        r2 = self._run(spark, archives_df, tmp_path, reprocess_last=True)
        assert r2.appended_games == 0
        assert spark.read.parquet(str(tmp_path / "games")).count() == n1

    def test_incremental_equals_batch(self, spark, archives_df, tmp_path):
        """Archive-by-archive incremental == all-at-once batch (SURVEY §5.4)."""
        batch_flat = flatten_archives(archives_df)
        self._run(spark, archives_df, tmp_path)
        all_at_once = spark.read.parquet(str(tmp_path / "games"))

        inc_path = tmp_path / "inc"
        urls = [r[0] for r in archives_df.select("archive_url").distinct().collect()]
        for url in sorted(urls):
            ingest_archives(
                spark,
                archives_df.where(F.col("archive_url") == url),
                sink_path=str(inc_path / "games"),
                state_path=str(inc_path / "state.json"),
                reprocess_last=False,
            )
        incremental = spark.read.parquet(str(inc_path / "games"))
        cols = [c for c in all_at_once.columns if c != "ingest_time"]
        a = {tuple(r) for r in all_at_once.select(cols).collect()}
        b = {tuple(r) for r in incremental.select(cols).collect()}
        assert a == b

    def test_watermark_monotone(self, spark, archives_df, tmp_path):
        r = self._run(spark, archives_df, tmp_path)
        flat = flatten_archives(archives_df)
        expected = {
            row["username"]: row["mx"]
            for row in flat.groupBy("username").agg(F.max(F.unix_timestamp("end_time_utc")).alias("mx")).collect()
        }
        for user, wm in r.watermarks.items():
            assert wm == expected[user]
        state = load_state(str(tmp_path / "state.json"))
        assert state["player0"]["last_end_time"] == expected["player0"]

    def test_prune_processed(self, spark, archives_df, tmp_path):
        state = {
            "player0": {"last_end_time": 0, "processed_archives": ["https://archive/player0/2024/01"]}
        }
        pruned = prune_processed(archives_df, state)
        assert pruned.count() == archives_df.count() - 1

    def test_unmark_last(self):
        state = {"u": {"last_end_time": 5, "processed_archives": ["a", "b"]}}
        assert unmark_last_archive(state)["u"]["processed_archives"] == ["a"]

    def test_state_roundtrip_and_corrupt(self, tmp_path):
        p = str(tmp_path / "s.json")
        save_state(p, {"u": {"last_end_time": 1}})
        assert load_state(p) == {"u": {"last_end_time": 1}}
        with open(p, "w") as f:
            f.write("{corrupt")
        assert load_state(p) == {}  # tolerant, fetch_and_post.py:275-284
        assert load_state(str(tmp_path / "missing.json")) == {}


def test_unmark_reopens_latest_month_of_out_of_order_list():
    base = "https://api.chess.com/pub/player/u/games/"
    pa = [base + m for m in ("2024/03", "2024/11", "2024/01", "2024/02")]
    state = {"u": {"last_end_time": 5, "processed_archives": pa}}
    kept = unmark_last_archive(state)["u"]["processed_archives"]
    assert kept == [base + m for m in ("2024/03", "2024/01", "2024/02")]


def test_prune_processed_keeps_null_keys(spark, count_jobs):
    """A NULL username or URL never matches the processed set (as
    with an anti-join), and over a local frame the prune runs no
    job."""
    archives = local_frame(
        spark,
        [("alice", "u1"), ("alice", None), (None, "u1"), ("bob", "u1"), ("alice", "u2")],
        "username string, archive_url string",
    )
    state = {"alice": {"processed_archives": ["u1", None]}, "carol": {}}
    pruned = prune_processed(archives, state)
    got = []
    assert count_jobs(lambda: got.extend(map(tuple, pruned.collect()))) == 0
    assert got == [("alice", None), (None, "u1"), ("bob", "u1"), ("alice", "u2")]
