"""End-to-end CLI pipeline over a scripted transport (SURVEY.md §3.1)."""

from __future__ import annotations

import json
import os

import pytest

from chesscom_etl_tableau_spark.cli import parse_usernames, run_pipeline


class TestParseUsernames:
    def test_csv_trim_drop_empty(self):
        assert parse_usernames(" alice , bob ,, ") == ["alice", "bob"]
        assert parse_usernames(None) == []
        assert parse_usernames("") == []


def _game(gid, end_time=1704067200):
    return {
        "url": f"https://game/{gid}",
        "time_control": "600",
        "end_time": end_time,
        "pgn": '[Result "1-0"]\n1. e4 e5 1-0',
        "white": {"username": "alice", "rating": 1500, "result": "win"},
        "black": {"username": "bob", "rating": 1480, "result": "resigned"},
    }


def _scripted_transport(archives_by_user, games_by_archive):
    def transport(url):
        for user, archive_urls in archives_by_user.items():
            if url == f"https://api.chess.com/pub/player/{user}/games/archives":
                return 200, json.dumps({"archives": archive_urls})
        if url in games_by_archive:
            return 200, json.dumps({"games": games_by_archive[url]})
        return 404, ""

    return transport


class TestRunPipeline:
    pytestmark = pytest.mark.slow  # heavy suite, default-profile excluded (r16)
    def test_end_to_end_idempotent(self, spark, tmp_path):
        t = _scripted_transport(
            {"alice": ["https://a/2024/01", "https://a/2024/02"]},
            {
                "https://a/2024/01": [_game(1), _game(2, 1704070800)],
                "https://a/2024/02": [_game(3, 1706745600)],
            },
        )
        out = str(tmp_path / "out")
        s1 = run_pipeline(spark, ["alice"], out, transport=t, delay_s=0.0)
        assert s1.fetched_archives == 2
        assert s1.appended_games == 3
        assert s1.errors == 0

        games = spark.read.parquet(f"{out}/games")
        assert games.count() == 3
        assert games.select("game_url").distinct().count() == 3

        # Re-run: the open month (2024/02) is re-fetched (I3) but dedup
        # appends nothing; the closed month is pruned before HTTP.
        s2 = run_pipeline(spark, ["alice"], out, transport=t, delay_s=0.0)
        assert s2.fetched_archives == 1  # only the unmarked open month
        assert s2.appended_games == 0
        assert spark.read.parquet(f"{out}/games").count() == 3

        # Status log recorded both runs' stages.
        stages = {r["stage"] for r in spark.read.parquet(f"{out}/status").collect()}
        assert "games_appended" in stages
        assert "no_new_unique_games" in stages

        # State file carries watermark + processed archives.
        state = json.loads((tmp_path / "out" / "state.json").read_text())
        assert state["alice"]["last_end_time"] == 1706745600
        assert len(state["alice"]["processed_archives"]) == 2

    def test_end_to_end_manifest_protocol(self, spark, tmp_path):
        """Same pipeline over the object-store commit: snapshot read via
        the manifest, second run appends zero (r5)."""
        from chesscom_etl_tableau_spark.plans.ingest import read_manifest_sink

        t = _scripted_transport(
            {"alice": ["https://a/2024/01", "https://a/2024/02"]},
            {
                "https://a/2024/01": [_game(1), _game(2, 1704070800)],
                "https://a/2024/02": [_game(3, 1706745600)],
            },
        )
        out = str(tmp_path / "mout")
        s1 = run_pipeline(
            spark, ["alice"], out, transport=t, delay_s=0.0,
            commit_protocol="manifest",
        )
        assert s1.appended_games == 3
        games = read_manifest_sink(spark, f"{out}/games")
        assert games.count() == games.select("game_url").distinct().count() == 3

        s2 = run_pipeline(
            spark, ["alice"], out, transport=t, delay_s=0.0,
            commit_protocol="manifest",
        )
        assert s2.appended_games == 0
        assert read_manifest_sink(spark, f"{out}/games").count() == 3

    def test_failed_archive_not_marked_processed(self, spark, tmp_path):
        # 2024/02 will 404 -> error row, retried next run (I7).
        t = _scripted_transport(
            {"alice": ["https://a/2024/01", "https://a/2024/02"]},
            {"https://a/2024/01": [_game(1)]},
        )
        out = str(tmp_path / "out")
        s1 = run_pipeline(spark, ["alice"], out, transport=t, delay_s=0.0)
        assert s1.errors == 1
        assert s1.appended_games == 1
        state = json.loads((tmp_path / "out" / "state.json").read_text())
        assert state["alice"]["processed_archives"] == ["https://a/2024/01"]

    def test_distributed_fetch_path(self, spark, tmp_path):
        archives = {"alice": ["https://a/2024/01", "https://a/2024/02"]}
        games = {
            "https://a/2024/01": [_game(1), _game(2, 1704070800)],
            "https://a/2024/02": [_game(3, 1706745600)],
        }
        t = _scripted_transport(archives, games)

        def factory():
            # Self-contained (locals only): cloudpickle ships it by value,
            # module-level helpers would be referenced by an unimportable
            # test module on the workers.
            import json as _json

            def transport(url):
                for user, urls in archives.items():
                    if url == f"https://api.chess.com/pub/player/{user}/games/archives":
                        return 200, _json.dumps({"archives": urls})
                if url in games:
                    return 200, _json.dumps({"games": games[url]})
                return 404, ""

            return transport

        out = str(tmp_path / "out")
        s = run_pipeline(
            spark, ["alice"], out,
            transport=t, delay_s=0.0,
            distributed=True, transport_factory=factory, fetch_partitions=2,
        )
        assert s.fetched_archives == 2
        assert s.appended_games == 3
        assert spark.read.parquet(f"{out}/games").count() == 3

        # Same idempotency contract as the driver-side path.
        s2 = run_pipeline(
            spark, ["alice"], out,
            transport=t, delay_s=0.0,
            distributed=True, transport_factory=factory,
        )
        assert s2.appended_games == 0


class TestEndToEndDashboard:
    def test_ingest_then_all_visuals(self, spark, tmp_path):
        """The full user journey: CLI ingest -> curated fact -> every
        dashboard visual renders with coherent measures."""
        from chesscom_etl_tableau_spark.plans.visuals import (
            Slicers,
            enrich_games,
            result_donut,
            rolling_winrate_line,
            summary_card,
            top_openings_bar,
            top_opponents_pivot,
            winrate_by_bucket_color,
        )

        games = {
            "https://a/2024/01": [
                _game(i, 1704067200 + i * 86400) for i in range(1, 8)
            ],
        }
        t = _scripted_transport({"alice": ["https://a/2024/01"]}, games)
        out = str(tmp_path / "out")
        run_pipeline(spark, ["alice"], out, transport=t, delay_s=0.0)

        fact = enrich_games(spark.read.parquet(f"{out}/games"))

        card = summary_card(fact).first()
        assert card["total_games"] == 7
        # All fixture games are 1-0 with alice as white -> all wins.
        assert card["total_wins"] == 7 and card["total_losses"] == 0

        line = rolling_winrate_line(fact).collect()
        assert len(line) == 7
        assert all(r["rolling_win_rate"] == 1.0 for r in line)

        donut = result_donut(fact).collect()
        assert {r["outcome"]: r["games"] for r in donut} == {"win": 7}

        pivot = top_opponents_pivot(fact, n=10).collect()
        assert sum(r["total_games"] for r in pivot) == 7

        buckets = winrate_by_bucket_color(fact).collect()
        assert sum(r["total_games"] for r in buckets) == 7

        openings = top_openings_bar(fact, n=5).collect()
        assert all(r["win_rate"] == 1.0 for r in openings)

        # Slicer composition narrows every visual consistently (F7).
        sliced = summary_card(fact, Slicers(date_start="2024-01-02", date_end="2024-01-04")).first()
        assert sliced["total_games"] == 3


class TestRunPipelineFaults:
    def test_late_games_in_open_month_land_next_day(self, spark, tmp_path):
        users = ["alice", "bob", "carol", "dave"]
        months = ["2024/01", "2024/02", "2024/03"]
        archives = {
            u: [f"https://api.chess.com/pub/player/{u}/games/{m}" for m in months]
            for u in users
        }
        games = {
            url: [_game(f"{u}-{i}", 1704067200 + 86400 * 31 * i)]
            for u in users
            for i, url in enumerate(archives[u])
        }
        out = str(tmp_path / "out")
        day0 = run_pipeline(
            spark, users, out, transport=_scripted_transport(archives, games), delay_s=0.0
        )
        assert day0.appended_games == 12
        # day 1: each user's open month (2024/03) gained a late game
        late = {}
        for u in users:
            url = archives[u][-1]
            late[u] = f"https://game/{u}-late"
            games[url] = games[url] + [_game(f"{u}-late", 1709500000)]
        day1 = run_pipeline(
            spark, users, out, transport=_scripted_transport(archives, games), delay_s=0.0
        )
        assert day1.appended_games == len(users)
        urls = {r["game_url"] for r in spark.read.parquet(f"{out}/games").collect()}
        assert set(late.values()) <= urls
        assert len(urls) == 16

    def test_archive_list_failure_is_logged(self, spark, tmp_path, monkeypatch):
        from functools import partial

        from chesscom_etl_tableau_spark import cli
        from chesscom_etl_tableau_spark.sources.rest import RetryingFetcher

        monkeypatch.setattr(
            cli, "RetryingFetcher", partial(RetryingFetcher, sleep=lambda s: None)
        )
        inner = _scripted_transport(
            {"alice": ["https://a/2024/01"]}, {"https://a/2024/01": [_game(1)]}
        )

        def transport(url):
            if url == "https://api.chess.com/pub/player/bob/games/archives":
                return 503, ""
            return inner(url)

        out = str(tmp_path / "out")
        s = run_pipeline(spark, ["alice", "bob"], out, transport=transport, delay_s=0.0)
        assert s.appended_games == 1
        assert s.errors == 1
        rows = [
            r for r in spark.read.parquet(f"{out}/status").collect()
            if r["stage"] == "error_fetch_archives"
        ]
        assert [(r["username"], r["http_status"]) for r in rows] == [("bob", "503")]

    def test_malformed_game_fields_land_as_null(self, spark, tmp_path):
        # One game with a string end_time, one with a string rating: the
        # run lands every game, with NULL in the field that does not fit.
        bad_time = _game(2)
        bad_time["end_time"] = "n/a"
        bad_rating = _game(3, 1704070800)
        bad_rating["white"]["rating"] = "1500"
        t = _scripted_transport(
            {"alice": ["https://a/2024/01"]},
            {"https://a/2024/01": [_game(1), bad_time, bad_rating]},
        )
        out = str(tmp_path / "out")
        s = run_pipeline(spark, ["alice"], out, transport=t, delay_s=0.0)
        assert s.appended_games == 3
        assert s.errors == 0
        rows = {r["game_url"]: r for r in spark.read.parquet(f"{out}/games").collect()}
        assert set(rows) == {f"https://game/{i}" for i in (1, 2, 3)}
        assert rows["https://game/2"]["end_time_utc"] is None
        assert rows["https://game/2"]["white_rating"] == 1500
        assert rows["https://game/3"]["white_rating"] is None
        assert rows["https://game/3"]["black_rating"] == 1480
        assert rows["https://game/3"]["end_time_utc"] is not None
        state = json.loads((tmp_path / "out" / "state.json").read_text())
        assert state["alice"]["last_end_time"] == 1704070800


class TestDailyRunCost:
    def test_two_day_job_budget(self, spark, tmp_path, count_jobs):
        """The daily run is a fixed, small number of Spark jobs: the
        dedup plan runs once (staged straight from the plan), counts
        come from the staged files, no audit job runs when nothing
        landed since the dedup, and status rows are written once."""
        users = ["alice", "bob", "carol"]
        base = "https://api.chess.com/pub/player"
        archives = {u: [f"{base}/{u}/games/2024/0{m}" for m in (1, 2, 3)] for u in users}
        games = {
            url: [_game(f"{u}-{m}-{i}", 1704067200 + 86400 * (31 * m + i)) for i in range(5)]
            for u in users
            for m, url in enumerate(archives[u])
        }
        out = str(tmp_path / "out")

        def run():
            return run_pipeline(
                spark, users, out, transport=_scripted_transport(archives, games), delay_s=0.0
            )

        assert count_jobs(run) <= 8  # day 0: backfill of 45 games
        # day 1: a late game in each open month plus a new month
        for u in users:
            games[archives[u][-1]] = games[archives[u][-1]] + [_game(f"{u}-late", 1711900000)]
            archives[u] = archives[u] + [f"{base}/{u}/games/2024/04"]
            games[archives[u][-1]] = [_game(f"{u}-new", 1712000000)]
        assert count_jobs(run) <= 10
        sunk = spark.read.parquet(f"{out}/games")
        assert sunk.count() == sunk.select("game_url").distinct().count() == 51
        files = [f for f in os.listdir(f"{out}/games") if f.endswith(".parquet")]
        assert len(files) == 2  # one file per append
        assert len([f for f in os.listdir(f"{out}/status") if f.endswith(".parquet")]) == 2

    def test_failed_run_still_logs(self, spark, tmp_path, monkeypatch):
        from functools import partial

        from chesscom_etl_tableau_spark import cli
        from chesscom_etl_tableau_spark.sources.rest import RetryingFetcher

        monkeypatch.setattr(
            cli, "RetryingFetcher", partial(RetryingFetcher, sleep=lambda s: None)
        )
        inner = _scripted_transport(
            {"alice": ["https://a/2024/01"]}, {"https://a/2024/01": [_game(1)]}
        )

        def transport(url):
            if url == "https://api.chess.com/pub/player/bob/games/archives":
                return 503, ""
            return inner(url)

        def failing_ingest(*a, **k):
            raise RuntimeError("ingest failed")

        monkeypatch.setattr(cli, "ingest_archives", failing_ingest)
        out = str(tmp_path / "out")
        with pytest.raises(RuntimeError, match="ingest failed"):
            run_pipeline(spark, ["alice", "bob"], out, transport=transport, delay_s=0.0)
        rows = spark.read.parquet(f"{out}/status").collect()
        assert [(r["stage"], r["username"], r["http_status"]) for r in rows] == [
            ("error_fetch_archives", "bob", "503")
        ]
        assert rows[0]["timestamp_utc"] is not None
