"""Dashboard visual queries + slicer/cross-filter composition (SURVEY.md §3.3)."""

from __future__ import annotations

from pyspark.sql import functions as F

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


def user_games(games_df, user="player0"):
    return enrich_games(games_df.where(F.col("username") == user))


class TestSummaryCard:
    def test_measures_consistent(self, games_df):
        row = summary_card(user_games(games_df)).collect()[0]
        assert row["total_games"] > 0
        assert row["total_wins"] + row["total_losses"] + row["total_draws"] <= row["total_games"]
        assert abs(row["win_pct"] - round(row["total_wins"] / row["total_games"], 6)) < 1e-9

    def test_slicer_reduces(self, games_df):
        g = user_games(games_df)
        full = summary_card(g).collect()[0]["total_games"]
        sliced = summary_card(g, Slicers(time_control_buckets=["blitz"])).collect()[0]["total_games"]
        manual = g.where(F.col("time_control_bucket") == "blitz").count()
        assert sliced == manual < full


class TestRollingLine:
    def test_rolling_window_range_not_rows(self, spark):
        """Sparse dates: a 12-day frame must NOT reach past 12 calendar days."""
        from chesscom_etl_tableau_spark.plans.visuals import enrich_games

        rows = []
        # day 0: loss; day 20: win — far apart, so the day-20 window
        # must exclude day 0 (a rows-frame would include it).
        for day, res in [("2024-01-01", "0-1"), ("2024-01-21", "1-0")]:
            rows.append(
                ("player0", "a", f"u{day}{res}", "600", None, day, "player0", 1500, "opp", 1500, res, "")
            )
        df = spark.createDataFrame(
            rows,
            "username string, archive_url string, game_url string, time_control string, "
            "end_time_utc timestamp, date_ymd string, white_username string, white_rating int, "
            "black_username string, black_rating int, result string, pgn string",
        ).withColumn("date_ymd", F.to_date("date_ymd")).withColumn("ingest_time", F.current_timestamp())
        out = {str(r["date_ymd"]): r for r in rolling_winrate_line(enrich_games(df)).collect()}
        assert out["2024-01-01"]["rolling_win_rate"] == 0.0
        assert out["2024-01-21"]["rolling_win_rate"] == 1.0  # day 0 excluded
        assert out["2024-01-21"]["rolling_games"] == 1


class TestTopN:
    def test_top_opponents_at_most_n(self, games_df):
        out = top_opponents_pivot(user_games(games_df), n=3).collect()
        assert 0 < len(out) <= 3
        # sorted by losses desc (F5)
        losses = [r["total_losses"] for r in out]
        assert losses == sorted(losses, reverse=True)

    def test_null_opponent_ranked_then_dropped(self, spark):
        """A NULL opponent ranked into the top n leaves n-1 rows: the
        Top-N IN-subquery never matches a NULL key, so the one-pass
        form ranks first and drops NULL after."""
        rows = [
            ("player0", "a", f"u{opp}{i}", "600", None, "2024-01-01", "player0", 1500, opp, 1500, "0-1", "")
            for opp, k in [(None, 5), ("opp_a", 4), ("opp_b", 3), ("opp_c", 2)]
            for i in range(k)
        ]
        df = spark.createDataFrame(
            rows,
            "username string, archive_url string, game_url string, time_control string, "
            "end_time_utc timestamp, date_ymd string, white_username string, white_rating int, "
            "black_username string, black_rating int, result string, pgn string",
        ).withColumn("date_ymd", F.to_date("date_ymd"))
        out = top_opponents_pivot(enrich_games(df), n=3).collect()
        assert [(r["opponent_username"], r["total_games"], r["total_losses"]) for r in out] == [
            ("opp_a", 4, 4),
            ("opp_b", 3, 3),
        ]

    def test_top_openings(self, games_df):
        out = top_openings_bar(user_games(games_df), n=2).collect()
        assert 0 < len(out) <= 2
        assert all(r["eco"] is not None for r in out)


class TestDonutAndBuckets:
    def test_donut_sums_to_total(self, games_df):
        g = user_games(games_df)
        parts = {r["outcome"]: r["games"] for r in result_donut(g).collect()}
        assert sum(parts.values()) == g.count()

    def test_winrate_by_bucket_color_groups(self, games_df):
        out = winrate_by_bucket_color(user_games(games_df)).collect()
        assert all(0.0 <= r["win_rate"] <= 1.0 for r in out if r["win_rate"] is not None)
        seen = {(r["time_control_bucket"], r["user_color"]) for r in out}
        assert len(seen) == len(out)  # one row per group
