"""The dashboard's 9 data visuals as DataFrame query builders
(SURVEY.md §2.4-§2.6, §3.3).

Each Power BI visual emits a prototypeQuery (From/Select/Where/OrderBy/
Top); these builders are the 1:1 DataFrame translations, evaluated over
an enriched games fact table. Slicer state and cross-filtering (F1/F2/
F7) compose as a single `Slicers` filter applied as WHERE conjuncts
before measure evaluation — exactly the DAX filter-context order.

All measures come from functions.measures and are computed in one
`agg()` pass per visual (measure fusion, A12).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.functions.derivations import (
    opponent_rating_bucket,
    opponent_username,
    user_color,
)
from chesscom_etl_tableau_spark.functions.measures import draw_cond, loss_cond, measure_exprs, win_cond
from chesscom_etl_tableau_spark.functions.pgn import pgn_eco
from chesscom_etl_tableau_spark.functions.time_control import time_control_bucket
from chesscom_etl_tableau_spark.operators.topk import topk_keys
from chesscom_etl_tableau_spark.operators.windows import rolling_ratio_by_day


def enrich_games(games: DataFrame) -> DataFrame:
    """Add the 5 BI-layer derived columns (SURVEY.md §1.3) to the fact."""
    u, w, b = F.col("username"), F.col("white_username"), F.col("black_username")
    return (
        games.withColumn("user_color", user_color(u, w))
        .withColumn("opponent_username", opponent_username(u, w, b))
        .withColumn(
            "opponent_rating_bucket",
            opponent_rating_bucket(u, w, F.col("white_rating"), F.col("black_rating")),
        )
        .withColumn("time_control_bucket", time_control_bucket(F.col("time_control")))
        .withColumn("eco", pgn_eco(F.col("pgn")))
    )


@dataclass
class Slicers:
    """F1/F2 slicer state + F7 cross-filter conjuncts."""

    time_control_buckets: list[str] | None = None
    date_start: dt.date | str | None = None
    date_end: dt.date | str | None = None
    opponent_rating_buckets: list[str] | None = None

    def apply(self, df: DataFrame) -> DataFrame:
        if self.time_control_buckets:
            df = df.where(F.col("time_control_bucket").isin(self.time_control_buckets))
        if self.date_start is not None and self.date_end is not None:
            df = df.where(F.col("date_ymd").between(F.lit(str(self.date_start)), F.lit(str(self.date_end))))
        if self.opponent_rating_buckets:
            df = df.where(F.col("opponent_rating_bucket").isin(self.opponent_rating_buckets))
        return df


def _filtered(games: DataFrame, slicers: Slicers | None) -> DataFrame:
    return slicers.apply(games) if slicers else games


def summary_card(games: DataFrame, slicers: Slicers | None = None) -> DataFrame:
    """Visual [5]: 5 measures in one pass (TotalGames/Wins/Losses/Draws/Win%)."""
    df = _filtered(games, slicers)
    m = measure_exprs(F.col("result"), F.col("user_color"))
    return df.agg(*m.values())


def rolling_winrate_line(games: DataFrame, days: int = 12, slicers: Slicers | None = None) -> DataFrame:
    """Visual [6]: trailing `days`-day win rate per day (W1)."""
    df = _filtered(games, slicers)
    out = rolling_ratio_by_day(
        df,
        "date_ymd",
        win_cond(F.col("result"), F.col("user_color")),
        days=days,
    )
    return out.select(
        F.col("day").alias("date_ymd"),
        F.col("roll_num").alias("rolling_wins"),
        F.col("roll_den").alias("rolling_games"),
        F.col("roll_ratio").alias("rolling_win_rate"),
    ).orderBy("date_ymd")


def top_opponents_pivot(games: DataFrame, n: int = 10, slicers: Slicers | None = None) -> DataFrame:
    """Visual [7]: per-opponent W/L/D for the top-n opponents by game
    count (F3 Top-N), sorted by losses desc (F5). One aggregate carries
    every measure and is ranked in place, with no semi-join back to the
    fact. The IN-subquery never matches a NULL key, so a NULL opponent
    ranked into the top n is dropped after ranking (n-1 rows)."""
    df = _filtered(games, slicers)
    m = measure_exprs(F.col("result"), F.col("user_color"))
    per_opponent = df.groupBy("opponent_username").agg(
        m["total_games"], m["total_wins"], m["total_losses"], m["total_draws"]
    )
    return (
        topk_keys(per_opponent, ["opponent_username"], "total_games", n)
        .where(F.col("opponent_username").isNotNull())
        .orderBy(F.col("total_losses").desc(), F.col("opponent_username").asc())
    )


def result_donut(games: DataFrame, slicers: Slicers | None = None) -> DataFrame:
    """Visual [11]: win/loss/draw breakdown from the user's perspective."""
    df = _filtered(games, slicers)
    outcome = (
        F.when(win_cond(F.col("result"), F.col("user_color")), "win")
        .when(loss_cond(F.col("result"), F.col("user_color")), "loss")
        .when(draw_cond(F.col("result")), "draw")
        .otherwise("other")
    )
    return (
        df.groupBy(outcome.alias("outcome"))
        .agg(F.count(F.lit(1)).alias("games"))
        .orderBy(F.col("games").desc(), F.col("outcome").asc())
    )


def winrate_by_bucket_color(games: DataFrame, slicers: Slicers | None = None) -> DataFrame:
    """Visual [12]: win rate by time_control_bucket x user_color (A6)."""
    df = _filtered(games, slicers)
    wins = F.count_if(win_cond(F.col("result"), F.col("user_color")))
    total = F.count(F.lit(1))
    return (
        df.groupBy("time_control_bucket", "user_color")
        .agg(
            total.alias("total_games"),
            wins.alias("total_wins"),
            F.round(F.try_divide(wins, total), 6).alias("win_rate"),
        )
        .orderBy(F.col("win_rate").desc(), F.col("time_control_bucket"), F.col("user_color"))
    )


def top_openings_bar(games: DataFrame, n: int = 5, slicers: Slicers | None = None) -> DataFrame:
    """Visual [14]: win rate for the top-n ECO openings by game count
    (F4 Top-N by measure + A7 per-opening win rate), from one ranked
    aggregate like `top_opponents_pivot`."""
    df = _filtered(games, slicers).where(F.col("eco").isNotNull())
    wins = F.count_if(win_cond(F.col("result"), F.col("user_color")))
    total = F.count(F.lit(1))
    per_eco = df.groupBy("eco").agg(
        total.alias("total_games"),
        F.round(F.try_divide(wins, total), 6).alias("win_rate"),
    )
    return topk_keys(per_eco, ["eco"], "total_games", n).orderBy(
        F.col("win_rate").desc(), F.col("eco").asc()
    )
