"""Nested archive records -> flat games fact rows (SURVEY.md §2.2 T1-T5).

The reference flattens each game dict with row-at-a-time Python
(fetch_and_post.py:114-161, `convert_game_to_row`); here the same
projection is a single `explode` + nested-field `select`, which Spark
evaluates null-safely (a missing `white` struct yields NULL fields, the
analogue of the reference's `(game.get('white',{}) or {}).get(...)`).

Scale note: `explode` is narrow (no shuffle); the flatten pipeline is a
pure map stage that fuses into one WholeStageCodegen span with the
downstream filter/dedup, so ingest throughput is scan-bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.functions.pgn import game_result
from chesscom_etl_tableau_spark.schemas import GAMES_SCHEMA, enforce_schema


def flatten_archives(archives: DataFrame) -> DataFrame:
    """Archive rows (username, archive_url, games[]) -> 13-column fact rows.

    Emits nothing for empty/NULL games arrays — plain `explode`, not
    _outer. NOTE: the reference still MARKS empty archives processed with
    game_count=0 (fetch_and_post.py:345-350); that bookkeeping lives in
    plans/ingest.py, which derives per-archive stats from the archive
    rows, not from this flatten.
    """
    g = F.col("game")
    exploded = archives.select(
        "username",
        "archive_url",
        F.explode("games").alias("game"),
    )
    flat = exploded.select(
        F.current_timestamp().alias("ingest_time"),  # T5 constant projection
        F.col("username"),
        F.col("archive_url"),
        g["url"].alias("game_url"),
        g["time_control"].alias("time_control"),
        # T2: epoch seconds -> UTC timestamp; garbage/NULL -> NULL (try_cast
        # mirrors the reference's empty-string-on-failure, :119-129).
        F.to_timestamp(F.from_unixtime(g["end_time"])).alias("end_time_utc"),
        F.to_date(F.to_timestamp(F.from_unixtime(g["end_time"]))).alias("date_ymd"),
        g["white"]["username"].alias("white_username"),
        g["white"]["rating"].try_cast("int").alias("white_rating"),
        g["black"]["username"].alias("black_username"),
        g["black"]["rating"].try_cast("int").alias("black_rating"),
        # T3/T4: header tag > last movetext token > "w / b" fallback > "".
        game_result(g["pgn"], g["white"]["result"], g["black"]["result"]).alias("result"),
        g["pgn"].alias("pgn"),
    ).where(F.col("game_url").isNotNull() & (F.col("game_url") != ""))  # F8
    return enforce_schema(flat, GAMES_SCHEMA)
