"""`util.local_frame`: driver-side rows reach the JVM as one Arrow batch,
so no Python worker reads them and the optimizer sees a local relation."""

from __future__ import annotations

import ast
import datetime as dt
import json
import pathlib
from zoneinfo import ZoneInfo

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.sources.rest import RetryingFetcher, fetch_archives
from chesscom_etl_tableau_spark.util import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "chesscom_etl_tableau_spark"


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


class TestRoundTrip:
    SCHEMA = (
        "s string, b bigint, i int, d double, f boolean, a array<double>, "
        "aa array<array<double>>, t timestamp"
    )

    def test_every_type_and_row_input(self, spark):
        at = dt.datetime(2024, 1, 1, 12, tzinfo=dt.timezone(dt.timedelta(hours=2)))
        berlin = dt.datetime(2024, 7, 1, 12, tzinfo=ZoneInfo("Europe/Berlin"))
        rows = [
            ("x", 2**40, 7, 1.5, True, [1.0, None], [[1.0], [2.0, 3.0]], at),
            Row(None, None, None, None, None, None, None, None),
            ("y", -(2**62), -(2**31), -0.25, False, [], [], berlin),
        ]
        df = local_frame(spark, rows, self.SCHEMA)
        assert df.schema.simpleString() == (
            "struct<s:string,b:bigint,i:int,d:double,f:boolean,a:array<double>,"
            "aa:array<array<double>>,t:timestamp>"
        )
        got = df.select(
            "s", "b", "i", "d", "f", "a", "aa", F.unix_timestamp("t").alias("epoch")
        ).collect()
        assert [tuple(r) for r in got] == [
            ("x", 2**40, 7, 1.5, True, [1.0, None], [[1.0], [2.0, 3.0]], int(at.timestamp())),
            (None,) * 8,
            ("y", -(2**62), -(2**31), -0.25, False, [], [], int(berlin.timestamp())),
        ]

    def test_naive_datetime_is_local_time(self, spark):
        """The instant the pickled path gave a naive datetime: local time."""
        naive = dt.datetime(2024, 3, 10, 8, 30)
        got = local_frame(spark, [(naive,)], "t timestamp").select(F.unix_timestamp("t")).first()[0]
        assert got == int(naive.timestamp())

    def test_rows_keep_declared_integer_widths(self, spark):
        """`Row`s collected from a frame go back with that frame's schema."""
        src = spark.range(3).select(
            F.col("id").cast("int").alias("bucket"), (F.col("id") + 2**40).alias("query_id")
        )
        back = local_frame(spark, src.collect(), src.schema)
        assert back.schema == src.schema
        assert back.collect() == src.collect()

    def test_none_in_non_nullable_field_rejected(self, spark):
        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType([StructField("k", LongType(), nullable=False)])
        with pytest.raises(ValueError, match="'k'"):
            local_frame(spark, [(1,), (None,)], schema)


class TestPlans:
    def test_empty_frame_is_an_empty_local_relation(self, spark):
        plan = _optimized(local_frame(spark, [], "game_url string"))
        assert plan.startswith("LocalRelation <empty>")

    def test_anti_join_against_an_empty_frame_plans_no_join(self, spark):
        keys = spark.range(10).select(F.col("id").cast("string").alias("game_url"))
        joined = keys.join(local_frame(spark, [], "game_url string"), "game_url", "left_anti")
        assert "Join" not in _optimized(joined)

    def test_rows_are_a_local_relation(self, spark, count_jobs):
        df = local_frame(spark, [("a", 1), ("b", 2)], "k string, v bigint")
        filtered = df.where(F.col("v") > 1)
        assert _optimized(filtered).startswith("LocalRelation")
        rows = []
        assert count_jobs(lambda: rows.extend(filtered.collect())) == 0
        assert rows == [Row(k="b", v=2)]

    def test_fetch_archives_frame_is_local(self, spark):
        def transport(url):
            return 200, json.dumps({"games": [{"url": f"{url}/g1", "end_time": 1}]})

        fetcher = RetryingFetcher(transport, delay_s=0.0)
        archives, errors = fetch_archives(spark, fetcher, [("alice", "https://a/2024/01")])
        assert errors == []
        assert "LogicalRDD" not in _optimized(archives)
        assert archives.count() == 1


def _create_data_frame_calls(path: pathlib.Path) -> list[int]:
    tree = ast.parse(path.read_text())
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]


def test_library_frames_go_through_local_frame():
    """Library code (outside the registry's query fixtures) builds no
    frame with `createDataFrame` itself: a list would be pickled into a
    Python RDD. `util.local_frame` is the one place that hands Spark an
    Arrow table."""
    offenders = [
        f"{path.relative_to(PACKAGE)}:{line}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.name != "util.py" and "registry" not in path.relative_to(PACKAGE).parts
        for line in _create_data_frame_calls(path)
    ]
    assert offenders == [], f"use util.local_frame: {offenders}"
