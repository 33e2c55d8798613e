"""Driver contract for the spark-graft builder (PySpark target).

Every registry query is one `Query` record declared in its family
module under chesscom_etl_tableau_spark/registry/; this module derives
the driver's surfaces from those records.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from chesscom_etl_tableau_spark.registry import QUERIES

EAGER_QUERIES = frozenset(q.name for q in QUERIES if q.eager)


def entry(spark: SparkSession) -> DataFrame:
    # Flagship: star join + fused measures (J3 + A12) at sf0.001.
    sf_dir = "/root/testdata/sf0.001"
    return queries()["j3_star_join"](spark, sf_dir)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Name -> builder, in driver order (the driver verifies the first 50)."""
    return {q.name: q.build for q in QUERIES}


def oracle_sql() -> dict[str, str]:
    """Name -> DuckDB SQL with the same rows as the builder's DataFrame."""
    return {q.name: q.oracle for q in QUERIES}
