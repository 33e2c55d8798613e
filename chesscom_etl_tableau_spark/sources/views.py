"""SQL surface: register the engine's tables as temp views so any query
can be phrased in Spark SQL (`spark.sql(...)`) as well as the DataFrame
API. The reference has no query language (all queries are BI-generated
IR); exposing SQL is the Spark-native superset of that surface — the
same Catalyst plans serve both front ends.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from chesscom_etl_tableau_spark.sources.tables import load_table

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TESTDATA_TABLES) -> None:
    """Create/replace one temp view per testdata table."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
