"""Small shared plan utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition iff the plan has too few partitions.

    CPU-heavy per-row stages (shingling, hashing, vector math, Pandas
    UDFs) parallelize by input split; a small parquet file arrives as a
    single split and would otherwise run single-core no matter how many
    executors exist. At real scale the scan has natural splits and this
    is a no-op; the repartition only fires when the source is narrower
    than the cluster, and the data it shuffles is by definition small.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    # A frame whose plan already contains a shuffle-producing operator is
    # already spread across `spark.sql.shuffle.partitions` — and probing
    # its `.rdd` under AQE would EXECUTE the shuffle stages (jobs at
    # plan-build time). Only narrow scan/project/filter plans need the
    # spread, and for those `.rdd` is job-free.
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    shuffley = ("Join", "Aggregate", "Window", "Sort", "Repartition", "Deduplicate")
    if any(k in plan for k in shuffley):
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def cluster_for_partitioned_write(df: DataFrame, partition_col: str) -> DataFrame:
    """Hash-cluster rows by the hive partition column, with an EXPLICIT
    partition count, before a ``partitionBy(partition_col)`` write.

    Two effects (optimization r15, guide §6 "distribution-mode hash"):

    - one file per touched partition directory per write (each
      partition value lands wholly in one task), instead of
      (writer tasks x touched directories) small files;
    - the per-file writer overhead (open + parquet footer + commit
      rename per directory) is spread across ``defaultParallelism``
      tasks. The count must be explicit: a bare ``repartition(col)``
      is coalesced by AQE to ONE task for small batches, which
      serializes a 256-directory write behind a single writer —
      measured 3.5s -> 0.6s for one banded-LSH append at sf0.1.

    Parallelism is naturally capped by the number of distinct
    partition values; empty tasks are free. `defaultParallelism`
    scales with the cluster, so nothing here is tuned to local[32].
    """
    from pyspark.sql import functions as F

    spark = df.sparkSession
    n = max(int(spark.sparkContext.defaultParallelism), 1)
    return df.repartition(n, F.col(partition_col))


def global_windows(df: DataFrame) -> list[str]:
    """Window operators in `df`'s optimized plan with NO partition spec.

    A partition-undefined window moves every input row through a single
    task (`Exchange SinglePartition` + one sorted WindowExec) — the
    plan shape that dies first at scale, and the source of Spark's
    "No Partition Defined for Window operation" warning. Some uses are
    legitimate: a global rank over an already-aggregated frame whose
    row count is bounded by |groups|, not by the data. The plan-audit
    gate (tests/test_plan_shapes.py) whitelists exactly those queries
    and fails on any NEW unlisted global window, so a data-sized one
    can never land silently.

    Returns one `simpleString` per offending Window node (empty list =
    no global windows). Plan traversal only — runs zero Spark jobs.
    """
    out: list[str] = []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            out.append(node.simpleString(200))
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
        # windows inside subquery expressions count too
        subs = node.subqueries()
        for i in range(subs.size()):
            stack.append(subs.apply(i))
    return out


def _append_rows(spark, rows: list[tuple], schema, path: str) -> None:
    """Append driver-side `rows` (tuples in `schema`'s column order) to
    the parquet table at `path` as one file. The rows reach the JVM as
    one Arrow batch, so no Python worker deserializes them: for a 40-row
    audit table this write measured 0.13 s warm, against 0.42 s for
    `createDataFrame(rows).repartition(1)` (two jobs) and 0.83 s for
    `.coalesce(1)`, where one task unpickles every input partition in
    turn (local[4] on a 4-vCPU host)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    spark.createDataFrame(table, schema).coalesce(1).write.mode("append").parquet(path)
