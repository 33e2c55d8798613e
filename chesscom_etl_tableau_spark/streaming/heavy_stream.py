"""Streaming heavy hitters: a bounded-memory Misra-Gries candidate
state maintained across microbatches.

The streaming twin of `operators/analytics.py::heavy_hitters` (two-phase
batch MG): each microbatch's exact key counts are MERGED into a
persisted counter state capped at `m` rows using the Misra-Gries merge
(sum shared counters, then subtract the (m+1)-th largest count from all
and drop the non-positive) — the classic mergeability result
(Agarwal et al., "Mergeable Summaries", PODS 2012), which preserves the
MG guarantee ACROSS batches: any key whose true total frequency exceeds
N/(m+1) over the whole stream survives in the state, with
count_lo <= true count <= count_lo + (subtracted total).

State layout is replay-safe without batch-id bookkeeping in the data:
each batch writes state/batch-<id>/ and readers resolve the newest
generation STRICTLY BELOW the current batch id — a foreachBatch retry
of batch b re-reads exactly the state b saw the first time and
overwrites its own generation idempotently (the manifest-sink
generation discipline applied to operator state).

Scale shape: the per-batch exact groupBy is the only input-sized stage;
the state union/merge touches <= m + |batch keys| rows. For microbatches
whose own key cardinality is too large to count exactly, compose with
the batch operator's partition-local MG stage first — the merge here is
agnostic to whether the incoming summary is exact or already MG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.sources.sinks import _hadoop_fs
from chesscom_etl_tableau_spark.util import local_frame


def _latest_state_dir(spark, state_path: str, before_batch: int) -> str | None:
    """Newest ``batch-<id>`` generation strictly below ``before_batch``.

    Listed through the Hadoop FileSystem API (not os.listdir) so
    ``state_path`` follows the same path semantics as the parquet
    reads/writes around it — an hdfs:// or s3a:// state path resolves
    its generations instead of silently looking like 'no prior state'
    and restarting the cross-batch merge from scratch.
    """
    fs, p = _hadoop_fs(spark, state_path)
    if not fs.exists(p):
        return None
    gens = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch-"):
            try:
                gens.append(int(name.split("-", 1)[1]))
            except ValueError:
                continue
    gens = [g for g in gens if g < before_batch]
    if not gens:
        return None
    return state_path.rstrip("/") + f"/batch-{max(gens)}"


def streaming_heavy_hitters(
    stream: DataFrame,
    key_col: str,
    state_path: str,
    checkpoint_path: str,
    m: int = 64,
):
    """Attach the MG state maintainer to `stream`; returns the started
    query (availableNow trigger — the scheduled-drain idiom used across
    this repo's streaming surface). Read the final candidates with
    `read_heavy_state`.
    """
    spark = stream.sparkSession

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        counts = (
            batch_df.groupBy(F.col(key_col).cast("string").alias("key"))
            .agg(F.count(F.lit(1)).cast("long").alias("count_lo"))
        )
        prev_dir = _latest_state_dir(spark, state_path, batch_id)
        if prev_dir is not None:
            prev = spark.read.parquet(prev_dir)
            counts = (
                counts.unionByName(prev.select("key", "count_lo"))
                .groupBy("key")
                .agg(F.sum("count_lo").cast("long").alias("count_lo"))
            )
        # MG reduction to m counters: subtract the (m+1)-th largest
        # count from everyone, keep the strictly positive. The total
        # order (count desc, key asc) makes the cut deterministic.
        merged = counts.orderBy(
            F.col("count_lo").desc(), F.col("key").asc()
        ).limit(m + 1)
        rows = merged.collect()  # <= m+1 rows — bounded by contract
        if len(rows) > m:
            cut = rows[m]["count_lo"]
            survivors = [
                (r["key"], r["count_lo"] - cut)
                for r in rows
                if r["count_lo"] - cut > 0
            ]
        else:
            survivors = [(r["key"], r["count_lo"]) for r in rows]
        out = local_frame(spark, survivors, "key string, count_lo long")
        out.write.mode("overwrite").parquet(
            state_path.rstrip("/") + f"/batch-{batch_id}"
        )

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_heavy_state(spark, state_path: str) -> DataFrame:
    """The newest persisted candidate set: (key, count_lo), count desc."""
    d = _latest_state_dir(spark, state_path, before_batch=1 << 62)
    if d is None:
        return local_frame(spark, [], "key string, count_lo long")
    return spark.read.parquet(d).orderBy(
        F.col("count_lo").desc(), F.col("key").asc()
    )
