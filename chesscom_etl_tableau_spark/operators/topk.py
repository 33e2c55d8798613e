"""Top-N-by-aggregate with IN-subquery semantics (SURVEY.md §2.6 F3/F4).

The reference's dashboard restricts visuals to "top 10 opponents by
game count" / "top 5 openings by games" via a Top-N subquery feeding an
IN filter (Report/Layout visualContainers [7],[14]). The Spark shape:

  1. aggregate to per-key measures (shuffle reduced by map-side combine
     — the grouped output is |keys| rows, tiny vs the fact table),
  2. rank with `row_number` over (measure desc, key asc) — the key
     tie-break makes the result deterministic, which the BI engine does
     not guarantee but an oracle-checked engine must,
  3. either return the ranked keys, or left-semi join the fact rows
     back (the IN semantics). The ranked-keys side is tiny, so Spark
     broadcasts it for the semi join — no extra shuffle of the fact.

Scale note: the global `row_number` window moves only the aggregated
keys (not fact rows) to one partition.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_keys(
    grouped: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    n: int,
    ascending: bool = False,
) -> DataFrame:
    """Rank an aggregated (key, measure) DataFrame and keep the top n.

    Deterministic: ties on the measure break by key columns ascending.
    """
    order = [F.col(order_col).asc() if ascending else F.col(order_col).desc()]
    order += [F.col(k).asc() for k in key_cols]
    w = Window.orderBy(*order)
    return (
        grouped.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )


def topn_by_count(df: DataFrame, key_cols: Sequence[str], n: int) -> DataFrame:
    """F3: top-n keys by row count (A11's COUNT inside the subquery)."""
    grouped = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("cnt"))
    return topk_keys(grouped, key_cols, "cnt", n)


def topn_by_measure(df: DataFrame, key_cols: Sequence[str], measure: Column, measure_name: str, n: int) -> DataFrame:
    """F4: top-n keys by an arbitrary aggregate measure."""
    grouped = df.groupBy(*key_cols).agg(measure.alias(measure_name))
    return topk_keys(grouped, key_cols, measure_name, n)


def semi_join_topn(
    fact: DataFrame, topn: DataFrame, key_cols: Sequence[str], n_bound: int | None = None
) -> DataFrame:
    """J4: restrict fact rows to the top-n keys (IN-subquery semantics).

    The top-n side is <= n rows, and a broadcast left-semi join avoids
    shuffling the (huge) fact side. The hint goes through the static
    size fence (``plans/fence.py``, verdict-r5 ask #4): pass the
    caller's ``n`` as ``n_bound`` and the hint is applied only while
    the bound is broadcast-safe — a pathological top-10M request falls
    back to the planner's choice instead of a forced broadcast.
    """
    from chesscom_etl_tableau_spark.plans.fence import SURVIVOR_BROADCAST_MAX_ROWS, bounded_broadcast

    build = topn.select(*key_cols)
    bound = n_bound if n_bound is not None else SURVIVOR_BROADCAST_MAX_ROWS
    return fact.join(bounded_broadcast(build, bound), on=list(key_cols), how="left_semi")
