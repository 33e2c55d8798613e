"""Dashboard filters, slicers and top-k visuals (SURVEY.md §2 F*)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.operators.topk import topn_by_count, topn_by_measure
from chesscom_etl_tableau_spark.plans import ingest as ING
from chesscom_etl_tableau_spark.registry.common import _dec, _t
from chesscom_etl_tableau_spark.registry.record import query


@query(oracle="""
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events
        WHERE event_type IN ('purchase', 'signup')
        GROUP BY event_type
    """)
def _q_f1_in_slicer(spark, sf_dir):
    # F1: IN-list slicer predicate + grouped measures.
    ev = _t(spark, sf_dir, "events")
    return (
        ev.where(F.col("event_type").isin("purchase", "signup"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
    )


@query(oracle="""
        SELECT CAST(o_orderdate AS DATE) AS order_date, count(*) AS n_orders
        FROM orders
        WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
        GROUP BY 1
    """)
def _q_f2_between_dates(spark, sf_dir):
    # F2: BETWEEN date-range slicer.
    o = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return (
        o.where(d.between(F.lit("1995-01-01"), F.lit("1996-12-31")))
        .groupBy(d.alias("order_date"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(oracle="""
        SELECT user_id, cnt FROM (
            SELECT user_id, count(*) AS cnt,
                   row_number() OVER (ORDER BY count(*) DESC, user_id) AS rn
            FROM events GROUP BY user_id) WHERE rn <= 10
    """)
def _q_f3_top10_by_count(spark, sf_dir):
    # F3: top-10 keys by count with deterministic tie-break.
    ev = _t(spark, sf_dir, "events")
    return topn_by_count(ev, ["user_id"], 10)


@query(headline="scan_bound", oracle="""
        SELECT p_brand, revenue FROM (
            SELECT p_brand,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
                   row_number() OVER (
                       ORDER BY CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) DESC,
                       p_brand) AS rn
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand) WHERE rn <= 5
    """)
def _q_f4_top5_by_measure(spark, sf_dir):
    # F4: top-5 brands by a computed revenue measure.
    #
    # Decimal widths are deliberately narrow: extendedprice < 10^7 fits
    # (9,2) and discount < 1 fits (3,2), so the product is decimal(13,4)
    # — within Spark's 18-digit compact-long representation. The wide
    # (12,2)x(12,2) form produced decimal(25,4), forcing the aggregate
    # onto the BigDecimal slow path (~25% slower measured at sf0.1) for
    # identical exact values.
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    revenue = F.sum(
        _dec("l_extendedprice", 9, 2) * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 3, 2))
    ).cast("double")
    return topn_by_measure(joined, ["p_brand"], revenue, "revenue", 5)


@query(oracle="""
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
    """)
def _q_f5_order_limit(spark, sf_dir):
    # F5: deterministic ORDER BY ... LIMIT (TakeOrderedAndProject).
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_totalprice")
        .limit(20)
    )


@query(oracle="""
        SELECT user_id, event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events
        WHERE event_type IN ('purchase', 'view')
          AND CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-06-30'
          AND user_id IN (
              SELECT user_id FROM (
                  SELECT user_id, row_number() OVER (ORDER BY count(*) DESC, user_id) AS rn
                  FROM events GROUP BY user_id) WHERE rn <= 5)
        GROUP BY user_id, event_type
    """)
def _q_f7_cross_filter(spark, sf_dir):
    # F7: cross-filter propagation — slicer conjuncts (IN + BETWEEN +
    # a selection in another visual) compose as WHERE before measures.
    ev = _t(spark, sf_dir, "events")
    d = F.to_date("ts")
    top5 = topn_by_count(ev, ["user_id"], 5)
    return (
        ev.where(F.col("event_type").isin("purchase", "view"))
        .where(d.between(F.lit("2024-01-01"), F.lit("2024-06-30")))
        .join(F.broadcast(top5.select("user_id")), "user_id", "left_semi")
        .groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
    )


@query(oracle="""
        SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE text IS NOT NULL AND length(text) > 0
        GROUP BY lang, source
    """)
def _q_f8_nonempty_filter(spark, sf_dir):
    # F8: null/empty-drop predicates + grouped counts.
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.where(F.col("text").isNotNull() & (F.length("text") > 0))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@query(oracle="""
        WITH c AS (SELECT event_type, user_id, count(*) AS n_events
                   FROM events GROUP BY event_type, user_id)
        SELECT event_type, user_id, n_events, CAST(rank AS INT) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                         ORDER BY n_events DESC, user_id ASC) AS rank
              FROM c)
        WHERE rank <= 3
    """)
def _q_f9_topk_per_group(spark, sf_dir):
    # Top-k per group (new in r5): top-3 users by event count within
    # each event type — rank window over a pre-aggregate, deterministic
    # tie-break. The pre-agg means the window sees |groups x users|
    # rows, not raw events.
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n_events").desc(), F.col("user_id").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("event_type", "user_id", "n_events", "rank")
    )


# Eager: partitioned temp-dir write + 2 plans.
@query(eager=True, oracle="""
        SELECT event_type, count(*) AS n_events,
               CAST(sum(user_id) AS BIGINT) AS user_sum,
               TRUE AS dpp_injected,
               TRUE AS dpp_attributable_and_lossless
        FROM events
        WHERE event_type IN ('purchase', 'signup')
        GROUP BY event_type
    """)
def _q_f10_dynamic_partition_pruning(spark, sf_dir):
    # F10 (r5 cont.): DYNAMIC partition pruning — the filter lives on
    # the dimension side, the fact is hive-partitioned on the join key,
    # and Catalyst injects a runtime partition filter built from the
    # dim's rows, so the fact scan reads only the partitions the join
    # can match (at 100 TB this is the difference between scanning a
    # day and scanning a decade). The entry writes the fact partitioned
    # by event_type, joins a filtered dim, asserts the dynamicpruning
    # expression is IN the plan and that only the matching partition
    # directories are read, and returns the per-type rollup the oracle
    # recomputes from source.
    import tempfile

    with tempfile.TemporaryDirectory(prefix="sg_f10_", ignore_cleanup_errors=True) as out:
        ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
        fact_dir = f"{out}/fact"
        ev.write.partitionBy("event_type").parquet(fact_dir)
        fact = spark.read.parquet(fact_dir)
        dim = (
            ev.select("event_type").distinct()
            .withColumn("is_conversion", F.col("event_type").isin("purchase", "signup"))
        )
        def build():
            joined = fact.join(
                F.broadcast(dim.where(F.col("is_conversion"))), "event_type"
            )
            agg = joined.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("user_id").alias("user_sum"),
            )
            return agg, joined._jdf.queryExecution().executedPlan().toString()

        flag = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
        prev = spark.conf.get(flag, "true")
        try:
            spark.conf.set(flag, "true")
            agg_on, plan_on = build()
            res = sorted(map(tuple, agg_on.collect()))
            spark.conf.set(flag, "false")
            agg_off, plan_off = build()
            res_off = sorted(map(tuple, agg_off.collect()))
        finally:
            spark.conf.set(flag, prev)
        # contract: the runtime partition filter is INJECTED by the
        # optimizer (present when on, absent when off — not a trivially
        # true string match), and pruning never changes the answer
        dpp_injected = "dynamicpruning" in plan_on
        dpp_attributable = "dynamicpruning" not in plan_off
        rows = [
            (et, n, s, dpp_injected, dpp_attributable and res == res_off)
            for et, n, s in res
        ]
    return spark.createDataFrame(
        rows,
        "event_type string, n_events bigint, user_sum bigint, "
        "dpp_injected boolean, dpp_attributable_and_lossless boolean",
    )


@query(oracle="""
        SELECT user_id, event_id FROM (
            SELECT user_id, event_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events) WHERE rn = 1
    """)
def _q_f6_first_seen_wins(spark, sf_dir):
    # F6: first row per key in source processing order (the reference's
    # within-batch dedup, fetch_and_post.py:352-370).
    ev = _t(spark, sf_dir, "events")
    return ING.first_seen_wins(
        ev, ["user_id"], [F.col("ts").asc(), F.col("event_id").asc()]
    ).select("user_id", "event_id")
