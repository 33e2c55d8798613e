"""Joins: star, top-n semi, anti/set difference, as-of, range, overlap and
record linkage (SURVEY.md §2 J*).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.operators.asof import asof_join
from chesscom_etl_tableau_spark.operators.ranges import (
    calendar_days,
    interval_overlap_join,
    interval_point_join,
)
from chesscom_etl_tableau_spark.operators.topk import semi_join_topn, topn_by_count
from chesscom_etl_tableau_spark.operators.linkage import linkage_weights
from chesscom_etl_tableau_spark.registry.common import _dec, _t
from chesscom_etl_tableau_spark.registry.record import query


# Fellegi-Sunter (m, u) parameters for j8_record_linkage — shared with
# the oracle, which splices the exact repr() of the derived log2
# weights so both engines sum identical double literals.
_LINKAGE_PARAMS = {
    "c_name": (0.95, 0.001),
    "c_mktsegment": (0.97, 0.2),
    "c_acctbal": (0.90, 0.001),
}


def _linkage_right(cust):
    # Deterministic CRM-export drift: %13 keys get a retyped name, %7 a
    # changed segment, %11 a repriced balance. Re-keyed +2e8 (a
    # different system's id space).
    return cust.select(
        (F.col("c_custkey") + F.lit(200000000)).alias("c_custkey"),
        F.when(
            F.col("c_custkey") % 13 == 0, F.concat(F.col("c_name"), F.lit(" JR"))
        )
        .otherwise(F.col("c_name"))
        .alias("c_name"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("DRIFTED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        F.when(F.col("c_custkey") % 11 == 0, F.col("c_acctbal") + F.lit(1.0))
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        "c_nationkey",
    )


@query(oracle="""
        SELECT o_orderkey, o_orderstatus FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    """)
def _q_j1_anti_join(spark, sf_dir):
    # J1: left-anti join on the key (idempotent-dedup shape).
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("o_orderkey"))
    return o.join(li, "o_orderkey", "left_anti").select("o_orderkey", "o_orderstatus")


@query(oracle="""
        SELECT o_orderpriority AS priority FROM orders
        EXCEPT
        SELECT * FROM (VALUES ('1-URGENT'), ('3-MEDIUM')) AS t(priority)
    """)
def _q_j2_set_diff(spark, sf_dir):
    # J2: set-difference vs an already-processed list (partition pruning).
    o = _t(spark, sf_dir, "orders")
    processed = spark.createDataFrame(
        [("1-URGENT",), ("3-MEDIUM",)], "o_orderpriority string"
    )
    return (
        o.select("o_orderpriority")
        .distinct()
        .join(F.broadcast(processed), "o_orderpriority", "left_anti")
        .select(F.col("o_orderpriority").alias("priority"))
    )


J3_STAR_JOIN = """
        SELECT r_name,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / count(*), 6) AS avg_price
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """


@query(headline="scan_bound", oracle=J3_STAR_JOIN)
def _q_j3_star_join(spark, sf_dir):
    # J3: fact -> broadcast dimension chain, grouped measures in one pass.
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return joined.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        F.round(
            F.try_divide(F.sum(_dec("o_totalprice")).cast("double"), F.count(F.lit(1))), 6
        ).alias("avg_price"),
    )


J4_TOPN_SEMI = """
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_custkey IN (
            SELECT o_custkey FROM (
                SELECT o_custkey, row_number() OVER (ORDER BY count(*) DESC, o_custkey) AS rn
                FROM orders GROUP BY o_custkey) WHERE rn <= 10)
    """


@query(headline="scan_bound", oracle=J4_TOPN_SEMI)
def _q_j4_topn_semi(spark, sf_dir):
    # J4/F3: IN-subquery semi join — fact rows of the top-10 customers
    # by order count (broadcast semi join; fact side never shuffles).
    o = _t(spark, sf_dir, "orders")
    topn = topn_by_count(o, ["o_custkey"], 10)
    return semi_join_topn(o, topn, ["o_custkey"]).select("o_orderkey", "o_custkey")


@query(oracle="""
        WITH r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS pv
                   FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
             l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                   FROM events WHERE event_type = 'click'),
        bk AS (SELECT l.event_id, l.user_id, l.ts, r.ts AS bts, r.pv AS bv
               FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts),
        fw AS (SELECT l.event_id, r.ts AS fts, r.pv AS fv
               FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts),
        j AS (SELECT bk.event_id, bk.user_id, bk.ts,
                     CASE WHEN epoch_us(bk.ts) - epoch_us(bts) <= 3600000000 THEN bts END AS bts,
                     CASE WHEN epoch_us(bk.ts) - epoch_us(bts) <= 3600000000 THEN bv END AS bv,
                     CASE WHEN epoch_us(fts) - epoch_us(bk.ts) <= 3600000000 THEN fts END AS fts,
                     CASE WHEN epoch_us(fts) - epoch_us(bk.ts) <= 3600000000 THEN fv END AS fv
              FROM bk JOIN fw USING (event_id)),
        pick AS (SELECT event_id, user_id, ts,
                        CASE WHEN bts IS NOT NULL
                                  AND (fts IS NULL
                                       OR epoch_us(ts) - epoch_us(bts)
                                          <= epoch_us(fts) - epoch_us(ts))
                             THEN 0 WHEN fts IS NOT NULL THEN 1 END AS side,
                        bts, bv, fts, fv
                 FROM j)
        SELECT event_id, user_id,
               CASE side WHEN 0 THEN CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(bts)) AS BIGINT)
                         WHEN 1 THEN CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(fts)) AS BIGINT)
               END AS near_lag_s,
               CASE side WHEN 0 THEN bv WHEN 1 THEN fv END AS near_value
        FROM pick
    """)
def _q_j9_asof_nearest(spark, sf_dir):
    # J9 (r11): the full merge_asof direction surface — for each click,
    # the NEAREST purchase in time per user (exact tie -> backward,
    # pandas' rule) within a 1-hour tolerance, via the union-tag
    # single-shuffle plan (operators/asof.py::asof_join_directions:
    # both window frames share one partitioning+ordering, so Spark
    # evaluates them in a single WindowExec — no second shuffle for
    # the forward side). Signed lag: positive = backward match won,
    # negative = forward. The DuckDB oracle composes two native ASOF
    # joins (>= backward, <= forward) and replays the tolerance gate
    # and the tie rule.
    from chesscom_etl_tableau_spark.operators.asof import asof_join_directions

    ev = _t(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    right = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    res = asof_join_directions(
        left,
        right,
        ["user_id"],
        payload_cols=["purchase_value"],
        direction="nearest",
        tolerance_s=3600,
        prefix="near_",
    )
    return res.select(
        "event_id",
        "user_id",
        (F.col("ts").cast("long") - F.col("near_ts").cast("long")).alias("near_lag_s"),
        F.col("near_purchase_value").alias("near_value"),
    )


@query(oracle="""
        WITH r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS purchase_value
                   FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
             l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                   FROM events WHERE event_type = 'click')
        SELECT l.event_id, l.user_id,
               CAST(floor(epoch(r.ts)) AS BIGINT) - CAST(floor(epoch(l.ts)) AS BIGINT) AS fwd_lead_s,
               r.purchase_value AS fwd_value
        FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
    """)
def _q_j10_asof_forward(spark, sf_dir):
    # Forward as-of (r11 cont.): for each click, the EARLIEST purchase
    # at-or-after it per user — the time-to-conversion question. Same
    # union-tag single-shuffle window plan as j5/j9; an equal-ts
    # purchase matches at distance 0 (the promotion path the direction
    # tests pin). DuckDB oracle: one native forward ASOF (l.ts <= r.ts).
    from chesscom_etl_tableau_spark.operators.asof import asof_join_directions

    ev = _t(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    right = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    res = asof_join_directions(
        left, right, ["user_id"], payload_cols=["purchase_value"],
        direction="forward", prefix="fwd_",
    )
    return res.select(
        "event_id",
        "user_id",
        (F.col("fwd_ts").cast("long") - F.col("ts").cast("long")).alias("fwd_lead_s"),
        F.col("fwd_purchase_value").alias("fwd_value"),
    )


@query(headline="scan_bound", oracle="""
        WITH r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS purchase_value
                   FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
             l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                   FROM events WHERE event_type = 'click')
        SELECT l.event_id, l.user_id,
               CAST(floor(epoch(l.ts)) AS BIGINT) - CAST(floor(epoch(r.ts)) AS BIGINT) AS asof_lag_s,
               r.purchase_value AS asof_value
        FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """)
def _q_j5_asof_join(spark, sf_dir):
    # J5 (beyond parity): as-of join — for each click, the latest
    # purchase at-or-before it per user. Union-tag single-shuffle plan,
    # no O(n·m) inequality-join explosion (operators/asof.py).
    ev = _t(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    right = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    res = asof_join(left, right, ["user_id"], payload_cols=["purchase_value"])
    return res.select(
        "event_id",
        "user_id",
        (F.col("ts").cast("long") - F.col("asof_ts").cast("long")).alias("asof_lag_s"),
        F.col("asof_purchase_value").alias("asof_value"),
    )


@query(headline="cpu_bound", oracle="""
        WITH iv AS (SELECT CAST(l_shipdate AS DATE) AS s,
                           CAST(l_shipdate AS DATE)
                               + CAST(1 + (l_orderkey * 7 + l_linenumber) % 30 AS INT) AS e
                    FROM lineitem),
        days AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                 FROM (SELECT min(s) AS d0, max(e) AS d1 FROM iv))
        SELECT day, count(*) AS n_in_transit
        FROM days JOIN iv ON day BETWEEN s AND e
        GROUP BY day
    """)
def _q_j6_range_join(spark, sf_dir):
    # J6 (beyond parity): point-in-interval range join via bin
    # bucketing (operators/ranges.py) — lineitems "in transit" per
    # calendar day. The testdata lacks TPC-H's l_receiptdate, so it is
    # reconstructed deterministically as shipdate + 1..30-day transit
    # (TPC-H's own receipt-date rule), keeping intervals short — the
    # shape bin-bucketed range joins are sized for.
    li = _t(spark, sf_dir, "lineitem")
    transit = (
        F.lit(1) + (F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 30
    ).cast("int")
    iv = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("start_d"),
        F.date_add(F.col("l_shipdate").cast("date"), transit).alias("end_d"),
    )
    days = calendar_days(iv, "start_d", "end_d")
    # bin_days=8: the transit rule is analytic (uniform 1..30 days ->
    # mean interval ~16), so the auto_bin_days answer (power of two
    # nearest half the mean = 8) is passed as a literal to keep plan
    # build job-free (the TestGlobalWindowGate zero-jobs discipline).
    # Measured at sf0.1: 1.33s at the old B=64 vs 0.71s at B=8 (r13
    # verdict ask #4 — BASELINE.md r14 note).
    joined = interval_point_join(days, iv, "day", "start_d", "end_d", bin_days=8)
    return joined.groupBy("day").agg(F.count(F.lit(1)).alias("n_in_transit"))


@query(oracle="""
        WITH iv AS (SELECT o_orderkey, o_custkey,
                           CAST(o_orderdate AS DATE) AS sd,
                           CAST(o_orderdate AS DATE) + CAST(o_orderkey % 20 AS INT) AS ed
                    FROM orders),
        a AS (SELECT o_orderkey AS a_key, sd AS a_start, ed AS a_end
              FROM iv WHERE o_custkey % 50 = 0),
        b AS (SELECT o_orderkey AS b_key, sd AS b_start, ed AS b_end
              FROM iv WHERE o_custkey % 50 = 1)
        SELECT a_key, b_key, a_start, a_end, b_start, b_end,
               CAST(date_diff('day', greatest(a_start, b_start),
                              least(a_end, b_end)) + 1 AS INT) AS overlap_days
        FROM a JOIN b ON a_start <= b_end AND b_start <= a_end
    """)
def _q_j7_overlap_join(spark, sf_dir):
    # Interval-interval overlap join (new in r5): bin-bucketed rewrite
    # of the no-equality-key range predicate; each qualifying pair is
    # emitted from exactly one bin (the overlap-start bin) so no
    # distinct pass. Oracle: the plain quadratic range predicate.
    orders = _t(spark, sf_dir, "orders")
    iv = orders.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("sd"),
        F.date_add(
            F.col("o_orderdate").cast("date"), (F.col("o_orderkey") % 20).cast("int")
        ).alias("ed"),
    )
    a = iv.where(F.col("o_custkey") % 50 == 0).select(
        F.col("o_orderkey").alias("a_key"),
        F.col("sd").alias("a_start"),
        F.col("ed").alias("a_end"),
    )
    b = iv.where(F.col("o_custkey") % 50 == 1).select(
        F.col("o_orderkey").alias("b_key"),
        F.col("sd").alias("b_start"),
        F.col("ed").alias("b_end"),
    )
    j = interval_overlap_join(a, b, "a_start", "a_end", "b_start", "b_end", bin_days=16)
    return j.select(
        "a_key",
        "b_key",
        "a_start",
        "a_end",
        "b_start",
        "b_end",
        (
            F.datediff(
                F.least("a_end", "b_end"), F.greatest("a_start", "b_start")
            )
            + 1
        ).cast("int").alias("overlap_days"),
    )


_lw = linkage_weights(_LINKAGE_PARAMS)

# Splice the weights as QUOTED strings cast to DOUBLE: DuckDB
# parses a bare float literal as DECIMAL (losing the exact double
# before any cast), while string->double parsing is correctly
# rounded — the only route that reproduces Python's repr()
# round-trip bit-for-bit.
_score_sql = "CAST(0.0 AS DOUBLE)" + "".join(
    f"""
               + CASE WHEN l.{c} IS NOT DISTINCT FROM r.{c}
                      THEN CAST('{_lw[c][0]!r}' AS DOUBLE)
                      ELSE CAST('{_lw[c][1]!r}' AS DOUBLE) END"""
    for c in ("c_name", "c_mktsegment", "c_acctbal")
)


@query(oracle=f"""
        WITH r AS (
            SELECT c_custkey + 200000000 AS c_custkey,
                   CASE WHEN c_custkey % 13 = 0 THEN c_name || ' JR'
                        ELSE c_name END AS c_name,
                   CASE WHEN c_custkey % 7 = 0 THEN 'DRIFTED'
                        ELSE c_mktsegment END AS c_mktsegment,
                   CASE WHEN c_custkey % 11 = 0 THEN c_acctbal + 1.0
                        ELSE c_acctbal END AS c_acctbal,
                   c_nationkey
            FROM customer),
        p AS (
            SELECT l.c_custkey AS id_l, r.c_custkey AS id_r,
                   l.c_name IS NOT DISTINCT FROM r.c_name AS agree_c_name,
                   l.c_mktsegment IS NOT DISTINCT FROM r.c_mktsegment
                       AS agree_c_mktsegment,
                   l.c_acctbal IS NOT DISTINCT FROM r.c_acctbal
                       AS agree_c_acctbal,
                   {_score_sql} AS score
            FROM customer l JOIN r
              ON l.c_nationkey = r.c_nationkey
             AND floor(l.c_acctbal / 50.0) = floor(r.c_acctbal / 50.0))
        SELECT id_l, id_r, agree_c_name, agree_c_mktsegment,
               agree_c_acctbal, score,
               CASE WHEN score >= 8.0 THEN 'match' ELSE 'possible' END
                   AS link_class
        FROM p WHERE score >= 0.0
    """)
def _q_j8_record_linkage(spark, sf_dir):
    # Entity resolution (new in r5 sixth session,
    # operators/linkage.py::record_linkage): customers vs a drifted
    # re-keyed export, blocked on (nation, balance band) — candidate
    # pairs ONLY from blocking-key equality, Fellegi-Sunter log2
    # evidence weights as shared double literals. A %11-drifted
    # balance can cross its band: the classic blocking recall loss,
    # deterministic here.
    from chesscom_etl_tableau_spark.operators.linkage import record_linkage

    band = lambda df: df.withColumn(
        "__block_bal", F.floor(F.col("c_acctbal") / F.lit(50.0))
    )
    cust = band(_t(spark, sf_dir, "customer"))
    right = band(_linkage_right(_t(spark, sf_dir, "customer")))
    return record_linkage(
        cust,
        right,
        block_cols=["c_nationkey", "__block_bal"],
        compare_cols=["c_name", "c_mktsegment", "c_acctbal"],
        params=_LINKAGE_PARAMS,
        id_col="c_custkey",
        match_threshold=8.0,
        possible_threshold=0.0,
    )
