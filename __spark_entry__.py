"""Driver contract for the spark-graft builder (PySpark target).

Every operator from SURVEY.md §2 (IDs S*/T*/J*/A*/W*/F*) plus the
LLM-data-pipeline operators (dedup/similarity/text, BASELINE.json north
star) is exposed as a named query over the driver testdata tables, with
a DuckDB oracle where SQL can express the same semantics. Chess-domain
operators run on TPC-H-ish stand-ins per FIXTURES.md §6; the
chess-specific pipeline itself is covered by tests/ over synthetic
archive fixtures.

Determinism rules used throughout (so value hashes match the oracle):
- money/quantity sums go through exact decimal casts, final cast to
  double (fp-order-independent);
- ratios are double divisions of exact integers/decimals, rounded to 6;
- every top-k has a total order (measure desc, key asc);
- int widths are aligned (DuckDB year()->BIGINT vs Spark INT, etc.).
"""

from __future__ import annotations

import contextlib as _contextlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.operators import analytics as AN
from chesscom_etl_tableau_spark.operators import dedup as D
from chesscom_etl_tableau_spark.operators import multimodal as MM
from chesscom_etl_tableau_spark.operators import sessions as SESS
from chesscom_etl_tableau_spark.operators import skew as SK
from chesscom_etl_tableau_spark.operators import similarity as SIM
from chesscom_etl_tableau_spark.operators import text as TX
from chesscom_etl_tableau_spark.operators.asof import asof_join
from chesscom_etl_tableau_spark.operators.components import (
    component_survivors,
    connected_components,
)
from chesscom_etl_tableau_spark.operators.date_dim import date_dim_for
from chesscom_etl_tableau_spark.operators.ranges import (
    calendar_days,
    interval_overlap_join,
    interval_point_join,
)
from chesscom_etl_tableau_spark.operators import training as TR
from chesscom_etl_tableau_spark.operators.topk import semi_join_topn, topn_by_count, topn_by_measure
from chesscom_etl_tableau_spark.plans.fence import fenced_broadcast
from chesscom_etl_tableau_spark.operators.windows import rolling_ratio_by_day
from chesscom_etl_tableau_spark.cli import parse_usernames
from chesscom_etl_tableau_spark.functions.derivations import (
    opponent_rating,
    opponent_username,
    rating_bucket,
    user_color,
)
from chesscom_etl_tableau_spark.functions.pgn import game_result, pgn_eco
from chesscom_etl_tableau_spark.plans import ingest as ING
from chesscom_etl_tableau_spark.plans.status import StatusLogger
from chesscom_etl_tableau_spark.sources.sinks import export_for_bi
from chesscom_etl_tableau_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dec(col, p=12, s=2):
    return F.col(col).cast(f"decimal({p},{s})") if isinstance(col, str) else col.cast(f"decimal({p},{s})")


# ---------------------------------------------------------------------------
# Flagship: star join + fused measures (J3 + A12) at sf0.001.
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    sf_dir = "/root/testdata/sf0.001"
    return _q_j3_star_join(spark, sf_dir)


# ---------------------------------------------------------------------------
# Query builders
# ---------------------------------------------------------------------------
def _q_s4_key_scan(spark, sf_dir):
    # S4: single-column dedup-key scan (column-pruned projection).
    return _t(spark, sf_dir, "orders").select("o_orderkey")


def _q_t1_flatten_nested(spark, sf_dir):
    # T1/S2: build nested (custkey, games[]) records, then explode +
    # flatten back — the archive-JSON shape on testdata. Round-trips to
    # the flat projection, which is what the oracle checks.
    orders = _t(spark, sf_dir, "orders")
    nested = orders.groupBy("o_custkey").agg(
        F.collect_list(F.struct("o_orderkey", "o_totalprice")).alias("games")
    )
    g = F.col("game")
    return nested.select("o_custkey", F.explode("games").alias("game")).select(
        "o_custkey",
        g["o_orderkey"].alias("o_orderkey"),
        g["o_totalprice"].alias("o_totalprice"),
    )


def _q_t2_epoch_date(spark, sf_dir):
    # T2: timestamp -> date + calendar parts + epoch-day.
    ev = _t(spark, sf_dir, "events")
    d = F.to_date("ts")
    return ev.select(
        "event_id",
        d.alias("event_date"),
        F.year(d).alias("y"),
        F.month(d).alias("m"),
        F.dayofmonth(d).alias("d"),
        F.datediff(d, F.lit("1970-01-01")).alias("epoch_day"),
    )


def _q_t3_regex_fallback(spark, sf_dir):
    # T3/T4: prioritized regex extraction with fallback chain
    # (header-tag > last token > ''), the PGN-result pattern.
    docs = _t(spark, sf_dir, "documents")
    primary = F.nullif(F.regexp_extract(F.col("text"), r"key ([a-z0-9]+)", 1), F.lit(""))
    last_tok = F.try_element_at(TX.word_tokens(F.col("text")), F.lit(-1))
    return docs.select(
        "doc_id",
        F.coalesce(primary, last_tok, F.lit("")).alias("extracted"),
    )


def _q_t9_bucket_case(spark, sf_dir):
    # T9: CASE-chain bucketing (time-control-bucket pattern) + agg.
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .when(F.col("o_totalprice") < 300000, "large")
        .otherwise("jumbo")
    )
    return (
        o.groupBy(bucket.alias("price_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        )
    )


def _q_t10_width_bucket(spark, sf_dir):
    # T10: fixed-width numeric bucketing (opponent-rating-bucket pattern).
    c = _t(spark, sf_dir, "customer")
    lo = (F.floor(F.col("c_acctbal") / 1000) * 1000).cast("bigint")
    return c.groupBy(lo.alias("acctbal_bucket")).agg(F.count(F.lit(1)).alias("n_customers"))


def _q_t12_date_dim(spark, sf_dir):
    # T12: generated calendar dimension over the orders date range.
    o = _t(spark, sf_dir, "orders").select(F.to_date("o_orderdate").alias("d"))
    dim = date_dim_for(o, "d")
    return dim.select(
        "date",
        F.col("year").cast("int").alias("year"),
        F.col("month").cast("int").alias("month"),
        F.col("day").cast("int").alias("day"),
        F.col("quarter").cast("int").alias("quarter"),
    )


def _q_j1_anti_join(spark, sf_dir):
    # J1: left-anti join on the key (idempotent-dedup shape).
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("o_orderkey"))
    return o.join(li, "o_orderkey", "left_anti").select("o_orderkey", "o_orderstatus")


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


def _q_j4_topn_semi(spark, sf_dir):
    # J4/F3: IN-subquery semi join — fact rows of the top-10 customers
    # by order count (broadcast semi join; fact side never shuffles).
    o = _t(spark, sf_dir, "orders")
    topn = topn_by_count(o, ["o_custkey"], 10)
    return semi_join_topn(o, topn, ["o_custkey"]).select("o_orderkey", "o_custkey")


def _q_a1_card_measures(spark, sf_dir):
    # A1-A5/A12: five fused measures in one aggregation pass.
    o = _t(spark, sf_dir, "orders")
    total = F.count(F.lit(1))
    f_cnt = F.count_if(F.col("o_orderstatus") == "F")
    o_cnt = F.count_if(F.col("o_orderstatus") == "O")
    return o.agg(
        total.alias("total_orders"),
        f_cnt.alias("fulfilled"),
        o_cnt.alias("open_orders"),
        F.round(F.try_divide(f_cnt, total), 6).alias("fulfilled_ratio"),
        F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
    )


def _q_a6_ratio_by_group(spark, sf_dir):
    # A6: ratio measure under group context (win-rate pattern).
    o = _t(spark, sf_dir, "orders")
    wins = F.count_if(F.col("o_orderstatus") == "F")
    total = F.count(F.lit(1))
    return o.groupBy("o_orderpriority").agg(
        total.alias("n_orders"),
        wins.alias("n_fulfilled"),
        F.round(F.try_divide(wins, total), 6).alias("fulfilled_ratio"),
    )


def _q_a8_count_by_key(spark, sf_dir):
    # A8: COUNTROWS per key (games-vs-opponent pattern).
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n_events"))


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


def _q_q1_pricing_summary(spark, sf_dir):
    # Headline scan+agg: TPC-H Q1-shaped pricing summary on lineitem.
    li = _t(spark, sf_dir, "lineitem").where(F.to_date("l_shipdate") <= F.lit("1998-09-02"))
    qty = _dec("l_quantity")
    price = _dec("l_extendedprice")
    disc = _dec("l_discount")
    disc_price = price * (F.lit(1).cast("decimal(12,2)") - disc)
    charge = disc_price * (F.lit(1).cast("decimal(12,2)") + _dec("l_tax"))
    cnt = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.round(F.try_divide(F.sum(qty).cast("double"), cnt), 6).alias("avg_qty"),
            F.round(F.try_divide(F.sum(price).cast("double"), cnt), 6).alias("avg_price"),
            F.round(F.try_divide(F.sum(disc).cast("double"), cnt), 6).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


def _q_w1_rolling_12d(spark, sf_dir):
    # W1: trailing 12-day ratio via per-day pre-agg + RANGE frame.
    ev = _t(spark, sf_dir, "events")
    return rolling_ratio_by_day(ev, "ts", F.col("event_type") == "purchase", days=12)


def _q_w2_rollup_drill(spark, sf_dir):
    # W2: Year->Month->Day hierarchy drill as ROLLUP grouping sets.
    ev = _t(spark, sf_dir, "events")
    d = F.to_date("ts")
    base = ev.select(
        F.year(d).alias("y"), F.month(d).alias("m"), F.dayofmonth(d).alias("d")
    )
    return base.rollup("y", "m", "d").agg(F.count(F.lit(1)).alias("n_events"))


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


def _q_f2_between_dates(spark, sf_dir):
    # F2: BETWEEN date-range slicer.
    o = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return (
        o.where(d.between(F.lit("1995-01-01"), F.lit("1996-12-31")))
        .groupBy(d.alias("order_date"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def _q_f3_top10_by_count(spark, sf_dir):
    # F3: top-10 keys by count with deterministic tie-break.
    ev = _t(spark, sf_dir, "events")
    return topn_by_count(ev, ["user_id"], 10)


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


def _q_f5_order_limit(spark, sf_dir):
    # F5: deterministic ORDER BY ... LIMIT (TakeOrderedAndProject).
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_totalprice")
        .limit(20)
    )


def _q_a13_percentiles(spark, sf_dir):
    # A13 (beyond parity): exact percentiles per group — the quality-
    # threshold aggregate a filtering pipeline derives cutoffs from.
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.round(F.percentile("n_chars", F.lit(0.5)), 6).alias("p50_chars"),
        F.round(F.percentile("n_chars", F.lit(0.9)), 6).alias("p90_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def _q_a18_approx_percentiles(spark, sf_dir):
    # A18: mergeable-sketch percentiles (approx_percentile) next to the
    # exact values — at 100 TB the sketch is the only option (fixed
    # memory, mergeable partials). Same oracle pattern as a14: the
    # deterministic exact columns hash-check; the sketch's accuracy
    # surfaces as a boolean contract (approx within the exact p25..p75
    # band for p50, p75..max for p95 — rank-error bounds a value
    # comparison can check cross-engine).
    docs = _t(spark, sf_dir, "documents")
    agg = docs.groupBy("lang").agg(
        F.percentile_approx("n_chars", F.lit(0.5), F.lit(1000)).alias("_a50"),
        F.percentile_approx("n_chars", F.lit(0.95), F.lit(1000)).alias("_a95"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 6).alias("exact_p50"),
        F.round(F.percentile("n_chars", F.lit(0.95)), 6).alias("exact_p95"),
        F.round(F.percentile("n_chars", F.lit(0.25)), 6).alias("_p25"),
        F.round(F.percentile("n_chars", F.lit(0.75)), 6).alias("_p75"),
        F.max("n_chars").alias("_mx"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return agg.select(
        "lang",
        "exact_p50",
        "exact_p95",
        "n_docs",
        (
            (F.col("_a50") >= F.col("_p25")) & (F.col("_a50") <= F.col("_p75"))
        ).alias("p50_within_band"),
        (
            (F.col("_a95") >= F.col("_p75")) & (F.col("_a95") <= F.col("_mx"))
        ).alias("p95_within_band"),
    )


def _q_a14_approx_distinct(spark, sf_dir):
    # A14 (beyond parity): HLL++ approximate distinct next to the exact
    # count — the sketch that replaces exact distinct at 100 TB (no
    # per-key state, mergeable partials). The raw estimate is
    # engine-specific, so the oracle-checked surface is the
    # deterministic columns plus the sketch's accuracy CONTRACT as a
    # boolean (|approx − exact| ≤ 5·rsd·exact; 5 standard errors, so a
    # false value is a real sketch bug, not noise). The raw estimate's
    # bound is additionally property-tested in tests/test_round4_guards.py.
    ev = _t(spark, sf_dir, "events")
    rsd = 0.02
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=rsd).alias("_approx"),
        F.count_distinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(
        "event_type",
        "exact_users",
        "n_events",
        (
            F.abs(F.col("_approx") - F.col("exact_users"))
            <= 5 * rsd * F.col("exact_users")
        ).alias("approx_within_bound"),
    )


def _q_q1_sql_surface(spark, sf_dir):
    # The same engine through the SQL front end: q1 phrased as
    # spark.sql over registered views — identical oracle as
    # q1_pricing_summary (same Catalyst plan shape either way).
    from chesscom_etl_tableau_spark.sources.views import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
               round(try_divide(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), count(*)), 6) AS avg_qty,
               round(try_divide(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), count(*)), 6) AS avg_price,
               round(try_divide(CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE), count(*)), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE to_date(l_shipdate) <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """
    )


def _q_q6_sql_surface(spark, sf_dir):
    # SQL front-end twin of q6_forecast_revenue (extends the r4 ask-#8
    # pattern to the TPC-H suite): same scan-filter-agg via spark.sql;
    # plan identity with the DataFrame form asserted in
    # tests/test_round5_guards.py.
    from chesscom_etl_tableau_spark.sources.views import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE to_date(l_shipdate) >= DATE '1996-01-01'
          AND to_date(l_shipdate) < DATE '1997-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
        """
    )


def _q_a1_sql_surface(spark, sf_dir):
    # SQL front end twin of a1_card_measures (r4 verdict ask #8): same
    # five fused measures via spark.sql over a registered view. The
    # Catalyst plans of both forms are asserted identical in
    # tests/test_round5_guards.py — SQL is a front end, not a fork.
    from chesscom_etl_tableau_spark.sources.views import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT count(*) AS total_orders,
               count_if(o_orderstatus = 'F') AS fulfilled,
               count_if(o_orderstatus = 'O') AS open_orders,
               round(try_divide(count_if(o_orderstatus = 'F'), count(*)), 6) AS fulfilled_ratio,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM orders
        """
    )


def _q_j4_sql_surface(spark, sf_dir):
    # SQL twin of j4_topn_semi: the IN-subquery form Catalyst rewrites
    # to the same broadcast left-semi join the DataFrame form declares
    # explicitly (plan shape pinned in tests/test_round5_guards.py).
    from chesscom_etl_tableau_spark.sources.views import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_custkey IN (
            SELECT o_custkey FROM (
                SELECT o_custkey, count(*) AS cnt FROM orders
                GROUP BY o_custkey
                ORDER BY cnt DESC, o_custkey ASC
                LIMIT 10))
        """
    )


def _q_j3_sql_surface(spark, sf_dir):
    # SQL twin of j3_star_join with explicit BROADCAST hints — the SQL
    # spelling of the DataFrame form's F.broadcast() calls.
    from chesscom_etl_tableau_spark.sources.views import register_views

    register_views(spark, sf_dir, ("orders", "customer", "nation", "region"))
    return spark.sql(
        """
        SELECT /*+ BROADCAST(c), BROADCAST(n), BROADCAST(r) */
               r_name,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
               round(try_divide(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), count(*)), 6) AS avg_price
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r_name
        """
    )


def _q_w3_sessionize(spark, sf_dir):
    # W3 (beyond parity): gap-based sessionization, 30-min gap.
    ev = _t(spark, sf_dir, "events")
    return SESS.sessionize(ev, gap_minutes=30, tiebreak_cols=("event_id",)).select(
        "user_id", "event_id", F.col("session_seq").cast("bigint").alias("session_seq")
    )


def _q_w3_session_stats(spark, sf_dir):
    # Per-session rollup: bounds, counts, duration.
    ev = _t(spark, sf_dir, "events")
    return SESS.session_stats(ev, gap_minutes=30, tiebreak_cols=("event_id",)).select(
        "user_id",
        F.col("session_seq").cast("bigint").alias("session_seq"),
        "n_events",
        "session_start",
        "session_end",
        "duration_s",
    )


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


def _q_a8_salted_count(spark, sf_dir):
    # A8 under skew: salted two-phase count — identical output to the
    # direct groupBy, balanced shuffle under hot keys.
    ev = _t(spark, sf_dir, "events")
    return SK.salted_count_by_key(ev, ["user_id", "event_type"], salt=16)


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


# --- LLM-pipeline operators (BASELINE.json north star) ---------------------
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


def _q_dedup_components(spark, sf_dir):
    # Cluster resolution over near-dup pair edges: connected components
    # by iterative min-label propagation (operators/components.py).
    docs = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, k=3, threshold=0.5).select("doc_a", "doc_b")
    return connected_components(docs.select("doc_id"), pairs)


def _q_text_winnow(spark, sf_dir):
    # Winnowing rolling-hash fingerprints (k=5-gram, window 4) with an
    # engine-portable polynomial hash so the oracle matches values.
    docs = _t(spark, sf_dir, "documents")
    return TX.winnow_fingerprints(docs, k=5, w=4)


def _q_w5_cube(spark, sf_dir):
    # W5 (beyond parity): CUBE grouping sets over day-of-month x
    # event_type with exact decimal sums.
    ev = _t(spark, sf_dir, "events")
    d = F.to_date("ts")
    base = ev.select(F.dayofmonth(d).alias("d"), "event_type", F.col("value"))
    return base.cube("d", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_dec("value")).cast("double").alias("sum_value"),
    )


def _q_train_split(spark, sf_dir):
    # Deterministic train/val/test assignment by multiplicative hash
    # bucket — reproducible across runs and engines (operators/training.py).
    docs = _t(spark, sf_dir, "documents")
    return TR.assign_split(docs).select("doc_id", "split")


def _q_train_chunks(spark, sf_dir):
    # Sliding-window token chunking (64-token windows, stride 48).
    docs = _t(spark, sf_dir, "documents")
    return TR.chunk_sliding(docs, chunk_tokens=64, stride=48)


def _q_train_pack(spark, sf_dir):
    # Token-budget sequence packing: cumulative-prefix binning per
    # source in stable doc_id order.
    docs = _t(spark, sf_dir, "documents")
    return TR.pack_by_token_budget(docs, budget=512)


def _q_train_shard_pack(spark, sf_dir):
    # GLOBAL token-budget shard assignment (r11): the export-side
    # sharding step — shard_id = floor(global preceding-token cumsum /
    # budget) in stable doc_id order, computed WITHOUT a data-sized
    # global window via the two-pass distributed prefix sum
    # (range-bucket partials -> tiny offsets cumsum -> within-bucket
    # window; operators/training.py::shard_by_token_budget). The
    # DuckDB oracle is the plain global window cumsum the trick
    # replaces — values match exactly (integer prefix sums are
    # associative).
    docs = _t(spark, sf_dir, "documents")
    return TR.shard_by_token_budget(docs, budget=4096, bucket_width=64)


def _q_text_redact_pii(spark, sf_dir):
    # PII redaction: email -> phone -> long-digit masking with counts.
    docs = _t(spark, sf_dir, "documents")
    return TR.redact_pii(docs)


def _q_text_tfidf_top5(spark, sf_dir):
    # Top-5 terms per document by smoothed tf-idf.
    docs = _t(spark, sf_dir, "documents")
    return TR.tfidf_top_terms(docs, top_n=5)


def _q_text_quality_filter(spark, sf_dir):
    # Gopher/C4-style quality gate with auditable per-rule reasons.
    docs = _t(spark, sf_dir, "documents")
    return TX.quality_filter(docs)


def _q_a15_funnel(spark, sf_dir):
    # Strict-order conversion funnel over the events stream.
    ev = _t(spark, sf_dir, "events")
    return AN.funnel_conversion(ev).select(
        F.col("step_idx").cast("int").alias("step_idx"), "step", "n_users"
    )


def _q_a16_retention(spark, sf_dir):
    # Daily cohort retention matrix (cohort = first active day; the
    # synthetic corpus is dense enough that weekly collapses to one
    # cohort, daily exercises a real matrix).
    ev = _t(spark, sf_dir, "events")
    return AN.retention_matrix(ev, period="day")


def _q_w6_pivot(spark, sf_dir):
    # Daily activity pivot: fixed event-type columns, stable schema.
    ev = _t(spark, sf_dir, "events")
    return AN.pivot_counts(ev)


def _q_text_bm25_topk(spark, sf_dir):
    # BM25 retrieval (Lucene IDF) for a fixed query bag — the
    # curation/RAG ranking primitive. Top-20, 1e-6-rounded scores,
    # doc_id tiebreak.
    docs = _t(spark, sf_dir, "documents")
    return TX.bm25_topk(docs, ["spark", "join", "window"], top_k=20)


def _q_train_mixture(spark, sf_dir):
    # Deterministic data-mixture downsampling: src0 keeps 20%, src1
    # keeps 50%, src2 is dropped, everything else kept in full.
    docs = _t(spark, sf_dir, "documents")
    return TR.mixture_sample(
        docs, {"src0": 0.2, "src1": 0.5, "src2": 0.0}
    ).select("doc_id", "source")


def _q_train_stratified(spark, sf_dir):
    # Deterministic 5-per-source stratified sample.
    docs = _t(spark, sf_dir, "documents")
    return TR.stratified_sample(docs, 5).select("doc_id", "source")


def _q_emb_label_centroids(spark, sf_dir):
    # Per-label mean embedding (class prototypes), exploded rows.
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.label_centroids(emb)


def _q_emb_quantize(spark, sf_dir):
    # Symmetric int8 quantization of the embedding column.
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.quantize_int8(emb)


def _q_dedup_cluster_survivors(spark, sf_dir):
    # One row per near-dup cluster: survivor (min id) + member count —
    # the keep-list the dedup pass of a corpus build actually emits.
    docs = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, k=3, threshold=0.5).select("doc_a", "doc_b")
    comp = connected_components(docs.select("doc_id"), pairs)
    return component_survivors(comp)


def _q_train_decontaminate(spark, sf_dir):
    # Train/test leakage detection: cross-split pairs sharing rare
    # winnowing fingerprints (df-capped inverted index).
    docs = _t(spark, sf_dir, "documents")
    return TR.decontaminate(docs, k=5, w=4, max_df=5, min_shared=1)


def _q_text_repetition(spark, sf_dir):
    # Gopher-style duplicate-3-gram repetition ratio per document.
    docs = _t(spark, sf_dir, "documents")
    return TX.repetition_score(docs, k=3)


def _q_pipeline_corpus_build(spark, sf_dir):
    # Capstone composition — the corpus-build pipeline as ONE
    # declarative plan: exact-dedup survivors -> quality filter ->
    # mixture downsample -> split assignment -> per-split stats.
    # Catalyst pushes the mixture/quality filters below the joins; the
    # operators compose because each is a plain DataFrame transform.
    docs = _t(spark, sf_dir, "documents")
    survivors = D.exact_dedup(docs)
    qual = TX.quality_metrics(docs).select("doc_id", "n_tokens", "quality_score")
    kept = survivors.join(qual, "doc_id").where(F.col("quality_score") >= 0.3)
    mixed = TR.mixture_sample(kept, {"src0": 0.2, "src1": 0.5, "src2": 0.0})
    split = TR.assign_split(mixed)
    micro = F.floor(F.col("quality_score") * F.lit(1000000.0) + F.lit(0.5))
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        (
            F.floor(F.sum(micro) / F.count(F.lit(1)) + F.lit(0.5)).cast("double")
            / F.lit(1000000.0)
        ).alias("avg_quality"),
    )


def _q_dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return D.exact_dup_groups(docs)


def _q_dedup_incremental_exact(spark, sf_dir):
    # Incremental ingest dedup: the new batch (doc_id % 5 == 4) is
    # deduped against the already-ingested corpus via the compact
    # fingerprint index — the corpus text is never re-scanned.
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 5 != 4)
    batch = docs.where(F.col("doc_id") % 5 == 4)
    index = D.dedup_index_frame(corpus, with_signature=False)
    return D.incremental_exact_dedup(batch, index).select("doc_id", "lang", "source")


def _lsh_contract(exact, found, key_cols, sim_col, floor):
    """Contract-style oracle surface for an LSH/ANN result (r4 verdict
    ask #1, the a14/a18 pattern): the DETERMINISTIC exact pair set (ids
    + exact similarity — recomputed independently by the DuckDB oracle)
    plus two boolean contract columns the oracle expects TRUE:

    - found_if_identical — identical inputs hash to identical
      signatures, so a similarity of exactly 1.0 MUST be found (a
      theorem about the banding, not an empirical bound);
    - recall_ge_floor — overall recall of the probabilistic candidate
      stage at/above an empirically-margined floor (regression fence;
      measured values per sf are committed in BASELINE.md).

    The window aggregates run over the PAIR RESULT (thousands of rows),
    not the corpus — the single-partition window is a few KB at 100 TB.
    """
    # The found-pair set is bounded by the near-dup PAIR count (not the
    # corpus) — broadcast it so the indicator join never sort-merges;
    # at a scale where the dup-pair set itself outgrows a broadcast,
    # the contract query would be sampled, not joined wholesale.
    j = exact.join(F.broadcast(found.withColumn("__f", F.lit(1))), key_cols, "left")
    w = Window.partitionBy(F.lit(1))
    n_found = F.sum(F.when(F.col("__f").isNotNull(), 1).otherwise(0)).over(w)
    return j.select(
        *key_cols,
        sim_col,
        (F.col("__f").isNotNull() | (F.col(sim_col) < 1.0)).alias("found_if_identical"),
        (F.try_divide(n_found, F.count(F.lit(1)).over(w)) >= floor).alias("recall_ge_floor"),
    )


def _multiset_mismatch(a: DataFrame, b: DataFrame) -> int:
    """|a∖b| + |b∖a| as multisets — numerically identical to the
    two-job ``a.exceptAll(b).count() + b.exceptAll(a).count()``
    probe/content-equality pattern, computed as ONE job (optimization
    r15, guide §1.2/§2.4: tagged union + one groupBy + one global sum
    instead of two except-plans that each shuffle both inputs).
    groupBy shares exceptAll's NULL/NaN/-0.0 key semantics, so the
    count is the same number."""
    cols = list(a.columns)
    # withColumn would silently REPLACE a data column of either name and
    # corrupt the count (advice r15).
    if "__side" in cols or "__d" in cols:
        raise ValueError(f"_multiset_mismatch: reserved column name in {cols}")
    tagged = a.withColumn("__side", F.lit(1)).unionByName(
        b.select(*cols).withColumn("__side", F.lit(-1))
    )
    d = tagged.groupBy(*cols).agg(F.sum("__side").alias("__d"))
    out = d.agg(F.sum(F.abs(F.col("__d")))).first()[0]
    return int(out or 0)


def _q_dedup_incremental_near(spark, sf_dir):
    # Contract oracle (was rows-only until r5): the exact batch-vs-corpus
    # near-dup pair set (uncapped shingle Jaccard >= 0.5 — deterministic,
    # recomputed by DuckDB) + found_if_identical / recall_ge_floor for
    # the index-driven LSH path. Measured recall 1.000 at all three sfs
    # (floor 0.7 is the regression fence).
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 5 != 4)
    batch = docs.where(F.col("doc_id") % 5 == 4)
    index = D.dedup_index_frame(corpus)
    got = D.incremental_near_dup_pairs(batch, corpus, index, threshold=0.5)
    # batch and corpus are disjoint, so the self-pair fence drops nothing
    exact = D.exact_jaccard_batch_pairs(batch, corpus, threshold=0.5)
    return _lsh_contract(
        exact, got.select("batch_id", "corpus_id"),
        ["batch_id", "corpus_id"], "jaccard", 0.7,
    )


def _q_dedup_lsh_persist(spark, sf_dir):
    # Persisted banded LSH index with partition-pruned probe + append
    # (r12) — the text twin of the persisted IVF surface: the corpus's
    # band rows live on disk partitioned by (band, key-bucket); the
    # batch probe reads ONLY the partitions its own band keys hash
    # into (`pb IN (...)` in PartitionFilters, pytest-pinned); the
    # batch then APPENDS its band rows (new files only — signatures
    # are a pure function of text, so appended == rebuilt). Candidates
    # are verified with exact Jaccard over candidate docs only, and
    # the contract is dedup_incremental_near's: the exact batch-vs-
    # corpus pair set (DuckDB recomputes it) + found_if_identical +
    # recall_ge_floor 0.7 (same banding, same measured 1.000 recall).
    import shutil
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 5 != 4)
    batch = docs.where(F.col("doc_id") % 5 == 4)
    out = tempfile.mkdtemp(prefix="sg_lshidx_")
    try:
        path = f"{out}/lsh"
        D.lsh_index_persist(corpus, path)
        D.lsh_index_append(spark, path, batch)
        cands = (
            D.lsh_candidates_persisted(spark, path, batch)
            # the append put the batch itself in the index; this probe
            # wants batch-vs-CORPUS pairs only
            .where(F.col("index_id") % 5 != 4)
            .select("batch_id", F.col("index_id").alias("corpus_id"))
            .localCheckpoint()
        )
        verified = D._verify_candidates(
            cands, batch, corpus, "text", "doc_id", 3, 0.5
        ).select("batch_id", "corpus_id")
        # bounded by the near-dup pair count; collected so the returned
        # (lazy) contract frame carries no reference to the temp index
        found_rows = verified.collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    found = spark.createDataFrame(
        [(r["batch_id"], r["corpus_id"]) for r in found_rows] or [],
        "batch_id long, corpus_id long",
    )
    exact = D.exact_jaccard_batch_pairs(batch, corpus, threshold=0.5)
    return _lsh_contract(
        exact, found, ["batch_id", "corpus_id"], "jaccard", 0.7
    )


def _q_corpus_source_overlap(spark, sf_dir):
    # Provenance analysis: pairwise shingle-vocabulary overlap between
    # the corpus' sources.
    docs = _t(spark, sf_dir, "documents")
    return D.source_overlap(docs, k=3)


def _q_dedup_ngram_jaccard(spark, sf_dir):
    # Exact 3-gram-shingle Jaccard near-dup pairs (threshold 0.5).
    docs = _t(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, k=3, threshold=0.5)


def _q_dedup_containment(spark, sf_dir):
    # Asymmetric containment pairs (r5 cont.): |A∩B| / min(|A|,|B|) —
    # catches a short doc quoted inside a long one, which Jaccard's
    # union denominator dilutes to ~0. Threshold 0.5 on the same
    # df-capped inverted index as the Jaccard op.
    docs = _t(spark, sf_dir, "documents")
    return D.ngram_containment_pairs(docs, k=3, threshold=0.5)


def _q_dedup_minhash_lsh(spark, sf_dir):
    # Contract oracle (was rows-only until r5): the exact df-capped
    # shingle-Jaccard pair set at threshold 0.5 (DuckDB recomputes it
    # independently) + found_if_identical (jaccard 1.0 => identical
    # shingle sets => identical MinHash signature => guaranteed LSH
    # candidate) and recall_ge_floor 0.8 (measured 0.93/0.96/1.00 at
    # sf0.001/0.01/0.1 — BASELINE.md).
    docs = _t(spark, sf_dir, "documents")
    exact = D.ngram_jaccard_pairs(docs, k=3, threshold=0.5).select(
        "doc_a", "doc_b", "jaccard"
    )
    lsh = D.minhash_dedup_pairs(docs, k=3, num_hashes=16, bands=4, threshold=0.5)
    return _lsh_contract(
        exact, lsh.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "jaccard", 0.8
    )


def _q_dedup_simhash(spark, sf_dir):
    # Contract oracle (was rows-only until r5). The raw 60-bit SimHash
    # is xxhash64-based (engine-specific), so the oracle surface is two
    # THEOREMS about any correct bag-of-words SimHash, checked per doc:
    # duplicating the token multiset doubles every per-bit weight sum
    # (signs unchanged => fingerprint identical), and reversing token
    # order leaves the multiset unchanged (=> fingerprint identical).
    # A weighting / thresholding / tokenization-order bug breaks them.
    # n_tokens is the deterministic hash-checked column.
    from chesscom_etl_tableau_spark.operators.text import word_tokens

    docs = _t(spark, sf_dir, "documents")
    base = docs.where(F.size(word_tokens(F.col("text"))) > 0).select("doc_id", "text")
    orig = D.simhash(base).select(F.col("doc").alias("doc_id"), F.col("simhash").alias("__s0"))
    dup = D.simhash(
        base.withColumn("text", F.concat_ws(" ", F.col("text"), F.col("text")))
    ).select(F.col("doc").alias("doc_id"), F.col("simhash").alias("__s1"))
    rev = D.simhash(
        base.withColumn("text", F.array_join(F.reverse(word_tokens(F.col("text"))), " "))
    ).select(F.col("doc").alias("doc_id"), F.col("simhash").alias("__s2"))
    return (
        base.select("doc_id", F.size(word_tokens(F.col("text"))).alias("n_tokens"))
        .join(orig, "doc_id")
        .join(dup, "doc_id")
        .join(rev, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("__s0") == F.col("__s1")).alias("dup_invariant"),
            (F.col("__s0") == F.col("__s2")).alias("perm_invariant"),
        )
    )


def _q_emb_hard_negatives(spark, sf_dir):
    # Hard-negative mining (r5 cont.): per anchor, the top-3 nearest
    # vectors with a DIFFERENT label — contrastive-training negatives
    # at the decision boundary. Exact broadcast form (the IVF variant
    # is the scale path); DuckDB recomputes every cosine.
    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") % 100 == 0)
    return SIM.hard_negatives(emb, anchors, k=3)


def _q_ann_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.cosine_topk(emb, queries, k=5)


def _ann_contract(exact_topk, approx, floor, per_query: bool):
    """Per-query ANN contract row: deterministic exact-scan columns
    (n_exact, best/kth cosine — DuckDB recomputes them) + a recall
    floor boolean. `per_query=False` floors the MEAN recall across
    queries instead (for kmeans-derived indexes where a single query
    can land recall 0 at nprobe=2 — measured values in BASELINE.md)."""
    j = exact_topk.join(
        F.broadcast(approx.withColumn("__f", F.lit(1))), ["query_id", "vec_id"], "left"
    )
    per_q = j.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.max("cosine_sim").alias("exact_best"),
        F.min("cosine_sim").alias("exact_kth"),
        F.try_divide(F.count("__f"), F.count(F.lit(1))).alias("__recall"),
    )
    if per_query:
        flag = (F.col("__recall") >= floor).alias("recall_ge_floor")
    else:
        flag = (
            F.avg("__recall").over(Window.partitionBy(F.lit(1))) >= floor
        ).alias("recall_ge_floor")
    return per_q.select("query_id", "n_exact", "exact_best", "exact_kth", flag)


def _q_ann_ivf_topk(spark, sf_dir):
    # Contract oracle (was rows-only until r5): IVF with fixed probe
    # centroids is fully deterministic; per-query recall floor 0.4
    # (measured minimum 0.6 across sfs — BASELINE.md).
    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = SIM.cosine_topk(emb, queries, k=5).select("query_id", "vec_id", "cosine_sim")
    approx = SIM.ivf_topk(emb, centroids, queries, k=5, nprobe=2).select("query_id", "vec_id")
    return _ann_contract(exact, approx, 0.4, per_query=True)


def _q_ann_ivf_append(spark, sf_dir):
    # Incremental ANN index maintenance (r12): append a vector batch
    # into a persisted IVF index WITHOUT refit — assignment against the
    # FROZEN centroids, mode-append writes that touch only new
    # partition files, and a per-bucket drift statistic (integer
    # micro-residuals, engine-reproducible) that tells the caller when
    # a refit is due (operators/similarity.py::ivf_append). Contract:
    # the appended index is row-identical to a from-scratch rebuild on
    # the same frozen centroids — matches_rebuild is a REAL exceptAll
    # check both directions, and the DuckDB oracle independently
    # replays the argmax assignment, per-bucket counts, and both
    # residual means.
    import shutil
    import tempfile

    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    base = emb.where(F.col("vec_id") % 3 != 0)
    batch = emb.where(F.col("vec_id") % 3 == 0)
    out = tempfile.mkdtemp(prefix="sg_ivfapp_")
    try:
        path = f"{out}/ivf"
        SIM.ivf_persist(base, centroids, path)
        drift = SIM.ivf_append(spark, path, centroids, batch)
        idx = spark.read.parquet(path)
        rebuilt = SIM.assign_buckets(emb, centroids)
        # localCheckpoint: each compare frame is (id, bucket) — tiny —
        # but its PLAN is the full argmax assignment; without the pin
        # the two exceptAll sides would each re-run it
        pairs_idx = idx.select(
            "vec_id", F.col("bucket").cast("int").alias("bucket")
        ).localCheckpoint()
        pairs_reb = rebuilt.select(
            "vec_id", F.col("bucket").cast("int").alias("bucket")
        ).localCheckpoint()
        mismatches = _multiset_mismatch(pairs_idx, pairs_reb)
        base_resid = SIM.ivf_bucket_residuals(
            idx.where(F.col("vec_id") % 3 != 0), centroids
        )
        per_bucket = (
            pairs_idx.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_total"))
            .join(
                base_resid.select(
                    "bucket",
                    F.col("mean_resid_micro").alias("base_resid_micro"),
                ),
                "bucket",
                "left",
            )
            .join(
                drift.select(
                    "bucket",
                    F.col("n_vectors").alias("n_appended"),
                    F.col("mean_resid_micro").alias("appended_resid_micro"),
                ),
                "bucket",
                "left",
            )
            .collect()  # bounded: <= |centroids| = 8 rows
        )
        rows = [
            (
                int(r["bucket"]),
                int(r["n_total"]),
                int(r["n_appended"] or 0),
                None if r["base_resid_micro"] is None else int(r["base_resid_micro"]),
                None
                if r["appended_resid_micro"] is None
                else int(r["appended_resid_micro"]),
                mismatches == 0,
            )
            for r in per_bucket
        ]
        return spark.createDataFrame(
            rows,
            "bucket int, n_total long, n_appended long, base_resid_micro long, "
            "appended_resid_micro long, matches_rebuild boolean",
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _q_ann_ivf_compact(spark, sf_dir):
    # Partition-local small-file compaction of an appended IVF index
    # (r13): two appends fragment the touched bucket partitions into
    # 3+ files each; compact_partitioned_index rewrites ONLY the
    # fragmented partitions in one dynamic-partition-overwrite job
    # (operators/similarity.py::compact_partitioned_index). Contract:
    # same rows (exceptAll both ways == 0), same probe results
    # (ivf_topk_persisted before == after), every partition back to
    # one data file. The per-bucket n_total is replayed by the DuckDB
    # oracle from the closed-form argmax assignment; the booleans are
    # REAL Spark-side checks.
    import shutil
    import tempfile

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    base = emb.where(F.col("vec_id") % 3 != 0)
    b1 = emb.where((F.col("vec_id") % 3 == 0) & (F.col("vec_id") % 2 == 0))
    b2 = emb.where((F.col("vec_id") % 3 == 0) & (F.col("vec_id") % 2 == 1))
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = tempfile.mkdtemp(prefix="sg_ivfcomp_")
    try:
        path = f"{out}/ivf"
        SIM.ivf_persist(base, centroids, path)
        SIM.ivf_append(spark, path, centroids, b1)
        SIM.ivf_append(spark, path, centroids, b2)
        probe_before = SIM.ivf_topk_persisted(
            spark, path, centroids, queries, k=5, nprobe=2
        ).localCheckpoint()
        content_before = (
            spark.read.parquet(path)
            .select("vec_id", F.col("bucket").cast("int").alias("bucket"))
            .localCheckpoint()
        )
        retired = SIM.compact_partitioned_index(spark, path, "bucket")
        files_after = SIM.index_partition_files(path, "bucket")
        probe_after = SIM.ivf_topk_persisted(
            spark, path, centroids, queries, k=5, nprobe=2
        ).localCheckpoint()
        content_after = (
            spark.read.parquet(path)
            .select("vec_id", F.col("bucket").cast("int").alias("bucket"))
            .localCheckpoint()
        )
        probe_equal = _multiset_mismatch(probe_before, probe_after) == 0
        content_equal = _multiset_mismatch(content_before, content_after) == 0
        files_collapsed = retired > 0 and all(
            len(fs) <= 1 for fs in files_after.values()
        )
        per_bucket = (
            content_after.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_total"))
            .collect()  # bounded: <= |centroids| rows
        )
        rows = [
            (int(r["bucket"]), int(r["n_total"]), probe_equal, content_equal,
             files_collapsed)
            for r in per_bucket
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "bucket int, n_total long, probe_equal boolean, content_equal boolean, "
        "files_collapsed boolean",
    )


def _q_ann_ivf_gen_probe(spark, sf_dir):
    # Snapshot-isolated index maintenance (r14, verdict ask #2): the
    # generation-LOGGED IVF index (operators/index_log.py) applies the
    # manifest discipline of plans/ingest.py to the hive-partitioned
    # index — maintenance commits are ADDITIVE (append-only data files)
    # plus a generation manifest published by exclusive create, so a
    # probe pinned at generation N is untouched by a compaction
    # publishing N+1 (the raw compact/refit's dynamic-partition
    # overwrite deletes replaced files and demands an exclusive
    # writer). Lifecycle here: persist -> init (gen 1) -> two logged
    # appends (gens 2, 3) -> pin gen 3 -> compact (gen 4). Contract
    # booleans are REAL Spark-side checks: the probe over the pinned
    # pre-compact generation equals the post-compact probe, the pinned
    # generation's files all survive the rewrite (no delete before
    # gc), every live partition collapses to one file, and content
    # round-trips exactly. Per-bucket n_total is replayed by the
    # DuckDB oracle from the closed-form argmax assignment.
    import os
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.operators import index_log as IL

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    base = emb.where(F.col("vec_id") % 3 != 0)
    b1 = emb.where((F.col("vec_id") % 3 == 0) & (F.col("vec_id") % 2 == 0))
    b2 = emb.where((F.col("vec_id") % 3 == 0) & (F.col("vec_id") % 2 == 1))
    queries_df = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = tempfile.mkdtemp(prefix="sg_ivfgen_")
    try:
        path = f"{out}/ivf"
        SIM.ivf_persist(base, centroids, path)
        IL.index_log_init(path, "bucket")
        IL.index_log_append(spark, path, SIM.assign_buckets(b1, centroids), "bucket")
        pinned = IL.index_log_append(
            spark, path, SIM.assign_buckets(b2, centroids), "bucket"
        )
        pinned_files = IL.index_log_files(path, pinned)
        probe_pinned = IL.ivf_topk_generation(
            spark, path, centroids, queries_df, k=5, nprobe=2, generation=pinned
        ).localCheckpoint()
        content_before = (
            IL.index_log_read(spark, path, pinned)
            .select("vec_id", F.col("bucket").cast("int").alias("bucket"))
            .localCheckpoint()
        )
        retired, gen_after = IL.compact_index_log(spark, path, "bucket")
        probe_after = IL.ivf_topk_generation(
            spark, path, centroids, queries_df, k=5, nprobe=2
        ).localCheckpoint()
        content_after = (
            IL.index_log_read(spark, path)
            .select("vec_id", F.col("bucket").cast("int").alias("bucket"))
            .localCheckpoint()
        )
        probe_equal = _multiset_mismatch(probe_pinned, probe_after) == 0
        content_equal = _multiset_mismatch(content_before, content_after) == 0
        pinned_intact = gen_after == pinned + 1 and all(
            os.path.exists(f) for f in pinned_files
        )
        files_collapsed = retired > 0 and all(
            len(fs) <= 1
            for fs in IL.index_log_doc(path, gen_after)["partitions"].values()
        )
        per_bucket = (
            content_after.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_total"))
            .collect()  # bounded: <= |centroids| rows
        )
        rows = [
            (int(r["bucket"]), int(r["n_total"]), probe_equal, content_equal,
             pinned_intact, files_collapsed)
            for r in per_bucket
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "bucket int, n_total long, probe_equal boolean, content_equal boolean, "
        "pinned_intact boolean, files_collapsed boolean",
    )


def _q_ann_ivf_gen_delete(spark, sf_dir):
    # Id deletion on the generation-logged IVF index (r14): the
    # right-to-be-forgotten path — a removal request must leave the
    # ANN index itself, not just the corpus
    # (operators/index_log.py::index_log_delete_ids). Only the touched
    # partitions rewrite (additive append + generation swap, no
    # tombstones at read time); a reader pinned at the pre-delete
    # generation still serves it — the audit surface — until gc.
    # Contract booleans are REAL Spark-side checks: the current
    # generation excludes every deleted id, the pinned generation
    # still shows all rows, a replayed (double) delete is a publish-
    # nothing no-op, and untouched partitions carry their files
    # byte-identically. Per-bucket remaining counts are replayed by
    # the DuckDB oracle from the closed-form argmax assignment with
    # the deleted ids (vec_id % 7 == 0) excluded.
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.operators import index_log as IL

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    victims = emb.where(F.col("vec_id") % 7 == 0).select("vec_id")
    out = tempfile.mkdtemp(prefix="sg_ivfdel_")
    try:
        path = f"{out}/ivf"
        SIM.ivf_persist(emb, centroids, path)
        pinned = IL.index_log_init(path, "bucket")
        doc_before = IL.index_log_doc(path, pinned)["partitions"]
        n_total = emb.count()
        n_victims = victims.count()
        n_deleted, gen_after = IL.index_log_delete_ids(spark, path, victims)
        cur = (
            IL.index_log_read(spark, path)
            .select("vec_id", F.col("bucket").cast("int").alias("bucket"))
            .localCheckpoint()
        )
        current_excludes = (
            n_deleted == n_victims
            and cur.join(F.broadcast(victims), "vec_id", "left_semi").count() == 0
            and cur.count() == n_total - n_victims
        )
        pinned_shows = (
            IL.index_log_read(spark, path, pinned).count() == n_total
        )
        replay = IL.index_log_delete_ids(spark, path, victims)
        replay_noop = replay == (0, gen_after)
        doc_after = IL.index_log_doc(path, gen_after)["partitions"]
        touched = {
            r["bucket"]
            for r in IL.index_log_read(spark, path, pinned)
            .join(F.broadcast(victims), "vec_id", "left_semi")
            .select("bucket")
            .distinct()
            .collect()
        }
        carried_ok = all(
            doc_after.get(b, []) == files
            for b, files in doc_before.items()
            if int(b) not in touched
        )
        per_bucket = (
            cur.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_remaining"))
            .collect()  # bounded: <= |centroids| rows
        )
        rows = [
            (int(r["bucket"]), int(r["n_remaining"]), current_excludes,
             pinned_shows, replay_noop, carried_ok)
            for r in per_bucket
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "bucket int, n_remaining long, current_excludes boolean, "
        "pinned_shows_deleted boolean, replay_noop boolean, "
        "untouched_carried boolean",
    )


def _q_ann_ivf_refit(spark, sf_dir):
    # Drift-triggered PARTIAL refit (r13): the consumer of the drift
    # statistic ivf_append emits. The index is built on the corpus'
    # well-quantized rows (per-row residual < 0.8) and the poorly-
    # quantized tail is appended — incoming data the frozen centroids
    # no longer describe. Buckets whose current mean residual exceeds
    # the build-time baseline by 23/20 are re-centered with ONE exact
    # micro-integer Lloyd update over their current members and ONLY
    # their vectors are reassigned among ONLY the refitted centroids;
    # frozen buckets keep rows and centroid untouched (operators/
    # similarity.py::ivf_refit_drifted, micro_mean_centroids). The
    # DuckDB oracle independently replays assignment, the residual
    # split, the integer drift test, the per-dimension micro-mean
    # refit, the reassignment, and the final per-bucket residuals;
    # matches_rebuild is a REAL exceptAll check against a from-scratch
    # Spark replay of the same contract.
    import shutil
    import tempfile

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    cent2 = centroids.select(
        F.col("centroid_id").alias("bucket"), F.col("embedding").alias("__cvec")
    )
    asg = SIM.assign_buckets(emb, centroids).localCheckpoint()
    rm = asg.join(F.broadcast(cent2), "bucket").select(
        "vec_id",
        "embedding",
        "bucket",
        F.floor(
            (F.lit(1.0) - F.round(SIM.cosine(F.col("embedding"), F.col("__cvec")), 6))
            * 1000000.0
            + 0.5
        )
        .cast("long")
        .alias("__rm"),
    ).localCheckpoint()
    base = rm.where(F.col("__rm") < 800000)
    batch = rm.where(F.col("__rm") >= 800000)
    out = tempfile.mkdtemp(prefix="sg_ivfrefit_")
    try:
        path = f"{out}/ivf"
        SIM.ivf_persist(base.select("vec_id", "embedding"), centroids, path)
        baseline = SIM.ivf_bucket_residuals(
            spark.read.parquet(path), centroids
        ).localCheckpoint()
        SIM.ivf_append(spark, path, centroids, batch.select("vec_id", "embedding"))
        updated, drifted = SIM.ivf_refit_drifted(
            spark, path, centroids, baseline, threshold_num=23, threshold_den=20
        )
        final_idx = (
            spark.read.parquet(path)
            .select("vec_id", "embedding", F.col("bucket").cast("int").alias("bucket"))
            .localCheckpoint()
        )
        # from-scratch contract replay: moving rows reassigned among the
        # micro-mean refit centroids, frozen rows keep their bucket
        moving = rm.where(F.col("bucket").isin(drifted))
        refit_c = SIM.micro_mean_centroids(moving).select("centroid_id", "embedding")
        expected = (
            rm.where(~F.col("bucket").isin(drifted))
            .select("vec_id", F.col("bucket").cast("int").alias("bucket"))
            .unionByName(
                SIM.assign_buckets(
                    moving.select("vec_id", "embedding"), refit_c
                ).select("vec_id", F.col("bucket").cast("int").alias("bucket"))
            )
            .localCheckpoint()
        )
        got_pairs = final_idx.select("vec_id", "bucket").localCheckpoint()
        mismatches = _multiset_mismatch(got_pairs, expected)
        final_resid = SIM.ivf_bucket_residuals(final_idx, updated).collect()
        drifted_set = set(drifted)
        rows = [
            (
                int(r["bucket"]),
                int(r["n_vectors"]),
                int(r["bucket"]) in drifted_set,
                int(r["mean_resid_micro"]),
                mismatches == 0,
            )
            for r in final_resid
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "bucket int, n_vectors long, was_drifted boolean, final_resid_micro long, "
        "matches_rebuild boolean",
    )


def _q_ann_ivfpq_refit(spark, sf_dir):
    # Drift-triggered partial refit of the IVF-PQ CODE table (r13):
    # the PQ twin of ann_ivf_refit — same residual-split fixture, same
    # exact integer coarse-drift rule (coarse stats are independent of
    # the codebooks, so the DuckDB oracle is the ann_ivf_refit replay
    # with the contract column renamed). Drifted buckets are
    # re-centered (micro-integer Lloyd), only their vectors reassigned
    # among only the refitted centroids, and their residuals RE-ENCODED
    # against the FROZEN codebooks (operators/similarity.py::
    # ivfpq_refit_drifted); matches_reencode is a REAL both-ways
    # exceptAll of the final code table against a from-scratch
    # re-encode under the updated centroid set.
    import shutil
    import tempfile

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    cent2 = centroids.select(
        F.col("centroid_id").alias("bucket"), F.col("embedding").alias("__cvec")
    )
    asg = SIM.assign_buckets(emb, centroids).localCheckpoint()
    rm = asg.join(F.broadcast(cent2), "bucket").select(
        "vec_id",
        "embedding",
        "bucket",
        F.floor(
            (F.lit(1.0) - F.round(SIM.cosine(F.col("embedding"), F.col("__cvec")), 6))
            * 1000000.0
            + 0.5
        )
        .cast("long")
        .alias("__rm"),
    ).localCheckpoint()
    base = rm.where(F.col("__rm") < 800000)
    batch = rm.where(F.col("__rm") >= 800000)
    n, dim = _emb_stats(sf_dir)

    def _residuals(members):
        return members.join(F.broadcast(cent2), "bucket").select(
            "vec_id",
            "bucket",
            F.zip_with(
                F.col("embedding"), F.col("__cvec"), lambda x, c: x - c
            ).alias("__res"),
        )

    codebooks = SIM.pq_train(
        _residuals(base), m=4, k=16, vec_col="__res", max_iter=4, dim=dim,
        corpus_rows=n,
    )
    out = tempfile.mkdtemp(prefix="sg_ivfpqrefit_")
    try:
        path = f"{out}/pq"
        SIM.pq_encode(
            _residuals(base), codebooks, vec_col="__res", keep=("bucket",)
        ).select("vec_id", "bucket", "codes").write.partitionBy("bucket").parquet(
            path
        )
        baseline = SIM.ivf_bucket_residuals(base, centroids).localCheckpoint()
        SIM.ivfpq_append(
            spark, path, centroids, codebooks, batch.select("vec_id", "embedding")
        )
        updated, drifted = SIM.ivfpq_refit_drifted(
            spark, path, centroids, codebooks, emb, baseline,
            threshold_num=23, threshold_den=20,
        )
        final_idx = (
            spark.read.parquet(path)
            .select("vec_id", F.col("bucket").cast("int").alias("bucket"), "codes")
            .localCheckpoint()
        )
        # from-scratch contract replay of the final code table
        drifted_set = set(drifted)
        moving = rm.where(F.col("bucket").isin(drifted))
        refit_c = SIM.micro_mean_centroids(moving).select("centroid_id", "embedding")
        re_moved = SIM.assign_buckets(
            moving.select("vec_id", "embedding"), refit_c
        )
        refit_cent2 = refit_c.select(
            F.col("centroid_id").alias("bucket"), F.col("embedding").alias("__cvec")
        )
        exp_moved = SIM.pq_encode(
            re_moved.join(F.broadcast(refit_cent2), "bucket").select(
                "vec_id",
                "bucket",
                F.zip_with(
                    F.col("embedding"), F.col("__cvec"), lambda x, c: x - c
                ).alias("__res"),
            ),
            codebooks,
            vec_col="__res",
            keep=("bucket",),
        ).select("vec_id", F.col("bucket").cast("int").alias("bucket"), "codes")
        exp_frozen = SIM.pq_encode(
            _residuals(rm.where(~F.col("bucket").isin(drifted))),
            codebooks,
            vec_col="__res",
            keep=("bucket",),
        ).select("vec_id", F.col("bucket").cast("int").alias("bucket"), "codes")
        expected = exp_frozen.unionByName(exp_moved).localCheckpoint()
        mismatches = _multiset_mismatch(final_idx, expected)
        final_members = final_idx.select("vec_id", "bucket").join(
            emb, "vec_id"
        )
        final_resid = SIM.ivf_bucket_residuals(final_members, updated).collect()
        rows = [
            (
                int(r["bucket"]),
                int(r["n_vectors"]),
                int(r["bucket"]) in drifted_set,
                int(r["mean_resid_micro"]),
                mismatches == 0,
            )
            for r in final_resid
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "bucket int, n_vectors long, was_drifted boolean, final_resid_micro long, "
        "matches_reencode boolean",
    )


def _q_dedup_lsh_compact(spark, sf_dir):
    # Compaction of the persisted banded LSH index (r13): the text twin
    # of ann_ivf_compact — an append fragments the touched (band x
    # key-bucket) partitions; compact_partitioned_index rewrites only
    # those, and the partition-pruned probe must return the IDENTICAL
    # candidate set (exceptAll both ways == 0) over one-file partitions.
    # n_index_rows (= bands x docs) is replayed by the oracle; the
    # booleans are real Spark-side checks.
    import shutil
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 5 != 4)
    batch = docs.where(F.col("doc_id") % 5 == 4)
    out = tempfile.mkdtemp(prefix="sg_lshcomp_")
    try:
        path = f"{out}/lsh"
        D.lsh_index_persist(corpus, path)
        D.lsh_index_append(spark, path, batch)
        cands_before = D.lsh_candidates_persisted(spark, path, batch).localCheckpoint()
        retired = SIM.compact_partitioned_index(spark, path, "pb")
        files_after = SIM.index_partition_files(path, "pb")
        cands_after = D.lsh_candidates_persisted(spark, path, batch).localCheckpoint()
        probe_equal = _multiset_mismatch(cands_before, cands_after) == 0
        files_collapsed = retired > 0 and all(
            len(fs) <= 1 for fs in files_after.values()
        )
        n_rows = spark.read.parquet(path).count()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(n_rows, probe_equal, files_collapsed)],
        "n_index_rows long, probe_equal boolean, files_collapsed boolean",
    )


def _q_dedup_lsh_gen_probe(spark, sf_dir):
    # Generation-logged banded LSH index (r14): the text twin of
    # ann_ivf_gen_probe, proving operators/index_log.py is
    # index-agnostic — persist -> log init (gen 1) -> a LOGGED band-row
    # append (gen 2, dedup.lsh_band_rows through index_log_append) ->
    # pin gen 2 -> compact (gen 3, additive + manifest swap, no
    # deletes). Booleans are REAL Spark-side checks: the pinned-
    # generation candidate probe equals the post-compact probe, the
    # pinned generation's files survive the rewrite, live partitions
    # collapse to one file. n_index_rows (= bands x docs) replayed by
    # the oracle.
    import os
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.operators import index_log as IL

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 5 != 4)
    batch = docs.where(F.col("doc_id") % 5 == 4)
    out = tempfile.mkdtemp(prefix="sg_lshgen_")
    try:
        path = f"{out}/lsh"
        D.lsh_index_persist(corpus, path)
        IL.index_log_init(path, "pb")
        pinned = IL.index_log_append(
            spark, path, D.lsh_band_rows(batch), "pb"
        )
        pinned_files = IL.index_log_files(path, pinned)
        cands_pinned = IL.lsh_candidates_generation(
            spark, path, batch, generation=pinned
        ).localCheckpoint()
        retired, gen_after = IL.compact_index_log(spark, path, "pb")
        cands_after = IL.lsh_candidates_generation(
            spark, path, batch
        ).localCheckpoint()
        probe_equal = _multiset_mismatch(cands_pinned, cands_after) == 0
        pinned_intact = gen_after == pinned + 1 and all(
            os.path.exists(f) for f in pinned_files
        )
        files_collapsed = retired > 0 and all(
            len(fs) <= 1
            for fs in IL.index_log_doc(path, gen_after)["partitions"].values()
        )
        n_rows = IL.index_log_read(spark, path).count()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(n_rows, probe_equal, pinned_intact, files_collapsed)],
        "n_index_rows long, probe_equal boolean, pinned_intact boolean, "
        "files_collapsed boolean",
    )


def _q_dedup_exact_keep(spark, sf_dir):
    # Materialized exact dedup: the surviving doc ids (deterministic
    # min-id-per-fingerprint survivor).
    docs = _t(spark, sf_dir, "documents")
    return D.exact_dedup(docs).select("doc_id", "lang", "source")


def _q_w4_running_total(spark, sf_dir):
    # W4: per-key running total (cumulative frame), total order.
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum(_dec("value")).over(w).cast("double"), 6).alias("running_value"),
    )


def _q_dedup_embed_cosine(spark, sf_dir):
    # Exact embedding near-dup pairs (cosine >= 0.4, O(n^2) baseline).
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.embedding_cosine_pairs(emb, threshold=0.4)


def _q_dedup_embed_lsh(spark, sf_dir):
    # Contract oracle (was rows-only until r5): the exact cosine pair
    # set at threshold 0.4 (DuckDB recomputes it) + found_if_identical
    # (cosine 1.0 = parallel vectors = identical hyperplane signs =>
    # same bucket) and recall_ge_floor 0.45 (measured 0.77/0.83/0.58 at
    # sf0.001/0.01/0.1 — auto-sized bands trade recall for linearity;
    # BASELINE.md). Band width is sized from catalog row-count stats
    # (lsh_planes_for), NOT a corpus scan — plan-build runs zero jobs
    # (asserted in tests).
    emb = _t(spark, sf_dir, "embeddings")
    n, dim = _emb_stats(sf_dir)
    exact = SIM.embedding_cosine_pairs(emb, threshold=0.4)
    lsh = SIM.embedding_lsh_pairs(
        emb, threshold=0.4, n_planes=SIM.lsh_planes_for(n), dim=dim
    )
    return _lsh_contract(
        exact, lsh.select("id_a", "id_b"), ["id_a", "id_b"], "cosine_sim", 0.45
    )


def _q_t13_json_extract(spark, sf_dir):
    # Semi-structured JSON property extraction (new in r5): the events
    # table's `props` column is a JSON blob; extract a typed field
    # JVM-side (get_json_object — no Python) and aggregate it. The
    # exact-int sum keeps the avg engine-deterministic.
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("long").alias("sum_k"),
            (
                F.floor(
                    F.sum("k") / F.count(F.lit(1)) * 1000000.0 + 0.5
                )
                / 1000000.0
            ).alias("avg_k"),
        )
    )


def _q_train_contamination(spark, sf_dir):
    # N-gram containment contamination scoring (new in r5): fraction of
    # each train doc's distinct 5-gram shingles that occur anywhere in
    # the deterministic test split. Fully deterministic string algebra —
    # the oracle recomputes splits, shingles and containment in DuckDB.
    docs = _t(spark, sf_dir, "documents")
    return TR.contamination_scores(docs, k=5)


def _q_t14_zorder_key(spark, sf_dir):
    # Z-order (Morton) layout key (new in r5): pure Catalyst bit
    # interleave of two dimensions — the OPTIMIZE ZORDER primitive
    # (sources/sinks.py::write_zordered range-partitions the write on
    # it; file-skipping benefit asserted in tests). Oracle recomputes
    # the interleave with DuckDB bit ops.
    from chesscom_etl_tableau_spark.sources.sinks import zorder_value

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        F.pmod(F.col("user_id"), F.lit(65536)).cast("long").alias("x"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long").alias("y"),
    )
    return base.withColumn("z", zorder_value(["x", "y"], bits=16))


def _q_q3_shipping_priority(spark, sf_dir):
    # TPC-H Q3 shape (new in r5): segment-filtered customer x orders x
    # lineitem 3-way join, grouped revenue, deterministic top-10. The
    # dims broadcast; the fact side shuffles once for the groupBy.
    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").where(
        F.to_date("o_orderdate") < F.lit("1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.to_date("l_shipdate") > F.lit("1998-01-01")
    )
    revenue = F.sum(
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
    ).cast("double")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy(
            "l_orderkey",
            F.to_date("o_orderdate").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(revenue.alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def _q_q5_local_supplier_volume(spark, sf_dir):
    # TPC-H Q5 shape (new in r5): the 6-way join — region -> nation ->
    # (customer, supplier) -> orders -> lineitem with the c_nationkey =
    # s_nationkey "local supplier" constraint; revenue per nation. All
    # dims broadcast; only the two fact-side joins shuffle.
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").where(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01"))
        & (F.to_date("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.sum(
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
    ).cast("double")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(
            F.broadcast(supp),
            (li["l_suppkey"] == supp["s_suppkey"])
            & (cust["c_nationkey"] == supp["s_nationkey"]),
        )
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("n_name")
        .agg(revenue.alias("revenue"))
    )


def _tpch_revenue():
    # sum(extprice * (1 - discount)) with exact decimal arithmetic so
    # the aggregate is order-independent (engine-portable), surfaced as
    # DOUBLE for the driver compare.
    return F.sum(
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
    ).cast("double")


def _q_q4_order_priority(spark, sf_dir):
    # TPC-H Q4 shape (new in r5 cont.): EXISTS -> LEFT SEMI join from a
    # date-sliced orders scan into a filtered lineitem probe, then a
    # tiny groupBy. The testdata schema has no commit/receipt dates, so
    # the "late line" predicate is l_returnflag = 'R' — identical plan
    # shape (filtered-fact semi join), different column.
    orders = _t(spark, sf_dir, "orders").where(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01"))
        & (F.to_date("o_orderdate") < F.lit("1997-01-01"))
    )
    late = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        orders.join(late, orders["o_orderkey"] == late["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def _q_q7_volume_shipping(spark, sf_dir):
    # TPC-H Q7 shape: bidirectional nation-pair trade volume. Both
    # nation dims are pre-filtered to the two nations of interest
    # BEFORE the join (cuts the fact rows at the broadcast probe, not
    # after), and the cross-pair disjunction runs on the joined row.
    nations = ["NATION_12", "NATION_10"]
    n1 = _t(spark, sf_dir, "nation").where(F.col("n_name").isin(nations)).select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").where(F.col("n_name").isin(nations)).select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01"))
        & (F.to_date("l_shipdate") < F.lit("1998-01-01"))
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(n1), supp["s_nationkey"] == n1["s_nkey"])
        .join(F.broadcast(n2), cust["c_nationkey"] == n2["c_nkey"])
        .where(
            ((F.col("supp_nation") == nations[0]) & (F.col("cust_nation") == nations[1]))
            | ((F.col("supp_nation") == nations[1]) & (F.col("cust_nation") == nations[0]))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_tpch_revenue().alias("revenue"))
    )


def _q_q10_returned_items(spark, sf_dir):
    # TPC-H Q10 shape: returned-item revenue per customer over one
    # quarter, deterministic top-20. One fact shuffle (groupBy custkey
    # grain), dims broadcast, TakeOrderedAndProject caps the sort.
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").where(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01"))
        & (F.to_date("o_orderdate") < F.lit("1996-04-01"))
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_tpch_revenue().alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def _q_q13_order_distribution(spark, sf_dir):
    # TPC-H Q13 shape: customer order-count distribution. The naive
    # form is customer LEFT OUTER JOIN orders (a shuffle of the whole
    # fact against the dim); the scale-smart rewrite aggregates orders
    # per custkey FIRST (one map-side-combined shuffle at custkey
    # grain), then left-joins the now-dim-sized aggregate back to
    # customer with a broadcast — no fact-side outer join at all.
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return (
        cust.join(F.broadcast(per_cust), cust["c_custkey"] == per_cust["o_custkey"], "left_outer")
        .select(F.coalesce(F.col("n_orders"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def _q_q14_promo_revenue(spark, sf_dir):
    # TPC-H Q14 shape: conditional aggregation ratio (promo revenue %)
    # over one month. Exact decimal sums -> one double division ->
    # half-up micro-unit rounding on BOTH engines (NOTES.md cast rule).
    li = _t(spark, sf_dir, "lineitem").where(
        (F.to_date("l_shipdate") >= F.lit("1996-03-01"))
        & (F.to_date("l_shipdate") < F.lit("1996-04-01"))
    )
    part = _t(spark, sf_dir, "part")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
    joined = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    return joined.agg(
        F.floor(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(12,2)"))).cast("double")
                / F.sum(rev).cast("double")
            )
            * 1e6
            + F.lit(0.5)
        ).alias("promo_revenue_micro")
    )


def _q_q17_small_qty_revenue(spark, sf_dir):
    # TPC-H Q17 shape: correlated scalar subquery (per-part avg
    # quantity) expressed as a pre-aggregate + broadcast join — the
    # brand filter is applied BEFORE the aggregate so the avg runs over
    # the ~1/27 brand slice only, and the slice is reused for both the
    # aggregate and the probe. avg(l_quantity) is exact (integer-valued
    # doubles), so the 0.5*avg comparison is engine-portable.
    part_f = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#4").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(part_f), F.col("l_partkey") == F.col("p_partkey")
    )
    avg_q = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty")).select(
        F.col("l_partkey").alias("ak"), "avg_qty"
    )
    return (
        li.join(F.broadcast(avg_q), F.col("l_partkey") == F.col("ak"))
        .where(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
        .agg(
            F.floor(
                (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)) * 1e6 + F.lit(0.5)
            ).alias("avg_yearly_micro")
        )
    )


def _q_q18_large_orders(spark, sf_dir):
    # TPC-H Q18 shape: HAVING sum(qty) > T as a pre-aggregate whose
    # survivors (a tiny fraction of orders) join back into orders and
    # customer — the classic "filter via aggregate" plan. The survivor
    # side's size is DATA-dependent (grows with SF), so it goes through
    # fenced_broadcast (verdict-r5 ask #4): AQE sizes the materialized
    # stage at runtime instead of a baked-in broadcast hint. sum(qty)
    # is exact (integer-valued doubles). Deterministic top-100.
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 190)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(fenced_broadcast(big), orders["o_orderkey"] == big["l_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .limit(100)
    )


def _q_q19_disjunctive_revenue(spark, sf_dir):
    # TPC-H Q19 shape: OR-of-conjunct-groups join predicate. The join
    # itself stays a plain equi-join on partkey (hashable); the
    # disjunction is a post-join filter plus a pre-join part prune to
    # the union of the three brand groups, so the broadcast build side
    # carries only candidate parts.
    brands = ["Brand#4", "Brand#2", "Brand#19"]
    part = _t(spark, sf_dir, "part").where(F.col("p_brand").isin(brands))
    li = _t(spark, sf_dir, "lineitem")
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    cond = (
        ((F.col("p_brand") == brands[0]) & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == brands[1]) & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == brands[2]) & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    return j.where(cond).agg(_tpch_revenue().alias("revenue"))


def _q_q21_waiting_supplier(spark, sf_dir):
    # TPC-H Q21 shape: the EXISTS + NOT-EXISTS double self-join on
    # lineitem, rewritten as ONE aggregate pass per order — per-order
    # distinct-supplier count and distinct-flagged-supplier count
    # replace both correlated subqueries (n_supp > 1 == EXISTS other
    # supplier; n_r_supp == 1 == NOT EXISTS other flagged supplier).
    # One fact shuffle instead of two fact-fact joins; the DuckDB
    # oracle runs the literal EXISTS/NOT-EXISTS form, independently
    # verifying the rewrite. Testdata has no receiptdate, so "kept
    # waiting" is l_returnflag = 'R'.
    li = _t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_r_supp"),
    )
    solo_fault = per_order.where((F.col("n_supp") > 1) & (F.col("n_r_supp") == 1)).select(
        F.col("l_orderkey").alias("fk")
    )
    flagged = li.where(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey").distinct()
    orders_f = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select("o_orderkey")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_13")
    return (
        flagged.join(fenced_broadcast(solo_fault), flagged["l_orderkey"] == F.col("fk"))
        .join(orders_f, flagged["l_orderkey"] == orders_f["o_orderkey"], "left_semi")
        .join(F.broadcast(supp), flagged["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


def _q_q22_dormant_customers(spark, sf_dir):
    # TPC-H Q22 shape: scalar AVG subquery + NOT EXISTS anti-join.
    # The average-balance threshold is applied WITHOUT a division:
    # c_acctbal > avg  <=>  c_acctbal * n > total (exact decimal
    # integer arithmetic on both engines — no FP rounding at the
    # boundary). "Dormant" = no order since 2001-01-01 (the testdata
    # has no customer phone for country codes; cntrycode is
    # c_nationkey % 5).
    cust = _t(spark, sf_dir, "customer")
    pos = cust.where(F.col("c_acctbal") > 0).agg(
        F.sum(_dec("c_acctbal")).alias("tot"), F.count(F.lit(1)).alias("n")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .where(F.to_date("o_orderdate") >= F.lit("2001-01-01"))
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(pos))
        .where(_dec("c_acctbal") * F.col("n") > F.col("tot"))
        .join(recent, F.col("c_custkey") == recent["o_custkey"], "left_anti")
        .groupBy((F.col("c_nationkey") % 5).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy(F.col("cntrycode").asc())
    )


def _derived_partsupp(spark, sf_dir):
    # The testdata has no partsupp table; Q2/Q11/Q16/Q20 run on the
    # part-supplier relation DERIVED from lineitem: one row per
    # distinct (l_partkey, l_suppkey) with the cheapest observed offer
    # (min extendedprice — exact double min, no division) and the total
    # shipped quantity (integer-valued doubles, exact sum). One
    # map-side-combined shuffle at (partkey, suppkey) grain; every
    # consumer below reuses this single aggregate.
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(
            F.min("l_extendedprice").alias("ps_supplycost"),
            F.sum("l_quantity").cast("long").alias("ps_availqty"),
        )
    )


_PS_SQL = """
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               min(l_extendedprice) AS ps_supplycost,
               CAST(sum(l_quantity) AS BIGINT) AS ps_availqty
        FROM lineitem GROUP BY 1, 2
"""


def _q_q2_min_cost_supplier(spark, sf_dir):
    # TPC-H Q2 shape: correlated MIN subquery — for each EUROPE-sourced
    # part of the chosen size/type, the supplier(s) offering the
    # regional minimum cost. The correlated subquery becomes a
    # pre-aggregate (min cost per part over the region slice) broadcast
    # back into the same slice — the slice is computed once and reused
    # for both the aggregate and the probe. Equality on ps_supplycost
    # is exact: both sides are minima over the same parquet doubles.
    # The DuckDB oracle runs the literal correlated form.
    ps = _derived_partsupp(spark, sf_dir)
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu_ps = (
        ps.join(F.broadcast(supp), ps["ps_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    min_cost = eu_ps.groupBy(F.col("ps_partkey").alias("mk")).agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    return (
        eu_ps.join(F.broadcast(part), F.col("ps_partkey") == part["p_partkey"])
        .join(
            F.broadcast(min_cost),
            (F.col("ps_partkey") == F.col("mk"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "ps_supplycost")
        .orderBy(
            F.col("s_acctbal").desc(),
            F.col("n_name").asc(),
            F.col("s_name").asc(),
            F.col("p_partkey").asc(),
        )
        .limit(100)
    )


def _q_q6_forecast_revenue(spark, sf_dir):
    # TPC-H Q6 shape: the pure scan-filter-aggregate — one year of
    # shipments, a discount band, small quantities; revenue forgone if
    # discounts were dropped. Zero joins, zero shuffles beyond the
    # 1-row final aggregate; every predicate pushes to the parquet scan.
    li = _t(spark, sf_dir, "lineitem").where(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01"))
        & (F.to_date("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount").between(0.03, 0.07))
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(_dec("l_extendedprice") * _dec("l_discount")).cast("double").alias("revenue")
    )


def _q_q8_market_share(spark, sf_dir):
    # TPC-H Q8 shape: national market share — NATION_1's fraction of
    # ECONOMY-part revenue delivered into AMERICA, per order year. The
    # share is a conditional-sum ratio over ONE joined pass (no second
    # scan); exact decimal volumes, one double division, half-up
    # micro-unit rounding on both engines (NOTES.md cast rule).
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    n_cust = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rkey")
    )
    n_supp = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    orders = _t(spark, sf_dir, "orders").where(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01"))
        & (F.to_date("o_orderdate") < F.lit("1998-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    vol = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(n_cust), cust["c_nationkey"] == F.col("cn_key"))
        .join(F.broadcast(n_supp), supp["s_nationkey"] == F.col("sn_key"))
        .join(F.broadcast(region), F.col("cn_rkey") == region["r_regionkey"])
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.floor(
                (
                    F.sum(
                        F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(
                            F.lit(0).cast("decimal(12,2)")
                        )
                    ).cast("double")
                    / F.sum(vol).cast("double")
                )
                * 1e6
                + F.lit(0.5)
            ).alias("mkt_share_micro")
        )
        .orderBy(F.col("o_year").asc())
    )


def _q_q9_product_profit(spark, sf_dir):
    # TPC-H Q9 shape: profit by supplier nation and year over a
    # part-name slice. The testdata has no ps_supplycost, so cost is
    # the deterministic proxy 90% of p_retailprice per unit — same
    # plan shape (5-way join, name LIKE prune on the broadcast build
    # side, nation x year rollup), exact decimal amounts throughout.
    part = _t(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    amount = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(12,2)") - _dec("l_discount")
    ) - _dec("p_retailprice") * _dec("l_quantity") * F.lit(0.90).cast("decimal(12,2)")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


def _q_q11_important_stock(spark, sf_dir):
    # TPC-H Q11 shape: groupBy + HAVING against a GLOBAL scalar — parts
    # whose stocked value at NATION_7 suppliers exceeds 1/400 of the
    # nation's total. The scalar rides a 1-row broadcast and the
    # threshold compares exact decimals via multiplication
    # (value * 400 > total), never a fact-side division.
    ps = _derived_partsupp(spark, sf_dir)
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_7")
    national = (
        ps.join(F.broadcast(supp), ps["ps_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .select(
            "ps_partkey",
            (_dec("ps_supplycost") * F.col("ps_availqty").cast("decimal(12,0)")).alias("v"),
        )
    )
    per_part = national.groupBy("ps_partkey").agg(F.sum("v").alias("value_dec"))
    total = national.agg(F.sum("v").alias("total_dec"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("value_dec") * 400 > F.col("total_dec"))
        .select("ps_partkey", F.col("value_dec").cast("double").alias("part_value"))
        .orderBy(F.col("part_value").desc(), F.col("ps_partkey").asc())
    )


def _q_q12_shipmode_priority(spark, sf_dir):
    # TPC-H Q12 shape: per-category split of critical vs non-critical
    # orders. The testdata has no l_shipmode, so the category is
    # l_returnflag — identical plan: one year of shipments, fact-fact
    # equi join to orders (both sides shuffle on orderkey; neither is
    # broadcastable at scale), conditional counts per category.
    li = _t(spark, sf_dir, "lineitem").where(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01"))
        & (F.to_date("l_shipdate") < F.lit("1997-01-01"))
    )
    orders = _t(spark, sf_dir, "orders")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(F.col("l_returnflag").alias("ship_category"))
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(crit, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy(F.col("ship_category").asc())
    )


def _q_q15_top_supplier(spark, sf_dir):
    # TPC-H Q15 shape: the revenue VIEW + scalar-max self-reference —
    # supplier(s) whose quarterly revenue equals the maximum. The view
    # is computed once; the max is a 1-row broadcast; the tie-safe
    # equality compares the EXACT decimal sums (cast to double only for
    # output), so engines can't disagree at the boundary.
    rev = (
        _t(spark, sf_dir, "lineitem")
        .where(
            (F.to_date("l_shipdate") >= F.lit("1996-01-01"))
            & (F.to_date("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
            ).alias("total_rev_dec")
        )
    )
    top = rev.agg(F.max("total_rev_dec").alias("max_rev_dec"))
    supp = _t(spark, sf_dir, "supplier")
    # The == max survivors are ~1 row (ties only) but DATA-dependent;
    # broadcast THEM into supplier via the fence (verdict-r5 ask #4)
    # rather than broadcasting the SF-scaling supplier dim — the
    # direction that stays valid at 100x.
    winners = rev.crossJoin(F.broadcast(top)).where(
        F.col("total_rev_dec") == F.col("max_rev_dec")
    )
    return (
        supp.join(fenced_broadcast(winners), F.col("supplier_no") == supp["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev_dec").cast("double").alias("total_revenue"),
        )
        .orderBy(F.col("s_suppkey").asc())
    )


def _q_q16_supplier_part_counts(spark, sf_dir):
    # TPC-H Q16 shape: distinct-supplier counts per part attribute
    # triple, with a NOT-IN supplier exclusion (negative-balance
    # suppliers stand in for the complaints LIKE — same anti-join
    # shape). The part prune is the broadcast build side; the supplier
    # exclusion is a broadcast anti join; one shuffle for the final
    # count-distinct rollup.
    ps = _derived_partsupp(spark, sf_dir).select("ps_partkey", "ps_suppkey")
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#2")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34))
    )
    bad_supp = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        ps.join(F.broadcast(part), ps["ps_partkey"] == part["p_partkey"])
        .join(F.broadcast(bad_supp), ps["ps_suppkey"] == bad_supp["s_suppkey"], "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
    )


def _q_q20_excess_stock_suppliers(spark, sf_dir):
    # TPC-H Q20 shape: the nested semi-join chain — suppliers in
    # NATION_5 holding "excess stock" of small-name parts. The
    # correlated half-of-shipped-quantity threshold becomes a per
    # (part, supplier) aggregate computing BOTH sides in one pass
    # (total vs in-1996 quantity, integer-exact doubles); survivors
    # reduce to a distinct supplier set that SEMI-joins supplier.
    # The DuckDB oracle keeps the literal nested-IN form.
    li = _t(spark, sf_dir, "lineitem")
    part_f = _t(spark, sf_dir, "part").where(F.col("p_name").like("small%")).select("p_partkey")
    in96 = (F.to_date("l_shipdate") >= F.lit("1996-01-01")) & (
        F.to_date("l_shipdate") < F.lit("1997-01-01")
    )
    per_pair = (
        li.join(F.broadcast(part_f), li["l_partkey"] == part_f["p_partkey"], "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum("l_quantity").cast("long").alias("qty_total"),
            F.sum(F.when(in96, F.col("l_quantity")).otherwise(F.lit(0.0)))
            .cast("long")
            .alias("qty_1996"),
        )
    )
    excess = (
        per_pair.where(F.col("qty_total") > F.col("qty_1996") * 2)
        .select("l_suppkey")
        .distinct()
    )
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_5")
    # excess is a HAVING-survivor set (data-dependent size) — fenced,
    # not hint-broadcast (verdict-r5 ask #4).
    return (
        supp.join(fenced_broadcast(excess), supp["s_suppkey"] == excess["l_suppkey"], "left_semi")
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .select("s_name", "s_acctbal")
        .orderBy(F.col("s_name").asc())
    )


def _q_train_dsir_weights(spark, sf_dir):
    # DSIR importance weights (r5 cont.): hashed-unigram log-likelihood
    # ratio vs the 'src0' target slice; md5 bucket hash + micro-bit
    # per-feature rounding keep every emitted value an exact bigint the
    # DuckDB oracle replays (operators/training.py::dsir_importance).
    from chesscom_etl_tableau_spark.operators.training import dsir_importance

    return dsir_importance(
        _t(spark, sf_dir, "documents"), target_source="src0", n_buckets=1024
    )


def _q_text_bigram_surprisal(spark, sf_dir):
    # Bigram LM perplexity-ish score (r5 cont.): corpus-MLE
    # P(w2|w1), per-bigram micro-bits summed exact per doc
    # (operators/text.py::bigram_surprisal).
    from chesscom_etl_tableau_spark.operators.text import bigram_surprisal

    return bigram_surprisal(_t(spark, sf_dir, "documents"))


def _q_a21_cms_heavy_hitters(spark, sf_dir):
    # Mergeable count-min-sketch frequency estimates (r5 cont.): the
    # streaming-safe counterpart of a19's exact heavy hitters. The
    # sketch aggregates distributed (one map-side-combinable pass via
    # df.stat.countMinSketch); only the eps-sized sketch reaches the
    # driver, where the per-key readout is O(keys). CMS guarantees
    # est >= exact and, with eps=0.005 @ 99% confidence, est <=
    # exact + eps*N w.h.p. — both ride as contract booleans the oracle
    # checks next to the hash-checked exact counts.
    import math

    ev = _t(spark, sf_dir, "events")
    sk_bytes = ev.agg(
        F.expr("count_min_sketch(event_type, 0.005d, 0.99d, 42)").alias("s")
    ).first()["s"]
    jvm = spark._jvm
    sketch = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytearray(sk_bytes))
    )
    exact = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_count")).collect()
    n = sum(r["exact_count"] for r in exact)
    slack = math.ceil(n * 0.005)
    rows = [
        (
            r["event_type"],
            r["exact_count"],
            sketch.estimateCount(r["event_type"]) >= r["exact_count"],
            sketch.estimateCount(r["event_type"]) <= r["exact_count"] + slack,
        )
        for r in sorted(exact, key=lambda r: r["event_type"])
    ]
    return spark.createDataFrame(
        rows,
        "event_type string, exact_count bigint, "
        "never_undercounts boolean, within_eps_bound boolean",
    )


def _q_mm_dhash_neardup(spark, sf_dir):
    # Perceptual-hash image near-dup (r5 cont.): REAL GIF LZW decode ->
    # integer-luminance dHash in one Arrow stage, then banded Hamming
    # near-dup search on the hash column only (image bytes never
    # shuffle). The DuckDB oracle recomputes every hash closed-form
    # from the fixture pixel formulas and replays the same band gate +
    # Hamming threshold (operators/multimodal.py:534 fixture contract).
    from chesscom_etl_tableau_spark.operators.multimodal import (
        dhash_neardup_stats,
        synth_dhash,
    )

    return dhash_neardup_stats(synth_dhash(_t(spark, sf_dir, "documents")))


def _q_mm_phash_neardup(spark, sf_dir):
    # DCT perceptual-hash image near-dup (r11): REAL GIF LZW decode ->
    # fixed-point integer DCT-II pHash in one Arrow stage (the
    # frequency-domain complement to mm_dhash_neardup — global
    # structure instead of edge structure), then a LOSSLESS banded
    # Hamming search: 8 bands x 8 bits, so every pair within distance
    # 7 provably shares a band (pigeonhole) — zero recall loss, unlike
    # tuned-recall LSH. The integer cosine table makes the transform
    # exact int64 arithmetic, so the DuckDB oracle recomputes every
    # hash bit-identically from the fixture pixel formulas and the
    # SAME table literals (operators/multimodal.py::phash_hex).
    from chesscom_etl_tableau_spark.operators.multimodal import (
        phash_neardup_stats,
        synth_phash,
    )

    return phash_neardup_stats(synth_phash(_t(spark, sf_dir, "documents")))


def _q_train_bpe_merges(spark, sf_dir):
    # BPE merge learning (r5 cont.): 4 greedy rounds of
    # count-pairs -> argmax -> merge-and-recount — the real tokenizer
    # training loop (operators/training.py::bpe_learn_merges). The
    # DuckDB oracle replays all 4 iterations (pair counts, the
    # deterministic argmax, and the index-local merge application)
    # through chained CTEs.
    from chesscom_etl_tableau_spark.operators.training import bpe_merge_table

    return bpe_merge_table(_t(spark, sf_dir, "documents"), k=4)


def _q_train_bpe_tokenize(spark, sf_dir):
    # Tokenizer train + APPLY (r5 cont.): learn 4 merges on the corpus,
    # then tokenize every document with them — one scan-local HOF pass
    # per merge, zero shuffles in the apply path
    # (operators/training.py::bpe_apply).
    from chesscom_etl_tableau_spark.operators.training import (
        bpe_apply,
        bpe_learn_merges,
    )

    docs = _t(spark, sf_dir, "documents")
    return bpe_apply(docs, bpe_learn_merges(docs, k=4))


def _trade_edges(spark, sf_dir):
    # customer<->supplier trade graph (both directions), shared by the
    # graph-suite entries (pagerank, label propagation)
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    return pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


def _q_graph_label_prop(spark, sf_dir):
    # Community detection (r5 cont.): 3 synchronous label-propagation
    # rounds over the trade graph — deterministic (most-frequent
    # neighbor label, min tie-break), so DuckDB replays all 3 rounds
    # through chained CTEs. Top-25 communities by size.
    from chesscom_etl_tableau_spark.operators.components import label_propagation

    lab = label_propagation(_trade_edges(spark, sf_dir), iterations=3)
    return (
        lab.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_members"), F.min("node").alias("min_member"))
        .orderBy(F.col("n_members").desc(), F.col("label").asc())
        .limit(25)
    )


def _q_graph_pagerank(spark, sf_dir):
    # Graph analytics (r5 cont.): 3-iteration PageRank over the
    # customer<->supplier trade graph, in exact integer micro-units
    # (operators/components.py::pagerank) so the iterative float sum
    # nondeterminism disappears and DuckDB replays the identical
    # arithmetic. Deterministic top-20.
    from chesscom_etl_tableau_spark.operators.components import pagerank

    return (
        pagerank(_trade_edges(spark, sf_dir), iterations=3)
        .orderBy(F.col("rank_micro").desc(), F.col("node").asc())
        .limit(20)
    )


def _q_a20_hll_union_rollup(spark, sf_dir):
    # Mergeable-sketch rollup (new in r5): per-day HLL user sketches
    # unioned into a per-type estimate WITHOUT rescanning raw events —
    # the 100 TB pattern (daily sketches -> monthly rollup). The oracle
    # checks the deterministic columns (exact distinct, day count) and
    # the sketch estimate as a relative-error contract boolean.
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    rolled = daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("approx_users"),
        F.count(F.lit(1)).alias("n_days"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return exact.join(rolled, "event_type").select(
        "event_type",
        "exact_users",
        "n_days",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.greatest(F.col("exact_users") * 0.1, F.lit(5.0))
        ).alias("union_within_bound"),
    )


def _q_mm_audio_resample(spark, sf_dir):
    # PCM decimation (new in r5): the audio twin of the raster resize —
    # keep every 4th sample (nearest-neighbor in time) and re-analyze.
    # Oracle recomputes the decimated sample stream from the closed
    # form (bytes (doc_id + 8k) % 256 / (doc_id + 8k + 1) % 256).
    docs = _t(spark, sf_dir, "documents")
    return MM.synth_audio_stats(docs, decimate=4)


def _q_mm_audio_resample_arb(spark, sf_dir):
    # Arbitrary-rate linear-interpolation audio resample (r13): the
    # proper resampler the decimate-only path could not express —
    # 8000 -> 3000 Hz is a NON-INTEGER ratio (input step 8/3 samples).
    # Output sample j blends its bracketing input samples in EXACT
    # integers scaled by the target rate (operators/multimodal.py::
    # audio_resample_stats); the oracle replays positions, the blend,
    # and the HUGEINT rms sum from the closed-form fixture bytes
    # ((doc_id + i) % 256), so the micro-floored doubles match
    # bit-for-bit.
    docs = _t(spark, sf_dir, "documents")
    return MM.synth_audio_resample(docs, target_rate=3000)


def _q_w10_lag_lead(spark, sf_dir):
    # LAG/LEAD navigation windows (new in r5): per-user inter-event gap
    # plus previous/next event type and percent_rank of value within
    # the user's history — the remaining basic window family members
    # (lag, lead, percent_rank) surfaced with a deterministic order key.
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return ev.select(
        "user_id",
        "event_id",
        (F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)).alias(
            "gap_s"
        ),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        (
            F.floor(F.percent_rank().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("value").asc(), F.col("event_id").asc()
                )
            ) * 1000000.0 + 0.5) / 1000000.0
        ).alias("value_pct_rank"),
    )


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


def _q_text_surprisal(spark, sf_dir):
    # Corpus-trained unigram LM surprisal (new in r5) — the cheap
    # perplexity-ish outlier signal; oracle recomputes the unigram
    # distribution and per-doc mean -log2 p in DuckDB.
    docs = _t(spark, sf_dir, "documents")
    return TX.unigram_surprisal(docs)


def _q_a19_heavy_hitters(spark, sf_dir):
    # Exact phi-heavy hitters with bounded-memory Misra-Gries candidate
    # generation (new in r5). The MG stage provably never drops a key
    # with support > n/k, and the exact recount makes the output
    # independent of partitioning — so the oracle is a plain HAVING.
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(TX.word_tokens(F.col("text"))).alias("token")
    )
    return AN.heavy_hitters(toks, "token", k=30)


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


def _q_w9_grouping_sets(spark, sf_dir):
    # GROUPING SETS drill (new in r5): the third member of the
    # rollup (w2) / cube (w5) family — explicit set list
    # ((type, month), (type), ()) with grouping_id disambiguating
    # the NULL-vs-aggregated cells. One pass, partial aggregation
    # per set, exactly like rollup/cube.
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_type", F.date_format("ts", "yyyy-MM").alias("month"), "value"
    )
    return (
        base.groupingSets(
            [["event_type", "month"], ["event_type"], []], "event_type", "month"
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
        .select("event_type", "month", "gid", "n_events", "sum_value")
    )


def _q_train_curriculum(spark, sf_dir):
    # Curriculum ordering (new in r5): global training position —
    # best-quality band first, hash-shuffled within band — computed
    # WITHOUT a global sort (cell counts + broadcast offsets +
    # within-cell row_number). Oracle: one window row_number over the
    # same deterministic key.
    docs = _t(spark, sf_dir, "documents")
    scored = TX.quality_metrics(docs).select("doc_id", "quality_score")
    return TR.curriculum_order(scored).select(
        "doc_id", "band", "sub", "position"
    )


def _q_dedup_substrings(spark, sf_dir):
    # OVERLAPPING duplicated-substring coverage (r11): the suffix-
    # array-style measure from Lee et al. "Deduplicating Training
    # Data" — a k-token window at EVERY position, so duplicates are
    # caught at any offset (dedup_spans' non-overlapping blocks miss
    # straddlers and shifted copies); per-doc coverage = the union of
    # duplicated [i, i+k-1] intervals via one per-doc gaps-and-islands
    # pass (operators/dedup.py::duplicated_substring_coverage). The
    # DuckDB oracle replays windows, df, and the interval merge.
    return D.duplicated_substring_coverage(_t(spark, sf_dir, "documents"))


def _q_train_interleave(spark, sf_dir):
    # Interleaved multimodal sample assembly (r12): pack image-
    # placeholder items (media-class docs, id%4==2 — the blob fixture
    # residue) and 256-token text chunks into 2048-budget samples,
    # preserving document order; the multimodal twin of
    # train_shard_pack, same two-pass distributed prefix sum, zero
    # global data-sized windows (operators/training.py::
    # interleave_multimodal_samples). Samples carry REFS, never blob
    # bytes. The DuckDB oracle replays the item stream, the global
    # cost cumsum, and the per-sample positions.
    return TR.interleave_multimodal_samples(_t(spark, sf_dir, "documents"))


def _q_train_kmv_sample(spark, sf_dir):
    # Fixed-size deterministic uniform sample (r13): k-minimum-values
    # over the shared scramble32 hash — the exact-COUNT complement of
    # the rate-based samplers, mergeable across shards (min-k of a
    # union == min-k of per-part min-ks, the KMV sketch property the
    # tests pin) and compiled to TakeOrderedAndProject, never a global
    # sort (operators/training.py::sample_fixed_k). The DuckDB oracle
    # replays the scramble and the ORDER BY ... LIMIT.
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return TR.sample_fixed_k(docs, k=100, seed=11)


def _q_train_epoch_order(spark, sf_dir):
    # Deterministic per-epoch global shuffle (r13): pseudo-random
    # permutation of the sample ids from the shared engine-portable
    # scramble32 hash seeded by epoch — reproducible on any engine or
    # cluster layout, different per epoch; rank via the two-pass
    # distributed prefix sum over MONOTONE range buckets of the key,
    # never a data-sized single-partition sort
    # (operators/training.py::epoch_order). The DuckDB oracle replays
    # the scramble and the global row_number.
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return TR.epoch_order(docs, epoch=7)


def _q_train_interleave_mm(spark, sf_dir):
    # Modality-AWARE interleave (r13): sample k is the union of the
    # k-th per-modality quota window — image/audio/text each get their
    # own cost budget per sample (the way VLM/omni training batches
    # provision encoder + LM token budgets), with audio-ref items from
    # the WAV residue class joining the stream (operators/training.py::
    # interleave_modality_budgets). Same two-pass distributed prefix
    # sum as train_interleave, run per modality; refs only, blob bytes
    # never shuffle. The DuckDB oracle replays the item stream, the
    # per-modality cumsums, and the per-sample positions.
    return TR.interleave_modality_budgets(_t(spark, sf_dir, "documents"))


def _q_dedup_substrings_apply(spark, sf_dir):
    # Duplicated-substring REMOVAL (r12): the apply twin of
    # dedup_substrings — the ExactSubstr-remove step of the Lee et al.
    # pipeline whose measure side landed in r11. Every duplicated
    # 8-token interval (union of overlapping duplicated windows, merged
    # per-doc into disjoint islands by the SAME _dup_window_islands
    # kernel the measure uses, so the twins cannot drift) is cut out
    # and the document reassembled from surviving tokens in original
    # order via JVM HOFs (operators/dedup.py::
    # remove_duplicated_substrings). The DuckDB oracle replays windows,
    # df, the interval merge, and the position-complement reassembly.
    return D.remove_duplicated_substrings(_t(spark, sf_dir, "documents"))


def _q_dedup_substrings_fixpoint(spark, sf_dir):
    # Bounded-round FIXPOINT of substring removal (r13): iterates the
    # measure->apply kernel until a round removes nothing (one-pass
    # removal can MINT new duplicates from text rejoined across a cut)
    # or the 3-round cap, localCheckpoint between rounds (the kcore
    # lineage discipline), then measures the RESIDUAL coverage of the
    # final text (operators/dedup.py::
    # remove_duplicated_substrings_fixpoint). A converged round is the
    # identity, so the DuckDB oracle macro-expands exactly 3 rounds and
    # equals the early-exiting loop by construction. Eager: the
    # convergence probe counts materialized checkpoint partitions.
    return D.remove_duplicated_substrings_fixpoint(
        _t(spark, sf_dir, "documents"), max_rounds=3
    )


def _q_text_boilerplate(spark, sf_dir):
    # Per-source boilerplate/template REMOVAL (r11): the cleaning twin
    # of dedup_spans — spans (4-token blocks) appearing in >=
    # max(2, 5% of the source's docs) distinct documents of a source
    # are dropped from every document; cleaned text reassembled in
    # block order + trailing partial (operators/dedup.py::
    # remove_boilerplate_spans). One df hash-agg + a broadcast group-
    # size join + one equi-join back — the C4-pipeline boilerplate
    # step, never a pair join. The DuckDB oracle replays block
    # slicing, the per-source df threshold, and the ordered reassembly.
    return D.remove_boilerplate_spans(_t(spark, sf_dir, "documents"))


def _q_dedup_spans(spark, sf_dir):
    # Span-level (paragraph-style) dedup (new in r5): per-doc
    # duplicated-span fraction over non-overlapping 8-token blocks.
    # Fully deterministic string algebra — the oracle recomputes the
    # span multiset and counts in DuckDB.
    docs = _t(spark, sf_dir, "documents")
    return D.duplicated_spans(docs, k=8)


def _q_dedup_semantic(spark, sf_dir):
    # SemDeDup (new in r5): cluster-then-local-pairs semantic dedup —
    # the scale path between the exact O(n^2) baseline and sign-LSH.
    # Fixed probe centroids (vec_id < 8) keep the whole path
    # deterministic, so the contract-oracle applies directly: DuckDB
    # recomputes the exact cosine pair set; found_if_identical holds
    # because parallel vectors have identical (rounded) cosine to every
    # centroid and the argmax tie-breaks on centroid_id — same bucket.
    # Recall floor 0.25 (measured 0.439/0.424/0.395 at
    # sf0.001/0.01/0.1 with nlist=4 — BASELINE.md; single-bucket
    # locality trades recall for linearity, and these near-uniform
    # synthetic vectors are SemDeDup's worst case).
    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    exact = SIM.embedding_cosine_pairs(emb, threshold=0.4)
    sem = SIM.semantic_dedup_pairs(emb, centroids, threshold=0.4)
    return _lsh_contract(
        exact, sem.select("id_a", "id_b"), ["id_a", "id_b"], "cosine_sim", 0.25
    )


def _q_mm_decode_features(spark, sf_dir):
    # Arrow-batched mapInPandas decode over binary media columns. The
    # blobs are REAL containers (BMP/PPM/GIF/WAV, built closed-form
    # from doc_id) and the decode is real header parsing — the oracle
    # recomputes the expected metadata from the same closed forms, so a
    # parser bug mismatches. Round-3 verdict ask #6.
    docs = _t(spark, sf_dir, "documents")
    return MM.synth_decode_features(docs).select(
        "doc_id", "format", "width", "height", "duration_ms", "n_bytes",
        # pixel-level stats (r5): real for the raster formats (BMP/PPM,
        # and GIF through the LZW decoder), NULL for wav — the oracle
        # recomputes the per-channel means / min-max / luminance
        # histogram from the same closed-form pixel values the
        # generator writes.
        "mean_r", "mean_g", "mean_b", "min_px", "max_px",
        "lum_b0", "lum_b1", "lum_b2", "lum_b3",
    )


def _q_mm_frame_sample(spark, sf_dir):
    # Frame-sampling fan-out plan over media byte lengths.
    docs = _t(spark, sf_dir, "documents")
    return MM.frame_sample_plan(MM.attach_binary(docs), every_ms=100)


def _q_s19_change_feed(spark, sf_dir):
    # S19 (r5 cont.): change data feed across three generations —
    # append, COW merge (updates + inserts), delete vector — read back
    # as net row-level changes between generation 1 and the head. The
    # oracle recomputes each change class from the events closed form:
    # a key updated then deleted nets to a DELETE with its generation-1
    # image; updates emit pre/post images.
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import (
        commit_append_manifest,
        commit_delete_vector,
        commit_merge_manifest,
        manifest_change_feed,
    )

    out = tempfile.mkdtemp(prefix="sg_s19_")
    try:
        sink = f"{out}/msink"
        ev = _t(spark, sf_dir, "events")
        base = ev.where(F.col("event_id") % 9 == 0).select(
            F.col("event_id").alias("game_url"),
            F.col("user_id").alias("payload"),
        )
        commit_append_manifest(base.localCheckpoint(), sink)
        updates = base.where(F.col("game_url") % 18 == 0).select("game_url")
        inserts = ev.where(F.col("event_id") % 9 == 3).select(
            F.col("event_id").alias("game_url")
        )
        commit_merge_manifest(
            updates.unionByName(inserts)
            .withColumn("payload", F.lit(-1).cast("long"))
            .localCheckpoint(),
            sink,
        )
        commit_delete_vector(
            base.where(F.col("game_url") % 27 == 0).select("game_url").localCheckpoint(),
            sink,
        )
        feed = manifest_change_feed(spark, sink, 1, 3)
        res = (
            feed.groupBy("change_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("game_url").alias("key_sum"),
                F.sum("payload").alias("payload_sum"),
            )
            .orderBy("change_type")
            .collect()
        )
        rows = [tuple(r) for r in res]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows, "change_type string, n bigint, key_sum bigint, payload_sum bigint"
    )


def _q_w11_session_window(spark, sf_dir):
    # W11 (r5 cont.): Spark's BUILT-IN session_window as a twin of the
    # hand-rolled gap sessionizer (w3) — same 30-minute gap rule (an
    # event exactly `gap` after the last starts a new session), same
    # rollup, so the DuckDB islands oracle and a parity guard against
    # SESS.session_stats both pin the semantics. One shuffle at
    # user grain, exactly like the manual form.
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select(
            "user_id",
            "n_events",
            "session_start",
            "session_end",
            (
                F.floor(F.unix_timestamp("session_end"))
                - F.floor(F.unix_timestamp("session_start"))
            ).alias("duration_s"),
        )
    )


def _q_t15_scd2_dimension(spark, sf_dir):
    # T15 (r5 final): SCD Type-2 dimension build from a change feed —
    # purchase events carry a spend `tier` (floor(value/25)) per user;
    # consecutive same-tier runs collapse into versioned rows with
    # half-open effective intervals and a far-future end on the open
    # version. One hash exchange on user_id; every window reuses it.
    # Pairs with j5_asof_join to close the dimensional-modeling loop.
    from chesscom_etl_tableau_spark.operators.scd import scd2_build

    ev = _t(spark, sf_dir, "events").where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    ch = ev.select(
        "user_id",
        F.floor(F.col("value") / 25).cast("int").alias("tier"),
        "ts",
        "event_id",
    )
    return scd2_build(ch, "user_id", "tier", "ts", order_cols=("event_id",))


def _q_i6_scd2_apply_changes(spark, sf_dir):
    # I6 (r5 final): incremental SCD2 maintenance — build the tier
    # dimension on the first half-month of purchases, then APPLY the
    # second half as a change batch touching only open versions of
    # affected keys (never rescanning closed history). The oracle is
    # the FULL-rebuild islands SQL over all purchases: incremental
    # maintenance must be indistinguishable from rebuild, which is
    # the entire correctness claim of the pattern.
    from chesscom_etl_tableau_spark.operators.scd import (
        scd2_apply_changes,
        scd2_build,
    )

    ev = _t(spark, sf_dir, "events").where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    ch = ev.select(
        "user_id",
        F.floor(F.col("value") / 25).cast("int").alias("tier"),
        "ts",
        "event_id",
    )
    cutoff = F.lit("2024-01-16").cast("timestamp")
    d1 = scd2_build(
        ch.where(F.col("ts") < cutoff), "user_id", "tier", "ts", ("event_id",)
    )
    return scd2_apply_changes(
        d1,
        ch.where(F.col("ts") >= cutoff),
        "user_id",
        "tier",
        "ts",
        ("event_id",),
    )


def _q_text_hybrid_rrf(spark, sf_dir):
    # Hybrid retrieval (r5 final): BM25 lexical ranking + exact cosine
    # vector ranking over the aligned corpus (doc_id == vec_id), fused
    # by reciprocal-rank fusion (1/(60+rank), SIGIR'09) — the standard
    # production hybrid-search scorer. Both rankers reduce to <=50-row
    # candidate lists before the fusion join, so fusion cost is
    # corpus-size-independent; absent ranks surface as 0, score
    # rounded 1e-6, ties on doc_id.
    from chesscom_etl_tableau_spark.operators.retrieval import hybrid_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    return hybrid_topk(
        docs, emb, ["spark", "join", "window"], query_vec_id=0, top_k=10
    )


def _q_dq_report(spark, sf_dir):
    # Relational data-quality gate (r5 final): one report row per
    # contract rule over orders (+customer dim) — key uniqueness,
    # accepted status set, non-negative price, priority null-rate,
    # orderdate freshness, custkey referential integrity. All
    # row-level rules fuse into ONE aggregate pass over the fact scan;
    # the referential rule is a broadcast-dim anti-join count.
    from chesscom_etl_tableau_spark.operators.quality_checks import dq_report

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return dq_report(
        orders,
        unique_keys=["o_orderkey"],
        accepted_values={"o_orderstatus": ["O", "F", "P"]},
        non_negative=["o_totalprice"],
        max_null_rate={"o_orderpriority": 0.5},
        references=[("o_custkey", customer, "c_custkey")],
        fresh_after={"o_orderdate": "2000-01-01"},
    )


def _q_s20_incremental_agg(spark, sf_dir):
    # S20 (r5 cont.): incremental materialized-view maintenance. A
    # grouped count+sum view of a manifest sink refreshes by reading
    # ONLY newly appended files (sum/count self-merge); when the fact
    # history stops being pure appends (here: a delete vector), it
    # consumes the CHANGE DATA FEED and applies signed deltas instead
    # of rescanning; and it always equals the from-scratch aggregate —
    # which is exactly what the oracle recomputes from source.
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import (
        commit_append_manifest,
        commit_delete_vector,
        read_manifest_sink,
        refresh_incremental_agg,
    )

    out = tempfile.mkdtemp(prefix="sg_s20_")
    try:
        sink, view = f"{out}/facts", f"{out}/view"
        ev = _t(spark, sf_dir, "events").select(
            F.col("event_id").alias("game_url"),
            (F.col("user_id") % 100).alias("grp"),
            F.col("user_id").alias("payload"),
        )
        commit_append_manifest(ev.where(F.col("game_url") % 3 == 0).localCheckpoint(), sink)
        r1 = refresh_incremental_agg(spark, sink, view, "grp", "payload")
        commit_append_manifest(ev.where(F.col("game_url") % 3 == 1).localCheckpoint(), sink)
        r2 = refresh_incremental_agg(spark, sink, view, "grp", "payload")
        r2b = refresh_incremental_agg(spark, sink, view, "grp", "payload")
        commit_delete_vector(
            ev.where(F.col("game_url") % 12 == 0).select("game_url").localCheckpoint(),
            sink,
        )
        r3 = refresh_incremental_agg(spark, sink, view, "grp", "payload")
        final = read_manifest_sink(spark, view)
        expect = (
            read_manifest_sink(spark, sink)
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("payload").cast("long").alias("total"))
        )
        mismatch = _multiset_mismatch(
            final.select("grp", "n_rows", "total"), expect
        )
        # one aggregation job for (n_groups, n_rows, payload_total)
        # instead of three separate actions (optimization r15)
        n_groups, n_rows_total, payload_total = final.agg(
            F.count(F.lit(1)), F.sum("n_rows"), F.sum("total")
        ).first()
        rows = [
            (
                n_groups,
                n_rows_total,
                payload_total,
                r1["mode"] == "full",  # first build scans everything
                r2["mode"] == "incremental" and r2b["mode"] == "noop",
                r3["mode"] == "cdc",  # DV history maintained via the change feed
                mismatch == 0,
            )
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "n_groups bigint, n_rows bigint, payload_total bigint, "
        "first_build_full boolean, append_was_incremental boolean, "
        "dv_maintained_via_cdc boolean, view_equals_recompute boolean",
    )


def _q_train_weighted_sample(spark, sf_dir):
    # Derandomized A-ES weighted sampling (r5 cont.): 50 documents
    # drawn without replacement with probability ∝ length — the
    # mixture-weighted corpus sampler. The md5-derived uniform makes
    # the draw bit-identical across engines; DuckDB replays the exact
    # key computation. es_key is rounded to micro-units for the
    # cross-engine hash compare (ln/division agree well past 6dp).
    docs = _t(spark, sf_dir, "documents")
    return (
        TR.weighted_sample(
            docs.where(F.col("n_chars") > 0), "n_chars", k=50, seed="r5"
        )
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.floor(F.col("es_key") * 1e6 + F.lit(0.5)).cast("long").alias("es_key_micro"),
        )
    )


def _q_a22_attribution(spark, sf_dir):
    # A22 (r5 cont.): last-touch conversion attribution — each purchase
    # credits the user's most recent prior non-purchase event within a
    # 7-day lookback, else 'unattributed'. Built on the as-of join
    # (union-tag single shuffle, operators/asof.py); touches are
    # pre-deduped per (user, ts) by max event_id so the as-of contract
    # (right unique per key+ts) holds deterministically. The DuckDB
    # oracle runs the literal correlated-subquery form.
    ev = _t(spark, sf_dir, "events")
    conv = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    touch = (
        ev.where(F.col("event_type") != "purchase")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("user_id", "ts", F.col("event_type").alias("touch_type"))
    )
    j = asof_join(conv, touch, ["user_id"], payload_cols=["touch_type"])
    credited = j.select(
        F.when(
            F.col("asof_ts").isNotNull()
            & (F.col("asof_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")),
            F.col("asof_touch_type"),
        )
        .otherwise(F.lit("unattributed"))
        .alias("credit"),
        "user_id",
    )
    return (
        credited.groupBy("credit")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("credit")
    )


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
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="sg_f10_")
    try:
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
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "event_type string, n_events bigint, user_sum bigint, "
        "dpp_injected boolean, dpp_attributable_and_lossless boolean",
    )


def _q_train_corpus_drift(spark, sf_dir):
    # Corpus drift monitor (r5 cont.): token-distribution shift between
    # two sources as smoothed per-bucket log-likelihood ratios in exact
    # micro-bits (the DSIR hash/ratio pattern — the only float op is
    # log2 of a ratio of exact bigints). Top-20 most drifted buckets,
    # fully hash-checked: the oracle replays the md5 bucketing, counts,
    # and lr formula in DuckDB.
    docs = _t(spark, sf_dir, "documents")
    drift = TR.corpus_drift(docs, "src0", "src1")
    return drift.orderBy(
        F.abs(F.col("lr_micro")).desc(), F.col("bucket").asc()
    ).limit(20)


def _q_mm_spectral_stats(spark, sf_dir):
    # Frequency-domain audio features (r5 cont.): np.fft.rfft inside
    # the same Arrow stage as the PCM decode. DuckDB has no FFT, so the
    # oracle verifies the spectrum through exact mathematical
    # identities instead: the DC bin IS the integer sample sum (oracle
    # recomputes it from the payload closed form), Parseval ties total
    # spectral power to the exact sample energy, and the sawtooth
    # fixture pins the peak bin to the fundamental n/128.
    docs = _t(spark, sf_dir, "documents")
    return MM.synth_spectral_features(docs)


def _q_mm_audio_stats(spark, sf_dir):
    # Sample-level PCM audio analysis (new in r5): the WAV fixtures
    # carry real 16-bit PCM payloads, so peak/RMS/zero-crossing stats
    # are a raw `np.frombuffer` decode — no codec library involved.
    # The oracle recomputes every sample from the generator's closed
    # form ((doc_id + i) % 256 bytes, little-endian int16) and
    # re-aggregates, so a chunk-walk or sample-math bug mismatches.
    docs = _t(spark, sf_dir, "documents")
    return MM.synth_audio_stats(docs)


def _q_mm_audio_vad(spark, sf_dir):
    # Voice-activity detection (r11): frame-energy VAD over the REAL
    # PCM payloads — non-overlapping 100-sample frames, integer
    # summed-|sample| threshold, maximal active runs as segments (the
    # speech-curation primitive: drop silence, keep utterances). One
    # Arrow stage; only 6 scalar columns shuffle. The oracle replays
    # every sample from the generator's closed form, re-frames with
    # k//100, and recounts runs with the gaps-and-islands window
    # (operators/multimodal.py::vad_stats).
    from chesscom_etl_tableau_spark.operators.multimodal import synth_audio_vad

    return synth_audio_vad(_t(spark, sf_dir, "documents"))


def _q_mm_vad_segments(spark, sf_dir):
    # Row-level twin of mm_audio_vad (the w3_session_stats vs
    # w3_sessionize pattern): the maximal active runs themselves, one
    # row per utterance span — the extraction step a speech pipeline
    # cuts on (operators/multimodal.py::vad_segments; shares the
    # _vad_active_frames kernel with the stats form, so the two
    # surfaces cannot drift apart). Oracle: same frame CTE, islands
    # materialized as rows via min/max per gaps-and-islands group.
    from chesscom_etl_tableau_spark.operators.multimodal import (
        synth_audio_vad_segments,
    )

    return synth_audio_vad_segments(_t(spark, sf_dir, "documents"))


def _q_mm_resize_stats(spark, sf_dir):
    # Nearest-neighbor resize (new in r5) — the `resize` step of the
    # multimodal brief, over the REAL decoded rasters (BMP/PPM directly,
    # GIF through the LZW decoder): resample to 8x8 and report channel
    # means + the top-left/bottom-right pixels (which pin sampling
    # positions and row orientation). The oracle recomputes every
    # sampled source pixel from the fixture's closed forms.
    docs = _t(spark, sf_dir, "documents")
    return MM.synth_resize_stats(docs, out_w=8, out_h=8)


def _q_text_bpe_tokens(spark, sf_dir):
    # BPE-ish pre-tokenizer counts (LLM token budgeting).
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.bpe_token_count(F.col("text")).alias("n_bpe_tokens"))


def _q_ann_ivf_kmeans(spark, sf_dir):
    # Contract oracle (was rows-only until r5): IVF with centroids
    # learned by seeded spark.ml KMeans — the production index-build
    # path. Learned centroids are engine-specific, so the floor is on
    # MEAN recall across queries (0.2; measured means 0.67/0.33/0.40 —
    # a single query can hit 0 at nprobe=2 on near-uniform vectors).
    emb = _t(spark, sf_dir, "embeddings")
    n, _dim = _emb_stats(sf_dir)
    centroids = SIM.ivf_build_centroids(emb, nlist=8, seed=42, corpus_rows=n)
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = SIM.cosine_topk(emb, queries, k=5).select("query_id", "vec_id", "cosine_sim")
    approx = SIM.ivf_topk(emb, centroids, queries, k=5, nprobe=2).select("query_id", "vec_id")
    return _ann_contract(exact, approx, 0.2, per_query=False)


def _q_ann_ivfpq_topk(spark, sf_dir):
    # IVF-PQ composite index (r9, operators/similarity.py::ivfpq_topk —
    # the FAISS IndexIVFPQ layout: coarse IVF quantizer + PQ codebooks
    # trained on residuals, ADC scoring over m-byte codes in the probed
    # buckets, exact refine on k*rf candidates). Contract oracle: the
    # deterministic exact-scan columns (DuckDB recomputes them) + a MEAN
    # recall floor of 0.2 — this corpus is near-uniform random vectors,
    # the information-theoretic worst case for any quantizer (measured
    # means 0.467/0.667/0.467 at the three SFs with nprobe=4/nlist=8,
    # kcode=32, refine 16, ivf_max_iter=5/pq_max_iter=4). Training
    # inputs are hash-sample capped and dim/rows come from catalog
    # stats (zero sniff jobs). KMeans iterations were cut 10->5/4 in
    # r10 (verdict-r9 ask #4): the A/B at all 3 SFs showed recall
    # 0.467-0.667 (vs 0.4-0.867 at 10/10 — inside the quantizer-noise
    # band on random vectors, 2.3x the floor at worst) while halving
    # the dominant KMeans cost of the entry (sf0.1: 20.5s -> 10.0s
    # same-box).
    emb = _t(spark, sf_dir, "embeddings")
    n, dim = _emb_stats(sf_dir)
    qs = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = SIM.cosine_topk(emb, qs, k=5).select("query_id", "vec_id", "cosine_sim")
    approx = SIM.ivfpq_topk(
        emb, qs, k=5, nprobe=4, nlist=8, m=4, kcode=32, refine_factor=16,
        seed=42, dim=dim, corpus_rows=n, ivf_max_iter=5, pq_max_iter=4,
    ).select("query_id", "vec_id")
    return _ann_contract(exact, approx, 0.2, per_query=False)


def _q_text_token_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return TX.quality_metrics(docs)


def _q_text_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", TX.word_tokens(F.col("text")).alias("toks"))
    return toks.select("doc_id", TX.lang_id_from_tokens(F.col("toks")).alias("lang_guess"))


def _q_text_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.normalized_fingerprint(F.col("text")).alias("fingerprint"))


# ---------------------------------------------------------------------------
# Ingest-surface checks (SURVEY.md §2.1 S3/S5-S10, §2.7 I1-I5). Each runs a
# REAL pipeline (fixture archives derived deterministically from the orders
# table, temp-dir sinks) and returns the observable counters/rows as a small
# DataFrame; the oracles recompute the expected values from the same source
# table, or are constants fixed by the contract itself (e.g. "a second
# ingest of the same archives appends zero rows", fetch_and_post.py:4-8).
# ---------------------------------------------------------------------------
# Embeddings-table row counts per scale factor — the stand-in for catalog
# statistics (at real scale: the table's rowCount stat). Used to size LSH
# band width WITHOUT scanning the corpus at plan-build time.
_EMB_ROWS = {"sf0.001": 500, "sf0.01": 500, "sf0.1": 2000}
_EMB_DIM = 64


def _emb_stats(sf_dir: str) -> tuple[int, int]:
    key = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return _EMB_ROWS.get(key, 2000), _EMB_DIM


def _ingest_fixture(spark, sf_dir):
    """Deterministic nested-archive frame (ARCHIVE_SCHEMA shape) derived
    from the orders table: 3 users, one archive per (user, order month),
    one game per selected order, PLUS one zero-game archive per user (the
    reference marks empty archives processed with game_count=0,
    fetch_and_post.py:345-350)."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 97 == 0)
    user = F.concat(F.lit("u"), (F.col("o_custkey") % 3).cast("string"))
    month = F.date_format(F.to_date("o_orderdate"), "yyyy-MM")
    end_time = F.unix_timestamp(F.to_date("o_orderdate")) + F.col("o_orderkey") % 86400
    game = F.struct(
        F.concat(F.lit("g://"), F.col("o_orderkey").cast("string")).alias("url"),
        F.lit("600").alias("time_control"),
        end_time.cast("long").alias("end_time"),
        F.concat(F.lit('[Result "1-0"] 1. e4 g'), F.col("o_orderkey").cast("string")).alias("pgn"),
        F.struct(
            user.alias("username"),
            F.lit(1500).cast("long").alias("rating"),
            F.lit("win").alias("result"),
        ).alias("white"),
        F.struct(
            F.concat(F.lit("opp"), (F.col("o_orderkey") % 7).cast("string")).alias("username"),
            F.lit(1400).cast("long").alias("rating"),
            F.lit("checkmated").alias("result"),
        ).alias("black"),
    )
    arch = (
        o.select(
            user.alias("username"),
            F.concat(F.lit("a://"), user, F.lit("/"), month).alias("archive_url"),
            game.alias("game"),
        )
        .groupBy("username", "archive_url")
        .agg(F.sort_array(F.collect_list("game")).alias("games"))
    )
    empty = (
        arch.groupBy("username")
        .agg(F.first("games").alias("__g"))
        .select(
            "username",
            F.concat(F.lit("a://"), F.col("username"), F.lit("/empty")).alias("archive_url"),
            F.filter(F.col("__g"), lambda _: F.lit(False)).alias("games"),
        )
    )
    # Materialize once (optimization r15, guide §5): every consumer is
    # an EAGER ingest fixture that evaluates the archive frame several
    # times per run (ingest_archives reads it for new_rows AND for the
    # audit stats; i5 runs four ingests) — without the pin the
    # orders-scan + double-groupBy fixture build re-ran up to 8x. The
    # frame is ~60 rows.
    return arch.unionByName(empty).localCheckpoint()


def _q_i2_idempotent_reingest(spark, sf_dir):
    # I2/J1: ingesting the same archives twice appends zero duplicates
    # (fetch_and_post.py:4-8, 358-370).
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="sg_i2_")
    try:
        sink = f"{out}/games"
        archives = _ingest_fixture(spark, sf_dir)
        r1 = ING.ingest_archives(spark, archives, sink, reprocess_last=False)
        r2 = ING.ingest_archives(spark, archives, sink, reprocess_last=False)
        sunk = spark.read.parquet(sink)
        # rows + distinct keys in one aggregation job (optimization r15).
        # count_distinct EXCLUDES null while the old distinct().count()
        # counted a null key as one value — the max(isNull) indicator
        # restores the old semantics should a null key ever appear
        # (advice r15; keys are generated non-null today).
        n_rows, n_keys_nn, has_null = sunk.agg(
            F.count(F.lit(1)),
            F.count_distinct(F.col("game_url")),
            F.max(F.col("game_url").isNull().cast("int")),
        ).first()
        n_keys = n_keys_nn + (has_null or 0)
        rows = [(r1.appended_games, r2.appended_games, n_rows, n_keys)]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "first_run_appended bigint, second_run_appended bigint, sink_rows bigint, distinct_keys bigint",
    )


def _q_i3_open_month_refetch(spark, sf_dir):
    # I3: with state, a re-run unmarks the LAST processed archive per
    # user (the still-open month, fetch.yml:93-129), re-fetches exactly
    # that one, and idempotent dedup appends zero.
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="sg_i3_")
    try:
        sink, state = f"{out}/games", f"{out}/state.json"
        archives = _ingest_fixture(spark, sf_dir)
        r1 = ING.ingest_archives(spark, archives, sink, state_path=state, reprocess_last=False)
        r2 = ING.ingest_archives(spark, archives, sink, state_path=state, reprocess_last=True)
        n_sink = spark.read.parquet(sink).count()
        rows = [(r1.processed_archives, r2.processed_archives, r2.appended_games, n_sink)]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "first_run_processed bigint, second_run_processed bigint, second_run_appended bigint, sink_rows bigint",
    )


def _q_s9_state_roundtrip(spark, sf_dir):
    # S9/I1: checkpoint state written by a run and read back — per-user
    # processed-archive count (incl. the empty archive) and the event-time
    # watermark (max end_time over APPENDED games, fetch_and_post.py:399-413).
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="sg_s9_")
    try:
        sink, state_path = f"{out}/games", f"{out}/state.json"
        archives = _ingest_fixture(spark, sf_dir)
        ING.ingest_archives(spark, archives, sink, state_path=state_path, reprocess_last=False)
        st = ING.load_state(state_path)
        rows = sorted(
            (u, len(e.get("processed_archives", [])), int(e.get("last_end_time", 0)))
            for u, e in st.items()
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows, "username string, n_processed_archives bigint, last_end_time bigint"
    )


def _q_s6_audit_game_counts(spark, sf_dir):
    # S6: one audit row per processed archive; game_count counts APPENDED
    # (post-dedup) rows, and a zero-game archive still gets a row with 0
    # (fetch_and_post.py:345-350, 390-394).
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="sg_s6_")
    try:
        sink, audit = f"{out}/games", f"{out}/audit"
        archives = _ingest_fixture(spark, sf_dir)
        ING.ingest_archives(spark, archives, sink, audit_path=audit, reprocess_last=False)
        rows = [
            (r["username"], r["archive_url"], int(r["game_count"]))
            for r in spark.read.parquet(audit)
            .select("username", "archive_url", "game_count")
            .collect()
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(sorted(rows), "username string, archive_url string, game_count int")


def _q_i5_incremental_equivalence(spark, sf_dir):
    # I5/I2: three archive-slice incremental runs produce exactly the
    # fact table one batch run does (same rows, same keys).
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="sg_i5_")
    try:
        batch_sink, incr_sink = f"{out}/batch", f"{out}/incr"
        archives = _ingest_fixture(spark, sf_dir)
        ING.ingest_archives(spark, archives, batch_sink, reprocess_last=False)
        slice_of = F.abs(F.xxhash64("archive_url")) % 3
        for i in range(3):
            ING.ingest_archives(
                spark, archives.where(slice_of == i), incr_sink, reprocess_last=False
            )
        b = spark.read.parquet(batch_sink).select("game_url")
        i_ = spark.read.parquet(incr_sink).select("game_url")
        # All four counters in ONE job (optimization r15, guide §1.2):
        # tag-union + per-key presence counts replaces 2 count jobs +
        # 2 anti-join count jobs over the same two sinks. Keys are
        # unique per sink (exactly-once ingest), so presence==absence
        # arithmetic reproduces the anti-join counts.
        agg = (
            b.withColumn("__s", F.lit(1))
            .unionByName(i_.withColumn("__s", F.lit(2)))
            .groupBy("game_url")
            .agg(
                F.sum(F.when(F.col("__s") == 1, 1).otherwise(0)).alias("__b"),
                F.sum(F.when(F.col("__s") == 2, 1).otherwise(0)).alias("__i"),
            )
            .agg(
                F.sum("__b").cast("long"),
                F.sum("__i").cast("long"),
                # anti-join row counts: left rows whose key has no match
                F.sum(F.when(F.col("__i") == 0, F.col("__b")).otherwise(0)).cast("long"),
                F.sum(F.when(F.col("__b") == 0, F.col("__i")).otherwise(0)).cast("long"),
            )
        )
        r0 = agg.first()
        rows = [tuple(int(v) if v is not None else 0 for v in r0)]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows, "batch_rows bigint, incr_rows bigint, only_in_batch bigint, only_in_incr bigint"
    )


def _q_s5_append_roundtrip(spark, sf_dir):
    # S5: batched append sink — two appends of the same batch are both
    # present (append never overwrites); row count doubles, keys don't.
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="sg_s5_")
    try:
        path = f"{out}/sink"
        ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 37 == 0).select("event_id", "user_id")
        ev.write.mode("append").parquet(path)
        ev.write.mode("append").parquet(path)
        back = spark.read.parquet(path)
        # rows + distinct keys in one aggregation job (optimization r15);
        # max(isNull) restores distinct().count()'s counts-null-as-one
        # semantics should a null key ever appear (advice r15).
        n_rows, n_keys_nn, has_null = back.agg(
            F.count(F.lit(1)),
            F.count_distinct(F.col("event_id")),
            F.max(F.col("event_id").isNull().cast("int")),
        ).first()
        n_keys = n_keys_nn + (has_null or 0)
        rows = [(n_rows, n_keys)]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(rows, "sink_rows bigint, distinct_events bigint")


def _q_text_char_entropy(spark, sf_dir):
    # Quality signal (r5): Shannon entropy of the normalized char
    # distribution per doc — gibberish/diversity gate next to
    # quality_metrics. Exact integer-count computation, full oracle.
    docs = _t(spark, sf_dir, "documents")
    return TX.char_entropy(docs)


def _q_w8_ntile_deciles(spark, sf_dir):
    # W8 (r5): NTILE decile segmentation of customers by lifetime spend
    # (classic BI customer-value banding; completes the window-function
    # family rank/row_number/range/rows/ntile). Deterministic tie-break
    # by customer key; exact decimal sums until the final cast.
    #
    # Scale shape (r6 verdict #2): a bare `ntile(10) over (order by
    # spend desc)` sorts EVERY per-customer row on one partition —
    # NTILE admits no InferWindowGroupLimit cap, so at 100x this is a
    # driver-adjacent bottleneck. Instead, the curriculum_order
    # technique (training.py) reproduces exact NTILE semantics with no
    # global sort:
    #   1. one agg derives ~32 exact `percentile` value boundaries of
    #      the spend distribution (a 1-row frame, broadcast);
    #   2. each row's CELL = count of boundaries above its spend —
    #      value-pure, so spend ties can never straddle cells and
    #      within-cell order remains globally consistent;
    #   3. a <=33-row cell-count agg gives each cell's start offset
    #      (cumsum window over the tiny agg frame, broadcast back);
    #   4. row_number within each ~balanced cell + offset = the exact
    #      global rank, and NTILE(k) is a pure formula of (rank, n):
    #      the first n%k tiles take ceil(n/k) rows, the rest floor.
    # Fully IN-PLAN (zero driver collects, plan build runs zero jobs —
    # the TestLazyPlanBuild contract): the boundary array rides a 1-row
    # broadcast cross join, the offsets a <=33-row broadcast join whose
    # cumsum window runs over that tiny agg frame only.
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(_dec("o_totalprice")).alias("__spend")
    )
    n_cells = 32
    qs = [i / n_cells for i in range(1, n_cells)]
    spend_d = F.col("__spend").cast("double")
    # r8 fusion (verdict-r7 #1): __total rides the SAME 1-row bounds
    # agg/broadcast instead of a second whole-frame window over the
    # cells agg — one fewer windowed column on the offsets frame. The
    # chain is still ~5 serial stage rounds (per_cust exchange →
    # bounds agg → cells agg → offsets → final), which IS the floor:
    # exact distributed rank costs two passes (TeraSort shape); the
    # 0.26s r5 number belonged to the single-partition global sort
    # that dies at scale. Profile in BASELINE.md.
    bounds = per_cust.agg(
        F.percentile(spend_d, F.array(*[F.lit(q) for q in qs])).alias("__b"),
        F.count(F.lit(1)).alias("__total"),
    )
    # cell id = #boundaries ABOVE the spend (value-pure, so ties never
    # straddle cells); descending rank => high spend = low cell id
    celled = per_cust.crossJoin(F.broadcast(bounds)).select(
        "o_custkey",
        "__spend",
        "__total",
        F.size(F.filter("__b", lambda b: spend_d < b)).alias("__cell"),
    )
    cells = celled.groupBy("__cell").agg(F.count(F.lit(1)).alias("__n"))
    w_cum = (
        Window.partitionBy(F.lit(1))
        .orderBy("__cell")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = cells.select(
        "__cell",
        F.coalesce(F.sum("__n").over(w_cum), F.lit(0)).alias("__off"),
    )
    w_cell = Window.partitionBy("__cell").orderBy(
        F.col("__spend").desc(), F.col("o_custkey").asc()
    )
    rank = F.col("__off") + F.row_number().over(w_cell)  # 1-based global
    n = F.col("__total")
    q10, rem = F.floor(n / 10), n % 10
    head = rem * (q10 + 1)  # rows covered by the ceil-sized tiles
    decile = F.when(rank <= head, (rank - 1) / (q10 + 1)).otherwise(
        # greatest(q10,1) guards ANSI div-by-0 when n < 10 (unreached)
        rem + (rank - head - 1) / F.greatest(q10, F.lit(1))
    )
    tiled = celled.join(F.broadcast(offsets), "__cell").withColumn(
        "decile", (F.floor(decile) + 1).cast("int")
    )
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("__spend").cast("double").alias("decile_spend"),
        F.min("__spend").cast("double").alias("min_spend"),
        F.max("__spend").cast("double").alias("max_spend"),
    )


def _q_s11_manifest_roundtrip(spark, sf_dir):
    # S11 (r5): object-store-safe manifest commit — overlapping commits
    # dedup on the key under the exclusive-create generation swap (no
    # rename, no lock; plans/ingest.py commit_append_manifest). The
    # oracle recomputes the expected counts from the same source slice:
    # second commit publishes only the non-overlapping half, snapshot
    # readers see each key exactly once, generations are dense.
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import (
        commit_append_manifest,
        read_manifest_sink,
    )

    out = tempfile.mkdtemp(prefix="sg_s11_")
    try:
        sink = f"{out}/msink"
        ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 37 == 0).select(
            F.col("event_id").alias("game_url"), "user_id"
        )
        first = ev.where(F.col("game_url") % 2 == 0)
        second = ev  # fully overlaps `first` on the even keys
        n1 = commit_append_manifest(first.localCheckpoint(), sink)
        n2 = commit_append_manifest(second.localCheckpoint(), sink)
        back = read_manifest_sink(spark, sink)
        rows = [
            (
                n1,
                n2,
                back.count(),
                back.select("game_url").distinct().count(),
                len(os.listdir(os.path.join(sink, "_manifests"))),
            )
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "published_first bigint, published_second bigint, "
        "sink_rows bigint, distinct_keys bigint, generations bigint",
    )


def _q_s12_time_travel(spark, sf_dir):
    # S12 (r5): manifest time travel — every published generation stays
    # a first-class snapshot read (its file list is immutable and gc
    # only reaps unreferenced files). Three commits, then each
    # generation read back by number: counts must equal the cumulative
    # slices the oracle recomputes from the source.
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import (
        commit_append_manifest,
        read_manifest_sink,
    )

    out = tempfile.mkdtemp(prefix="sg_s12_")
    try:
        sink = f"{out}/msink"
        ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 37 == 0).select(
            F.col("event_id").alias("game_url"), "user_id"
        )
        for m in (0, 1, 2):
            commit_append_manifest(
                ev.where(F.col("game_url") % 3 == m).localCheckpoint(), sink
            )
        rows = [
            (g, read_manifest_sink(spark, sink, generation=g).count())
            for g in (1, 2, 3)
        ] + [(99, read_manifest_sink(spark, sink).count())]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(rows, "generation bigint, n_rows bigint")


def _q_s13_merge_roundtrip(spark, sf_dir):
    # S13 (r5): copy-on-write MERGE on the manifest sink — matched keys
    # replaced, new keys appended, one generation swap. The oracle
    # recomputes counts and the post-merge payload sum from the same
    # source slice.
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import (
        commit_append_manifest,
        commit_merge_manifest,
        read_manifest_sink,
    )

    out = tempfile.mkdtemp(prefix="sg_s13_")
    try:
        sink = f"{out}/msink"
        ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 37 == 0).select(
            F.concat(F.lit("k"), F.col("event_id")).alias("game_url"),
            F.col("user_id").alias("payload"),
        )
        n0 = commit_append_manifest(ev.localCheckpoint(), sink)
        evens = _t(spark, sf_dir, "events").where(
            (F.col("event_id") % 37 == 0) & (F.col("event_id") % 2 == 0)
        )
        batch = evens.select(
            F.concat(F.lit("k"), F.col("event_id")).alias("game_url"),
            (F.col("user_id") + 100000).alias("payload"),
        ).union(
            evens.select(
                F.concat(F.lit("n"), F.col("event_id")).alias("game_url"),
                (F.col("user_id") + 200000).alias("payload"),
            )
        )
        res = commit_merge_manifest(batch.localCheckpoint(), sink)
        back = read_manifest_sink(spark, sink)
        rows = [
            (
                n0,
                res.inserted,
                res.updated,
                back.count(),
                back.select("game_url").distinct().count(),
                back.agg(F.sum("payload")).first()[0],
            )
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "appended bigint, inserted bigint, updated bigint, "
        "sink_rows bigint, distinct_keys bigint, payload_sum bigint",
    )


def _q_s14_stats_pruning(spark, sf_dir):
    # S14 (r5 cont.): manifest per-file column stats + file skipping.
    # Events are range-clustered on the stats column at write, so a
    # narrow range read must SKIP files (driver-side, zero data I/O)
    # and still return exactly the rows the full-scan filter returns.
    # The oracle recomputes the row count and payload sum from source;
    # the pruning facts ride as contract booleans.
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import (
        commit_append_manifest,
        prune_file_list,
        read_manifest_pruned,
        read_manifest_sink,
    )

    out = tempfile.mkdtemp(prefix="sg_s14_")
    try:
        sink = f"{out}/msink"
        ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 11 == 0).select(
            F.col("event_id").alias("game_url"),
            F.col("user_id").alias("payload"),
            F.col("event_id").alias("ord"),
        )
        commit_append_manifest(
            ev.repartitionByRange(8, "ord").localCheckpoint(),
            sink,
            stats_cols=["ord"],
        )
        mn, mx = ev.agg(F.min("ord"), F.max("ord")).first()
        lo, hi = mn + (mx - mn) // 4, mn + (mx - mn) // 2
        kept, skipped = prune_file_list(sink, "ord", lo, hi)
        pruned = read_manifest_pruned(spark, sink, "ord", lo, hi)
        full = read_manifest_sink(spark, sink).where(F.col("ord").between(lo, hi))
        rows = [
            (
                pruned.count(),
                pruned.agg(F.sum("payload")).first()[0],
                len(skipped) > 0,
                pruned.count() == full.count(),
            )
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "n_rows bigint, payload_sum bigint, "
        "pruning_skipped_files boolean, pruned_equals_full boolean",
    )


def _q_s17_bloom_pruning(spark, sf_dir):
    # S17 (r5 cont.): per-file BLOOM filters for point-lookup file
    # skipping. The sink is written in INGEST order (keys scatter), so
    # every file's [min, max] covers every probe and min/max stats can
    # skip NOTHING — the adversarial case blooms exist for. The probe
    # keys are taken from known files, so which files the bloom keeps
    # is deterministic up to false positives; the contract columns are
    # the exact lookup results (oracle-recomputed from source) plus the
    # skip facts (blooms skipped most files; results equal a full-scan
    # filter; a nonexistent key reads zero files).
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import (
        commit_append_manifest,
        prune_file_list,
        prune_file_list_eq,
        read_manifest_point,
        read_manifest_sink,
    )

    out = tempfile.mkdtemp(prefix="sg_s17_")
    try:
        sink = f"{out}/msink"
        ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 13 == 0).select(
            F.col("event_id").alias("game_url"),
            F.col("user_id").alias("payload"),
        )
        n = ev.count()
        # ~16 bits per key per file keeps the false-positive rate
        # ~1e-3 at any sf; round up to a power of two
        m = 1 << max(12, (16 * max(n // 8, 1)).bit_length())
        # ingest order: repartition by a hash unrelated to the key, so
        # per-file key ranges all overlap (stats pruning is useless)
        commit_append_manifest(
            ev.repartition(8, F.col("payload")).localCheckpoint(),
            sink,
            stats_cols=["game_url"],
            bloom_cols=["game_url"],
            bloom_bits=m,
        )
        # probe a MEDIAN key: every file's [min, max] straddles it, so
        # min/max stats skip nothing — the case blooms exist for
        med = ev.agg(F.expr("percentile(game_url, 0.5)")).first()[0]
        probe = max(int(med) // 13 * 13, 0)
        missing = probe + 1  # ≢ 0 (mod 13): never a key
        _, range_skipped = prune_file_list(sink, "game_url", probe, probe)
        kept, skipped = prune_file_list_eq(sink, "game_url", probe)
        hit = read_manifest_point(spark, sink, "game_url", probe)
        miss = read_manifest_point(spark, sink, "game_url", missing)
        full = read_manifest_sink(spark, sink).where(F.col("game_url") == probe)
        hit_rows = [(r["game_url"], r["payload"]) for r in hit.collect()]
        rows = [
            (
                len(hit_rows),
                sum(p for _, p in hit_rows),
                len(range_skipped) == 0,  # stats alone skip nothing here
                len(skipped) > len(kept),  # blooms skip most files
                sorted(hit_rows)
                == sorted((r["game_url"], r["payload"]) for r in full.collect()),
                miss is None or miss.count() == 0,  # nonexistent key: no rows
            )
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "n_rows bigint, payload_sum bigint, stats_skip_nothing boolean, "
        "bloom_skipped_most boolean, point_equals_full boolean, "
        "missing_key_zero_rows boolean",
    )


def _q_s18_multi_table_txn(spark, sf_dir):
    # S18 (r5 cont.): cross-table TRANSACTIONS via the warehouse
    # manifest — one txn doc pins every table's file list, so a fact
    # and its dimension flip together or not at all. Two transactions
    # run (half the users+facts, then everything with keyed dedup);
    # the contract checks referential consistency INSIDE each
    # generation and that generation 1 is frozen by generation 2
    # (time travel across tables). The oracle recomputes every count
    # from source.
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import (
        commit_tables,
        read_warehouse_table,
    )

    out = tempfile.mkdtemp(prefix="sg_s18_")
    try:
        wh = f"{out}/warehouse"
        ev = _t(spark, sf_dir, "events").where(
            (F.col("user_id") % 3 == 0) & (F.col("event_id") % 7 == 0)
        )
        facts = ev.select(
            F.col("event_id").alias("game_url"),
            "user_id",
            F.col("event_id").alias("value"),
        )
        dim = (
            ev.select("user_id").distinct()
            .withColumn("tier", F.col("user_id") % 5)
        )
        keys = {"facts": "game_url", "dim": "user_id"}
        commit_tables(
            {
                "facts": facts.where(F.col("user_id") % 2 == 0).localCheckpoint(),
                "dim": dim.where(F.col("user_id") % 2 == 0).localCheckpoint(),
            },
            wh,
            key_cols=keys,
        )
        commit_tables(
            {"facts": facts.localCheckpoint(), "dim": dim.localCheckpoint()},
            wh,
            key_cols=keys,
        )
        f1 = read_warehouse_table(spark, wh, "facts", generation=1)
        d1 = read_warehouse_table(spark, wh, "dim", generation=1)
        f2 = read_warehouse_table(spark, wh, "facts")
        d2 = read_warehouse_table(spark, wh, "dim")
        g1_users, g1_facts = d1.count(), f1.count()
        g1_orphans = f1.join(d1, "user_id", "left_anti").count()
        g2_orphans = f2.join(d2, "user_id", "left_anti").count()
        g2_dupes = (
            f2.groupBy("game_url").count().where(F.col("count") > 1).count()
        )
        rows = [
            (
                g1_users,
                g1_facts,
                g1_orphans == 0,
                d2.count(),
                f2.count(),
                f2.agg(F.sum("value")).first()[0],
                g2_orphans == 0 and g2_dupes == 0,
                read_warehouse_table(spark, wh, "facts", generation=1).count()
                == g1_facts,
            )
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "g1_users bigint, g1_facts bigint, g1_consistent boolean, "
        "g2_users bigint, g2_facts bigint, g2_value_sum bigint, "
        "g2_consistent boolean, g1_frozen boolean",
    )


def _q_s15_delete_vector_lifecycle(spark, sf_dir):
    # S15 (r5 cont.): merge-on-read delete-vector lifecycle — DV delete
    # (no data rewrite), re-append of a deleted subset (file-scoped
    # tombstones keep old rows masked, new rows visible), compaction
    # materializing the mask. Every count is recomputable from the
    # source slice, so the whole lifecycle is oracle-checked.
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import (
        _current_manifest_doc,
        commit_append_manifest,
        commit_compact_manifest,
        commit_delete_vector,
        read_manifest_sink,
    )

    out = tempfile.mkdtemp(prefix="sg_s15_")
    try:
        sink = f"{out}/msink"
        ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 11 == 0).select(
            F.col("event_id").alias("game_url"),
            F.col("user_id").alias("payload"),
        )
        n0 = commit_append_manifest(ev.localCheckpoint(), sink)
        n_del = commit_delete_vector(
            ev.where(F.col("game_url") % 3 == 0).select("game_url").localCheckpoint(),
            sink,
        )
        after_delete = read_manifest_sink(spark, sink).count()
        n_re = commit_append_manifest(
            ev.where((F.col("game_url") % 3 == 0) & (F.col("game_url") % 2 == 0))
            .localCheckpoint(),
            sink,
        )
        after_reappend = read_manifest_sink(spark, sink).count()
        commit_compact_manifest(spark, sink, target_files=2)
        _, doc = _current_manifest_doc(sink)
        final = read_manifest_sink(spark, sink)
        rows = [
            (
                n0,
                n_del,
                after_delete,
                n_re,
                after_reappend,
                final.count(),
                final.agg(F.sum("payload")).first()[0],
                "delete_files" not in doc,
            )
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "appended bigint, deleted bigint, after_delete bigint, "
        "reappended bigint, after_reappend bigint, final_rows bigint, "
        "payload_sum bigint, mask_materialized boolean",
    )


def _q_s16_zorder_pruning(spark, sf_dir):
    # S16 (r5 cont.): Z-order layout x manifest column stats — the
    # Delta "OPTIMIZE ZORDER + data skipping" composition. Events are
    # written range-clustered on their Morton key with per-file zkey
    # stats; a 2-D box query prunes files via the z-range bound
    # [z(x0,y0), z(x1,y1)] (valid because Morton interleaving is
    # monotone under coordinate dominance), then applies the exact box
    # filter. The oracle recomputes the box aggregate from source; the
    # skip and parity facts ride as contract booleans.
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import (
        commit_append_manifest,
        prune_file_list,
        read_manifest_pruned,
        read_manifest_sink,
    )
    from chesscom_etl_tableau_spark.sources.sinks import zorder_value

    out = tempfile.mkdtemp(prefix="sg_s16_")
    try:
        sink = f"{out}/msink"
        ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 7 == 0).select(
            F.col("event_id").alias("game_url"),
            F.col("user_id").alias("payload"),
            F.pmod(F.col("user_id"), F.lit(256)).cast("long").alias("x"),
            F.pmod(F.col("event_id"), F.lit(256)).cast("long").alias("y"),
        )
        ev = ev.withColumn("zkey", zorder_value(["x", "y"], bits=8))
        commit_append_manifest(
            ev.repartitionByRange(8, "zkey").localCheckpoint(),
            sink,
            stats_cols=["zkey"],
        )
        x0, x1, y0, y1 = 32, 95, 64, 127
        corners = (
            spark.range(1)
            .select(
                F.lit(x0).cast("long").alias("xlo"),
                F.lit(y0).cast("long").alias("ylo"),
                F.lit(x1).cast("long").alias("xhi"),
                F.lit(y1).cast("long").alias("yhi"),
            )
            .select(
                zorder_value(["xlo", "ylo"], bits=8).alias("zlo"),
                zorder_value(["xhi", "yhi"], bits=8).alias("zhi"),
            )
            .first()
        )
        kept, skipped = prune_file_list(sink, "zkey", corners["zlo"], corners["zhi"])
        pruned = read_manifest_pruned(
            spark, sink, "zkey", corners["zlo"], corners["zhi"]
        ).where(F.col("x").between(x0, x1) & F.col("y").between(y0, y1))
        full = read_manifest_sink(spark, sink).where(
            F.col("x").between(x0, x1) & F.col("y").between(y0, y1)
        )
        rows = [
            (
                pruned.count(),
                pruned.agg(F.sum("payload")).first()[0],
                len(skipped) > 0,
                pruned.count() == full.count(),
            )
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "n_rows bigint, payload_sum bigint, "
        "zorder_skipped_files boolean, pruned_equals_full boolean",
    )


def _q_s7_status_log_counts(spark, sf_dir):
    # S7: best-effort status log — stage rows land in the sink with the
    # reference's verbatim stage names (fetch_and_post.py:265-271).
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="sg_s7_")
    try:
        path = f"{out}/status"
        log = StatusLogger(spark, path, run_id="fixed-run")
        log.log("games_appended", username="u0", message="5")
        log.log("games_appended", username="u1", message="7")
        log.log("no_new_unique_games")
        log.log("error_archive_download", username="u2", message="x", http_status="503")
        rows = [
            (r["stage"], int(r["n"]))
            for r in spark.read.parquet(path)
            .groupBy("stage")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(sorted(rows), "stage string, n bigint")


def _q_s10_bi_export_roundtrip(spark, sf_dir):
    # S10: BI export sink — a curated aggregate exported flat and read
    # back is value-identical to computing it directly.
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="sg_s10_")
    try:
        path = f"{out}/bi"
        agg = (
            _t(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        export_for_bi(agg, path, fmt="parquet")
        rows = [
            (r["event_type"], int(r["n_events"]))
            for r in spark.read.parquet(path).collect()
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(sorted(rows), "event_type string, n_events bigint")


def _q_s3_backoff_schedule(spark, sf_dir):
    # S3: the retry machinery actually runs (hermetic always-503
    # transport, injected sleep) and must produce the reference's
    # backoff schedule: 3 attempts, sleeps 2.0s then 4.0s
    # (fetch_and_post.py:35,58,68).
    from chesscom_etl_tableau_spark.sources.rest import FetchError, RetryingFetcher

    sleeps: list[float] = []
    fetcher = RetryingFetcher(transport=lambda url: (503, ""), sleep=sleeps.append)
    try:
        fetcher.fetch_json("http://fixture.invalid/archives")
    except FetchError:
        pass
    return spark.createDataFrame(
        [(i + 1, float(s), fetcher.attempts) for i, s in enumerate(sleeps)],
        "retry bigint, backoff_s double, total_attempts bigint",
    )


def _q_t6_csv_split(spark, sf_dir):
    # T6: CSV split + trim + drop-empty (fetch_and_post.py:296).
    users = parse_usernames("  alice, bob ,, carol ,")
    return spark.createDataFrame(
        [(i, u) for i, u in enumerate(users)], "idx bigint, username string"
    )


def _q_t4_result_fallback(spark, sf_dir):
    # T3/T4 full chain on synthesized seat results: header > last token >
    # either-side seat fallback > '' (fetch_and_post.py:131-144; the
    # fallback fires when EITHER side's result is non-empty). The header
    # cases exercise the reference's \s+ / strip semantics
    # (fetch_and_post.py:102-104): multi-space and tab after the tag name
    # both match, a trailing space inside the value is stripped, and a
    # whitespace-only value MATCHES the header (blocking the movetext
    # token fallthrough — d%8==5 carries a live '1/2-1/2' token that must
    # NOT win) but strips to empty, landing on the seat fallback.
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    pgn = (
        F.when(d % 8 == 0, F.lit('[Result "1/2-1/2"] 1. e4 e5'))
        .when(d % 8 == 1, F.lit("1. e4 1-0 adj 0-1"))
        .when(d % 8 == 2, F.lit('[Result  "1-0"] 1. e4'))
        .when(d % 8 == 3, F.lit('[Result\t"0-1"] 1. e4'))
        .when(d % 8 == 4, F.lit('[Result "1-0 "] 1. e4'))
        .when(d % 8 == 5, F.lit('[Result "  "] 1. e4 e5 1/2-1/2'))
        .otherwise(F.lit(""))
    )
    wr = F.when(d % 4 == 0, F.lit("win")).when(d % 4 == 1, F.lit("")).otherwise(F.lit(None).cast("string"))
    br = F.when(d % 3 == 0, F.lit("timeout")).otherwise(F.lit(None).cast("string"))
    return docs.select("doc_id", game_result(pgn, wr, br).alias("result"))


def _q_t7_t8_derivations(spark, sf_dir):
    # T7/T8/T10: user_color (case-insensitive seat match), opponent
    # username/rating cross-pick, fixed-width rating bucket w/ unrated.
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    me = F.concat(F.lit("P"), (F.col("o_custkey") % 10).cast("string"))
    opp = F.concat(F.lit("opp"), (k % 7).cast("string"))
    white = F.when(k % 2 == 0, F.upper(me)).otherwise(opp)
    black = F.when(k % 2 == 0, opp).otherwise(me)
    w_rating = (F.lit(1000) + k % 800).cast("int")
    b_rating = F.when(k % 11 == 0, F.lit(None).cast("int")).otherwise(
        (F.lit(900) + F.col("o_custkey") % 900).cast("int")
    )
    return o.select(
        "o_orderkey",
        user_color(me, white).alias("user_color"),
        opponent_username(me, white, black).alias("opponent_username"),
        opponent_rating(me, white, w_rating, b_rating).alias("opponent_rating"),
        rating_bucket(opponent_rating(me, white, w_rating, b_rating)).alias(
            "opponent_rating_bucket"
        ),
    )


def _q_t11_eco_extract(spark, sf_dir):
    # T11: ECO opening code from the PGN tag header; NULL when absent.
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    eco = F.concat(F.substring(F.lit("ABCDE"), (d % 5 + 1).cast("int"), 1), F.lit("20"))
    pgn = F.when(d % 3 != 0, F.concat(F.lit('x [ECO "'), eco, F.lit('"] 1. e4'))).otherwise(
        F.lit("1. e4 e5")
    )
    return docs.select("doc_id", pgn_eco(pgn).alias("eco"))


def _q_f6_first_seen_wins(spark, sf_dir):
    # F6: first row per key in source processing order (the reference's
    # within-batch dedup, fetch_and_post.py:352-370).
    ev = _t(spark, sf_dir, "events")
    return ING.first_seen_wins(
        ev, ["user_id"], [F.col("ts").asc(), F.col("event_id").asc()]
    ).select("user_id", "event_id")


def _q_ann_recall_ivf(spark, sf_dir):
    # ANN quality gate: recall@5 of the IVF approximate path against the
    # exact brute-force top-k, per query. Deterministic (rounded-cosine
    # ranking, id tie-breaks) so the oracle reproduces it exactly; the
    # recall floor is asserted in tests.
    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    qs = emb.where(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = SIM.cosine_topk(emb, qs, k=5).select("query_id", "vec_id")
    approx = SIM.ivf_topk(emb, centroids, qs, k=5, nprobe=2).select(
        "query_id", "vec_id", F.lit(1).alias("__hit")
    )
    # both sides are |queries| x k rows — broadcast beats a sort-merge
    joined = exact.join(F.broadcast(approx), ["query_id", "vec_id"], "left")
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("__hit").alias("n_hit"),
        F.round(F.try_divide(F.count("__hit"), F.count(F.lit(1))), 6).alias("recall_at_5"),
    )


def _q_w7_sliding_windows(spark, sf_dir):
    # Batch twin of streaming windowed_event_counts: 15-minute windows
    # sliding every 5 — each event lands in exactly 3 windows.
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "15 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def _q_a17_zscore_anomalies(spark, sf_dir):
    # Rolling 7-day z-score volume anomaly detection per event type.
    ev = _t(spark, sf_dir, "events")
    return AN.zscore_anomalies(ev)


def _q_emb_pq_error(spark, sf_dir):
    # Contract oracle (was rows-only until r5): PQ codebooks come from
    # seeded spark.ml KMeans (engine-specific centers), so the oracle
    # surface is the deterministic yardstick plus the quality contract:
    # mean_baseline_mse = per-dim population variance summed = the MSE
    # of the best possible 1-centroid quantizer (DuckDB recomputes it);
    # pq_beats_mean asserts the m=8,k=16 codebook reconstructs strictly
    # better (measured ratio ~0.55-0.59 of baseline at all sfs —
    # max_iter=4 since r10: the 3-SF A/B moved the ratio only
    # 0.543->0.552 / 0.545->0.554 / 0.581->0.589 against the 1.0
    # contract bound while cutting the 8 KMeans fits' cost ~30%; the
    # SAME cut was A/B'd for ann_recall_pq and NOT adopted there —
    # its sf0.1 recall lands at 0.267, a 0.017 margin over the 0.25
    # floor, too thin to bank).
    emb = _t(spark, sf_dir, "embeddings")
    n, dim = _emb_stats(sf_dir)
    books = SIM.pq_train(emb, m=8, k=16, seed=42, dim=dim, corpus_rows=n, max_iter=4)
    err = SIM.pq_reconstruction_error(emb, books)
    dims = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )
    baseline = dims.groupBy("pos").agg(F.var_pop("v").alias("vp")).agg(
        F.sum("vp").alias("base")
    )
    stats = err.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.avg("sq_error").alias("mean_sq"),
        F.min("sq_error").alias("min_sq"),
    )
    return stats.crossJoin(baseline).select(
        F.col("n_vectors").cast("long"),
        (F.floor(F.col("base") * 10000.0 + 0.5) / 10000.0).alias("mean_baseline_mse"),
        (F.col("mean_sq") <= F.col("base")).alias("pq_beats_mean"),
        (F.col("min_sq") >= 0.0).alias("errors_nonneg"),
    )


def _q_ann_recall_pq(spark, sf_dir):
    # Contract oracle (was rows-only until r5): recall@5 of PQ
    # asymmetric scoring vs the exact scan. This corpus is near-uniform
    # random vectors — the information-theoretic worst case for ANY
    # quantizer — so the floor is on MEAN recall (0.25; measured means
    # 0.47/0.73/0.40). The >=0.8 per-query bound on clusterable data is
    # asserted in tests (TestProductQuantization).
    emb = _t(spark, sf_dir, "embeddings")
    n, dim = _emb_stats(sf_dir)
    books = SIM.pq_train(emb, m=8, k=16, seed=42, dim=dim, corpus_rows=n)
    qs = emb.where(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = SIM.cosine_topk(emb, qs, k=5).select("query_id", "vec_id", "cosine_sim")
    approx = SIM.pq_topk(emb, books, qs, k=5).select("query_id", "vec_id")
    return _ann_contract(exact, approx, 0.25, per_query=False)


def _q_graph_triangles(spark, sf_dir):
    # Triangle counting (new in r5 final): per-node triangle counts
    # over the supplier CO-SUPPLY graph (suppliers linked when they
    # co-supply enough orders) via degree-ordered orientation
    # (operators/components.py::triangle_count — the Suri/
    # Vassilvitskii "last reducer" fix). The bipartite->unipartite
    # projection is thinned by a DATA-ADAPTIVE support cut
    # (2·support >= max support, integer-exact on any engine): a fixed
    # threshold can't serve both scale factors because per-pair
    # support GROWS with orders while supplier pairs grow slower.
    from chesscom_etl_tableau_spark.operators.components import triangle_count

    # distinct (order, supplier) FIRST: it shrinks the self-join input
    # (a supplier appears once per PART in an order) and makes the
    # joined (o,u,v) triples unique, so support is a plain count — no
    # countDistinct shuffle on the pair stream.
    li = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("u"))
        .distinct()
    )
    supp = (
        li.join(li.select(F.col("o"), F.col("u").alias("v")), "o")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    mx = supp.agg(F.max("n").alias("__mx"))
    edges = (
        supp.join(F.broadcast(mx))
        .where(F.col("n") * 2 >= F.col("__mx"))
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
    )
    return triangle_count(edges)


def _q_dedup_fuzzy_edit(spark, sf_dir):
    # Edit-distance near-dup pairs with prefix-token blocking (new in
    # r5 final): certifies "≤10% edits apart" — the derived-copy claim
    # the shingle family only approximates. Fully deterministic (no
    # contract columns): blocking, integer-space threshold, and
    # levenshtein all replay exactly in DuckDB on this ASCII corpus.
    docs = _t(spark, sf_dir, "documents")
    return D.prefix_edit_pairs(docs)


def _q_w12_ewma(spark, sf_dir):
    # Finite-horizon EWMA smoothing of per-user purchase values (new
    # in r5 final): 8 LAG terms over one key-hash exchange, identical
    # float literals on both engines (operators/windows.py::ewma).
    from chesscom_etl_tableau_spark.operators.windows import ewma

    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    out = ewma(
        ev.select("user_id", "event_id", "ts", "value"),
        "user_id",
        ("ts", "event_id"),
        "value",
        alpha_pct=30,
        horizon=8,
    )
    return out.select(
        "user_id",
        "event_id",
        (F.floor(F.col("ewma") * F.lit(1000000.0) + F.lit(0.5)).cast("double")
         / F.lit(1000000.0)).alias("ewma_value"),
    )


def _q_t16_gap_fill(spark, sf_dir):
    # Time-series regularization (new in r5 final): per-user DAILY grid
    # of purchase values with last-observation-carried-forward fill
    # (operators/windows.py::gap_fill_locf). Grid is generated PER KEY
    # with sequence() — no global-calendar cross join — then one left
    # join + one window on the same key-hash exchange. value passes
    # through untouched (no float arithmetic), so the compare is exact.
    from chesscom_etl_tableau_spark.operators.windows import gap_fill_locf

    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    return gap_fill_locf(
        ev.select("user_id", "ts", "value"), "user_id", "ts", "value",
        step="1 day",
    )


def _q_ann_ivfpq_append(spark, sf_dir):
    # Incremental IVF-PQ index append (r12): the PQ flavor of
    # ann_ivf_append — batch assigned against frozen coarse centroids,
    # residuals encoded with frozen codebooks, only new code-row files
    # appended (operators/similarity.py::ivfpq_append). Codebooks come
    # from seeded spark.ml KMeans (engine-specific centers), so the
    # oracle surface is the family's contract convention: DuckDB pins
    # the deterministic counts while matches_rebuild (a real both-ways
    # exceptAll of the appended code table vs a from-scratch re-encode
    # on the same frozen quantizers) and err_nonneg ride as booleans.
    import shutil
    import tempfile

    emb = _t(spark, sf_dir, "embeddings")
    n, dim = _emb_stats(sf_dir)
    base = emb.where(F.col("vec_id") % 3 != 0)
    batch = emb.where(F.col("vec_id") % 3 == 0)
    out = tempfile.mkdtemp(prefix="sg_ivfpqapp_")
    try:
        path = f"{out}/ivfpq"
        # bounded iterations (the emb_pq_error max_iter=4 precedent):
        # the contract here is frozen-quantizer append equivalence, not
        # codebook quality, so the cheap fits are the right call
        cents, books = SIM.ivfpq_persist(
            base, path, nlist=4, m=4, k=8, seed=42, dim=dim,
            corpus_rows=n, train_cap=100_000, ivf_max_iter=4, pq_max_iter=4,
        )
        drift = SIM.ivfpq_append(spark, path, cents, books, batch)
        err_nonneg = (
            drift.where(F.col("mean_sqerr_micro") < 0).count() == 0
        )
        n_appended = int(
            drift.agg(F.sum("n_appended")).first()[0] or 0
        )
        idx = spark.read.parquet(path).select(
            "vec_id", F.col("bucket").cast("int").alias("bucket"), "codes"
        ).localCheckpoint()
        reb_res = SIM.assign_buckets(emb, cents).join(
            F.broadcast(
                cents.select(
                    F.col("centroid_id").alias("bucket"),
                    F.col("embedding").cast("array<double>").alias("__cvec"),
                )
            ),
            "bucket",
        ).select(
            "vec_id",
            "bucket",
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                F.col("__cvec"),
                lambda x, c: x - c,
            ).alias("__res"),
        )
        # pin the re-encode once: the codes frame is m ints per row but
        # its plan is assign + literal-matrix encode over the corpus —
        # the two exceptAll sides would each re-run it otherwise
        reb = SIM.pq_encode(
            reb_res, books, id_col="vec_id", vec_col="__res", keep=("bucket",)
        ).select(
            "vec_id", F.col("bucket").cast("int").alias("bucket"), "codes"
        ).localCheckpoint()
        mism = _multiset_mismatch(idx, reb)
        n_total = idx.count()
        rows = [(n_total, n_appended, mism == 0, err_nonneg)]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "n_total long, n_appended long, matches_rebuild boolean, "
        "err_nonneg boolean",
    )


def _q_mm_patch_stats(spark, sf_dir):
    # ViT patch-grid stats (r12): the GIF fixture class decoded (real
    # LZW) and cut into a 4x4 integer-bounds patch grid; each patch
    # reports pixel count + integer mean luminance (operators/
    # multimodal.py::synth_patch_stats) — the patch-embedding pre-step
    # of a VLM pipeline, pixels never shuffle. The oracle replays the
    # closed-form GIF pixel formula (palette index (doc_id + y*w + x)
    # % 256 -> RGB (p, 255-p, 3p%256)) per patch in DuckDB, so a
    # decoder or bounds bug mismatches.
    return MM.synth_patch_stats(_t(spark, sf_dir, "documents"))


def _q_train_source_caps(spark, sf_dir):
    # Per-source token-budget capping (r12): within each source, docs
    # admitted best-quality-first until the source's 3000-token budget
    # is spent (operators/training.py::cap_source_tokens) — the
    # curation step that stops a dominant crawl from swamping the
    # mixture. Full frame returned with the decision so the rejection
    # set is auditable. The oracle replays the quality scorer (the
    # token-stats CTE verbatim) and the quality-ordered running sum.
    docs = _t(spark, sf_dir, "documents")
    qual = TX.quality_metrics(docs).select("doc_id", "n_tokens", "quality_score")
    scored = docs.select("doc_id", "source").join(qual, "doc_id")
    return TR.cap_source_tokens(scored, cap=3000)


def _q_w17_interpolate(spark, sf_dir):
    # Linear gap interpolation (r12): the numeric sibling of t16's LOCF
    # resample — per-user DAILY grid of purchase values where each
    # unobserved day reports the straight line through its bracketing
    # observations (operators/windows.py::gap_fill_interpolate). Same
    # per-key sequence() grid (no global calendar), two running-frame
    # windows on one exchange; values micro-floored so the double blend
    # is engine-exact. tick rides as epoch seconds (integer surface).
    from chesscom_etl_tableau_spark.operators.windows import gap_fill_interpolate

    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    return gap_fill_interpolate(
        ev.select("user_id", "ts", "value"), "user_id", "ts", "value",
        step="1 day",
    ).select(
        "user_id",
        F.unix_timestamp("tick").cast("bigint").alias("tick_s"),
        "value_filled",
        "is_observed",
    )


def _q_dq_observe(spark, sf_dir):
    # Zero-cost DQ metrics via Dataset.observe (new in r5 final): the
    # audit aggregates ride along INSIDE the action the pipeline was
    # already running (here: a revenue-by-priority agg over lineitem ⋈
    # orders) — zero extra scans, the way a petabyte write is audited.
    # Eager by nature (observation resolves after the action); the
    # oracle recomputes both the ridden-along metrics and the carrier
    # result's row count in plain SQL.
    from chesscom_etl_tableau_spark.operators.quality_checks import observe_metrics

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    carrier = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.sum(_dec("l_extendedprice")).cast("double").alias("revenue"),
        )
    )
    observed, obs = observe_metrics(
        carrier,
        "dq",
        {
            "n_groups": F.count(F.lit(1)),
            "null_revenue": F.sum(F.col("revenue").isNull().cast("long")),
            "min_revenue": F.min(F.col("revenue")),
        },
    )
    n_out = observed.count()  # the production action; metrics ride along
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(n_out),
                int(m["n_groups"]),
                int(m["null_revenue"]),
                float(m["min_revenue"]),
            )
        ],
        "n_rows bigint, n_groups bigint, null_revenue bigint, min_revenue double",
    )


def _q_ann_mmr_rerank(spark, sf_dir):
    # MMR diversification (new in r5 final): re-rank query 0's top-20
    # cosine candidates into 5 diverse picks
    # (operators/similarity.py::mmr_rerank). The greedy trace is
    # engine-exact (6-dp rounding + id tie-breaks), so DuckDB replays
    # all 5 steps via chained CTEs.
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cands = SIM.cosine_topk(emb, q, k=20).select("vec_id", "cosine_sim")
    return SIM.mmr_rerank(cands, emb, k=5)


def _q_a25_event_paths(spark, sf_dir):
    # Behavioral path mining (new in r5 final): top-10 most frequent
    # 3-step event paths (operators/analytics.py::sequence_ngrams) —
    # funnel DISCOVERY, where a15_funnel checks one hypothesized path.
    ev = _t(spark, sf_dir, "events")
    return AN.sequence_ngrams(
        ev, "user_id", ["ts", "event_id"], "event_type", n=3, top_k=10
    )


def _q_dq_skew_report(spark, sf_dir):
    # Key-skew measurement (new in r5 final): top-10 heaviest supplier
    # keys + Gini of the key-count distribution
    # (operators/skew.py::skew_report) — the evidence that decides
    # whether a8_salted_count's salting path is warranted.
    li = _t(spark, sf_dir, "lineitem")
    return SK.skew_report(li, ["l_suppkey"], top_k=10)


def _q_train_winsorize(spark, sf_dir):
    # Outlier capping for training signals (new in r5 final): clip
    # event values to their type's exact [p05, p95] band
    # (operators/training.py::winsorize). Spark percentile() and
    # DuckDB quantile_cont compute the same p·(n−1) interpolation
    # bit-for-bit, so even the interpolated clip bounds compare exact.
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return TR.winsorize(ev, "event_type", "value")


def _q_a23_basket_lift(spark, sf_dir):
    # Association rules (new in r5 final): top-20 part pairs by LIFT
    # among pairs co-purchased in >=2 orders
    # (operators/analytics.py::basket_lift). Exact-integer lift
    # numerator/denominator, one IEEE division, deterministic top-k.
    li = _t(spark, sf_dir, "lineitem")
    return AN.basket_lift(li, "l_orderkey", "l_partkey", min_support=2, top_k=20)


def _q_a24_trend_slope(spark, sf_dir):
    # Per-user OLS value trend (new in r5 final): closed-form slope
    # from five exact-decimal sufficient statistics in ONE aggregation
    # pass (operators/analytics.py::trend_slope) — no iteration, no ML
    # fit, engine-exact combine.
    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    return AN.trend_slope(ev, "user_id", "ts", "value")


def _q_s21_table_diff(spark, sf_dir):
    # Backfill reconciliation (new in r5 final): diff orders against a
    # deterministically drifted copy — keys dropped (%97), repriced
    # (%89), and re-keyed inserts (+10^9 on %101) — and report only
    # the differing keys (operators/quality_checks.py::table_diff).
    from chesscom_etl_tableau_spark.operators.quality_checks import table_diff

    orders = _t(spark, sf_dir, "orders")
    right = (
        orders.where(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            orders.where(F.col("o_orderkey") % 101 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(1000000000)
            )
        )
    )
    return table_diff(orders, right, ["o_orderkey"])


def _q_t17_unpivot(spark, sf_dir):
    # Wide-to-long reshape (new in r5 final): per-returnflag sums of
    # the four lineitem measures, melted with the built-in
    # DataFrame.unpivot (Spark 3.4+) — the inverse of w6_pivot,
    # completing the reshape pair. Decimal-exact sums cast to double
    # BEFORE the melt, so values are identical to the wide form's.
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("quantity"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("extendedprice"),
        F.sum(_dec("l_discount")).cast("double").alias("discount"),
        F.sum(_dec("l_tax")).cast("double").alias("tax"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["quantity", "extendedprice", "discount", "tax"],
        "measure",
        "total",
    )


def _q_a26_share_of_total(spark, sf_dir):
    # Percent-of-total (new in r5 sixth session): order value share by
    # priority (operators/analytics.py::share_of_total) — the Pareto/
    # donut BI staple. Exact decimal sums; the grand total rides a
    # single-partition window over the 5-row aggregate, never the fact.
    orders = _t(spark, sf_dir, "orders")
    return AN.share_of_total(orders, "o_orderpriority", "o_totalprice")


def _q_w13_period_growth(spark, sf_dir):
    # MoM + YoY growth (new in r5 sixth session): the period-over-period
    # comparison (operators/analytics.py::period_growth). Gap months and
    # missing year-ago bases report NULL, never 0.
    orders = _t(spark, sf_dir, "orders")
    return AN.period_growth(orders, "o_orderdate", "o_totalprice")


def _q_w14_autocorr(spark, sf_dir):
    # Per-type ACF lags 1..5 of the daily value series (new in r5 sixth
    # session, operators/analytics.py::autocorrelation) — exact-decimal
    # sufficient statistics, one window pass emits all lags.
    ev = _t(spark, sf_dir, "events")
    return AN.autocorrelation(ev, "event_type", "ts", "value", max_lag=5)


def _q_w15_mad_outliers(spark, sf_dir):
    # Robust MAD outliers (new in r5 sixth session,
    # operators/analytics.py::mad_outliers) — the heavy-tail-safe twin
    # of a17_zscore_anomalies; only flagged rows are returned.
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return AN.mad_outliers(
        ev, "event_type", "value", threshold=3.5, keep_cols=("event_id",)
    ).where(F.col("is_outlier"))


def _q_text_pmi_collocations(spark, sf_dir):
    # Phrase mining by PMI lift (new in r5 sixth session,
    # operators/text.py::pmi_collocations) — reported as the ratio
    # p(xy)/(p(x)p(y)) (log-free: same ranking, pure IEEE over exact
    # counts), min_count=5 guards the hapax-pair PMI explosion.
    docs = _t(spark, sf_dir, "documents")
    return TX.pmi_collocations(docs, min_count=5, top_k=20)


def _q_train_temperature_mixture(spark, sf_dir):
    # Temperature-balanced mixture audit (new in r5 sixth session,
    # operators/training.py::temperature_mixture): α=1/2 sqrt
    # rebalancing with md5-derandomized per-row keeps — the selected
    # SET replays bit-for-bit, so even n_selected is oracle-exact.
    docs = _t(spark, sf_dir, "documents")
    return TR.temperature_mixture(docs)


def _q_graph_jaccard(spark, sf_dir):
    # Link prediction (new in r5 sixth session,
    # operators/components.py::neighbor_jaccard): supplier pairs scored
    # by Jaccard of their part neighborhoods — inverted-index pair
    # generation (shared parts only), never all-pairs.
    from chesscom_etl_tableau_spark.operators.components import neighbor_jaccard

    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    return neighbor_jaccard(li, "l_suppkey", "l_partkey", min_common=2, top_k=20)


def _q_graph_kcore(spark, sf_dir):
    # k-core extraction (new in r5 sixth session,
    # operators/components.py::kcore): bounded-round peeling of the
    # trade graph at a DATA-ADAPTIVE k = floor(median degree) + 1 —
    # a fixed k cannot bite at every scale factor (degree grows with
    # sf), the triangles lesson. The threshold is a 1-row broadcast
    # joined into each round, so the whole 8-round peel is ONE lazy
    # plan; the oracle unrolls the same rounds as MATERIALIZED CTEs.
    # Convergence by round 8 verified at 3 sfs (r7 == r8 in the probe);
    # at sf0.001 the median-degree cut empties the core (all customer
    # degrees <= 10 suppliers) — a correct, converged answer.
    from chesscom_etl_tableau_spark.operators.components import kcore

    e = _trade_edges(spark, sf_dir)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("dg"))
    kdf = deg.agg(
        (F.floor(F.percentile("dg", F.lit(0.5))) + F.lit(1)).cast("bigint").alias("k")
    )
    return kcore(e, kdf, rounds=8)


def _q_graph_bfs(spark, sf_dir):
    # Multi-source BFS reach (new in r5 sixth session,
    # operators/components.py::bfs_distances): minimum hop distance
    # from a 3-supplier seed set over the trade graph, depth-bounded at
    # 4. Frontier iteration with per-round persist; the oracle is the
    # textbook recursive CTE (UNION-dedup on (node, dist), min at the
    # end).
    from chesscom_etl_tableau_spark.operators.components import bfs_distances

    seeds = spark.createDataFrame([("s1",), ("s2",), ("s3",)], "node string")
    return bfs_distances(_trade_edges(spark, sf_dir), seeds, max_depth=4)


def _q_ann_range_search(spark, sf_dir):
    # Radius retrieval (new in r5 sixth session,
    # operators/similarity.py::cosine_range_search): every vector
    # within cosine >= 0.25 of each query — the range twin of
    # ann_cosine_topk (fixed-k under/over-collects when density
    # varies). Threshold chosen against the measured pair-cosine
    # distribution (p99 ~= 0.289 at sf0.01): selective but non-empty.
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.cosine_range_search(emb, queries, threshold=0.25)


def _q_a27_cohort_ltv(spark, sf_dir):
    # Cohort LTV curves (new in r5 sixth session,
    # operators/analytics.py::cohort_ltv): cumulative revenue per
    # cohort member by month offset — the monetized sibling of
    # a16_retention, exact decimal through the cumulative sum.
    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    return AN.cohort_ltv(ev, "user_id", "ts", "value", period="week")


def _q_train_dataset_card(spark, sf_dir):
    # Per-source datasheet audit (new in r5 sixth session,
    # operators/training.py::dataset_card): volume, token budget,
    # exact-dup rate, language concentration — the provenance row a
    # corpus release ships with.
    docs = _t(spark, sf_dir, "documents")
    return TR.dataset_card(docs)


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


def _q_s22_metadata_export(spark, sf_dir):
    # S22 (r6, verdict-r5 ask #8): ecosystem-readable metadata export of
    # the native manifest sink — an Iceberg-style snapshot log built
    # from manifests + parquet FOOTERS only (plans/metadata_export.py;
    # footer reads distributed via mapInPandas). Three commits with
    # pinned file counts (repartition(2) per slice), then the exported
    # snapshot list: ids dense, file counts cumulative, total_records
    # equal to the cumulative slice counts the oracle recomputes, the
    # last snapshot current. The versioned _metadata JSON write itself
    # is pytest-pinned (tests/test_round6_ops.py).
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import commit_append_manifest
    from chesscom_etl_tableau_spark.plans.metadata_export import (
        export_metadata_json,
        snapshot_log,
        snapshot_summaries,
    )

    out = tempfile.mkdtemp(prefix="sg_s22_")
    try:
        sink = f"{out}/msink"
        ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 37 == 0).select(
            F.col("event_id").alias("game_url"), "user_id"
        )
        for m in (0, 1, 2):
            commit_append_manifest(
                ev.where(F.col("game_url") % 3 == m).repartition(2).localCheckpoint(),
                sink,
            )
        # one footer scan feeds both the JSON export and the log frame
        summaries = snapshot_summaries(spark, sink)
        export_metadata_json(spark, sink, summaries=summaries)
        rows = snapshot_log(spark, sink, summaries=summaries).collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "snapshot_id bigint, n_data_files bigint, n_delete_files bigint, "
        "total_records bigint, protocol bigint, is_current boolean",
    )


def _q_text_kn_perplexity(spark, sf_dir):
    # Kneser-Ney-smoothed bigram LM quality filter (r6): train on the
    # doc_id % 5 != 0 split, score every document, flag under-threshold
    # docs (operators/text.py::kn_perplexity). The KenLM/CCNet
    # pretraining-pipeline shape with engine-exact micro-bit rounding.
    return TX.kn_perplexity(_t(spark, sf_dir, "documents"))


def _q_emb_whitening(spark, sf_dir):
    # ZCA whitening contract (r6): whiten the embedding table (two
    # Arrow passes + driver d x d eigendecomposition), then MEASURE the
    # output — mean ~ 0, covariance ~ identity — and report the
    # contract booleans (operators/similarity.py::whitening_contract,
    # the recall-floor oracle pattern).
    _n, dim = _emb_stats(sf_dir)
    return SIM.whitening_contract(_t(spark, sf_dir, "embeddings"), dim=dim)


def _q_a28_pattern_cep(spark, sf_dir):
    # Batch CEP / MATCH_RECOGNIZE (r7, verdict-r6 ask #1a): greedy
    # non-overlapping signup->view->purchase detection within a 24-hour
    # budget per user (operators/analytics.py::pattern_matches; the
    # streaming twin shares the same matcher). The budget is sized to
    # the fixture's event cadence (~10h median per-user gap) so every
    # SF yields a substantive match set (12/102/1019 rows at the three
    # SFs, not a 0/1-row degenerate check). The oracle replays the
    # matcher as a DuckDB recursive CTE — one iteration advances every
    # user by one event — parity-pinned in tests/test_pattern_cep.py
    # since r6. Sorted for a deterministic frame. The hot-key fence is
    # OFF here — its count probe is a job, and plan build must run
    # zero jobs (TestLazyPlanBuild); fixture per-key volume is known
    # (~10^2 events peak) and the fence has its own pytest pin
    # (tests/test_round7_guards.py).
    ev = _t(spark, sf_dir, "events")
    return AN.pattern_matches(
        ev,
        ("signup", "view", "purchase"),
        within_minutes=24 * 60,
        max_events_per_key=None,
    ).orderBy("user_id", "match_start")


def _q_text_pr_curve(spark, sf_dir):
    # Quality-filter calibration sweep (r7, verdict-r6 ask #1a):
    # precision/recall/kept-fraction of a token-count length filter
    # against a >=300-char ground truth, over a 20-point threshold
    # grid (operators/text.py::pr_curve). mode="range" pins every
    # threshold to the same three IEEE ops in both engines — exact
    # cross-engine quantile parity would hinge on interpolation op
    # order (see the operator docstring); the quantile mode's
    # semantics are pytest-pinned instead (tests/test_round6_ops.py).
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        F.size(TX.word_tokens(F.col("text"))).cast("double").alias("score"),
        (F.col("n_chars") >= 300).alias("label"),
    )
    return TX.pr_curve(scored, n_thresholds=20, mode="range")


def _q_a29_ab_test(spark, sf_dir):
    # A/B experiment readout (r7, operators/analytics.py::
    # ab_test_summary): unit = user, variant = user_id parity (the
    # deterministic hash-assignment stand-in), conversion = any
    # purchase event, value = per-user event-value sum. One row:
    # sample sizes, conversion rates, relative lift, two-proportion z,
    # per-variant value means, Welch t. Counts exact, value sums exact
    # decimal, derived stats a pinned IEEE op sequence (floor-6dp).
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.col("event_type") == "purchase").alias("converted"),
        F.sum(_dec("value")).alias("__sv"),
    )
    outcomes = per_user.select(
        F.when(F.col("user_id") % 2 == 0, "control")
        .otherwise("treatment")
        .alias("variant"),
        "converted",
        F.col("__sv").cast("double").alias("value"),
    )
    return AN.ab_test_summary(outcomes)


def _q_a30_cusum(spark, sf_dir):
    # CUSUM change-point detection (r7, operators/analytics.py::
    # cusum_changepoints — Page's control chart): per-user drift scan
    # of the event value stream, target 50 / slack 25 (~0.5 sigma of
    # the fixture's value distribution) / threshold 200 (sized to the
    # fixture: 9/95/943 change-points at the three SFs). Integer
    # micro-unit recurrence => the DuckDB recursive-CTE oracle replays
    # it bit-exactly (the a28 CEP oracle strategy). Fence off for the
    # zero-jobs-at-build contract; per-key volume is fixture-bounded.
    ev = _t(spark, sf_dir, "events")
    return AN.cusum_changepoints(
        ev,
        target=50.0,
        slack=25.0,
        threshold=200.0,
        max_events_per_key=None,
    ).orderBy("user_id", "change_ts")


def _q_emb_knn_consistency(spark, sf_dir):
    # kNN label-consistency (r7, operators/similarity.py::
    # knn_label_consistency): per vector, the fraction of its 5
    # nearest cosine neighbors sharing its label — the geometric
    # label-noise signal ("confident learning" shape). Exact O(n^2)
    # anchor over cosine_topk; the corpus-scale candidate stage is
    # ivf_topk, as in dedup_semantic. agreement = one integer division.
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.knn_label_consistency(emb, k=5)


def _q_emb_psi_drift(spark, sf_dir):
    # Per-dimension PSI drift monitor (r7, operators/similarity.py::
    # psi_drift): population stability index between the even/odd
    # vec_id halves over 10 equal-width bins per dimension.
    # Laplace-smoothed fractions, per-bin micro-floor terms, integer
    # sum — the char_entropy engine-exactness convention.
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.psi_drift(
        emb.where(F.col("vec_id") % 2 == 0),
        emb.where(F.col("vec_id") % 2 != 0),
    )


def _q_w16_resample_ohlc(spark, sf_dir):
    # W16 (r6): hourly OHLC downsample per user — one partial-aggregated
    # shuffle, open/close via min_by/max_by on a (ts, event_id) struct
    # ordering key (operators/windows.py::resample_ohlc).
    from chesscom_etl_tableau_spark.operators.windows import resample_ohlc

    return resample_ohlc(_t(spark, sf_dir, "events"))


# queries() entries that are deliberately EAGER at build time: they run a
# real pipeline (temp-dir writes + reads), an iterative driver-coordinated
# algorithm, or an ML fit, and return the observable outcome as a small
# DataFrame. Every entry NOT listed here must build its plan without
# running a single Spark job (asserted in tests/test_plan_shapes.py).
# ---------------------------------------------------------------------------
# Streaming twins surfaced for the driver (r9, verdict-r8 ask #6)
# ---------------------------------------------------------------------------
def _arrival_order(drop: str):
    """Micro-batch arrival-order fence for file-drop replays: call the
    returned function once after EACH sequential write into `drop`; it
    stamps that write's new part files with a strictly increasing mtime.
    The file stream source orders batches by (modification time, path)
    and part names are uuid-random, so a same-granularity mtime tie
    could deliver a later write first — a closer or late half arriving
    early advances the watermark past the real events, which are then
    DROPPED as late. The fence makes replay order deterministic."""
    import os as _os
    import time as _time

    seen: set[str] = set()
    step = [0]
    base = _time.time() - 1000  # strictly in the past, ladder upward

    def stamp():
        new = {f for f in _os.listdir(drop) if f.endswith(".parquet")} - seen
        t = base + step[0] * 10
        for f in new:
            _os.utime(_os.path.join(drop, f), (t, t))
        seen.update(new)
        step[0] += 1

    return stamp


@_contextlib.contextmanager
def _drain_conf(spark, shuffle_partitions: int = 8):
    """Scoped state-store parallelism for the custom (foreachBatch /
    self-starting) drains — same rationale as _drain_stream's
    parameter: a streaming query pins numShufflePartitions at first
    start for its checkpoint's lifetime, and 32 state tasks per
    micro-batch over a kB-scale fixture is pure scheduling overhead."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _drain_stream(build, sink: str, ckpt: str, shuffle_partitions: int = 8):
    """availableNow drain with maxFilesPerTrigger=1: each file in `drop`
    becomes its own micro-batch, so the trailing closer files advance
    the event-time watermark batch-over-batch and seal every real
    window/session before the run terminates — the CEP/w11 drain-in-
    test parity pattern, packaged for eager registry entries.

    `shuffle_partitions` sizes the query's STATE STORE parallelism (a
    streaming query pins numShufflePartitions from the session conf at
    first start and keeps it for the checkpoint's lifetime — AQE never
    resizes stateful exchanges): 32 state-store instances per
    micro-batch over a kB-scale fixture drain is pure per-task
    scheduling overhead, so the drains run at 8. A production job sizes
    this to its key cardinality at FIRST start — the one streaming knob
    you cannot change later without a new checkpoint (documented
    NOTES.md r12). Checkpoints here are fresh temp dirs per call, so
    the narrow setting never leaks into another query's state."""
    df = build()
    spark = df.sparkSession
    with _drain_conf(spark, shuffle_partitions):
        q = (
            df.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", sink)
            .start()
        )
        q.awaitTermination()


def _q_stream_sessionize(spark, sf_dir):
    # Streaming sessionization (streaming/sessionize.py) drained over
    # the events table through the REAL applyInPandasWithState
    # pipeline. Two closer events (+30d, +60d) arrive in their own
    # micro-batches so the watermark passes every real session's
    # last+gap and the EventTimeTimeout flush seals them all — output
    # equals batch gaps-and-islands sessionization, which the oracle
    # recomputes in DuckDB. Bounds are epoch SECONDS on both sides:
    # the streaming state quantizes to whole seconds by design
    # (SESSION_STATE_SCHEMA), and integer surfaces dodge cross-engine
    # timestamp-type hazards.
    import datetime as _dt
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.streaming.sessionize import (
        streaming_session_stats,
    )

    out = tempfile.mkdtemp(prefix="sg_stream_sess_")
    try:
        drop, sink, ckpt = f"{out}/drop", f"{out}/sink", f"{out}/ckpt"
        ev = (
            _t(spark, sf_dir, "events")
            .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
            .select(F.col("user_id").cast("string").alias("user_id"), "ts")
        )
        stamp = _arrival_order(drop)
        ev.coalesce(1).write.parquet(drop)
        stamp()
        max_ts = ev.agg(F.max("ts")).first()[0]
        # ONE closer (r12): the final eviction/flush that the old +60d
        # closer forced is performed by Spark's no-data micro-batch
        # (spark.sql.streaming.noDataMicroBatches, on by default) after
        # the +30d closer advances the watermark — one fewer data batch
        # per drain, oracle-verified identical output (closer rows are
        # filtered from the contract frame either way).
        for days in (30,):
            spark.createDataFrame(
                [("__closer__", max_ts + _dt.timedelta(days=days))],
                "user_id string, ts timestamp",
            ).coalesce(1).write.mode("append").parquet(drop)
            stamp()
        _drain_stream(
            lambda: streaming_session_stats(
                spark.readStream.schema("user_id string, ts timestamp")
                .option("maxFilesPerTrigger", 1)
                .parquet(drop),
                gap_minutes=30,
                watermark_delay="0 seconds",
            ),
            sink,
            ckpt,
        )
        got = (
            spark.read.schema(
                "user_id string, session_start timestamp, session_end "
                "timestamp, n_events long, duration_s long"
            )
            .parquet(sink)
            .where(F.col("user_id") != "__closer__")
            .select(
                "user_id",
                F.unix_timestamp("session_start").cast("bigint").alias("start_s"),
                F.unix_timestamp("session_end").cast("bigint").alias("end_s"),
                F.col("n_events").cast("bigint").alias("n_events"),
                F.col("duration_s").cast("bigint").alias("duration_s"),
            )
        )
        # localCheckpoint (eager) pins the contract rows in executor
        # block storage before the temp sink is deleted — the lineage
        # cut the old collect()+createDataFrame roundtrip bought, minus
        # the ~100k-row driver round trip (guide §5: the driver should
        # do no data work). Same rows, same schema.
        res = got.localCheckpoint()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return res


def _q_stream_ohlc(spark, sf_dir):
    # Streaming OHLC bars (streaming/windowed.py::windowed_ohlc) drained
    # over the events table — the streaming twin of w16_resample_ohlc.
    # Same closer-file watermark mechanics as _q_stream_sessionize;
    # open/close ride min/max over a (ts, event_id, value) struct, so
    # stream bars equal the batch row_number oracle at full microsecond
    # precision (no second-flooring — the struct carries the raw ts).
    import datetime as _dt
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.streaming.windowed import windowed_ohlc

    out = tempfile.mkdtemp(prefix="sg_stream_ohlc_")
    try:
        drop, sink, ckpt = f"{out}/drop", f"{out}/sink", f"{out}/ckpt"
        ev = (
            _t(spark, sf_dir, "events")
            .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
            .select("user_id", "event_id", "ts", "value")
        )
        stamp = _arrival_order(drop)
        ev.coalesce(1).write.parquet(drop)
        stamp()
        max_ts = ev.agg(F.max("ts")).first()[0]
        # ONE closer (r12): the final eviction/flush that the old +60d
        # closer forced is performed by Spark's no-data micro-batch
        # (spark.sql.streaming.noDataMicroBatches, on by default) after
        # the +30d closer advances the watermark — one fewer data batch
        # per drain, oracle-verified identical output (closer rows are
        # filtered from the contract frame either way).
        for days in (30,):
            spark.createDataFrame(
                [(-1, -1, max_ts + _dt.timedelta(days=days), 0.0)],
                "user_id long, event_id long, ts timestamp, value double",
            ).coalesce(1).write.mode("append").parquet(drop)
            stamp()
        _drain_stream(
            lambda: windowed_ohlc(
                spark.readStream.schema(
                    "user_id long, event_id long, ts timestamp, value double"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(drop),
                "1 hour",
                watermark_delay="0 seconds",
            ),
            sink,
            ckpt,
        )
        got = (
            spark.read.schema(
                "window_start timestamp, window_end timestamp, user_id long, "
                "open_value double, close_value double, low_value double, "
                "high_value double, n_events long"
            )
            .parquet(sink)
            .where(F.col("user_id") != -1)
            .select(
                "user_id",
                F.unix_timestamp("window_start").cast("bigint").alias("bucket_start_s"),
                "open_value",
                "close_value",
                "low_value",
                "high_value",
                "n_events",
            )
        )
        # localCheckpoint (eager) pins the contract rows in executor
        # block storage before the temp sink is deleted — same lineage
        # cut as the old collect()+createDataFrame roundtrip without the
        # driver round trip (guide §5).
        res = got.localCheckpoint()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return res


def _q_stream_interval_join(spark, sf_dir):
    # Stream-stream event-time interval join (streaming/join_stream.py)
    # drained over the events table: click->purchase attribution within
    # 24 hours per user (sized to the fixture's ~10h median per-user
    # event gap, the a28 CEP convention, so every SF yields a
    # substantive match set: 94/860/8727 rows, not a 5-row check). INNER stream-stream joins emit a match the
    # micro-batch both sides have arrived (no watermark sealing), so a
    # single availableNow drain with no closer files is complete; the
    # watermark's role here is state EVICTION, which the scale probes
    # cover (BASELINE.md stream-stream join probe). Microsecond epochs
    # on both sides keep the contract integer-exact.
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.streaming.join_stream import (
        interval_join_streams,
    )

    out = tempfile.mkdtemp(prefix="sg_stream_join_")
    try:
        dropc, dropp = f"{out}/clicks", f"{out}/purchases"
        sink, ckpt = f"{out}/sink", f"{out}/ckpt"
        ev = _t(spark, sf_dir, "events").where(
            F.col("ts").isNotNull() & F.col("user_id").isNotNull()
        )
        ev.where(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
        ).coalesce(1).write.parquet(dropc)
        ev.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        ).coalesce(1).write.parquet(dropp)

        def build():
            clicks = spark.readStream.schema(
                "click_id long, user_id long, click_ts timestamp"
            ).parquet(dropc)
            purchases = spark.readStream.schema(
                "purchase_id long, p_user_id long, purchase_ts timestamp, "
                "purchase_value double"
            ).parquet(dropp).withColumnRenamed("p_user_id", "user_id")
            return interval_join_streams(
                clicks,
                purchases,
                on="user_id",
                left_ts="click_ts",
                right_ts="purchase_ts",
                watermark="0 seconds",
                within="24 hours",
                how="inner",
            )

        _drain_stream(build, sink, ckpt)
        got = (
            spark.read.schema(
                "click_id long, user_id long, click_ts timestamp, "
                "purchase_id long, purchase_ts timestamp, purchase_value double"
            )
            .parquet(sink)
            .select(
                "click_id",
                "user_id",
                F.unix_micros("click_ts").alias("click_us"),
                "purchase_id",
                F.unix_micros("purchase_ts").alias("purchase_us"),
                "purchase_value",
            )
        )
        # localCheckpoint (eager) pins the contract rows in executor
        # block storage before the temp sink is deleted — same lineage
        # cut as the old collect()+createDataFrame roundtrip without the
        # driver round trip (guide §5).
        res = got.localCheckpoint()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return res


def _q_stream_dedup(spark, sf_dir):
    # Streaming exact dedup (streaming/dedup_stream.py) drained over
    # the documents table split into two micro-batches
    # (maxFilesPerTrigger=1): batch B's duplicates of batch A rows must
    # be suppressed by the STATE STORE across batches, so if cross-
    # batch dedup state broke, re-emitted fingerprints would change the
    # row count and fail the hash. Only the fingerprint column is
    # projected — the surviving doc WITHIN a batch is partition-order
    # dependent by design (the batch twin dedup_exact pins the
    # deterministic min-id survivor instead).
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.streaming.dedup_stream import (
        streaming_exact_dedup,
    )

    out = tempfile.mkdtemp(prefix="sg_stream_dedup_")
    try:
        drop, sink, ckpt = f"{out}/drop", f"{out}/sink", f"{out}/ckpt"
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(drop)
        docs.where(F.col("doc_id") % 2 != 0).coalesce(1).write.mode(
            "append"
        ).parquet(drop)

        def build():
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(drop)
            )
            return streaming_exact_dedup(stream).select("fingerprint")

        _drain_stream(build, sink, ckpt)
        # localCheckpoint (eager): lineage cut without the driver round
        # trip (guide §5), same rows/schema as the old collect+create.
        res = (
            spark.read.schema("fingerprint string").parquet(sink).localCheckpoint()
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return res


def _q_stream_outer_join(spark, sf_dir):
    # LEFT-OUTER stream-stream interval join (r12): the eviction-emits-
    # null surface the inner twin cannot show. An unmatched click is
    # emitted with NULL purchase columns only when the watermark proves
    # no in-window purchase can still arrive (click_ts + 24h behind the
    # global watermark) — so unlike the inner drain, this one NEEDS
    # closer rows: one +30d closer per stream (watermark policy is the
    # MIN across sources) lets Spark's no-data micro-batch evict and
    # null-complete every real click before availableNow terminates.
    # ONE data batch per side suffices (closers ride in the same batch:
    # the watermark computed AFTER it covers everything, and no row can
    # be late-dropped against the previous watermark of 0); the cross-
    # batch match path is the inner twin's job. Output must equal the
    # batch LEFT JOIN with the same interval predicate — the oracle
    # recomputes it, nulls included.
    import datetime as _dt
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.streaming.join_stream import (
        interval_join_streams,
    )

    out = tempfile.mkdtemp(prefix="sg_stream_ojoin_")
    try:
        dropc, dropp = f"{out}/clicks", f"{out}/purchases"
        sink, ckpt = f"{out}/sink", f"{out}/ckpt"
        # a quarter of the users: the eviction/null-completion surface
        # is per-key and needs breadth, not volume — the inner twin
        # keeps the full-corpus match coverage
        ev = _t(spark, sf_dir, "events").where(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & (F.col("user_id") % 4 == 0)
        )
        max_ts = ev.agg(F.max("ts")).first()[0]
        closer_ts = max_ts + _dt.timedelta(days=30)
        ev.where(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
        ).coalesce(1).write.parquet(dropc)
        spark.createDataFrame(
            [(-1, -1, closer_ts)], "click_id long, user_id long, click_ts timestamp"
        ).coalesce(1).write.mode("append").parquet(dropc)
        ev.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        ).coalesce(1).write.parquet(dropp)
        spark.createDataFrame(
            [(-1, -1, closer_ts, 0.0)],
            "purchase_id long, p_user_id long, purchase_ts timestamp, "
            "purchase_value double",
        ).coalesce(1).write.mode("append").parquet(dropp)

        def build():
            clicks = spark.readStream.schema(
                "click_id long, user_id long, click_ts timestamp"
            ).parquet(dropc)
            purchases = (
                spark.readStream.schema(
                    "purchase_id long, p_user_id long, purchase_ts timestamp, "
                    "purchase_value double"
                )
                .parquet(dropp)
                .withColumnRenamed("p_user_id", "user_id")
            )
            return interval_join_streams(
                clicks,
                purchases,
                on="user_id",
                left_ts="click_ts",
                right_ts="purchase_ts",
                watermark="0 seconds",
                within="24 hours",
                how="leftOuter",
            )

        _drain_stream(build, sink, ckpt)
        got = (
            spark.read.schema(
                "click_id long, user_id long, click_ts timestamp, "
                "purchase_id long, purchase_ts timestamp, purchase_value double"
            )
            .parquet(sink)
            .where(F.col("click_id") != -1)
            .select(
                "click_id",
                "user_id",
                F.unix_micros("click_ts").alias("click_us"),
                "purchase_id",
                F.unix_micros("purchase_ts").alias("purchase_us"),
                "purchase_value",
            )
        )
        # localCheckpoint (eager) pins the contract rows in executor
        # block storage before the temp sink is deleted — same lineage
        # cut as the old collect()+createDataFrame roundtrip without the
        # driver round trip (guide §5).
        res = got.localCheckpoint()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return res


def _q_stream_full_outer_join(spark, sf_dir):
    # FULL-OUTER stream-stream interval join (r13): completes the join
    # matrix — BOTH eviction kinds fire, so unmatched clicks arrive
    # null-completed on the purchase side AND unmatched purchases on
    # the click side, each exactly once when the watermark proves no
    # in-window partner can still arrive. Same one-data-batch-per-side
    # + one +30d closer-per-side drain as the leftOuter twin (watermark
    # policy is the MIN across sources, so both closers are needed to
    # advance it); a different user slice (%4==1) keeps the two outer
    # surfaces on disjoint corpora. The emitted key is
    # coalesce(left, right) — an unmatched purchase has no click key to
    # carry. Output must equal the batch FULL JOIN with the interval
    # predicate — the oracle recomputes it, nulls on both sides.
    import datetime as _dt
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.streaming.join_stream import (
        interval_join_streams,
    )

    out = tempfile.mkdtemp(prefix="sg_stream_fojoin_")
    try:
        dropc, dropp = f"{out}/clicks", f"{out}/purchases"
        sink, ckpt = f"{out}/sink", f"{out}/ckpt"
        ev = _t(spark, sf_dir, "events").where(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & (F.col("user_id") % 4 == 1)
        )
        max_ts = ev.agg(F.max("ts")).first()[0]
        closer_ts = max_ts + _dt.timedelta(days=30)
        ev.where(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
        ).coalesce(1).write.parquet(dropc)
        spark.createDataFrame(
            [(-1, -1, closer_ts)], "click_id long, user_id long, click_ts timestamp"
        ).coalesce(1).write.mode("append").parquet(dropc)
        ev.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        ).coalesce(1).write.parquet(dropp)
        spark.createDataFrame(
            [(-1, -1, closer_ts, 0.0)],
            "purchase_id long, p_user_id long, purchase_ts timestamp, "
            "purchase_value double",
        ).coalesce(1).write.mode("append").parquet(dropp)

        def build():
            clicks = spark.readStream.schema(
                "click_id long, user_id long, click_ts timestamp"
            ).parquet(dropc)
            purchases = (
                spark.readStream.schema(
                    "purchase_id long, p_user_id long, purchase_ts timestamp, "
                    "purchase_value double"
                )
                .parquet(dropp)
                .withColumnRenamed("p_user_id", "user_id")
            )
            return interval_join_streams(
                clicks,
                purchases,
                on="user_id",
                left_ts="click_ts",
                right_ts="purchase_ts",
                watermark="0 seconds",
                within="24 hours",
                how="fullOuter",
            )

        _drain_stream(build, sink, ckpt)
        got = (
            spark.read.schema(
                "click_id long, user_id long, click_ts timestamp, "
                "purchase_id long, purchase_ts timestamp, purchase_value double"
            )
            .parquet(sink)
            # drop the two closers (either side of an unmatched row is
            # NULL, so the filter must be null-tolerant)
            .where(
                F.coalesce(F.col("click_id") != -1, F.lit(True))
                & F.coalesce(F.col("purchase_id") != -1, F.lit(True))
            )
            .select(
                "click_id",
                "user_id",
                F.unix_micros("click_ts").alias("click_us"),
                "purchase_id",
                F.unix_micros("purchase_ts").alias("purchase_us"),
                "purchase_value",
            )
        )
        # localCheckpoint (eager) pins the contract rows in executor
        # block storage before the temp sink is deleted — same lineage
        # cut as the old collect()+createDataFrame roundtrip without the
        # driver round trip (guide §5).
        res = got.localCheckpoint()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return res


def _q_stream_corpus_ingest(spark, sf_dir):
    # Streaming corpus-ingest capstone (r13): the documents table
    # drained in three doc_id-ordered micro-batches through
    # streaming/corpus_ingest.py — per batch: exact dedup against the
    # fingerprint REGISTRY manifest, exact-Jaccard near-dedup against
    # the already-ingested corpus (the persisted-LSH probe runs as the
    # partition-pruned candidate accelerator, its recall vs the exact
    # pair set folded into the lsh_recall_ok contract), C4 quality
    # gate, survivors committed to the corpus manifest sink + the LSH
    # index under the replay-idempotent commit order the module
    # documents. The DuckDB oracle macro-expands the three batches —
    # registry fence, cross-batch exact-Jaccard drops, quality gate —
    # and must reproduce the final per-source corpus stats exactly.
    # ntile(3) over doc_id is the batch split (bounded global window:
    # |documents| fixture rows; production batches arrive as files).
    import os
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import read_manifest_sink
    from chesscom_etl_tableau_spark.streaming.corpus_ingest import (
        streaming_corpus_ingest,
    )

    out = tempfile.mkdtemp(prefix="sg_stream_corpus_")
    try:
        drop, sink = f"{out}/drop", f"{out}/sink"
        lsh, reg, ckpt = f"{out}/lsh", f"{out}/reg", f"{out}/ckpt"
        os.makedirs(drop, exist_ok=True)
        docs = _t(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "source"
        )
        t = docs.withColumn(
            "__b", F.ntile(3).over(Window.orderBy("doc_id"))
        ).localCheckpoint()
        stamp = _arrival_order(drop)
        for b in (1, 2, 3):
            t.where(F.col("__b") == b).drop("__b").coalesce(1).write.mode(
                "append"
            ).parquet(drop)
            stamp()
        stats: list = []
        with _drain_conf(spark, 8):
            stream = (
                spark.readStream.schema(
                    "doc_id long, text string, lang string, source string"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(drop)
            )
            q = streaming_corpus_ingest(stream, sink, lsh, reg, ckpt, stats=stats)
            q.awaitTermination()
        exact_total = sum(s["n_exact_pairs"] for s in stats)
        hits_total = sum(s["n_lsh_hits"] for s in stats)
        recall_ok = exact_total == 0 or hits_total / exact_total >= 0.7
        final = read_manifest_sink(spark, sink)
        micro = F.floor(F.col("quality_score") * F.lit(1000000.0) + F.lit(0.5))
        got = final.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            (
                F.floor(F.sum(micro) / F.count(F.lit(1)) + F.lit(0.5)).cast(
                    "double"
                )
                / F.lit(1000000.0)
            ).alias("avg_quality"),
        )
        rows = [
            (r["source"], r["n_docs"], r["total_tokens"], r["avg_quality"],
             recall_ok)
            for r in got.collect()
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "source string, n_docs long, total_tokens long, avg_quality double, "
        "lsh_recall_ok boolean",
    )


def _q_stream_corpus_ingest_mm(spark, sf_dir):
    # Multimodal streaming capstone (r14, verdict ask #3): ONE stream
    # maintains BOTH the text LSH index and the vector IVF index under
    # the same replay fencing. The documents table (joined to its
    # embeddings) drains in three doc_id-ordered micro-batches through
    # streaming/corpus_ingest.py with the embedding modality enabled:
    # per batch — registry-fenced exact dedup, exact-Jaccard near-dedup
    # (within-batch + vs prior survivors), quality gate, then the
    # commit ladder corpus manifest -> LSH band rows -> keyed-
    # idempotent vector append into the generation-LOGGED IVF index
    # (bootstrap + residual-baseline capture on the first surviving
    # batch). refit_every=3 fires the drift-triggered partial refit
    # (index_log.ivf_refit_drifted_log, exact-integer rule
    # cur*40 > base*41 — tight enough that drift genuinely fires at
    # the fixture SFs, so the refit path is hash-checked, not just
    # compiled) after the final batch: drifted buckets are
    # re-centered with the micro-integer Lloyd update and reassigned
    # in a new generation. The DuckDB oracle macro-expands the three
    # batches' survivor computation AND replays assignment, the
    # batch-1 baseline, the drift test, the micro-mean refit, the
    # reassignment, and the final per-bucket residuals — all exact
    # integer math. ids_exactly_once is a REAL check that the index
    # holds exactly the corpus ids (keyed append => no duplicate
    # vectors, no stragglers); lsh_recall_ok is the probe contract.
    import os
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.operators import index_log as IL
    from chesscom_etl_tableau_spark.plans.ingest import read_manifest_sink
    from chesscom_etl_tableau_spark.streaming.corpus_ingest import (
        streaming_corpus_ingest,
    )

    out = tempfile.mkdtemp(prefix="sg_stream_mm_")
    try:
        drop, sink = f"{out}/drop", f"{out}/sink"
        lsh, reg, ckpt = f"{out}/lsh", f"{out}/reg", f"{out}/ckpt"
        ivf = f"{out}/ivf"
        os.makedirs(drop, exist_ok=True)
        emb = _t(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("doc_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
        docs = (
            _t(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang", "source")
            .join(emb, "doc_id")
        )
        centroids = emb.where(F.col("doc_id") < 8).select(
            F.col("doc_id").alias("centroid_id"), "embedding"
        )
        t = docs.withColumn(
            "__b", F.ntile(3).over(Window.orderBy("doc_id"))
        ).localCheckpoint()
        stamp = _arrival_order(drop)
        for b in (1, 2, 3):
            t.where(F.col("__b") == b).drop("__b").coalesce(1).write.mode(
                "append"
            ).parquet(drop)
            stamp()
        stats: list = []
        ivf_state: dict = {"centroids": centroids}
        with _drain_conf(spark, 8):
            stream = (
                spark.readStream.schema(
                    "doc_id long, text string, lang string, source string, "
                    "embedding array<double>"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(drop)
            )
            q = streaming_corpus_ingest(
                stream, sink, lsh, reg, ckpt, stats=stats,
                ivf_path=ivf, ivf_state=ivf_state, refit_every=3,
                drift_num=41, drift_den=40,
            )
            q.awaitTermination()
        exact_total = sum(s["n_exact_pairs"] for s in stats)
        hits_total = sum(s["n_lsh_hits"] for s in stats)
        recall_ok = exact_total == 0 or hits_total / exact_total >= 0.7
        drifted = set(ivf_state.get("drifted", []))
        idx = (
            IL.index_log_read(spark, ivf)
            .select(
                "vec_id", "embedding", F.col("bucket").cast("int").alias("bucket")
            )
            .localCheckpoint()
        )
        corpus_ids = read_manifest_sink(spark, sink).select(
            F.col("doc_id").alias("vec_id")
        )
        ids_ok = _multiset_mismatch(idx.select("vec_id"), corpus_ids) == 0
        resid = SIM.ivf_bucket_residuals(idx, ivf_state["centroids"]).collect()
        rows = [
            (
                int(r["bucket"]),
                int(r["n_vectors"]),
                int(r["bucket"]) in drifted,
                int(r["mean_resid_micro"]),
                ids_ok,
                recall_ok,
            )
            for r in resid
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "bucket int, n_vectors long, was_drifted boolean, "
        "final_resid_micro long, ids_exactly_once boolean, "
        "lsh_recall_ok boolean",
    )


def _q_stream_scd2(spark, sf_dir):
    # Continuous SCD2 dimension maintenance (streaming/scd_stream.py)
    # drained over the purchase-tier change feed — the streaming twin
    # of t15_scd2_dimension (same oracle verbatim). The feed splits at
    # its time midpoint into two files; maxFilesPerTrigger=1 makes each
    # its own foreachBatch COW merge into a manifest sink, so the
    # dimension evolves through two real incremental merges (open
    # versions closed, tails rebuilt) and must still equal the batch
    # build from the full history.
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.streaming.scd_stream import (
        read_scd2_dim,
        streaming_scd2,
    )

    out = tempfile.mkdtemp(prefix="sg_stream_scd2_")
    try:
        drop, sink, ckpt = f"{out}/drop", f"{out}/sink", f"{out}/ckpt"
        ev = _t(spark, sf_dir, "events").where(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        ch = ev.select(
            "user_id",
            F.floor(F.col("value") / 25).cast("int").alias("tier"),
            "ts",
            "event_id",
        )
        lo, hi = ch.agg(F.min("ts"), F.max("ts")).first()
        mid = lo + (hi - lo) / 2
        stamp = _arrival_order(drop)
        ch.where(F.col("ts") < F.lit(mid)).coalesce(1).write.parquet(drop)
        stamp()
        ch.where(F.col("ts") >= F.lit(mid)).coalesce(1).write.mode(
            "append"
        ).parquet(drop)
        stamp()
        stream = (
            spark.readStream.schema(
                "user_id long, tier int, ts timestamp, event_id long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(drop)
        )
        with _drain_conf(spark):
            q = streaming_scd2(
                stream, sink, ckpt,
                key_col="user_id", attr_col="tier", ts_col="ts",
                order_cols=("event_id",),
            )
            q.awaitTermination()
        dim = read_scd2_dim(spark, sink).select(
            "user_id", "tier", "effective_from", "effective_to",
            "is_current", "version",
        )
        # localCheckpoint (eager): lineage cut without the driver round
        # trip (guide §5), same rows/schema as the old collect+create.
        res = dim.localCheckpoint()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return res


def _q_stream_pattern_matches(spark, sf_dir):
    # Streaming CEP (streaming/pattern_stream.py) drained over the
    # events table split at its time midpoint — the streaming twin of
    # a28_pattern_cep (same greedy matcher, same recursive-CTE oracle
    # VERBATIM). Batch 1 buffers the early half (watermark still at
    # epoch — applyInPandasWithState evaluates batch N against the
    # watermark of batch N-1); batch 2's arrival advances the watermark
    # past the early half, sealing it, so a candidate started on
    # batch-1 events completes on batch-2 events THROUGH THE PERSISTED
    # STATE; two closer events (+30d/+60d, user -1) seal the tail via
    # EventTimeTimeout. Output must equal the batch matcher over the
    # fully-arrived table. Arrival order is ENFORCED with the
    # `_arrival_order` mtime fence — a tie delivering the late half
    # first would watermark-DROP the early half.
    import datetime as _dt
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.streaming.pattern_stream import (
        streaming_pattern_matches,
    )

    out = tempfile.mkdtemp(prefix="sg_stream_cep_")
    try:
        drop, sink, ckpt = f"{out}/drop", f"{out}/sink", f"{out}/ckpt"
        ev = _t(spark, sf_dir, "events").select(
            "user_id", "event_id", "event_type", "ts"
        )
        bounds = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
        mid = bounds["lo"] + (bounds["hi"] - bounds["lo"]) / 2
        stamp = _arrival_order(drop)
        ev.where(F.col("ts") <= mid).coalesce(1).write.parquet(drop)
        stamp()
        ev.where(F.col("ts") > mid).coalesce(1).write.mode("append").parquet(drop)
        stamp()
        # ONE closer (r12): the final eviction/flush that the old +60d
        # closer forced is performed by Spark's no-data micro-batch
        # (spark.sql.streaming.noDataMicroBatches, on by default) after
        # the +30d closer advances the watermark — one fewer data batch
        # per drain, oracle-verified identical output (closer rows are
        # filtered from the contract frame either way).
        for days in (30,):
            spark.createDataFrame(
                [(-1, -1, "noop", bounds["hi"] + _dt.timedelta(days=days))],
                "user_id long, event_id long, event_type string, ts timestamp",
            ).coalesce(1).write.mode("append").parquet(drop)
            stamp()

        def build():
            return streaming_pattern_matches(
                spark.readStream.schema(
                    "user_id long, event_id long, event_type string, ts timestamp"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(drop),
                ("signup", "view", "purchase"),
                within_minutes=24 * 60,
                watermark_delay="0 seconds",
            )

        _drain_stream(build, sink, ckpt)
        got = (
            spark.read.schema(
                "user_id long, match_start timestamp, match_end timestamp, "
                "duration_s double"
            )
            .parquet(sink)
            .where(F.col("user_id") >= 0)
        )
        # localCheckpoint (eager) pins the contract rows in executor
        # block storage before the temp sink is deleted — same lineage
        # cut as the old collect()+createDataFrame roundtrip without the
        # driver round trip (guide §5).
        res = got.localCheckpoint()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return res


def _q_stream_dq_report(spark, sf_dir):
    # Continuous DQ monitoring (streaming/dq_stream.py) drained over
    # the orders table split into two data-determined halves
    # (o_orderkey parity, one file each => one micro-batch each): the
    # foreachBatch auditor appends one dq_report frame per batch to the
    # report sink. The surface returns the accumulated rule rows
    # WITHOUT batch_id: the two halves are decided by the DATA, so the
    # multiset of per-half reports is deterministic regardless of which
    # half the file source schedules first — and the driver's compare
    # is order-insensitive. The oracle recomputes both halves' reports
    # in DuckDB (the dq_report SQL, parameterized by parity) and
    # UNION ALLs them.
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.streaming.dq_stream import streaming_dq_gate

    out = tempfile.mkdtemp(prefix="sg_stream_dq_")
    try:
        drop, report, ckpt = f"{out}/drop", f"{out}/report", f"{out}/ckpt"
        orders = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority",
            "o_custkey", "o_orderdate",
        )
        customer = _t(spark, sf_dir, "customer")
        orders.where(F.col("o_orderkey") % 2 == 0).coalesce(1).write.parquet(drop)
        orders.where(F.col("o_orderkey") % 2 != 0).coalesce(1).write.mode(
            "append"
        ).parquet(drop)

        with _drain_conf(spark):
            q = streaming_dq_gate(
                spark.readStream.schema(
                    "o_orderkey long, o_orderstatus string, o_totalprice double, "
                    "o_orderpriority string, o_custkey long, o_orderdate timestamp"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(drop),
                report_path=report,
                checkpoint_path=ckpt,
                rules=dict(
                    unique_keys=["o_orderkey"],
                    accepted_values={"o_orderstatus": ["O", "F", "P"]},
                    non_negative=["o_totalprice"],
                    max_null_rate={"o_orderpriority": 0.5},
                    references=[("o_custkey", customer, "c_custkey")],
                    fresh_after={"o_orderdate": "2000-01-01"},
                ),
            )
            q.awaitTermination()
        # Report rows carry batch_id so readers can apply the module's
        # exactly-once convention: first-seen-wins per (batch_id, rule) —
        # a foreachBatch retry appends duplicate rule rows for the same
        # batch_id, and a raw read would double them into the oracle
        # multiset. Dedup BEFORE projecting batch_id away.
        got = (
            spark.read.parquet(report)
            .dropDuplicates(["batch_id", "rule"])
            .select("rule", "metric", "threshold", "passed")
        )
        # localCheckpoint (eager) pins the contract rows in executor
        # block storage before the temp sink is deleted — same lineage
        # cut as the old collect()+createDataFrame roundtrip without the
        # driver round trip (guide §5).
        res = got.localCheckpoint()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return res


def _q_stream_heavy_hitters(spark, sf_dir):
    # Streaming Misra-Gries heavy hitters (streaming/heavy_stream.py)
    # drained over an events key column with engineered skew (two hot
    # keys at ~16.5% each, ~1000 cold keys) and m=8, so the MG cut
    # fires in BOTH batch merges. The per-key count_lo after a cut
    # depends on merge order, so the contract frame is the MERGEABLE-
    # SUMMARIES GUARANTEE itself (Agarwal et al., PODS 2012), which
    # holds for EVERY merge order: any key with true frequency
    # > N/(m+1) must survive in the final state (in_state), and MG
    # counts never overestimate (bound_ok: count_lo <= true count).
    # DuckDB recomputes the exact heavy set + both booleans as
    # constants; a dropped hot key or a corrupted counter flips a
    # boolean and fails the hash. Exact per-key counts (no cut) are
    # pinned by pytest (tests/test_round5_sixth_ops.py).
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.streaming.heavy_stream import (
        read_heavy_state,
        streaming_heavy_hitters,
    )

    m = 8
    out = tempfile.mkdtemp(prefix="sg_stream_hh_")
    try:
        drop, state, ckpt = f"{out}/drop", f"{out}/state", f"{out}/ckpt"
        key = F.when(
            F.col("user_id") % 3 == 0,
            F.concat(F.lit("hot"), (F.col("user_id") % 2).cast("string")),
        ).otherwise(
            F.concat(F.lit("cold"), (F.col("user_id") % 997).cast("string"))
        )
        ev = _t(spark, sf_dir, "events").select(
            "event_id", key.alias("k")
        )
        ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(drop)
        ev.where(F.col("event_id") % 2 != 0).coalesce(1).write.mode(
            "append"
        ).parquet(drop)

        with _drain_conf(spark):
            q = streaming_heavy_hitters(
                spark.readStream.schema("event_id long, k string")
                .option("maxFilesPerTrigger", 1)
                .parquet(drop),
                key_col="k",
                state_path=state,
                checkpoint_path=ckpt,
                m=m,
            )
            q.awaitTermination()
        # bounded: the MG state is <= m rows by construction
        st = {r["key"]: r["count_lo"] for r in read_heavy_state(spark, state).collect()}
    finally:
        shutil.rmtree(out, ignore_errors=True)
    truth = (
        _t(spark, sf_dir, "events")
        .select(key.alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    n_total = truth.agg(F.sum("true_count")).first()[0]  # 1-row agg
    # bounded: at most m keys can each exceed N/(m+1) of the total
    heavy = [
        (r["k"], r["true_count"])
        for r in truth.where(F.col("true_count") * (m + 1) > F.lit(n_total)).collect()
    ]
    return spark.createDataFrame(
        [
            (k, c, k in st, st.get(k, 0) <= c)
            for k, c in heavy
        ],
        "key string, true_count bigint, in_state boolean, bound_ok boolean",
    )


def _q_stream_windowed_counts(spark, sf_dir):
    # Streaming tumbling-window counts (streaming/windowed.py) drained
    # over the events table — the streaming twin of the batch
    # date_trunc rollups (W2). Same closer-file watermark mechanics as
    # _q_stream_sessionize; 1-hour windows are epoch-aligned, so the
    # oracle is a plain date_trunc('hour') GROUP BY. The approximate
    # n_users column (HLL) is computed by the operator but excluded
    # from the contract frame — DuckDB cannot reproduce Spark's sketch.
    import datetime as _dt
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.streaming.windowed import (
        windowed_event_counts,
    )

    out = tempfile.mkdtemp(prefix="sg_stream_win_")
    try:
        drop, sink, ckpt = f"{out}/drop", f"{out}/sink", f"{out}/ckpt"
        ev = (
            _t(spark, sf_dir, "events")
            .where(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
            .select("user_id", "event_type", "ts")
        )
        stamp = _arrival_order(drop)
        ev.coalesce(1).write.parquet(drop)
        stamp()
        max_ts = ev.agg(F.max("ts")).first()[0]
        # ONE closer (r12): the final eviction/flush that the old +60d
        # closer forced is performed by Spark's no-data micro-batch
        # (spark.sql.streaming.noDataMicroBatches, on by default) after
        # the +30d closer advances the watermark — one fewer data batch
        # per drain, oracle-verified identical output (closer rows are
        # filtered from the contract frame either way).
        for days in (30,):
            spark.createDataFrame(
                [(-1, "__closer__", max_ts + _dt.timedelta(days=days))],
                "user_id long, event_type string, ts timestamp",
            ).coalesce(1).write.mode("append").parquet(drop)
            stamp()
        _drain_stream(
            lambda: windowed_event_counts(
                spark.readStream.schema(
                    "user_id long, event_type string, ts timestamp"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(drop),
                "1 hour",
                watermark_delay="0 seconds",
            ),
            sink,
            ckpt,
        )
        got = (
            spark.read.schema(
                "window_start timestamp, window_end timestamp, "
                "event_type string, n_events long, n_users long"
            )
            .parquet(sink)
            .where(F.col("event_type") != "__closer__")
            .select(
                F.unix_timestamp("window_start").cast("bigint").alias("window_start_s"),
                F.unix_timestamp("window_end").cast("bigint").alias("window_end_s"),
                "event_type",
                "n_events",
            )
        )
        # localCheckpoint (eager) pins the contract rows in executor
        # block storage before the temp sink is deleted — same lineage
        # cut as the old collect()+createDataFrame roundtrip without the
        # driver round trip (guide §5).
        res = got.localCheckpoint()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return res


# ---------------------------------------------------------------------------
# Round 15: forget pipeline, html extraction, model-based quality,
# streaming ANN enrichment, streaming decontamination.
# ---------------------------------------------------------------------------

# Shared HTML fixture fragments (Spark query + DuckDB oracle splice the
# SAME constants, so the two engines parse byte-identical input).
_HTML_P1 = ('<html><head><title>t</title><style type="text/css">'
            'p { color: #fff; }  h1 { font: 12px; }</style></head> '
            '<body> <h1 class="hd">')
_HTML_P2 = '</h1> <div id="main"> <p>'
_HTML_P3 = ('</p> <a href="/x?a=1&amp;b=2">M&amp;A &lt;raw&gt; '
            '&quot;q&quot; &#39;s&nbsp;end</a> '
            '<script type="text/javascript">if (a < b) { emit("&amp;"); }'
            '</script> <!-- footer comment --> </div> </body></html>')


def _q_text_html_extract(spark, sf_dir):
    # HTML/markup text extraction (r15, verdict ask #4): the real-
    # pipeline step upstream of the quality gate. Each document is
    # wrapped in a deterministic HTML shell (tags, a style block, a
    # script block with comparison operators, a comment, entity-encoded
    # punctuation including the double-encode trap "&amp;lt;") and
    # operators/text.py::html_extract recovers the text: script/style/
    # comment drop, tag strip, entity decode (&amp; LAST), whitespace
    # normalize — a single scan-local Catalyst chain, zero Exchange
    # (plan-pinned), every pattern RE2-portable so the DuckDB oracle
    # replays the chain byte-identically.
    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(_HTML_P1),
        F.col("lang"),
        F.lit(_HTML_P2),
        F.replace(F.col("text"), F.lit(" and "), F.lit(" &amp; ")),
        F.lit(_HTML_P3),
    )
    return docs.select(
        "doc_id", TX.html_extract(html).alias("extracted")
    )


def _q_text_quality_model(spark, sf_dir):
    # Model-based quality scoring (r15, verdict ask #3): the fasttext-
    # style hashed-ngram logistic classifier of the CCNet/C4 lineage
    # (operators/quality_model.py). Labeled slice: every document is a
    # positive; its deterministically corrupted twin (vowels stripped,
    # uppercased, junk-punctuation suffix) is a negative. Train on
    # base-id % 4 != 0 (capped at 4000 rows by the deterministic
    # hash-mod downsample — the KMeans train_cap discipline), score
    # the held-out quarter scan-side (JVM HashingTF + sigmoid, no
    # Python), and gate on ROC AUC >= 0.9 and a mean-probability
    # separation >= 0.5 — contract booleans the oracle expects TRUE
    # (the a14/LSH pattern: floors with wide margin, measured ~1.0 /
    # ~0.999 at all three fixture SFs). Held-out per-lang counts are
    # replayed closed-form by the oracle.
    from chesscom_etl_tableau_spark.operators import quality_model as QM

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    neg = docs.select(
        (F.col("doc_id") + F.lit(1000000000)).alias("doc_id"),
        F.concat(
            F.upper(F.regexp_replace("text", "[aeiou]", "")),
            F.lit(" ### $$$ @@@ !!!! ### $$$"),
        ).alias("text"),
        "lang",
    )
    labeled = docs.withColumn("label", F.lit(1.0)).unionByName(
        neg.withColumn("label", F.lit(0.0))
    )
    base = F.pmod(F.col("doc_id"), F.lit(1000000000))
    train = labeled.where(F.pmod(base, F.lit(4)) != 0)
    test = labeled.where(F.pmod(base, F.lit(4)) == 0).localCheckpoint()
    model = QM.fit_quality_classifier(train, train_cap=4000)
    auc_ok = QM.quality_model_auc(model, test) >= 0.9
    sep = {
        r["label"]: r["p"]
        for r in QM.score_quality(model, test)
        .groupBy("label")
        .agg(F.avg("quality_prob").alias("p"))
        .collect()
    }
    sep_ok = sep.get(1.0, 0.0) - sep.get(0.0, 1.0) >= 0.5
    counts = (
        test.where(F.col("label") == 1.0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_test_docs"))
        .collect()
    )
    return spark.createDataFrame(
        [(r["lang"], r["n_test_docs"], auc_ok, sep_ok) for r in counts],
        "lang string, n_test_docs long, auc_ok boolean, separation_ok boolean",
    )


def _q_pipeline_forget_ids(spark, sf_dir):
    # End-to-end right-to-be-forgotten (r15, verdict ask #1 — the
    # capstone composition): one removal request (doc_id % 7 == 0)
    # applied across ALL THREE serving surfaces via plans/forget.py —
    # corpus manifest sink (COW delete), generation-logged banded LSH
    # index, generation-logged IVF index — under a write-ahead intent
    # that pins every surface's PRE-delete generation as the audit
    # surface. Contract booleans are REAL Spark-side checks: every
    # current surface excludes the victims (with exact counts), every
    # pinned pre-delete generation still serves them, a replayed
    # forget publishes nothing anywhere (counts 0, post == post), and
    # no intent is left pending. Per-source remaining counts are
    # replayed closed-form by the oracle. The crash-between-surfaces
    # resume path is pytest-pinned (tests/test_round15_ops.py).
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.operators import index_log as IL
    from chesscom_etl_tableau_spark.plans import forget as FG
    from chesscom_etl_tableau_spark.plans.ingest import (
        commit_append_manifest,
        read_manifest_sink,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    # ONE victim predicate shared by the victims frame and the combined
    # aggregate below (advice r15: two copies of the rule can drift).
    is_victim = F.col("doc_id") % 7 == 0
    victims = docs.where(is_victim).select("doc_id")
    out = tempfile.mkdtemp(prefix="sg_forget_")
    try:
        corpus, lsh, ivf = f"{out}/corpus", f"{out}/lsh", f"{out}/ivf"
        commit_append_manifest(docs, corpus, key_col="doc_id")
        from chesscom_etl_tableau_spark.util import cluster_for_partitioned_write

        cluster_for_partitioned_write(D.lsh_band_rows(docs), "pb").write.partitionBy(
            "pb"
        ).parquet(lsh)
        IL.index_log_init(lsh, "pb")
        SIM.ivf_persist(emb, centroids, ivf)
        IL.index_log_init(ivf, "bucket")
        # One pass over docs for (n_docs, n_victims) instead of two
        # count jobs; the victim rule is the SAME shared predicate the
        # victims frame filters on, and the sum is coalesced so an
        # empty docs frame yields 0 like the old victims.count() did
        # (optimization r15, guide §1.2; advice r15).
        n_docs, n_victims = docs.agg(
            F.count(F.lit(1)),
            F.coalesce(
                F.sum(F.when(is_victim, 1).otherwise(0)), F.lit(0)
            ),
        ).first()
        n_emb_victims = emb.join(
            F.broadcast(victims.select(F.col("doc_id").alias("vec_id"))),
            "vec_id", "left_semi",
        ).count()
        res = FG.forget_ids(victims, corpus, lsh_path=lsh, ivf_path=ivf)
        remaining = read_manifest_sink(spark, corpus).localCheckpoint()
        v_doc = F.broadcast(victims)
        # (remaining count, victims still present) in ONE job via a
        # broadcast left join instead of a semi-join count + a count.
        n_remaining, n_victims_left = remaining.join(
            v_doc.withColumn("__v", F.lit(1)), "doc_id", "left"
        ).agg(F.count(F.lit(1)), F.count("__v")).first()
        corpus_excludes = (
            res["deleted"]["corpus"] == n_victims
            and n_victims_left == 0
            and n_remaining == n_docs - n_victims
        )
        v_lsh = F.broadcast(victims.select(F.col("doc_id").alias("doc")))
        lsh_excludes = (
            IL.index_log_read(spark, lsh)
            .join(v_lsh, "doc", "left_semi").count() == 0
        )
        v_vec = F.broadcast(victims.select(F.col("doc_id").alias("vec_id")))
        ivf_cur = IL.index_log_read(spark, ivf)
        ivf_excludes = (
            res["deleted"]["ivf"] == n_emb_victims
            and ivf_cur.join(v_vec, "vec_id", "left_semi").count() == 0
        )
        pre = res["pre"]
        pre_corpus_files = ING._manifest_doc(corpus, pre["corpus"])["files"]
        audit_pre_shows = (
            spark.read.parquet(*pre_corpus_files)
            .join(v_doc, "doc_id", "left_semi").count() == n_victims
            and IL.index_log_read(spark, lsh, pre["lsh"])
            .join(v_lsh, "doc", "left_semi").count() > 0
            and IL.index_log_read(spark, ivf, pre["ivf"])
            .join(v_vec, "vec_id", "left_semi").count() == n_emb_victims
        )
        res2 = FG.forget_ids(victims, corpus, lsh_path=lsh, ivf_path=ivf)
        replay_noop = (
            all(v == 0 for v in res2["deleted"].values())
            and res2["post"] == res["post"]
            and FG.forget_pending(corpus) == []
        )
        per_source = (
            remaining.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_remaining"))
            .collect()
        )
        rows = [
            (r["source"], r["n_remaining"], corpus_excludes, lsh_excludes,
             ivf_excludes, audit_pre_shows, replay_noop)
            for r in per_source
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "source string, n_remaining long, corpus_excludes boolean, "
        "lsh_excludes boolean, ivf_excludes boolean, "
        "audit_pre_shows boolean, replay_noop boolean",
    )


def _q_stream_ann_enrich(spark, sf_dir):
    # Streaming ANN enrichment from a PINNED index generation (r15,
    # verdict ask #5 — the serving loop): a query stream (vec_id < 6)
    # drains in two micro-batches through streaming/ann_enrich.py;
    # each batch resolves the IVF index's newest generation ONCE at
    # batch start and answers every query from exactly that
    # generation's files (index_log.ivf_topk_generation — manifest-
    # side file pruning). compact_every=1 fires a snapshot-isolated
    # compaction MID-DRAIN (after batch 1), so batch 2 provably serves
    # from the new generation (generations_advanced checks the pinned
    # stats 2 -> 3) while batch 1's in-flight read was untouched —
    # and because compaction never changes content, the union of both
    # batches' enrichments must equal a fresh probe of the final
    # generation (consistent_with_pinned, a REAL exceptAll check).
    # The DuckDB oracle replays the full IVF probe closed-form:
    # argmax bucket assignment, nprobe=2 centroid routing, exact
    # top-5 within the probed buckets.
    import os
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.operators import index_log as IL
    from chesscom_etl_tableau_spark.streaming.ann_enrich import (
        streaming_ann_enrich,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    base = emb.where(F.col("vec_id") % 3 != 0)
    extra = emb.where(F.col("vec_id") % 3 == 0)
    queries_df = emb.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = tempfile.mkdtemp(prefix="sg_annenrich_")
    try:
        ivf, drop = f"{out}/ivf", f"{out}/drop"
        sink, ckpt = f"{out}/sink", f"{out}/ckpt"
        SIM.ivf_persist(base, centroids, ivf)
        IL.index_log_init(ivf, "bucket")
        IL.index_log_append(
            spark, ivf, SIM.assign_buckets(extra, centroids), "bucket"
        )  # gen 2: every touched bucket now holds 2 files -> compactable
        stamp = _arrival_order(drop)
        queries_df.where(F.col("query_id") % 2 == 0).coalesce(1).write.mode(
            "append"
        ).parquet(drop)
        stamp()
        queries_df.where(F.col("query_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(drop)
        stamp()
        stats: list = []
        with _drain_conf(spark, 8):
            stream = (
                spark.readStream.schema(
                    "query_id long, embedding array<double>"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(drop)
            )
            q = streaming_ann_enrich(
                stream, ivf, centroids, sink, ckpt,
                k=5, nprobe=2, compact_every=1, stats=stats,
            )
            q.awaitTermination()
        generations_advanced = (
            len(stats) == 2
            and stats[0]["generation"] == 2
            and stats[1]["generation"] == 3
        )
        got = (
            spark.read.parquet(sink)
            .select("query_id", "vec_id", "cosine_sim", "rank")
            .localCheckpoint()
        )
        static = IL.ivf_topk_generation(
            spark, ivf, centroids, queries_df, k=5, nprobe=2
        ).localCheckpoint()
        consistent = _multiset_mismatch(got, static) == 0
        rows = [
            (r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"],
             consistent, generations_advanced)
            for r in got.collect()
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "query_id long, vec_id long, cosine_sim double, rank int, "
        "consistent_with_pinned boolean, generations_advanced boolean",
    )


def _q_stream_corpus_decontam(spark, sf_dir):
    # Incremental decontamination in the streaming capstone (r15,
    # verdict ask #8): the stream_corpus_ingest drain with a benchmark
    # shingle vocabulary (docs with doc_id % 11 == 3 — "the eval set
    # leaked into the crawl") screened per batch: a quality-passing
    # survivor whose distinct 3-gram shingles are >= 1/2 contained in
    # the benchmark vocabulary is dropped before every commit. The
    # containment test is the EXACT integer cross-multiply
    # (hits*2 >= n*1), so the oracle replays it without float drift;
    # the drop is a pure function of (batch, static vocab), preserving
    # the replay fencing. The oracle macro-expands the same three
    # batches with the contamination filter and replays the total
    # dropped count closed-form.
    import os
    import shutil
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import read_manifest_sink
    from chesscom_etl_tableau_spark.streaming.corpus_ingest import (
        benchmark_shingle_vocab,
        streaming_corpus_ingest,
    )

    out = tempfile.mkdtemp(prefix="sg_stream_decon_")
    try:
        drop, sink = f"{out}/drop", f"{out}/sink"
        lsh, reg, ckpt = f"{out}/lsh", f"{out}/reg", f"{out}/ckpt"
        os.makedirs(drop, exist_ok=True)
        docs = _t(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "source"
        )
        vocab = benchmark_shingle_vocab(
            docs.where(F.col("doc_id") % 11 == 3)
        ).localCheckpoint()
        t = docs.withColumn(
            "__b", F.ntile(3).over(Window.orderBy("doc_id"))
        ).localCheckpoint()
        stamp = _arrival_order(drop)
        for b in (1, 2, 3):
            t.where(F.col("__b") == b).drop("__b").coalesce(1).write.mode(
                "append"
            ).parquet(drop)
            stamp()
        stats: list = []
        with _drain_conf(spark, 8):
            stream = (
                spark.readStream.schema(
                    "doc_id long, text string, lang string, source string"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(drop)
            )
            q = streaming_corpus_ingest(
                stream, sink, lsh, reg, ckpt, stats=stats,
                decontam_vocab=vocab,
            )
            q.awaitTermination()
        exact_total = sum(s["n_exact_pairs"] for s in stats)
        hits_total = sum(s["n_lsh_hits"] for s in stats)
        recall_ok = exact_total == 0 or hits_total / exact_total >= 0.7
        n_contam = sum(s["n_dropped_contaminated"] for s in stats)
        final = read_manifest_sink(spark, sink)
        micro = F.floor(F.col("quality_score") * F.lit(1000000.0) + F.lit(0.5))
        got = final.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            (
                F.floor(F.sum(micro) / F.count(F.lit(1)) + F.lit(0.5)).cast(
                    "double"
                )
                / F.lit(1000000.0)
            ).alias("avg_quality"),
        )
        rows = [
            (r["source"], r["n_docs"], r["total_tokens"], r["avg_quality"],
             n_contam, recall_ok)
            for r in got.collect()
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "source string, n_docs long, total_tokens long, avg_quality double, "
        "n_contam_dropped long, lsh_recall_ok boolean",
    )



EAGER_QUERIES = frozenset(
    {
        "stream_sessionize",  # real streaming drain (temp dirs, 3 micro-batches)
        "stream_windowed_counts",  # same
        "stream_ohlc",  # same
        "stream_interval_join",  # same
        "stream_dedup",  # same
        "stream_scd2",  # same (foreachBatch merges into a temp manifest sink)
        "stream_outer_join",  # left-outer drain (2 data batches/side + closers)
        "stream_full_outer_join",  # full-outer drain (1 data batch/side + closers)
        "stream_pattern_matches",  # CEP drain (4 micro-batches, state-crossing candidate)
        "stream_dq_report",  # foreachBatch DQ auditor (2 micro-batches, report sink)
        "stream_heavy_hitters",  # foreachBatch MG state merges (2 micro-batches)
        "i2_idempotent_reingest",
        "i3_open_month_refetch",
        "s9_state_roundtrip",
        "s6_audit_game_counts",
        "i5_incremental_equivalence",
        "s5_append_roundtrip",
        "s7_status_log_counts",
        "s10_bi_export_roundtrip",
        "s11_manifest_roundtrip",  # manifest commit pipeline (temp-dir writes)
        "s12_time_travel",  # three manifest commits + per-generation reads
        "s13_merge_roundtrip",  # append + COW merge pipeline (temp-dir writes)
        "s14_stats_pruning",  # manifest stats + pruned-read pipeline (temp-dir writes)
        "s15_delete_vector_lifecycle",  # DV delete/re-append/compact pipeline
        "a21_cms_heavy_hitters",  # driver-side sketch readout (df.stat)
        "s16_zorder_pruning",  # z-order write + pruned-read pipeline (temp-dir)
        "s17_bloom_pruning",  # bloom commit + point-read pipeline (temp-dir)
        "s18_multi_table_txn",  # two warehouse transactions + snapshot reads
        "s19_change_feed",  # append/merge/DV pipeline + feed aggregation
        "s20_incremental_agg",  # three view refreshes (temp-dir writes)
        "s22_metadata_export",  # manifest commits + footer-scan export (temp-dir)
        "emb_whitening",  # two Arrow passes + driver eigh run at build time
        "f10_dynamic_partition_pruning",  # partitioned temp-dir write + 2 plans
        "dq_observe",  # observation resolves only after the carrier action
        "ann_mmr_rerank",  # bounded candidate-list collect + driver greedy
        "train_bpe_merges",  # greedy merge loop (driver argmax per round)
        "train_bpe_tokenize",  # learn loop runs eagerly before the apply plan
        "dedup_components",  # iterative min-label propagation (convergence loop)
        "graph_bfs",  # frontier loop with per-round isEmpty checks
        "graph_kcore",  # per-round lineage cut: under AQE even a lazy
        # localCheckpoint materializes its stages (toRdd executes so
        # AQE can observe runtime stats) — the peel is eager by nature
        "dedup_cluster_survivors",
        "ann_ivf_append",  # temp-dir index build + append + exceptAll check
        "ann_ivfpq_append",  # same, plus frozen-codebook encode (KMeans fits)
        "dedup_lsh_persist",  # temp-dir LSH index persist/append/probe + verify collect
        "dedup_substrings_fixpoint",  # per-round localCheckpoint + convergence count
        "ann_ivf_compact",  # temp-dir persist/append x2/compact + probe compares
        "ann_ivf_gen_probe",  # temp-dir generation-logged append/compact + pinned probe
        "dedup_lsh_gen_probe",  # same lifecycle over the banded LSH index
        "ann_ivf_gen_delete",  # temp-dir logged delete + time-travel/replay checks
        "ann_ivf_refit",  # temp-dir persist/append/refit + rebuild compare
        "dedup_lsh_compact",  # temp-dir LSH persist/append/compact + probe compare
        "stream_corpus_ingest",  # foreachBatch drain: manifest+LSH commits per batch
        "stream_corpus_ingest_mm",  # same drain + generation-logged IVF appends/refit
        "pipeline_forget_ids",  # temp-dir corpus+LSH+IVF build, forget txn, replay
        "text_quality_model",  # spark.ml LogisticRegression fit (hashed ngrams)
        "stream_ann_enrich",  # streaming drain with mid-drain index compaction
        "stream_corpus_decontam",  # foreachBatch drain + decontamination screen
        "ann_ivfpq_refit",  # temp-dir persist/append/refit + re-encode compare (PQ fit)
        "ann_ivf_kmeans",  # spark.ml KMeans fit
        "ann_ivfpq_topk",  # spark.ml KMeans fits (IVF centroids + m PQ books)
        "emb_pq_error",  # spark.ml KMeans fits (one per PQ subspace)
        "ann_recall_pq",  # same
    }
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering contract: the driver's correctness harness verifies the
    # FIRST 50 entries each round; the dict rotates so every entry gets
    # a driver row within ceil(N/50) rounds. Round-15 rotation
    # (verdict-r14 ask #2, same mechanical protocol as r13/r14): last-
    # driver-round per query computed from the committed
    # CORRECTNESS_r*.json artifacts, order = never-checked + ascending
    # (round, name) — so the r15 window = the 5 ops new this round +
    # the ENTIRE 44-entry r10 cohort (the stalest, including
    # w1_rolling_12d and i6_scd2_apply_changes the verdict named) +
    # the alphabetically-first r11 row (a19_heavy_hitters); zero
    # overlap with r14's and r13's windows, verified at splice time.
    # Every displaced entry retains committed 2-sf ORACLE artifact
    # rows (scripts/check_oracle.py --json, the driver's own compare).
    return {
        # --- new in r15 (driver row must land this round) ---
        "pipeline_forget_ids": _q_pipeline_forget_ids,
        "stream_ann_enrich": _q_stream_ann_enrich,
        "stream_corpus_decontam": _q_stream_corpus_decontam,
        "text_quality_model": _q_text_quality_model,
        "text_html_extract": _q_text_html_extract,
        # --- last driver row r10 (stalest cohort; rotation r15) ---
        "ann_range_search": _q_ann_range_search,
        "dedup_containment": _q_dedup_containment,
        "dedup_fuzzy_edit": _q_dedup_fuzzy_edit,
        "dq_observe": _q_dq_observe,
        "dq_report": _q_dq_report,
        "dq_skew_report": _q_dq_skew_report,
        "emb_hard_negatives": _q_emb_hard_negatives,
        "graph_bfs": _q_graph_bfs,
        "graph_jaccard": _q_graph_jaccard,
        "graph_kcore": _q_graph_kcore,
        "graph_label_prop": _q_graph_label_prop,
        "graph_triangles": _q_graph_triangles,
        "i6_scd2_apply_changes": _q_i6_scd2_apply_changes,
        "j8_record_linkage": _q_j8_record_linkage,
        "mm_spectral_stats": _q_mm_spectral_stats,
        "q11_important_stock": _q_q11_important_stock,
        "q12_shipmode_priority": _q_q12_shipmode_priority,
        "q15_top_supplier": _q_q15_top_supplier,
        "q16_supplier_part_counts": _q_q16_supplier_part_counts,
        "q20_excess_stock_suppliers": _q_q20_excess_stock_suppliers,
        "q2_min_cost_supplier": _q_q2_min_cost_supplier,
        "q6_forecast_revenue": _q_q6_forecast_revenue,
        "q6_sql_surface": _q_q6_sql_surface,
        "q8_market_share": _q_q8_market_share,
        "q9_product_profit": _q_q9_product_profit,
        "s17_bloom_pruning": _q_s17_bloom_pruning,
        "s18_multi_table_txn": _q_s18_multi_table_txn,
        "s19_change_feed": _q_s19_change_feed,
        "s20_incremental_agg": _q_s20_incremental_agg,
        "s21_table_diff": _q_s21_table_diff,
        "stream_dq_report": _q_stream_dq_report,
        "stream_heavy_hitters": _q_stream_heavy_hitters,
        "stream_pattern_matches": _q_stream_pattern_matches,
        "t15_scd2_dimension": _q_t15_scd2_dimension,
        "t16_gap_fill": _q_t16_gap_fill,
        "train_decontaminate": _q_train_decontaminate,
        "train_mixture": _q_train_mixture,
        "train_stratified": _q_train_stratified,
        "w1_rolling_12d": _q_w1_rolling_12d,
        "w3_session_stats": _q_w3_session_stats,
        "w3_sessionize": _q_w3_sessionize,
        "w4_running_total": _q_w4_running_total,
        "w6_pivot": _q_w6_pivot,
        "w7_sliding_windows": _q_w7_sliding_windows,
        # --- last driver row r11 (oldest r11 row, window fill) ---
        "a19_heavy_hitters": _q_a19_heavy_hitters,
        # --- beyond the 50-entry driver window (all retain committed
        # --- 2-sf ORACLE artifact rows; order = previous windows) ---
        "ann_ivf_gen_probe": _q_ann_ivf_gen_probe,
        "stream_corpus_ingest_mm": _q_stream_corpus_ingest_mm,
        "dedup_lsh_gen_probe": _q_dedup_lsh_gen_probe,
        "ann_ivf_gen_delete": _q_ann_ivf_gen_delete,
        "emb_quantize": _q_emb_quantize,
        "f6_first_seen_wins": _q_f6_first_seen_wins,
        "i2_idempotent_reingest": _q_i2_idempotent_reingest,
        "i3_open_month_refetch": _q_i3_open_month_refetch,
        "i5_incremental_equivalence": _q_i5_incremental_equivalence,
        "mm_decode_features": _q_mm_decode_features,
        "mm_frame_sample": _q_mm_frame_sample,
        "pipeline_corpus_build": _q_pipeline_corpus_build,
        "s10_bi_export_roundtrip": _q_s10_bi_export_roundtrip,
        "s3_backoff_schedule": _q_s3_backoff_schedule,
        "s5_append_roundtrip": _q_s5_append_roundtrip,
        "s6_audit_game_counts": _q_s6_audit_game_counts,
        "s7_status_log_counts": _q_s7_status_log_counts,
        "s9_state_roundtrip": _q_s9_state_roundtrip,
        "stream_dedup": _q_stream_dedup,
        "stream_interval_join": _q_stream_interval_join,
        "stream_ohlc": _q_stream_ohlc,
        "stream_scd2": _q_stream_scd2,
        "stream_sessionize": _q_stream_sessionize,
        "stream_windowed_counts": _q_stream_windowed_counts,
        "t11_eco_extract": _q_t11_eco_extract,
        "t4_result_fallback": _q_t4_result_fallback,
        "t6_csv_split": _q_t6_csv_split,
        "t7_t8_derivations": _q_t7_t8_derivations,
        "t9_bucket_case": _q_t9_bucket_case,
        "text_bm25_topk": _q_text_bm25_topk,
        "text_bpe_tokens": _q_text_bpe_tokens,
        "text_fingerprint": _q_text_fingerprint,
        "text_lang_id": _q_text_lang_id,
        "text_quality_filter": _q_text_quality_filter,
        "text_redact_pii": _q_text_redact_pii,
        "text_repetition": _q_text_repetition,
        "text_tfidf_top5": _q_text_tfidf_top5,
        "text_token_stats": _q_text_token_stats,
        "text_winnow": _q_text_winnow,
        "train_chunks": _q_train_chunks,
        "train_pack": _q_train_pack,
        "train_split": _q_train_split,
        "w2_rollup_drill": _q_w2_rollup_drill,
        "w5_cube": _q_w5_cube,
        "a23_basket_lift": _q_a23_basket_lift,
        "a24_trend_slope": _q_a24_trend_slope,
        "a25_event_paths": _q_a25_event_paths,
        "a26_share_of_total": _q_a26_share_of_total,
        "a27_cohort_ltv": _q_a27_cohort_ltv,
        "ann_mmr_rerank": _q_ann_mmr_rerank,
        "a20_hll_union_rollup": _q_a20_hll_union_rollup,
        "a21_cms_heavy_hitters": _q_a21_cms_heavy_hitters,
        "a22_attribution": _q_a22_attribution,
        "dedup_semantic": _q_dedup_semantic,
        "dedup_spans": _q_dedup_spans,
        "dedup_substrings": _q_dedup_substrings,
        "emb_whitening": _q_emb_whitening,
        "f10_dynamic_partition_pruning": _q_f10_dynamic_partition_pruning,
        "f9_topk_per_group": _q_f9_topk_per_group,
        "graph_pagerank": _q_graph_pagerank,
        "j10_asof_forward": _q_j10_asof_forward,
        "j7_overlap_join": _q_j7_overlap_join,
        "j9_asof_nearest": _q_j9_asof_nearest,
        "mm_audio_resample": _q_mm_audio_resample,
        "mm_audio_stats": _q_mm_audio_stats,
        "mm_audio_vad": _q_mm_audio_vad,
        "mm_dhash_neardup": _q_mm_dhash_neardup,
        "mm_phash_neardup": _q_mm_phash_neardup,
        "mm_resize_stats": _q_mm_resize_stats,
        "mm_vad_segments": _q_mm_vad_segments,
        "s11_manifest_roundtrip": _q_s11_manifest_roundtrip,
        "s12_time_travel": _q_s12_time_travel,
        "s13_merge_roundtrip": _q_s13_merge_roundtrip,
        "s14_stats_pruning": _q_s14_stats_pruning,
        "s15_delete_vector_lifecycle": _q_s15_delete_vector_lifecycle,
        "s16_zorder_pruning": _q_s16_zorder_pruning,
        "s22_metadata_export": _q_s22_metadata_export,
        "t13_json_extract": _q_t13_json_extract,
        "t14_zorder_key": _q_t14_zorder_key,
        "t17_unpivot": _q_t17_unpivot,
        "text_bigram_surprisal": _q_text_bigram_surprisal,
        "text_boilerplate": _q_text_boilerplate,
        "text_char_entropy": _q_text_char_entropy,
        "text_hybrid_rrf": _q_text_hybrid_rrf,
        "text_kn_perplexity": _q_text_kn_perplexity,
        "text_pmi_collocations": _q_text_pmi_collocations,
        "text_surprisal": _q_text_surprisal,
        "train_bpe_merges": _q_train_bpe_merges,
        "train_bpe_tokenize": _q_train_bpe_tokenize,
        "train_corpus_drift": _q_train_corpus_drift,
        "train_dataset_card": _q_train_dataset_card,
        "train_shard_pack": _q_train_shard_pack,
        "train_temperature_mixture": _q_train_temperature_mixture,
        "train_winsorize": _q_train_winsorize,
        "w11_session_window": _q_w11_session_window,
        "w12_ewma": _q_w12_ewma,
        "w13_period_growth": _q_w13_period_growth,
        "w14_autocorr": _q_w14_autocorr,
        "w15_mad_outliers": _q_w15_mad_outliers,
        "a13_percentiles": _q_a13_percentiles,
        "a1_sql_surface": _q_a1_sql_surface,
        "a28_pattern_cep": _q_a28_pattern_cep,
        "a29_ab_test": _q_a29_ab_test,
        "a30_cusum": _q_a30_cusum,
        "a6_ratio_by_group": _q_a6_ratio_by_group,
        "a8_count_by_key": _q_a8_count_by_key,
        "a8_salted_count": _q_a8_salted_count,
        "ann_cosine_topk": _q_ann_cosine_topk,
        "ann_ivf_append": _q_ann_ivf_append,
        "ann_ivf_kmeans": _q_ann_ivf_kmeans,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "ann_ivfpq_append": _q_ann_ivfpq_append,
        "ann_recall_ivf": _q_ann_recall_ivf,
        "ann_recall_pq": _q_ann_recall_pq,
        "corpus_source_overlap": _q_corpus_source_overlap,
        "dedup_embed_cosine": _q_dedup_embed_cosine,
        "dedup_embed_lsh": _q_dedup_embed_lsh,
        "dedup_exact": _q_dedup_exact,
        "dedup_exact_keep": _q_dedup_exact_keep,
        "dedup_incremental_exact": _q_dedup_incremental_exact,
        "dedup_incremental_near": _q_dedup_incremental_near,
        "dedup_lsh_persist": _q_dedup_lsh_persist,
        "dedup_minhash_lsh": _q_dedup_minhash_lsh,
        "dedup_substrings_apply": _q_dedup_substrings_apply,
        "mm_patch_stats": _q_mm_patch_stats,
        "q10_returned_items": _q_q10_returned_items,
        "q13_order_distribution": _q_q13_order_distribution,
        "q14_promo_revenue": _q_q14_promo_revenue,
        "q17_small_qty_revenue": _q_q17_small_qty_revenue,
        "q18_large_orders": _q_q18_large_orders,
        "q19_disjunctive_revenue": _q_q19_disjunctive_revenue,
        "q21_waiting_supplier": _q_q21_waiting_supplier,
        "q22_dormant_customers": _q_q22_dormant_customers,
        "q3_shipping_priority": _q_q3_shipping_priority,
        "q4_order_priority": _q_q4_order_priority,
        "q5_local_supplier_volume": _q_q5_local_supplier_volume,
        "q7_volume_shipping": _q_q7_volume_shipping,
        "stream_outer_join": _q_stream_outer_join,
        "train_contamination": _q_train_contamination,
        "train_curriculum": _q_train_curriculum,
        "train_dsir_weights": _q_train_dsir_weights,
        "train_interleave": _q_train_interleave,
        "train_source_caps": _q_train_source_caps,
        "train_weighted_sample": _q_train_weighted_sample,
        "w10_lag_lead": _q_w10_lag_lead,
        "w16_resample_ohlc": _q_w16_resample_ohlc,
        "w17_interpolate": _q_w17_interpolate,
        "w8_ntile_deciles": _q_w8_ntile_deciles,
        "w9_grouping_sets": _q_w9_grouping_sets,
        "a14_approx_distinct": _q_a14_approx_distinct,
        "a15_funnel": _q_a15_funnel,
        "a16_retention": _q_a16_retention,
        "a17_zscore_anomalies": _q_a17_zscore_anomalies,
        "a18_approx_percentiles": _q_a18_approx_percentiles,
        "a1_card_measures": _q_a1_card_measures,
        "ann_ivf_compact": _q_ann_ivf_compact,
        "ann_ivf_refit": _q_ann_ivf_refit,
        "ann_ivfpq_refit": _q_ann_ivfpq_refit,
        "ann_ivfpq_topk": _q_ann_ivfpq_topk,
        "dedup_cluster_survivors": _q_dedup_cluster_survivors,
        "dedup_components": _q_dedup_components,
        "dedup_lsh_compact": _q_dedup_lsh_compact,
        "dedup_ngram_jaccard": _q_dedup_ngram_jaccard,
        "dedup_simhash": _q_dedup_simhash,
        "dedup_substrings_fixpoint": _q_dedup_substrings_fixpoint,
        "emb_knn_consistency": _q_emb_knn_consistency,
        "emb_label_centroids": _q_emb_label_centroids,
        "emb_pq_error": _q_emb_pq_error,
        "emb_psi_drift": _q_emb_psi_drift,
        "f1_in_slicer": _q_f1_in_slicer,
        "f2_between_dates": _q_f2_between_dates,
        "f3_top10_by_count": _q_f3_top10_by_count,
        "f4_top5_by_measure": _q_f4_top5_by_measure,
        "f5_order_limit": _q_f5_order_limit,
        "f7_cross_filter": _q_f7_cross_filter,
        "f8_nonempty_filter": _q_f8_nonempty_filter,
        "j1_anti_join": _q_j1_anti_join,
        "j2_set_diff": _q_j2_set_diff,
        "j3_sql_surface": _q_j3_sql_surface,
        "j3_star_join": _q_j3_star_join,
        "j4_sql_surface": _q_j4_sql_surface,
        "j4_topn_semi": _q_j4_topn_semi,
        "j5_asof_join": _q_j5_asof_join,
        "j6_range_join": _q_j6_range_join,
        "mm_audio_resample_arb": _q_mm_audio_resample_arb,
        "q1_pricing_summary": _q_q1_pricing_summary,
        "q1_sql_surface": _q_q1_sql_surface,
        "s4_key_scan": _q_s4_key_scan,
        "stream_corpus_ingest": _q_stream_corpus_ingest,
        "stream_full_outer_join": _q_stream_full_outer_join,
        "t10_width_bucket": _q_t10_width_bucket,
        "t12_date_dim": _q_t12_date_dim,
        "t1_flatten_nested": _q_t1_flatten_nested,
        "t2_epoch_date": _q_t2_epoch_date,
        "t3_regex_fallback": _q_t3_regex_fallback,
        "text_pr_curve": _q_text_pr_curve,
        "train_epoch_order": _q_train_epoch_order,
        "train_interleave_mm": _q_train_interleave_mm,
        "train_kmv_sample": _q_train_kmv_sample,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------
_WORD_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"
_NORM_FP = (
    "md5(trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g')))"
)


def _substr_round_cte(i: int, src: str) -> str:
    """One measure->apply round of k=8 duplicated-substring removal over
    a (doc_id, w VARCHAR[]) CTE named `src`, emitting `rc{i}` with the
    same shape — the macro-expansion unit of the dedup_substrings_fixpoint
    oracle (a converged round is the identity, so a fixed expansion of
    max_rounds rounds equals the Spark side's early-exiting loop)."""
    return f"""
        win{i} AS (SELECT doc_id, i, array_to_string(w[i:(i+7)], ' ') AS s
                FROM (SELECT doc_id, w, unnest(range(1, len(w) - 8 + 2)) AS i
                      FROM {src})),
        dup{i} AS (SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS df
                               FROM win{i} GROUP BY 1) WHERE df >= 2),
        hits{i} AS (SELECT doc_id, i FROM win{i} JOIN dup{i} USING (s)),
        lg{i} AS (SELECT doc_id, i,
                      CASE WHEN lag(i) OVER w IS NULL OR i > lag(i) OVER w + 7
                           THEN 1 ELSE 0 END AS nw
               FROM hits{i} WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        isl{i} AS (SELECT doc_id, i,
                       sum(nw) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
                FROM lg{i}),
        iv{i} AS (SELECT doc_id, min(i) AS s, max(i) + 7 AS e
                  FROM isl{i} GROUP BY doc_id, g),
        cov{i} AS (SELECT doc_id, unnest(range(s, e + 1)) AS p FROM iv{i}),
        pos{i} AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS p FROM {src}),
        keep{i} AS (SELECT pos{i}.doc_id, pos{i}.p FROM pos{i} LEFT JOIN cov{i}
                   ON pos{i}.doc_id = cov{i}.doc_id AND pos{i}.p = cov{i}.p
                 WHERE cov{i}.p IS NULL),
        cl{i} AS (SELECT keep{i}.doc_id, list(w[p] ORDER BY p) AS nw
               FROM keep{i} JOIN {src} USING (doc_id) GROUP BY keep{i}.doc_id),
        rc{i} AS (SELECT {src}.doc_id, coalesce(nw, CAST([] AS VARCHAR[])) AS w
               FROM {src} LEFT JOIN cl{i} USING (doc_id))"""


def _corpus_ingest_cte(b: int, decontam: bool = False) -> str:
    """One micro-batch of the stream_corpus_ingest oracle: within-batch
    exact dedup (min doc_id per fingerprint), the registry fence against
    every earlier batch's fresh fingerprints, the exact-Jaccard near-dup
    drops — within the batch (min-id survivor: a fresh doc drops iff
    any LOWER-id fresh doc in the same batch is near it; advice r13)
    and against the corpus of earlier survivors — then the quality
    gate. Emits fr{b} (fresh), sv{b} (survivors), and cp{b} (cumulative
    corpus). Batch 1 special-cases the empty registry/corpus (its near
    drops are within-batch only). With `decontam` (r15), quality-
    passing docs in the `ctm` contaminated set (defined by the caller)
    are dropped from sv{b} and emitted as dd{b} for the count."""
    reg_fence = (
        ""
        if b == 1
        else "WHERE i.fp NOT IN (SELECT fp FROM "
        + " UNION SELECT fp FROM ".join(f"fr{j}" for j in range(1, b))
        + ")"
    )
    within = f"""
        wb{b} AS (SELECT f.doc_id,
                       round(CAST(count(*) AS DOUBLE)
                             / (fn.n + cn.n - count(*)), 6) AS jac
                FROM sh f
                JOIN sh c ON f.shingle = c.shingle AND f.doc_id > c.doc_id
                JOIN shn fn ON fn.doc_id = f.doc_id
                JOIN shn cn ON cn.doc_id = c.doc_id
                WHERE f.doc_id IN (SELECT doc_id FROM fr{b})
                  AND c.doc_id IN (SELECT doc_id FROM fr{b})
                GROUP BY f.doc_id, c.doc_id, fn.n, cn.n),"""
    if b == 1:
        near = (
            within
            + "\n        dr1 AS (SELECT DISTINCT doc_id FROM wb1 WHERE jac >= 0.5),"
        )
        corpus = "cp1 AS (SELECT doc_id, source FROM sv1)"
    else:
        near = f"""
        pr{b} AS (SELECT f.doc_id,
                       round(CAST(count(*) AS DOUBLE)
                             / (fn.n + cn.n - count(*)), 6) AS jac
                FROM sh f
                JOIN sh c ON f.shingle = c.shingle AND f.doc_id <> c.doc_id
                JOIN shn fn ON fn.doc_id = f.doc_id
                JOIN shn cn ON cn.doc_id = c.doc_id
                WHERE f.doc_id IN (SELECT doc_id FROM fr{b})
                  AND c.doc_id IN (SELECT doc_id FROM cp{b - 1})
                GROUP BY f.doc_id, c.doc_id, fn.n, cn.n),
        {within}
        dr{b} AS (SELECT DISTINCT doc_id FROM pr{b} WHERE jac >= 0.5
                  UNION SELECT DISTINCT doc_id FROM wb{b} WHERE jac >= 0.5),"""
        corpus = (
            f"cp{b} AS (SELECT doc_id, source FROM cp{b - 1} "
            f"UNION ALL SELECT doc_id, source FROM sv{b})"
        )
    contam_sv = (
        f"""
                   AND fr.doc_id NOT IN (SELECT doc_id FROM ctm)"""
        if decontam
        else ""
    )
    dd = (
        f"""
        dd{b} AS (SELECT fr.doc_id FROM fr{b} fr
                 JOIN qm ON qm.doc_id = fr.doc_id
                 WHERE qm.quality_score >= 0.3
                   AND fr.doc_id NOT IN (SELECT doc_id FROM dr{b})
                   AND fr.doc_id IN (SELECT doc_id FROM ctm)),"""
        if decontam
        else ""
    )
    return f"""
        in{b} AS (SELECT * FROM nt WHERE bb = {b}),
        fr{b} AS (SELECT i.* FROM in{b} i
                 JOIN (SELECT fp, min(doc_id) AS doc_id
                       FROM in{b} GROUP BY fp) m ON i.doc_id = m.doc_id
                 {reg_fence}),
        {near}{dd}
        sv{b} AS (SELECT fr.doc_id, fr.source FROM fr{b} fr
                 JOIN qm ON qm.doc_id = fr.doc_id
                 WHERE qm.quality_score >= 0.3
                   AND fr.doc_id NOT IN (SELECT doc_id FROM dr{b}){contam_sv}),
        {corpus}"""


def _bucket32(expr: str) -> str:
    """SQL mirror of training.split_bucket's overflow-safe scramble:
    (id mod 2^32) * 2654435761 mod 2^32, computed in 16-bit halves so no
    intermediate exceeds 2^48 (a naive bigint multiply overflows for ids
    >= ~3.47e9 in DuckDB too). pmod keeps negative ids well-defined."""
    a = f"(((({expr}) % 4294967296) + 4294967296) % 4294967296)"
    return (
        f"((({a} % 65536) * 2654435761 + (({a} // 65536) * 2654435761) % 65536 * 65536)"
        f" % 4294967296)"
    )


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}
    stop_list = ", ".join(f"'{w}'" for w in TX.STOPWORDS)

    sql["s4_key_scan"] = "SELECT o_orderkey FROM orders"

    sql["t1_flatten_nested"] = "SELECT o_custkey, o_orderkey, o_totalprice FROM orders"

    sql["t2_epoch_date"] = """
        SELECT event_id,
               CAST(ts AS DATE) AS event_date,
               CAST(year(CAST(ts AS DATE)) AS INT) AS y,
               CAST(month(CAST(ts AS DATE)) AS INT) AS m,
               CAST(day(CAST(ts AS DATE)) AS INT) AS d,
               CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS INT) AS epoch_day
        FROM events
    """

    sql["t3_regex_fallback"] = f"""
        SELECT doc_id,
               coalesce(
                   nullif(regexp_extract(text, 'key ([a-z0-9]+)', 1), ''),
                   {_WORD_TOKS.replace('text', 'text')}[-1],
                   ''
               ) AS extracted
        FROM documents
    """

    sql["t9_bucket_case"] = """
        SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                    WHEN o_totalprice < 150000 THEN 'medium'
                    WHEN o_totalprice < 300000 THEN 'large'
                    ELSE 'jumbo' END AS price_bucket,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM orders GROUP BY 1
    """

    sql["t10_width_bucket"] = """
        SELECT CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT) AS acctbal_bucket,
               count(*) AS n_customers
        FROM customer GROUP BY 1
    """

    sql["t12_date_dim"] = """
        SELECT CAST(d AS DATE) AS date,
               CAST(year(CAST(d AS DATE)) AS INT) AS year,
               CAST(month(CAST(d AS DATE)) AS INT) AS month,
               CAST(day(CAST(d AS DATE)) AS INT) AS day,
               CAST(quarter(CAST(d AS DATE)) AS INT) AS quarter
        FROM (SELECT unnest(generate_series(
                 (SELECT CAST(min(o_orderdate) AS DATE) FROM orders),
                 (SELECT CAST(max(o_orderdate) AS DATE) FROM orders),
                 INTERVAL 1 DAY)) AS d)
    """

    sql["j1_anti_join"] = """
        SELECT o_orderkey, o_orderstatus FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    """

    sql["j2_set_diff"] = """
        SELECT o_orderpriority AS priority FROM orders
        EXCEPT
        SELECT * FROM (VALUES ('1-URGENT'), ('3-MEDIUM')) AS t(priority)
    """

    sql["j3_star_join"] = """
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

    sql["j4_topn_semi"] = """
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_custkey IN (
            SELECT o_custkey FROM (
                SELECT o_custkey, row_number() OVER (ORDER BY count(*) DESC, o_custkey) AS rn
                FROM orders GROUP BY o_custkey) WHERE rn <= 10)
    """

    sql["a1_card_measures"] = """
        SELECT count(*) AS total_orders,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS fulfilled,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS open_orders,
               round(CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) / count(*), 6) AS fulfilled_ratio,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM orders
    """

    sql["a6_ratio_by_group"] = """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_fulfilled,
               round(CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) / count(*), 6) AS fulfilled_ratio
        FROM orders GROUP BY o_orderpriority
    """

    sql["a8_count_by_key"] = """
        SELECT user_id, event_type, count(*) AS n_events
        FROM events GROUP BY user_id, event_type
    """

    sql["q1_pricing_summary"] = """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*), 6) AS avg_price,
               round(CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / count(*), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """

    sql["q1_sql_surface"] = sql["q1_pricing_summary"]
    sql["a1_sql_surface"] = sql["a1_card_measures"]
    sql["j4_sql_surface"] = sql["j4_topn_semi"]
    sql["j3_sql_surface"] = sql["j3_star_join"]

    sql["a14_approx_distinct"] = """
        SELECT event_type,
               count(DISTINCT user_id) AS exact_users,
               count(*) AS n_events,
               TRUE AS approx_within_bound
        FROM events GROUP BY event_type
    """

    sql["a13_percentiles"] = """
        SELECT lang,
               round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
               round(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
               count(*) AS n_docs
        FROM documents GROUP BY lang
    """

    sql["w1_rolling_12d"] = """
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   count(*) FILTER (WHERE event_type = 'purchase') AS day_num,
                   count(*) AS day_den
            FROM events GROUP BY 1)
        SELECT day, day_num, day_den,
               CAST(sum(day_num) OVER w AS BIGINT) AS roll_num,
               CAST(sum(day_den) OVER w AS BIGINT) AS roll_den,
               round(CAST(sum(day_num) OVER w AS DOUBLE) / CAST(sum(day_den) OVER w AS DOUBLE), 6) AS roll_ratio
        FROM daily
        WINDOW w AS (ORDER BY date_diff('day', DATE '1970-01-01', day)
                     RANGE BETWEEN 11 PRECEDING AND CURRENT ROW)
    """

    sql["w2_rollup_drill"] = """
        SELECT y, m, d, count(*) AS n_events
        FROM (SELECT CAST(year(CAST(ts AS DATE)) AS INT) AS y,
                     CAST(month(CAST(ts AS DATE)) AS INT) AS m,
                     CAST(day(CAST(ts AS DATE)) AS INT) AS d
              FROM events)
        GROUP BY ROLLUP(y, m, d)
    """

    sql["stream_ohlc"] = """
        WITH e AS (SELECT user_id, event_id, value,
                          epoch_ns(ts) // 1000 AS us
                   FROM events
                   WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        b AS (SELECT user_id, (us - us % 3600000000) // 1000000 AS bucket_start_s,
                     us, event_id, value
              FROM e),
        r AS (SELECT *,
                     row_number() OVER (PARTITION BY user_id, bucket_start_s
                                        ORDER BY us, event_id) AS ra,
                     row_number() OVER (PARTITION BY user_id, bucket_start_s
                                        ORDER BY us DESC, event_id DESC) AS rd
              FROM b)
        SELECT user_id,
               CAST(bucket_start_s AS BIGINT) AS bucket_start_s,
               max(CASE WHEN ra = 1 THEN value END) AS open_value,
               max(CASE WHEN rd = 1 THEN value END) AS close_value,
               min(value) AS low_value,
               max(value) AS high_value,
               CAST(count(*) AS BIGINT) AS n_events
        FROM r GROUP BY 1, 2
    """

    sql["stream_interval_join"] = """
        WITH e AS (SELECT * FROM events
                   WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
              FROM e WHERE event_type = 'click'),
        p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
                     value AS purchase_value
              FROM e WHERE event_type = 'purchase')
        SELECT c.click_id, c.user_id,
               epoch_ns(c.click_ts) // 1000 AS click_us,
               p.purchase_id,
               epoch_ns(p.purchase_ts) // 1000 AS purchase_us,
               p.purchase_value
        FROM c JOIN p ON c.user_id = p.user_id
         AND p.purchase_ts >= c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 24 HOUR
    """

    sql["stream_outer_join"] = """
        WITH e AS (SELECT * FROM events
                   WHERE ts IS NOT NULL AND user_id IS NOT NULL
                     AND user_id % 4 = 0),
        c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
              FROM e WHERE event_type = 'click'),
        p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
                     value AS purchase_value
              FROM e WHERE event_type = 'purchase')
        SELECT c.click_id, c.user_id,
               epoch_ns(c.click_ts) // 1000 AS click_us,
               p.purchase_id,
               epoch_ns(p.purchase_ts) // 1000 AS purchase_us,
               p.purchase_value
        FROM c LEFT JOIN p ON c.user_id = p.user_id
         AND p.purchase_ts >= c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 24 HOUR
    """

    # Streaming corpus ingest: macro-expand the three doc_id-ordered
    # micro-batches (registry fence -> exact-Jaccard near-dup, both
    # within-batch min-id and vs prior survivors -> quality gate), then
    # the final per-source stats over the cumulative corpus. The LSH
    # probe is an accelerator on the Spark side; drops are decided by
    # the exact pair sets, so the replay here is deterministic.
    _ci_rounds = ",".join(_corpus_ingest_cte(b) for b in (1, 2, 3))
    sql["stream_corpus_ingest"] = f"""
        WITH qm AS ({{TOKEN_STATS}}),
        nt AS (SELECT doc_id, text, source, {_NORM_FP} AS fp,
                      ntile(3) OVER (ORDER BY doc_id) AS bb
               FROM documents),
        toks AS (SELECT doc_id, {_WORD_TOKS} AS t FROM documents),
        sh AS (SELECT doc_id,
                      unnest(list_distinct(list_transform(
                          range(1, greatest(len(t) - 2, 1) + 1),
                          i -> array_to_string(list_slice(t, i, i + 2), ' '))))
                          AS shingle
               FROM toks WHERE len(t) > 0),
        shn AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        {_ci_rounds}
        SELECT cp3.source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(qm.n_tokens) AS BIGINT) AS total_tokens,
               floor(CAST(sum(CAST(floor(qm.quality_score * 1000000.0 + 0.5)
                                   AS BIGINT)) AS BIGINT)
                     / CAST(count(*) AS DOUBLE) + 0.5) / 1000000.0
                   AS avg_quality,
               TRUE AS lsh_recall_ok
        FROM cp3 JOIN qm ON qm.doc_id = cp3.doc_id
        GROUP BY cp3.source
    """
    # ({TOKEN_STATS} is spliced at the end of this function, next to the
    # train_curriculum splice — text_token_stats is defined below.)

    # Multimodal streaming corpus ingest (r14): the same three macro-
    # expanded micro-batches (nt restricted to docs that HAVE an
    # embedding — the Spark side streams documents ⋈ embeddings), then
    # the vector half replayed closed-form on the survivor set: argmax
    # assignment under the initial centroids, per-bucket baseline over
    # BATCH-1 survivors (the bootstrap capture), the exact-integer
    # drift test (cur*40 > base*41, missing baseline = 0), per-dim
    # micro-mean refit centroids over the drifted buckets' members,
    # reassignment among ONLY the refit centroids, and final per-bucket
    # residuals against the updated set (the ann_ivf_refit replay, with
    # the corpus-ingest survivor computation feeding it).
    _ci_mm_rounds = ",".join(_corpus_ingest_cte(b) for b in (1, 2, 3))
    sql["stream_corpus_ingest_mm"] = f"""
        WITH qm AS ({{TOKEN_STATS}}),
        nt AS (SELECT doc_id, text, source, {_NORM_FP} AS fp,
                      ntile(3) OVER (ORDER BY doc_id) AS bb
               FROM documents
               WHERE doc_id IN (SELECT vec_id FROM embeddings)),
        toks AS (SELECT doc_id, {_WORD_TOKS} AS t FROM documents),
        sh AS (SELECT doc_id,
                      unnest(list_distinct(list_transform(
                          range(1, greatest(len(t) - 2, 1) + 1),
                          i -> array_to_string(list_slice(t, i, i + 2), ' '))))
                          AS shingle
               FROM toks WHERE len(t) > 0),
        shn AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        {_ci_mm_rounds},
        v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
        vv AS (SELECT vec_id, e FROM v
               WHERE vec_id IN (SELECT doc_id FROM cp3)),
        sc AS (SELECT vv.vec_id, cid,
                      round(list_cosine_similarity(vv.e, ce), 6) AS sim
               FROM vv CROSS JOIN c),
        asg AS (SELECT vec_id, cid AS bucket, sim FROM (
                  SELECT vec_id, cid, sim,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY sim DESC, cid) AS rn
                  FROM sc) WHERE rn = 1),
        r AS (SELECT vec_id, bucket,
                     CAST(floor((1 - sim) * 1000000 + 0.5) AS BIGINT) AS rm
              FROM asg),
        bstat AS (SELECT bucket, sum(rm) // count(*) AS base_mean
                  FROM r WHERE vec_id IN (SELECT doc_id FROM sv1)
                  GROUP BY bucket),
        cstat AS (SELECT bucket, sum(rm) // count(*) AS cur_mean
                  FROM r GROUP BY bucket),
        dr AS (SELECT cstat.bucket FROM cstat LEFT JOIN bstat USING (bucket)
               WHERE cur_mean * 40 > coalesce(base_mean, 0) * 41),
        mem AS (SELECT r.vec_id, r.bucket, vv.e FROM r JOIN vv USING (vec_id)
                WHERE r.bucket IN (SELECT bucket FROM dr)),
        md AS (SELECT bucket,
                      unnest(range(1, len(e) + 1)) AS d,
                      unnest(list_transform(e,
                          x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))) AS m
               FROM mem),
        cd AS (SELECT bucket, d,
                      CAST(sum(m) AS DOUBLE) / count(*) / 1000000.0 AS comp
               FROM md GROUP BY bucket, d),
        rc AS (SELECT bucket AS cid, list(comp ORDER BY d) AS ce
               FROM cd GROUP BY bucket),
        msc AS (SELECT mem.vec_id, rc.cid,
                       round(list_cosine_similarity(mem.e, rc.ce), 6) AS sim
                FROM mem CROSS JOIN rc),
        masg AS (SELECT vec_id, cid AS bucket, sim FROM (
                   SELECT vec_id, cid, sim,
                          row_number() OVER (PARTITION BY vec_id
                                             ORDER BY sim DESC, cid) AS rn
                   FROM msc) WHERE rn = 1),
        fin AS (
            SELECT vec_id, bucket, rm FROM r
            WHERE bucket NOT IN (SELECT bucket FROM dr)
            UNION ALL
            SELECT vec_id, bucket,
                   CAST(floor((1 - sim) * 1000000 + 0.5) AS BIGINT) AS rm
            FROM masg
        )
        SELECT CAST(bucket AS INT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_vectors,
               bucket IN (SELECT bucket FROM dr) AS was_drifted,
               CAST(sum(rm) // count(*) AS BIGINT) AS final_resid_micro,
               TRUE AS ids_exactly_once, TRUE AS lsh_recall_ok
        FROM fin GROUP BY bucket
    """

    sql["stream_full_outer_join"] = """
        WITH e AS (SELECT * FROM events
                   WHERE ts IS NOT NULL AND user_id IS NOT NULL
                     AND user_id % 4 = 1),
        c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
              FROM e WHERE event_type = 'click'),
        p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
                     value AS purchase_value
              FROM e WHERE event_type = 'purchase')
        SELECT c.click_id, coalesce(c.user_id, p.user_id) AS user_id,
               epoch_ns(c.click_ts) // 1000 AS click_us,
               p.purchase_id,
               epoch_ns(p.purchase_ts) // 1000 AS purchase_us,
               p.purchase_value
        FROM c FULL JOIN p ON c.user_id = p.user_id
         AND p.purchase_ts >= c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 24 HOUR
    """

    sql["stream_dedup"] = f"""
        SELECT DISTINCT {_NORM_FP} AS fingerprint FROM documents
    """

    sql["stream_sessionize"] = """
        WITH e AS (
            SELECT CAST(user_id AS VARCHAR) AS user_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        lagged AS (
            SELECT user_id, ts_s,
                   CASE WHEN lag(ts_s) OVER w IS NULL
                          OR ts_s - lag(ts_s) OVER w >= 1800
                        THEN 1 ELSE 0 END AS new_s
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s)),
        sessions AS (
            SELECT user_id, ts_s,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_s
                                    ROWS UNBOUNDED PRECEDING) AS seq
            FROM lagged)
        SELECT user_id,
               min(ts_s) AS start_s,
               max(ts_s) AS end_s,
               count(*) AS n_events,
               max(ts_s) - min(ts_s) AS duration_s
        FROM sessions GROUP BY user_id, seq
    """

    sql["stream_windowed_counts"] = """
        SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start_s,
               CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) + 3600 AS window_end_s,
               event_type,
               count(*) AS n_events
        FROM events
        WHERE ts IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2, 3
    """

    sql["w3_sessionize"] = """
        WITH lagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR CAST(floor(epoch(ts)) AS BIGINT)
                             - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) >= 1800
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT user_id, event_id,
               CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_seq
        FROM lagged
    """

    sql["w3_session_stats"] = """
        WITH lagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR CAST(floor(epoch(ts)) AS BIGINT)
                             - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) >= 1800
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sessions AS (
            SELECT user_id, ts,
                   CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_seq
            FROM lagged)
        SELECT user_id, session_seq, count(*) AS n_events,
               min(ts) AS session_start, max(ts) AS session_end,
               max(CAST(floor(epoch(ts)) AS BIGINT)) - min(CAST(floor(epoch(ts)) AS BIGINT)) AS duration_s
        FROM sessions GROUP BY user_id, session_seq
    """

    sql["f1_in_slicer"] = """
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events
        WHERE event_type IN ('purchase', 'signup')
        GROUP BY event_type
    """

    sql["f2_between_dates"] = """
        SELECT CAST(o_orderdate AS DATE) AS order_date, count(*) AS n_orders
        FROM orders
        WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
        GROUP BY 1
    """

    sql["f3_top10_by_count"] = """
        SELECT user_id, cnt FROM (
            SELECT user_id, count(*) AS cnt,
                   row_number() OVER (ORDER BY count(*) DESC, user_id) AS rn
            FROM events GROUP BY user_id) WHERE rn <= 10
    """

    sql["f4_top5_by_measure"] = """
        SELECT p_brand, revenue FROM (
            SELECT p_brand,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
                   row_number() OVER (
                       ORDER BY CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) DESC,
                       p_brand) AS rn
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand) WHERE rn <= 5
    """

    sql["f5_order_limit"] = """
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
    """

    sql["f7_cross_filter"] = """
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
    """

    sql["a8_salted_count"] = """
        SELECT user_id, event_type, count(*) AS n_rows
        FROM events GROUP BY user_id, event_type
    """

    sql["f8_nonempty_filter"] = """
        SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE text IS NOT NULL AND length(text) > 0
        GROUP BY lang, source
    """

    sql["dedup_exact"] = f"""
        SELECT {_NORM_FP} AS fingerprint,
               min(doc_id) AS keep_id,
               count(*) AS dup_count
        FROM documents
        GROUP BY 1
    """

    sql["dedup_exact_keep"] = f"""
        SELECT doc_id, lang, source FROM documents
        WHERE doc_id IN (
            SELECT min(doc_id) FROM documents GROUP BY {_NORM_FP})
    """

    sql["w4_running_total"] = """
        SELECT user_id, event_id,
               round(CAST(sum(CAST(value AS DECIMAL(12,2))) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS running_value
        FROM events
    """

    sql["dedup_ngram_jaccard"] = f"""
        WITH toks AS (SELECT doc_id, {_WORD_TOKS} AS t FROM documents),
        sh AS (
            SELECT doc_id AS doc,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 2, 1) + 1),
                       i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS shingle
            FROM toks WHERE len(t) > 0),
        rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000),
        shc AS (SELECT sh.doc, sh.shingle FROM sh JOIN rare USING (shingle)),
        sizes AS (SELECT doc, count(*) AS n FROM shc GROUP BY doc),
        inter AS (
            SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_common
            FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc < b.doc
            GROUP BY 1, 2)
        SELECT doc_a, doc_b, n_common,
               sa.n AS n_a, sb.n AS n_b,
               round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc = doc_a
        JOIN sizes sb ON sb.doc = doc_b
        WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= 0.5
    """

    sql["dedup_containment"] = f"""
        WITH toks AS (SELECT doc_id, {_WORD_TOKS} AS t FROM documents),
        sh AS (
            SELECT doc_id AS doc,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 2, 1) + 1),
                       i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS shingle
            FROM toks WHERE len(t) > 0),
        rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000),
        shc AS (SELECT sh.doc, sh.shingle FROM sh JOIN rare USING (shingle)),
        sizes AS (SELECT doc, count(*) AS n FROM shc GROUP BY doc),
        inter AS (
            SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_common
            FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc < b.doc
            GROUP BY 1, 2)
        SELECT doc_a, doc_b, n_common,
               sa.n AS n_a, sb.n AS n_b,
               round(CAST(n_common AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
        FROM inter
        JOIN sizes sa ON sa.doc = doc_a
        JOIN sizes sb ON sb.doc = doc_b
        WHERE round(CAST(n_common AS DOUBLE) / least(sa.n, sb.n), 6) >= 0.5
    """

    sql["dedup_incremental_exact"] = f"""
        WITH fp AS (SELECT doc_id, {_NORM_FP} AS fingerprint FROM documents),
        batch AS (SELECT * FROM fp WHERE doc_id % 5 = 4),
        fresh AS (SELECT * FROM batch WHERE fingerprint NOT IN
                      (SELECT fingerprint FROM fp WHERE doc_id % 5 <> 4)),
        keep AS (SELECT min(doc_id) AS doc_id FROM fresh GROUP BY fingerprint)
        SELECT d.doc_id, d.lang, d.source FROM documents d JOIN keep USING (doc_id)
    """

    sql["corpus_source_overlap"] = f"""
        WITH toks AS (SELECT source, {_WORD_TOKS} AS t FROM documents),
        sh_raw AS (
            SELECT source AS grp,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 2, 1) + 1),
                       i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS shingle
            FROM toks WHERE len(t) > 0),
        sh AS (SELECT DISTINCT grp, shingle FROM sh_raw),
        sizes AS (SELECT grp, count(*) AS n FROM sh GROUP BY grp),
        inter AS (
            SELECT a.grp AS source_a, b.grp AS source_b, count(*) AS n_shared
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.grp < b.grp
            GROUP BY 1, 2)
        SELECT source_a, source_b, n_shared, sa.n AS n_a, sb.n AS n_b,
               round(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.grp = source_a
        JOIN sizes sb ON sb.grp = source_b
    """

    # --- contract-style oracles for the LSH/ANN family (r5): the
    # deterministic exact result is recomputed here independently; the
    # probabilistic stage's guarantees surface as boolean columns the
    # Spark side must prove TRUE (see _lsh_contract/_ann_contract). ---
    sql["dedup_minhash_lsh"] = f"""
        SELECT doc_a, doc_b, jaccard,
               TRUE AS found_if_identical, TRUE AS recall_ge_floor
        FROM ({sql['dedup_ngram_jaccard']})
    """

    sql["dedup_embed_lsh"] = """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.e, b.e), 6) AS cosine_sim,
               TRUE AS found_if_identical, TRUE AS recall_ge_floor
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.4
    """

    _B100 = _bucket32("doc_id") + " % 100"
    sql["train_contamination"] = f"""
        WITH sp AS (
            SELECT doc_id, text,
                   CASE WHEN {_B100} < 80 THEN 'train'
                        WHEN {_B100} < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents),
        toks AS (SELECT doc_id, split, {_WORD_TOKS} AS t FROM sp),
        sh AS (SELECT doc_id, split, unnest(list_distinct(list_transform(
                   range(1, greatest(len(t) - 4, 1) + 1),
                   i -> array_to_string(list_slice(t, i, i + 4), ' ')))) AS shingle
               FROM toks WHERE len(t) > 0),
        bench AS (SELECT DISTINCT shingle FROM sh WHERE split = 'test'),
        per AS (SELECT s.doc_id, count(*) AS n_shingles,
                       sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS n_cont
                FROM (SELECT * FROM sh WHERE split = 'train') s
                LEFT JOIN bench b ON s.shingle = b.shingle
                GROUP BY s.doc_id)
        SELECT d.doc_id,
               CAST(coalesce(n_shingles, 0) AS BIGINT) AS n_shingles,
               CAST(coalesce(n_cont, 0) AS BIGINT) AS n_contaminated,
               coalesce(floor(CAST(n_cont AS DOUBLE) / n_shingles * 1000000.0 + 0.5)
                        / 1000000.0, 0.0) AS containment,
               coalesce(floor(CAST(n_cont AS DOUBLE) / n_shingles * 1000000.0 + 0.5)
                        / 1000000.0, 0.0) >= 0.8 AS flagged
        FROM (SELECT doc_id FROM sp WHERE split = 'train') d LEFT JOIN per USING (doc_id)
    """

    sql["t14_zorder_key"] = """
        WITH base AS (
            SELECT event_id,
                   CAST(user_id % 65536 AS BIGINT) AS x,
                   CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS y
            FROM events
        )
        SELECT event_id, x, y,
               CAST(list_sum(list_transform(range(0, 16),
                    b -> (((x >> b) & 1) << (2*b)) + (((y >> b) & 1) << (2*b + 1))
               )) AS BIGINT) AS z
        FROM base
    """

    sql["f9_topk_per_group"] = """
        WITH c AS (SELECT event_type, user_id, count(*) AS n_events
                   FROM events GROUP BY event_type, user_id)
        SELECT event_type, user_id, n_events, CAST(rank AS INT) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                         ORDER BY n_events DESC, user_id ASC) AS rank
              FROM c)
        WHERE rank <= 3
    """

    sql["t13_json_extract"] = """
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
               floor(CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS DOUBLE)
                     / count(*) * 1000000.0 + 0.5) / 1000000.0 AS avg_k
        FROM events GROUP BY event_type
    """

    sql["text_surprisal"] = f"""
        WITH toks AS (SELECT doc_id, unnest({_WORD_TOKS}) AS token FROM documents),
        tf AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
        tot AS (SELECT count(*) AS n FROM toks),
        sc AS (SELECT t.doc_id, count(*) AS n_tokens,
                      CAST(sum(CAST(floor(-log2(CAST(c AS DOUBLE) / (SELECT n FROM tot))
                               * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s_micro
               FROM toks t JOIN tf USING (token) GROUP BY t.doc_id)
        SELECT d.doc_id,
               CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
               coalesce(floor(CAST(s_micro AS DOUBLE) / n_tokens + 0.5) / 1000000.0, 0.0)
                   AS surprisal_bits
        FROM documents d LEFT JOIN sc USING (doc_id)
    """

    sql["a19_heavy_hitters"] = f"""
        WITH t AS (SELECT unnest({_WORD_TOKS}) AS token FROM documents),
        tot AS (SELECT count(*) AS n FROM t)
        SELECT token, count(*) AS support,
               (SELECT n FROM tot) AS total_rows
        FROM t GROUP BY token
        HAVING count(*) * 30 > (SELECT n FROM tot)
    """

    sql["j7_overlap_join"] = """
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
    """

    sql["w9_grouping_sets"] = """
        SELECT event_type, month,
               CAST(grouping(event_type, month) AS BIGINT) AS gid,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM (SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m') AS month, value
              FROM events)
        GROUP BY GROUPING SETS ((event_type, month), (event_type), ())
    """

    sql["train_curriculum"] = f"""
        WITH qm AS ({{TOKEN_STATS}}),
        cells AS (
            SELECT doc_id,
                   CAST(4 - least(CAST(floor(quality_score * 5) AS INT), 4) AS INT) AS band,
                   CAST({_bucket32('doc_id')} % 64 AS INT) AS sub,
                   {_bucket32('doc_id * 31 + 7')} % 1073741824 AS ord
            FROM qm)
        SELECT doc_id, band, sub,
               CAST(row_number() OVER (ORDER BY band, sub, ord, doc_id) - 1 AS BIGINT) AS position
        FROM cells
    """

    sql["dedup_substrings"] = f"""
        WITH t AS (SELECT doc_id, {_WORD_TOKS} AS w FROM documents),
        win AS (SELECT doc_id, i, array_to_string(w[i:(i+7)], ' ') AS s
                FROM (SELECT doc_id, w, unnest(range(1, len(w) - 8 + 2)) AS i FROM t)),
        dup AS (SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS df
                               FROM win GROUP BY 1) WHERE df >= 2),
        hits AS (SELECT doc_id, i FROM win JOIN dup USING (s)),
        lg AS (SELECT doc_id, i,
                      CASE WHEN lag(i) OVER w IS NULL OR i > lag(i) OVER w + 7
                           THEN 1 ELSE 0 END AS nw
               FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        isl AS (SELECT doc_id, i,
                       sum(nw) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
                FROM lg),
        cov AS (SELECT doc_id, g, max(i) - min(i) + 8 AS c FROM isl GROUP BY 1, 2),
        per AS (SELECT doc_id, sum(c) AS dup_tokens, count(*) AS n_islands
                FROM cov GROUP BY 1)
        SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
               CAST(coalesce(n_islands, 0) AS BIGINT) AS n_islands,
               coalesce(floor(CAST(dup_tokens AS DOUBLE) / len(w) * 1000000.0 + 0.5)
                        / 1000000.0, 0.0) AS dup_fraction
        FROM t LEFT JOIN per USING (doc_id)
    """

    sql["train_interleave"] = f"""
        WITH t AS (SELECT doc_id, {_WORD_TOKS} AS w FROM documents),
        items AS (
          SELECT doc_id, 0 AS idx, 'image' AS modality, CAST(64 AS BIGINT) AS cost,
                 concat(CAST(doc_id AS VARCHAR), '#img') AS ref
          FROM t WHERE doc_id % 4 = 2
          UNION ALL
          SELECT doc_id, j + 1 AS idx, 'text' AS modality,
                 CAST(least(256, len(w) - j * 256) AS BIGINT) AS cost,
                 concat(CAST(doc_id AS VARCHAR), '#c', CAST(j AS VARCHAR)) AS ref
          FROM (SELECT doc_id, w, unnest(range(0, (len(w) + 255) // 256)) AS j
                FROM t WHERE len(w) >= 1)
        ),
        o AS (SELECT *, coalesce(sum(cost) OVER (ORDER BY doc_id, idx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
              FROM items)
        SELECT CAST(bef // 2048 AS BIGINT) AS sample_id,
               CAST(row_number() OVER (PARTITION BY bef // 2048
                    ORDER BY doc_id, idx) - 1 AS BIGINT) AS position,
               modality, ref, cost AS n_cost_tokens, doc_id
        FROM o
    """

    _kmv_key = _bucket32(
        "(((doc_id % 4294967296) + 4294967296) % 4294967296) + 11 * 40503"
    )
    sql["train_kmv_sample"] = f"""
        SELECT doc_id, source, lang, CAST({_kmv_key} AS BIGINT) AS sample_key
        FROM documents
        ORDER BY sample_key, doc_id
        LIMIT 100
    """

    _epoch_key = _bucket32(
        "(((doc_id % 4294967296) + 4294967296) % 4294967296) + 7 * 40503"
    )
    sql["train_epoch_order"] = f"""
        WITH k AS (SELECT doc_id, {_epoch_key} AS shuffle_key FROM documents)
        SELECT CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) - 1
                    AS BIGINT) AS epoch_rank,
               CAST(shuffle_key AS BIGINT) AS shuffle_key, doc_id
        FROM k
    """

    sql["train_interleave_mm"] = f"""
        WITH t AS (SELECT doc_id, {_WORD_TOKS} AS w FROM documents),
        items AS (
          SELECT doc_id, 0 AS idx, 'image' AS modality, CAST(64 AS BIGINT) AS cost,
                 concat(CAST(doc_id AS VARCHAR), '#img') AS ref
          FROM t WHERE doc_id % 4 = 2
          UNION ALL
          SELECT doc_id, 1 AS idx, 'audio' AS modality, CAST(96 AS BIGINT) AS cost,
                 concat(CAST(doc_id AS VARCHAR), '#aud') AS ref
          FROM t WHERE doc_id % 4 = 3
          UNION ALL
          SELECT doc_id, j + 2 AS idx, 'text' AS modality,
                 CAST(least(256, len(w) - j * 256) AS BIGINT) AS cost,
                 concat(CAST(doc_id AS VARCHAR), '#c', CAST(j AS VARCHAR)) AS ref
          FROM (SELECT doc_id, w, unnest(range(0, (len(w) + 255) // 256)) AS j
                FROM t WHERE len(w) >= 1)
        ),
        o AS (SELECT *,
                 coalesce(sum(cost) OVER (PARTITION BY modality
                     ORDER BY doc_id, idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef,
                 CASE modality WHEN 'image' THEN 128
                               WHEN 'audio' THEN 96 ELSE 1792 END AS q
              FROM items),
        s AS (SELECT *, bef // q AS sample_id FROM o)
        SELECT CAST(sample_id AS BIGINT) AS sample_id,
               CAST(row_number() OVER (PARTITION BY sample_id
                    ORDER BY doc_id, idx) - 1 AS BIGINT) AS position,
               modality, ref, cost AS n_cost_tokens, doc_id
        FROM s
    """

    sql["ann_ivfpq_append"] = """
        SELECT CAST(count(*) AS BIGINT) AS n_total,
               CAST(coalesce(sum(CASE WHEN vec_id % 3 = 0 THEN 1 END), 0)
                    AS BIGINT) AS n_appended,
               TRUE AS matches_rebuild, TRUE AS err_nonneg
        FROM embeddings
    """

    sql["ann_ivf_append"] = """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
        sc AS (SELECT v.vec_id, cid, round(list_cosine_similarity(v.e, ce), 6) AS sim
               FROM v CROSS JOIN c),
        asg AS (SELECT vec_id, cid AS bucket, sim FROM (
                  SELECT vec_id, cid, sim,
                         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
                  FROM sc) WHERE rn = 1),
        r AS (SELECT vec_id, bucket,
                     CAST(floor((1 - sim) * 1000000 + 0.5) AS BIGINT) AS rm
              FROM asg)
        SELECT CAST(bucket AS INT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(coalesce(sum(CASE WHEN vec_id % 3 = 0 THEN 1 END), 0) AS BIGINT) AS n_appended,
               CAST(sum(CASE WHEN vec_id % 3 != 0 THEN rm END)
                    // nullif(sum(CASE WHEN vec_id % 3 != 0 THEN 1 END), 0) AS BIGINT) AS base_resid_micro,
               CAST(sum(CASE WHEN vec_id % 3 = 0 THEN rm END)
                    // nullif(sum(CASE WHEN vec_id % 3 = 0 THEN 1 END), 0) AS BIGINT) AS appended_resid_micro,
               TRUE AS matches_rebuild
        FROM r GROUP BY bucket
    """

    sql["ann_ivf_compact"] = """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
        sc AS (SELECT v.vec_id, cid, round(list_cosine_similarity(v.e, ce), 6) AS sim
               FROM v CROSS JOIN c),
        asg AS (SELECT vec_id, cid AS bucket FROM (
                  SELECT vec_id, cid,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY sim DESC, cid) AS rn
                  FROM sc) WHERE rn = 1)
        SELECT CAST(bucket AS INT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_total,
               TRUE AS probe_equal, TRUE AS content_equal,
               TRUE AS files_collapsed
        FROM asg GROUP BY bucket
    """

    # Id deletion on the generation-logged index (r14): remaining rows
    # are the closed-form assignment minus the deleted ids; the
    # snapshot/replay booleans are real Spark-side checks.
    sql["ann_ivf_gen_delete"] = """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
        sc AS (SELECT v.vec_id, cid, round(list_cosine_similarity(v.e, ce), 6) AS sim
               FROM v CROSS JOIN c),
        asg AS (SELECT vec_id, cid AS bucket FROM (
                  SELECT vec_id, cid,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY sim DESC, cid) AS rn
                  FROM sc) WHERE rn = 1)
        SELECT CAST(bucket AS INT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_remaining,
               TRUE AS current_excludes, TRUE AS pinned_shows_deleted,
               TRUE AS replay_noop, TRUE AS untouched_carried
        FROM asg WHERE vec_id % 7 <> 0 GROUP BY bucket
    """

    # Generation-logged maintenance (r14): the final content is the
    # same closed-form argmax assignment as ann_ivf_compact (the log
    # changes WHERE files live and WHEN they die, never the rows); the
    # snapshot-isolation booleans (pinned probe == post-compact probe,
    # pinned files intact, one live file per partition) are real
    # Spark-side checks the oracle expects TRUE.
    sql["ann_ivf_gen_probe"] = """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
        sc AS (SELECT v.vec_id, cid, round(list_cosine_similarity(v.e, ce), 6) AS sim
               FROM v CROSS JOIN c),
        asg AS (SELECT vec_id, cid AS bucket FROM (
                  SELECT vec_id, cid,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY sim DESC, cid) AS rn
                  FROM sc) WHERE rn = 1)
        SELECT CAST(bucket AS INT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_total,
               TRUE AS probe_equal, TRUE AS content_equal,
               TRUE AS pinned_intact, TRUE AS files_collapsed
        FROM asg GROUP BY bucket
    """

    # Full replay of the partial-refit contract: argmax assignment,
    # per-row micro residuals, the residual-threshold corpus split, the
    # exact-integer drift test (cur_mean*20 > base_mean*23), per-dim
    # micro-mean refit centroids over the drifted buckets' members,
    # reassignment of ONLY those members among ONLY the refit centroids,
    # and final per-bucket mean residuals against the updated set.
    sql["ann_ivf_refit"] = """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
        sc AS (SELECT v.vec_id, cid, round(list_cosine_similarity(v.e, ce), 6) AS sim
               FROM v CROSS JOIN c),
        asg AS (SELECT vec_id, cid AS bucket, sim FROM (
                  SELECT vec_id, cid, sim,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY sim DESC, cid) AS rn
                  FROM sc) WHERE rn = 1),
        r AS (SELECT vec_id, bucket,
                     CAST(floor((1 - sim) * 1000000 + 0.5) AS BIGINT) AS rm
              FROM asg),
        bstat AS (SELECT bucket, sum(rm) // count(*) AS base_mean
                  FROM r WHERE rm < 800000 GROUP BY bucket),
        cstat AS (SELECT bucket, sum(rm) // count(*) AS cur_mean
                  FROM r GROUP BY bucket),
        dr AS (SELECT cstat.bucket FROM cstat LEFT JOIN bstat USING (bucket)
               WHERE cur_mean * 20 > coalesce(base_mean, 0) * 23),
        mem AS (SELECT r.vec_id, r.bucket, v.e FROM r JOIN v USING (vec_id)
                WHERE r.bucket IN (SELECT bucket FROM dr)),
        md AS (SELECT bucket,
                      unnest(range(1, len(e) + 1)) AS d,
                      unnest(list_transform(e,
                          x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))) AS m
               FROM mem),
        cd AS (SELECT bucket, d,
                      CAST(sum(m) AS DOUBLE) / count(*) / 1000000.0 AS comp
               FROM md GROUP BY bucket, d),
        rc AS (SELECT bucket AS cid, list(comp ORDER BY d) AS ce
               FROM cd GROUP BY bucket),
        msc AS (SELECT mem.vec_id, rc.cid,
                       round(list_cosine_similarity(mem.e, rc.ce), 6) AS sim
                FROM mem CROSS JOIN rc),
        masg AS (SELECT vec_id, cid AS bucket, sim FROM (
                   SELECT vec_id, cid, sim,
                          row_number() OVER (PARTITION BY vec_id
                                             ORDER BY sim DESC, cid) AS rn
                   FROM msc) WHERE rn = 1),
        fin AS (
            SELECT vec_id, bucket, rm FROM r
            WHERE bucket NOT IN (SELECT bucket FROM dr)
            UNION ALL
            SELECT vec_id, bucket,
                   CAST(floor((1 - sim) * 1000000 + 0.5) AS BIGINT) AS rm
            FROM masg
        )
        SELECT CAST(bucket AS INT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_vectors,
               bucket IN (SELECT bucket FROM dr) AS was_drifted,
               CAST(sum(rm) // count(*) AS BIGINT) AS final_resid_micro,
               TRUE AS matches_rebuild
        FROM fin GROUP BY bucket
    """

    # Coarse stats are independent of the PQ codebooks, so the PQ
    # refit's replay IS the IVF refit's replay (contract column renamed;
    # the code-table equality is the Spark-side exceptAll boolean).
    sql["ann_ivfpq_refit"] = sql["ann_ivf_refit"].replace(
        "matches_rebuild", "matches_reencode"
    )

    sql["dedup_lsh_compact"] = """
        SELECT CAST(4 * count(*) AS BIGINT) AS n_index_rows,
               TRUE AS probe_equal, TRUE AS files_collapsed
        FROM documents
    """

    # Generation-logged LSH lifecycle (r14): content is the same
    # bands-x-docs row count (the log changes where files live, never
    # the rows); the snapshot-isolation booleans are real Spark checks.
    sql["dedup_lsh_gen_probe"] = """
        SELECT CAST(4 * count(*) AS BIGINT) AS n_index_rows,
               TRUE AS probe_equal, TRUE AS pinned_intact,
               TRUE AS files_collapsed
        FROM documents
    """

    sql["dedup_substrings_apply"] = f"""
        WITH t AS (SELECT doc_id, {_WORD_TOKS} AS w FROM documents),
        win AS (SELECT doc_id, i, array_to_string(w[i:(i+7)], ' ') AS s
                FROM (SELECT doc_id, w, unnest(range(1, len(w) - 8 + 2)) AS i FROM t)),
        dup AS (SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS df
                               FROM win GROUP BY 1) WHERE df >= 2),
        hits AS (SELECT doc_id, i FROM win JOIN dup USING (s)),
        lg AS (SELECT doc_id, i,
                      CASE WHEN lag(i) OVER w IS NULL OR i > lag(i) OVER w + 7
                           THEN 1 ELSE 0 END AS nw
               FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        isl AS (SELECT doc_id, i,
                       sum(nw) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
                FROM lg),
        iv AS (SELECT doc_id, min(i) AS s, max(i) + 7 AS e FROM isl GROUP BY doc_id, g),
        cov AS (SELECT doc_id, unnest(range(s, e + 1)) AS p FROM iv),
        pos AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS p FROM t),
        keep AS (SELECT pos.doc_id, pos.p FROM pos LEFT JOIN cov
                   ON pos.doc_id = cov.doc_id AND pos.p = cov.p
                 WHERE cov.p IS NULL),
        cl AS (SELECT keep.doc_id, count(*) AS kept,
                      string_agg(w[p], ' ' ORDER BY p) AS body
               FROM keep JOIN t USING (doc_id) GROUP BY keep.doc_id)
        SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(coalesce(kept, 0) AS BIGINT) AS kept_tokens,
               coalesce(body, '') AS clean_text
        FROM t LEFT JOIN cl USING (doc_id)
    """

    # Fixpoint removal: macro-expand exactly max_rounds=3 rounds (a
    # converged round is the identity, so this equals the Spark side's
    # early-exiting capped loop), then replay the residual-coverage
    # measure over the final token lists.
    _fx_rounds = ",".join(
        _substr_round_cte(i, "t" if i == 1 else f"rc{i - 1}") for i in (1, 2, 3)
    )
    sql["dedup_substrings_fixpoint"] = f"""
        WITH t AS (SELECT doc_id, {_WORD_TOKS} AS w FROM documents),
        {_fx_rounds},
        winf AS (SELECT doc_id, i, array_to_string(w[i:(i+7)], ' ') AS s
                FROM (SELECT doc_id, w, unnest(range(1, len(w) - 8 + 2)) AS i
                      FROM rc3)),
        dupf AS (SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS df
                               FROM winf GROUP BY 1) WHERE df >= 2),
        hitsf AS (SELECT doc_id, i FROM winf JOIN dupf USING (s)),
        lgf AS (SELECT doc_id, i,
                      CASE WHEN lag(i) OVER w IS NULL OR i > lag(i) OVER w + 7
                           THEN 1 ELSE 0 END AS nw
               FROM hitsf WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        islf AS (SELECT doc_id, i,
                       sum(nw) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
                FROM lgf),
        covf AS (SELECT doc_id, g, max(i) - min(i) + 8 AS c
                 FROM islf GROUP BY 1, 2),
        res AS (SELECT doc_id, sum(c) AS dup_tokens FROM covf GROUP BY 1)
        SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
               CAST(len(rc3.w) AS BIGINT) AS kept_tokens,
               CAST(coalesce(res.dup_tokens, 0) AS BIGINT) AS residual_dup_tokens,
               coalesce(array_to_string(rc3.w, ' '), '') AS clean_text
        FROM t JOIN rc3 USING (doc_id) LEFT JOIN res USING (doc_id)
    """

    sql["text_boilerplate"] = f"""
        WITH t AS (SELECT doc_id, source, {_WORD_TOKS} AS w FROM documents),
        b AS (SELECT doc_id, source, i AS pos,
                     array_to_string(w[((i-1)*4+1):(i*4)], ' ') AS span
              FROM (SELECT doc_id, source, w,
                           unnest(range(1, len(w)//4 + 1)) AS i FROM t)),
        tails AS (SELECT doc_id,
                         array_to_string(w[(len(w)//4)*4+1:len(w)], ' ') AS tail
                  FROM t),
        g AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        df AS (SELECT source, span, count(DISTINCT doc_id) AS df FROM b GROUP BY 1, 2),
        boiler AS (SELECT df.source, span FROM df JOIN g USING (source)
                   WHERE df >= greatest(2, ceil(0.05 * n))),
        fl AS (SELECT b.doc_id, b.source, b.pos, b.span,
                      (boiler.span IS NOT NULL) AS is_b
               FROM b LEFT JOIN boiler
                 ON b.source = boiler.source AND b.span = boiler.span),
        per AS (SELECT doc_id, count(*) AS n_spans,
                       sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS n_boiler,
                       string_agg(span, ' ' ORDER BY pos) FILTER (NOT is_b) AS body
                FROM fl GROUP BY doc_id)
        SELECT t.doc_id, t.source,
               CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
               CAST(coalesce(n_boiler, 0) AS BIGINT) AS n_boiler,
               concat_ws(' ', nullif(coalesce(body, ''), ''), nullif(tail, '')) AS clean_text
        FROM t LEFT JOIN per USING (doc_id) JOIN tails USING (doc_id)
    """

    sql["dedup_spans"] = f"""
        WITH toks AS (SELECT doc_id, {_WORD_TOKS} AS t FROM documents),
        spans AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                range(1, len(t) // 8 + 1),
                i -> array_to_string(list_slice(t, (i-1)*8 + 1, (i-1)*8 + 8), ' ')))) AS span
            FROM toks WHERE len(t) >= 8),
        cnt AS (SELECT span, count(*) AS n_docs FROM spans GROUP BY span),
        per AS (
            SELECT doc_id, count(*) AS n_spans,
                   sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup
            FROM spans JOIN cnt USING (span) GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
               CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_spans,
               coalesce(floor(CAST(n_dup AS DOUBLE) / n_spans * 1000000.0 + 0.5)
                        / 1000000.0, 0.0) AS dup_fraction
        FROM documents d LEFT JOIN per USING (doc_id)
    """

    sql["dedup_semantic"] = """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.e, b.e), 6) AS cosine_sim,
               TRUE AS found_if_identical, TRUE AS recall_ge_floor
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.4
    """

    sql["dedup_incremental_near"] = f"""
        WITH toks AS (SELECT doc_id, {_WORD_TOKS} AS t FROM documents),
        sh AS (
            SELECT doc_id AS doc,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 2, 1) + 1),
                       i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS shingle
            FROM toks WHERE len(t) > 0),
        bsh AS (SELECT * FROM sh WHERE doc % 5 = 4),
        csh AS (SELECT * FROM sh WHERE doc % 5 <> 4),
        bs AS (SELECT doc, count(*) AS n_b FROM bsh GROUP BY doc),
        cs AS (SELECT doc, count(*) AS n_c FROM csh GROUP BY doc),
        inter AS (
            SELECT b.doc AS batch_id, c.doc AS corpus_id, count(*) AS n_common
            FROM bsh b JOIN csh c ON b.shingle = c.shingle
            GROUP BY 1, 2)
        SELECT batch_id, corpus_id,
               round(CAST(n_common AS DOUBLE) / (bs.n_b + cs.n_c - n_common), 6) AS jaccard,
               TRUE AS found_if_identical, TRUE AS recall_ge_floor
        FROM inter JOIN bs ON bs.doc = batch_id JOIN cs ON cs.doc = corpus_id
        WHERE round(CAST(n_common AS DOUBLE) / (bs.n_b + cs.n_c - n_common), 6) >= 0.5
    """

    # same exact pair set + contract booleans as dedup_incremental_near
    # (same %5 split, same banding recall floor — the persisted-index
    # path must find what the in-memory index path finds)
    sql["dedup_lsh_persist"] = sql["dedup_incremental_near"]

    sql["dedup_simhash"] = f"""
        SELECT doc_id, CAST(len({_WORD_TOKS}) AS INT) AS n_tokens,
               TRUE AS dup_invariant, TRUE AS perm_invariant
        FROM documents WHERE len({_WORD_TOKS}) > 0
    """

    ann_exact_contract = """
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 3),
        c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        scored AS (
            SELECT query_id, vec_id,
                   round(list_cosine_similarity(cv, qv), 6) AS cosine_sim
            FROM c CROSS JOIN q WHERE vec_id <> query_id),
        topk AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY cosine_sim DESC, vec_id ASC) AS rank
                FROM scored) WHERE rank <= 5)
        SELECT query_id, count(*) AS n_exact,
               max(cosine_sim) AS exact_best, min(cosine_sim) AS exact_kth,
               TRUE AS recall_ge_floor
        FROM topk GROUP BY query_id
    """
    sql["ann_ivf_topk"] = ann_exact_contract
    sql["ann_ivf_kmeans"] = ann_exact_contract
    sql["ann_recall_pq"] = ann_exact_contract
    sql["ann_ivfpq_topk"] = ann_exact_contract

    sql["emb_pq_error"] = """
        WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        d AS (SELECT unnest(e) AS val, unnest(range(len(e))) AS pos FROM v),
        b AS (SELECT sum(vp) AS base FROM
                  (SELECT var_pop(val) AS vp FROM d GROUP BY pos))
        SELECT (SELECT count(*) FROM embeddings) AS n_vectors,
               floor(base * 10000.0 + 0.5) / 10000.0 AS mean_baseline_mse,
               TRUE AS pq_beats_mean, TRUE AS errors_nonneg
        FROM b
    """

    sql["j5_asof_join"] = """
        WITH r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS purchase_value
                   FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
             l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                   FROM events WHERE event_type = 'click')
        SELECT l.event_id, l.user_id,
               CAST(floor(epoch(l.ts)) AS BIGINT) - CAST(floor(epoch(r.ts)) AS BIGINT) AS asof_lag_s,
               r.purchase_value AS asof_value
        FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """

    sql["j9_asof_nearest"] = """
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
    """

    sql["j10_asof_forward"] = """
        WITH r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS purchase_value
                   FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
             l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                   FROM events WHERE event_type = 'click')
        SELECT l.event_id, l.user_id,
               CAST(floor(epoch(r.ts)) AS BIGINT) - CAST(floor(epoch(l.ts)) AS BIGINT) AS fwd_lead_s,
               r.purchase_value AS fwd_value
        FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
    """

    sql["j6_range_join"] = """
        WITH iv AS (SELECT CAST(l_shipdate AS DATE) AS s,
                           CAST(l_shipdate AS DATE)
                               + CAST(1 + (l_orderkey * 7 + l_linenumber) % 30 AS INT) AS e
                    FROM lineitem),
        days AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                 FROM (SELECT min(s) AS d0, max(e) AS d1 FROM iv))
        SELECT day, count(*) AS n_in_transit
        FROM days JOIN iv ON day BETWEEN s AND e
        GROUP BY day
    """

    sql["w5_cube"] = """
        SELECT d, event_type, count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM (SELECT CAST(day(CAST(ts AS DATE)) AS INT) AS d, event_type, value FROM events)
        GROUP BY CUBE(d, event_type)
    """

    sql["dedup_components"] = f"""
        WITH RECURSIVE
        toks AS (SELECT doc_id, {_WORD_TOKS} AS t FROM documents),
        sh AS (
            SELECT doc_id AS doc,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 2, 1) + 1),
                       i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS shingle
            FROM toks WHERE len(t) > 0),
        rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000),
        shc AS (SELECT sh.doc, sh.shingle FROM sh JOIN rare USING (shingle)),
        sizes AS (SELECT doc, count(*) AS n FROM shc GROUP BY doc),
        inter AS (
            SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_common
            FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc < b.doc
            GROUP BY 1, 2),
        pairs AS (
            SELECT doc_a, doc_b FROM inter
            JOIN sizes sa ON sa.doc = doc_a
            JOIN sizes sb ON sb.doc = doc_b
            WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= 0.5),
        edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                  UNION SELECT doc_b, doc_a FROM pairs),
        reach AS (SELECT doc_id AS node, doc_id AS r FROM documents
                  UNION
                  SELECT rc.node, e.d FROM reach rc JOIN edges e ON rc.r = e.s)
        SELECT node AS doc_id, min(r) AS component_id FROM reach GROUP BY node
    """

    sql["dedup_cluster_survivors"] = f"""
        WITH RECURSIVE
        toks AS (SELECT doc_id, {_WORD_TOKS} AS t FROM documents),
        sh AS (
            SELECT doc_id AS doc,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 2, 1) + 1),
                       i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS shingle
            FROM toks WHERE len(t) > 0),
        rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000),
        shc AS (SELECT sh.doc, sh.shingle FROM sh JOIN rare USING (shingle)),
        sizes AS (SELECT doc, count(*) AS n FROM shc GROUP BY doc),
        inter AS (
            SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_common
            FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc < b.doc
            GROUP BY 1, 2),
        pairs AS (
            SELECT doc_a, doc_b FROM inter
            JOIN sizes sa ON sa.doc = doc_a
            JOIN sizes sb ON sb.doc = doc_b
            WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= 0.5),
        edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                  UNION SELECT doc_b, doc_a FROM pairs),
        reach AS (SELECT doc_id AS node, doc_id AS r FROM documents
                  UNION
                  SELECT rc.node, e.d FROM reach rc JOIN edges e ON rc.r = e.s),
        comp AS (SELECT node, min(r) AS component_id FROM reach GROUP BY node)
        SELECT component_id, min(node) AS survivor_id, count(*) AS n_members
        FROM comp GROUP BY component_id
    """

    sql["emb_quantize"] = """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        s AS (SELECT vec_id, e,
                     greatest(list_max(list_transform(e, x -> abs(x))), 1e-12) / 127.0 AS sc
              FROM v),
        x AS (SELECT vec_id, e, sc, unnest(range(0, len(e))) AS pos FROM s)
        SELECT vec_id, CAST(pos AS INT) AS pos,
               CAST(floor(e[CAST(pos + 1 AS INT)] / sc + 0.5) AS INT) AS qval,
               floor(sc * 1000000000.0 + 0.5) / 1000000000.0 AS scale
        FROM x
    """

    sql["text_winnow"] = """
        WITH nrm AS (SELECT doc_id,
                            trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g')) AS s
                     FROM documents),
        h AS (SELECT doc_id,
                     list_transform(range(1, length(s) - 5 + 2), i ->
                         list_reduce(list_prepend(CAST(0 AS BIGINT),
                             list_transform(range(i, i + 5), j ->
                                 CAST(ascii(substring(s, CAST(j AS INT), 1)) AS BIGINT))),
                             (a, b) -> (a * 31 + b) % 1000000007)) AS hs
              FROM nrm WHERE length(s) >= 5),
        sel AS (SELECT doc_id,
                       CASE WHEN len(hs) >= 4
                            THEN list_transform(range(1, len(hs) - 4 + 2),
                                                si -> list_min(list_slice(hs, si, si + 3)))
                            ELSE [list_min(hs)] END AS fps
                FROM h)
        SELECT doc_id, unnest(list_distinct(fps)) AS fingerprint FROM sel
    """

    sql["text_repetition"] = f"""
        WITH toks AS (SELECT doc_id, {_WORD_TOKS} AS t FROM documents),
        g AS (SELECT doc_id, len(t) AS n,
                     greatest(len(t) - 2, 0) AS total,
                     list_transform(range(1, greatest(greatest(len(t) - 2, 0), 1) + 1),
                                    i -> array_to_string(list_slice(t, i, i + 2), ' ')) AS grams
              FROM toks)
        SELECT doc_id,
               CAST(n AS INT) AS n_tokens,
               CAST(total AS INT) AS n_kgrams,
               CAST(CASE WHEN total > 0 THEN len(list_distinct(grams)) ELSE 0 END AS INT) AS n_distinct_kgrams,
               CASE WHEN total > 0
                    THEN floor((total - len(list_distinct(grams))) / CAST(total AS DOUBLE)
                               * 1000000.0 + 0.5) / 1000000.0
                    ELSE 0.0 END AS rep_ratio
        FROM g
    """

    sql["train_decontaminate"] = """
        WITH nrm AS (SELECT doc_id,
                            trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g')) AS s
                     FROM documents),
        h AS (SELECT doc_id,
                     list_transform(range(1, length(s) - 5 + 2), i ->
                         list_reduce(list_prepend(CAST(0 AS BIGINT),
                             list_transform(range(i, i + 5), j ->
                                 CAST(ascii(substring(s, CAST(j AS INT), 1)) AS BIGINT))),
                             (a, b) -> (a * 31 + b) % 1000000007)) AS hs
              FROM nrm WHERE length(s) >= 5),
        sel AS (SELECT doc_id,
                       CASE WHEN len(hs) >= 4
                            THEN list_transform(range(1, len(hs) - 4 + 2),
                                                si -> list_min(list_slice(hs, si, si + 3)))
                            ELSE [list_min(hs)] END AS fps
                FROM h),
        fp AS (SELECT doc_id, unnest(list_distinct(fps)) AS fingerprint FROM sel),
        rare AS (SELECT fingerprint FROM fp GROUP BY 1 HAVING count(*) <= 5),
        fpr AS (SELECT fp.doc_id, fp.fingerprint FROM fp JOIN rare USING (fingerprint)),
        split AS (SELECT doc_id,
               CASE WHEN ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) % 65536) * 2654435761 + ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) // 65536) * 2654435761) % 65536 * 65536) % 4294967296 % 100 < 80 THEN 'train'
                    WHEN ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) % 65536) * 2654435761 + ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) // 65536) * 2654435761) % 65536 * 65536) % 4294967296 % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split FROM documents)
        SELECT tr.doc_id AS train_id, te.doc_id AS test_id, count(*) AS n_shared
        FROM fpr tr JOIN split st ON tr.doc_id = st.doc_id AND st.split = 'train'
        JOIN fpr te ON tr.fingerprint = te.fingerprint
        JOIN split se ON te.doc_id = se.doc_id AND se.split = 'test'
        GROUP BY 1, 2
        HAVING count(*) >= 1
    """

    sql["train_split"] = """
        SELECT doc_id,
               CASE WHEN ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) % 65536) * 2654435761 + ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) // 65536) * 2654435761) % 65536 * 65536) % 4294967296 % 100 < 80 THEN 'train'
                    WHEN ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) % 65536) * 2654435761 + ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) // 65536) * 2654435761) % 65536 * 65536) % 4294967296 % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """

    sql["train_mixture"] = """
        SELECT doc_id, source FROM documents
        WHERE ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) % 65536) * 2654435761 + ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) // 65536) * 2654435761) % 65536 * 65536) % 4294967296 % 10000 <
              CASE source WHEN 'src0' THEN 2000 WHEN 'src1' THEN 5000
                          WHEN 'src2' THEN 0 ELSE 10000 END
    """

    sql["train_stratified"] = """
        SELECT doc_id, source FROM (
            SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) % 65536) * 2654435761 + ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) // 65536) * 2654435761) % 65536 * 65536) % 4294967296 ASC,
                                               doc_id ASC) AS rn
            FROM documents)
        WHERE rn <= 5
    """

    sql["emb_label_centroids"] = """
        WITH e AS (SELECT label, unnest(range(0, len(embedding))) AS pos, embedding
                   FROM embeddings)
        SELECT label, CAST(pos AS INT) AS pos,
               floor(CAST(sum(CAST(CAST(embedding[CAST(pos + 1 AS INT)] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
                     / count(*) * 1000000.0 + 0.5) / 1000000.0 AS centroid_val
        FROM e GROUP BY 1, 2
    """

    sql["train_chunks"] = f"""
        WITH toks AS (SELECT doc_id, {_WORD_TOKS} AS t FROM documents),
        b AS (SELECT doc_id, t,
                     greatest(CAST(ceil((len(t) - 64) / 48.0) AS BIGINT), 0) AS n_extra
              FROM toks WHERE len(t) > 0),
        e AS (SELECT doc_id, t, unnest(range(0, n_extra + 1)) AS i FROM b)
        SELECT doc_id, CAST(i AS INT) AS chunk_idx,
               CAST(len(list_slice(t, CAST(i * 48 + 1 AS INT), CAST(i * 48 + 64 AS INT))) AS INT) AS n_chunk_tokens,
               array_to_string(list_slice(t, CAST(i * 48 + 1 AS INT), CAST(i * 48 + 64 AS INT)), ' ') AS chunk_text
        FROM e
    """

    sql["train_pack"] = f"""
        WITH tok AS (SELECT doc_id, source,
                            CAST(coalesce(len({_WORD_TOKS}), 0) AS INT) AS n_tokens
                     FROM documents)
        SELECT doc_id, source, n_tokens,
               CAST(floor((CAST(sum(n_tokens) OVER w AS BIGINT) - n_tokens) / 512.0) AS BIGINT) AS pack_id
        FROM tok
        WINDOW w AS (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """

    sql["train_shard_pack"] = f"""
        WITH tok AS (SELECT doc_id,
                            CAST(coalesce(len({_WORD_TOKS}), 0) AS INT) AS n_tokens
                     FROM documents),
        c AS (SELECT doc_id, n_tokens,
                     CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                         AS tokens_before
              FROM tok)
        SELECT doc_id, n_tokens, tokens_before,
               CAST(floor(tokens_before / 4096.0) AS BIGINT) AS shard_id
        FROM c
    """

    email_re = TR.PII_EMAIL
    phone_re = TR.PII_PHONE
    digits_re = TR.PII_LONG_DIGITS
    sql["text_redact_pii"] = f"""
        WITH s1 AS (SELECT doc_id,
                           CAST(len(regexp_extract_all(coalesce(text, ''), '({email_re})', 1)) AS INT) AS n_emails,
                           regexp_replace(coalesce(text, ''), '{email_re}', '<EMAIL>', 'g') AS t1
                    FROM documents),
        s2 AS (SELECT doc_id, n_emails,
                      CAST(len(regexp_extract_all(t1, '({phone_re})', 1)) AS INT) AS n_phones,
                      regexp_replace(t1, '{phone_re}', '<PHONE>', 'g') AS t2
               FROM s1)
        SELECT doc_id, n_emails, n_phones,
               CAST(len(regexp_extract_all(t2, '({digits_re})', 1)) AS INT) AS n_long_digit_runs,
               regexp_replace(t2, '{digits_re}', '<NUMBER>', 'g') AS redacted_text
        FROM s2
    """

    sql["a18_approx_percentiles"] = """
        SELECT lang,
               round(quantile_cont(n_chars, 0.5), 6) AS exact_p50,
               round(quantile_cont(n_chars, 0.95), 6) AS exact_p95,
               count(*) AS n_docs,
               TRUE AS p50_within_band,
               TRUE AS p95_within_band
        FROM documents GROUP BY lang
    """

    sql["a17_zscore_anomalies"] = """
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
            FROM events GROUP BY 1, 2),
        s AS (
            SELECT event_type, day, n_events,
                   avg(n_events) OVER w AS mu,
                   stddev_samp(n_events) OVER w AS sigma,
                   count(*) OVER w AS nwin
            FROM daily
            WINDOW w AS (PARTITION BY event_type
                         ORDER BY epoch(CAST(day AS TIMESTAMP))
                         RANGE BETWEEN 604800 PRECEDING AND 86400 PRECEDING))
        SELECT event_type, day, n_events,
               CASE WHEN nwin >= 7 THEN floor(mu * 1000000.0 + 0.5) / 1000000.0 END AS mu,
               CASE WHEN nwin >= 7 THEN floor(sigma * 1000000.0 + 0.5) / 1000000.0 END AS sigma,
               CASE WHEN nwin >= 7
                    THEN floor((n_events - mu) / nullif(sigma, 0) * 1000000.0 + 0.5) / 1000000.0
               END AS z,
               coalesce(CASE WHEN nwin >= 7
                             THEN abs((n_events - mu) / nullif(sigma, 0)) > 3.0 END,
                        FALSE) AS is_anomaly
        FROM s
    """

    sql["w7_sliding_windows"] = """
        -- make_timestamp(micros) is timezone-free (naive UTC epoch
        -- arithmetic), unlike CAST(to_timestamp(..) AS TIMESTAMP)
        -- which routes through the DuckDB session TimeZone.
        SELECT make_timestamp(CAST((floor(epoch(ts) / 300) * 300 - j * 300) * 1000000 AS BIGINT)) AS window_start,
               make_timestamp(CAST((floor(epoch(ts) / 300) * 300 - j * 300 + 900) * 1000000 AS BIGINT)) AS window_end,
               event_type,
               count(*) AS n_events
        FROM events CROSS JOIN (VALUES (0), (1), (2)) t(j)
        GROUP BY 1, 2, 3
    """

    sql["a15_funnel"] = """
        WITH s0 AS (SELECT user_id, min(ts) AS t0 FROM events
                    WHERE event_type = 'signup' GROUP BY 1),
        s1 AS (SELECT e.user_id, min(e.ts) AS t1 FROM events e
               JOIN s0 USING (user_id)
               WHERE e.event_type = 'view' AND e.ts > s0.t0 GROUP BY 1),
        s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
               JOIN s1 USING (user_id)
               WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY 1)
        SELECT CAST(0 AS INT) AS step_idx, 'signup' AS step,
               (SELECT count(*) FROM s0) AS n_users
        UNION ALL SELECT CAST(1 AS INT), 'view', (SELECT count(*) FROM s1)
        UNION ALL SELECT CAST(2 AS INT), 'purchase', (SELECT count(*) FROM s2)
    """

    sql["a16_retention"] = """
        WITH active AS (SELECT DISTINCT user_id,
                               CAST(date_trunc('day', ts) AS DATE) AS p
                        FROM events),
        cohort AS (SELECT user_id, min(p) AS cohort FROM active GROUP BY 1)
        SELECT cohort,
               CAST(date_diff('day', cohort, p) AS INT) AS "offset",
               count(DISTINCT a.user_id) AS n_users
        FROM active a JOIN cohort USING (user_id)
        GROUP BY 1, 2
    """

    sql["w6_pivot"] = """
        SELECT CAST(ts AS DATE) AS day,
               count(*) FILTER (event_type = 'click') AS click,
               count(*) FILTER (event_type = 'error') AS error,
               count(*) FILTER (event_type = 'purchase') AS purchase,
               count(*) FILTER (event_type = 'signup') AS signup,
               count(*) FILTER (event_type = 'view') AS view
        FROM events GROUP BY 1
    """

    sql["text_quality_filter"] = f"""
        WITH base AS (
            SELECT doc_id, lang,
                   CAST(coalesce(len(regexp_extract_all(text, '\\S+')), 0) AS INT) AS n_tokens,
                   CAST(length(coalesce(text, '')) AS INT) AS n_chars,
                   CAST(coalesce(len(regexp_extract_all(text, '[!-/:-@\\[-`{{-~]')), 0) AS INT) AS n_punct,
                   CAST(coalesce(len(list_filter({_WORD_TOKS}, t -> t IN ({stop_list}))), 0) AS INT) AS n_stopwords,
                   {_WORD_TOKS} AS wt
            FROM documents),
        g AS (
            SELECT *, greatest(len(wt) - 2, 0) AS total,
                   list_transform(range(1, greatest(greatest(len(wt) - 2, 0), 1) + 1),
                                  i -> array_to_string(list_slice(wt, i, i + 2), ' ')) AS grams
            FROM base),
        m AS (
            SELECT doc_id, lang, n_tokens,
                   round(coalesce(CAST(n_punct AS DOUBLE) / nullif(n_chars, 0), CAST(0.0 AS DOUBLE)), 6) AS punct_ratio,
                   round(coalesce(CAST(n_stopwords AS DOUBLE) / nullif(n_tokens, 0), CAST(0.0 AS DOUBLE)), 6) AS stopword_ratio,
                   CASE WHEN total > 0
                        THEN floor((total - len(list_distinct(grams))) / CAST(total AS DOUBLE)
                                   * 1000000.0 + 0.5) / 1000000.0
                        ELSE 0.0 END AS rep_ratio
            FROM g),
        s AS (
            SELECT *, floor((least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / 200.0) * 0.5
                            + least(CAST(1.0 AS DOUBLE), stopword_ratio * 5.0) * 0.3
                            + (CAST(1.0 AS DOUBLE) - least(CAST(1.0 AS DOUBLE), punct_ratio * 10.0)) * 0.2)
                            * 1000000.0 + 0.5) / 1000000.0 AS quality_score
            FROM m),
        r AS (
            SELECT *, rtrim(concat(
                       CASE WHEN n_tokens < 50 THEN 'too_short;' ELSE '' END,
                       CASE WHEN n_tokens > 100000 THEN 'too_long;' ELSE '' END,
                       CASE WHEN stopword_ratio < 0.01 THEN 'low_stopword;' ELSE '' END,
                       CASE WHEN punct_ratio > 0.3 THEN 'high_punct;' ELSE '' END,
                       CASE WHEN rep_ratio > 0.3 THEN 'repetitious;' ELSE '' END,
                       CASE WHEN lang NOT IN ('en') THEN 'lang_blocked;' ELSE '' END), ';') AS reasons
            FROM s)
        SELECT doc_id, lang, n_tokens, punct_ratio, stopword_ratio, rep_ratio,
               quality_score, reasons, reasons = '' AS keep
        FROM r
    """

    sql["text_bm25_topk"] = f"""
        WITH toks AS (SELECT doc_id, {_WORD_TOKS} AS t FROM documents),
        lens AS (SELECT doc_id, len(t) AS dl, t FROM toks),
        stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
        occ AS (SELECT doc_id, dl, unnest(t) AS term FROM lens),
        tf AS (
            SELECT doc_id, dl, term, count(*) AS tf FROM occ
            WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2, 3),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        scored AS (
            SELECT tf.doc_id,
                   ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl)) AS partial
            FROM tf JOIN df USING (term) CROSS JOIN stats s),
        agg AS (
            SELECT doc_id,
                   floor(sum(partial) * 1000000.0 + 0.5) / 1000000.0 AS score,
                   CAST(count(*) AS BIGINT) AS n_hits
            FROM scored GROUP BY 1)
        SELECT doc_id, score, n_hits FROM agg
        ORDER BY score DESC, doc_id ASC LIMIT 20
    """

    sql["text_tfidf_top5"] = f"""
        WITH toksrc AS (SELECT doc_id, unnest({_WORD_TOKS}) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toksrc GROUP BY 1, 2),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        scored AS (SELECT tf.doc_id, tf.term, tf.tf,
                          floor(tf.tf * (ln((nd.n + 1.0) / (df.df + 1.0)) + 1.0) * 1000000.0 + 0.5)
                              / 1000000.0 AS tfidf
                   FROM tf JOIN df ON tf.term = df.term CROSS JOIN nd),
        ranked AS (SELECT doc_id, term, tf, tfidf,
                          CAST(row_number() OVER (PARTITION BY doc_id
                                                  ORDER BY tfidf DESC, term ASC) AS INT) AS rank
                   FROM scored)
        SELECT doc_id, term, tf, tfidf, rank FROM ranked WHERE rank <= 5
    """

    sql["emb_hard_negatives"] = """
        WITH q AS (SELECT vec_id AS anchor_id, label AS albl,
                          CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id % 100 = 0),
        c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings),
        scored AS (
            SELECT anchor_id, vec_id, label AS neg_label,
                   round(list_cosine_similarity(cv, qv), 6) AS cosine_sim
            FROM c CROSS JOIN q
            WHERE vec_id <> anchor_id AND label <> albl)
        SELECT anchor_id, vec_id, neg_label, cosine_sim,
               CAST(rank AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY anchor_id
                                         ORDER BY cosine_sim DESC, vec_id ASC) AS rank
            FROM scored) WHERE rank <= 3
    """

    sql["ann_cosine_topk"] = """
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 3),
        c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        scored AS (
            SELECT query_id, vec_id,
                   round(list_cosine_similarity(cv, qv), 6) AS cosine_sim
            FROM c CROSS JOIN q WHERE vec_id <> query_id)
        SELECT query_id, vec_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine_sim DESC, vec_id ASC) AS rank
            FROM scored) WHERE rank <= 5
    """

    sql["text_token_stats"] = f"""
        WITH base AS (
            SELECT doc_id,
                   CAST(length(coalesce(text, '')) AS INT) AS n_chars,
                   CAST(coalesce(len(regexp_extract_all(text, '\\S+')), 0) AS INT) AS n_tokens,
                   CAST(coalesce(len(regexp_extract_all(text, '[!-/:-@\\[-`{{-~]')), 0) AS INT) AS n_punct,
                   CAST(coalesce(len(list_filter({_WORD_TOKS}, t -> t IN ({stop_list}))), 0) AS INT) AS n_stopwords,
                   CAST(coalesce(list_sum(list_transform({_WORD_TOKS}, t -> length(t))), 0) AS BIGINT) AS sum_tok_chars
            FROM documents),
        ratios AS (
            SELECT doc_id, n_chars, n_tokens, n_punct, n_stopwords,
                   round(coalesce(CAST(n_punct AS DOUBLE) / nullif(n_chars, 0), CAST(0.0 AS DOUBLE)), 6) AS punct_ratio,
                   round(coalesce(CAST(n_stopwords AS DOUBLE) / nullif(n_tokens, 0), CAST(0.0 AS DOUBLE)), 6) AS stopword_ratio,
                   round(coalesce(CAST(sum_tok_chars AS DOUBLE) / nullif(n_tokens, 0), CAST(0.0 AS DOUBLE)), 6) AS mean_token_len
            FROM base)
        SELECT doc_id, n_chars, n_tokens, n_punct, n_stopwords,
               punct_ratio, stopword_ratio, mean_token_len,
               floor((least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / CAST(200.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE)
                     + least(CAST(1.0 AS DOUBLE), stopword_ratio * CAST(5.0 AS DOUBLE)) * CAST(0.3 AS DOUBLE)
                     + (CAST(1.0 AS DOUBLE) - least(CAST(1.0 AS DOUBLE), punct_ratio * CAST(10.0 AS DOUBLE))) * CAST(0.2 AS DOUBLE))
                     * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE) AS quality_score
        FROM ratios
    """

    lang_score_cols = []
    for lang in sorted(TX.LANG_MARKERS):
        markers = ", ".join(f"'{m}'" for m in TX.LANG_MARKERS[lang])
        lang_score_cols.append(
            f"coalesce(len(list_filter({_WORD_TOKS}, t -> t IN ({markers}))), 0) AS s_{lang}"
        )
    langs_sorted = sorted(TX.LANG_MARKERS)
    gmax = "greatest(" + ", ".join(f"s_{lang}" for lang in langs_sorted) + ")"
    case_chain = " ".join(
        f"WHEN s_{lang} = {gmax} THEN '{lang}'" for lang in langs_sorted
    )
    sql["text_lang_id"] = f"""
        WITH scores AS (SELECT doc_id, {', '.join(lang_score_cols)} FROM documents)
        SELECT doc_id,
               CASE WHEN {gmax} <= 0 THEN 'und' {case_chain} ELSE 'und' END AS lang_guess
        FROM scores
    """

    sql["text_fingerprint"] = f"SELECT doc_id, {_NORM_FP} AS fingerprint FROM documents"

    sql["dedup_embed_cosine"] = """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.e, b.e), 6) AS cosine_sim
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.4
    """

    # Mirrors operators/multimodal.py::_blob_for's closed forms: the
    # Spark side builds a real container and PARSES its header; the
    # oracle recomputes the expected metadata arithmetically. A parser
    # or generator bug shows up as a value mismatch.
    sql["mm_decode_features"] = """
        WITH d AS (
            SELECT doc_id,
                   doc_id % 4 AS fmt,
                   8 + doc_id % 24 AS w,
                   8 + (doc_id * 3) % 24 AS h,
                   100 + doc_id % 200 AS dur
            FROM documents
        ),
        -- gif LZW stream length is closed-form: literal codes with a
        -- clear every 250 symbols, all 9-bit (see _gif_lzw_encode_literals)
        sz AS (
            SELECT *,
                   (9 * (w*h + 2 + (w*h - 1) // 250) + 7) // 8 AS lzw_bytes
            FROM d
        )
        SELECT doc_id,
               CASE fmt WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm'
                        WHEN 2 THEN 'gif' ELSE 'wav' END AS format,
               CASE WHEN fmt <= 2 THEN CAST(w AS INT) END AS width,
               CASE WHEN fmt <= 2 THEN CAST(h AS INT) END AS height,
               CASE WHEN fmt = 3 THEN CAST(dur AS BIGINT) END AS duration_ms,
               CAST(CASE fmt
                    WHEN 0 THEN 54 + ((3 * w + 3) // 4) * 4 * h
                    WHEN 1 THEN 9 + length(CAST(w AS VARCHAR))
                               + length(CAST(h AS VARCHAR)) + 3 * w * h
                    WHEN 2 THEN 794 + lzw_bytes + (lzw_bytes + 254) // 255
                    ELSE 44 + 16 * dur
               END AS BIGINT) AS n_bytes,
               CASE WHEN fmt <= 1 THEN floor(list_avg(rs) * 1000000.0 + 0.5) / 1000000.0
                    WHEN fmt = 2 THEN floor(list_avg(gidx) * 1000000.0 + 0.5) / 1000000.0 END AS mean_r,
               CASE WHEN fmt <= 1 THEN floor(list_avg(gs) * 1000000.0 + 0.5) / 1000000.0
                    WHEN fmt = 2 THEN floor(list_avg(list_transform(gidx, i -> 255 - i)) * 1000000.0 + 0.5) / 1000000.0 END AS mean_g,
               CASE WHEN fmt <= 1 THEN floor(list_avg(bs) * 1000000.0 + 0.5) / 1000000.0
                    WHEN fmt = 2 THEN floor(list_avg(list_transform(gidx, i -> (3 * i) % 256)) * 1000000.0 + 0.5) / 1000000.0 END AS mean_b,
               CASE WHEN fmt <= 1 THEN CAST(least(list_min(rs), list_min(gs), list_min(bs)) AS INT)
                    WHEN fmt = 2 THEN CAST(least(list_min(gidx),
                         list_min(list_transform(gidx, i -> 255 - i)),
                         list_min(list_transform(gidx, i -> (3 * i) % 256))) AS INT) END AS min_px,
               CASE WHEN fmt <= 1 THEN CAST(greatest(list_max(rs), list_max(gs), list_max(bs)) AS INT)
                    WHEN fmt = 2 THEN CAST(greatest(list_max(gidx),
                         list_max(list_transform(gidx, i -> 255 - i)),
                         list_max(list_transform(gidx, i -> (3 * i) % 256))) AS INT) END AS max_px,
               CASE WHEN fmt <= 1 THEN CAST(h * len(list_filter(range(0, w),
                    j -> ((299 * rs[j+1] + 587 * gs[j+1] + 114 * bs[j+1]) // 1000) // 64 = 0)) AS BIGINT)
                    WHEN fmt = 2 THEN CAST(len(list_filter(gidx,
                    i -> ((299 * i + 587 * (255 - i) + 114 * ((3 * i) % 256)) // 1000) // 64 = 0)) AS BIGINT) END AS lum_b0,
               CASE WHEN fmt <= 1 THEN CAST(h * len(list_filter(range(0, w),
                    j -> ((299 * rs[j+1] + 587 * gs[j+1] + 114 * bs[j+1]) // 1000) // 64 = 1)) AS BIGINT)
                    WHEN fmt = 2 THEN CAST(len(list_filter(gidx,
                    i -> ((299 * i + 587 * (255 - i) + 114 * ((3 * i) % 256)) // 1000) // 64 = 1)) AS BIGINT) END AS lum_b1,
               CASE WHEN fmt <= 1 THEN CAST(h * len(list_filter(range(0, w),
                    j -> ((299 * rs[j+1] + 587 * gs[j+1] + 114 * bs[j+1]) // 1000) // 64 = 2)) AS BIGINT)
                    WHEN fmt = 2 THEN CAST(len(list_filter(gidx,
                    i -> ((299 * i + 587 * (255 - i) + 114 * ((3 * i) % 256)) // 1000) // 64 = 2)) AS BIGINT) END AS lum_b2,
               CASE WHEN fmt <= 1 THEN CAST(h * len(list_filter(range(0, w),
                    j -> ((299 * rs[j+1] + 587 * gs[j+1] + 114 * bs[j+1]) // 1000) // 64 = 3)) AS BIGINT)
                    WHEN fmt = 2 THEN CAST(len(list_filter(gidx,
                    i -> ((299 * i + 587 * (255 - i) + 114 * ((3 * i) % 256)) // 1000) // 64 = 3)) AS BIGINT) END AS lum_b3
        FROM (
            -- bmp/ppm: per-row pixel bytes are (doc_id + i) % 256 in
            -- BGR (bmp) or RGB (ppm) channel order; every row is
            -- identical, so stats over one row scale by h.
            -- gif: pixel INDEX at raster position t is (doc_id+t)%256,
            -- palette i -> (i, 255-i, (3i)%256) — full-raster lists.
            SELECT *,
                   list_transform(range(0, w), j -> (doc_id + 3*j + CASE WHEN fmt = 0 THEN 2 ELSE 0 END) % 256) AS rs,
                   list_transform(range(0, w), j -> (doc_id + 3*j + 1) % 256) AS gs,
                   list_transform(range(0, w), j -> (doc_id + 3*j + CASE WHEN fmt = 0 THEN 0 ELSE 2 END) % 256) AS bs,
                   CASE WHEN fmt = 2 THEN list_transform(range(0, w*h), t -> (doc_id + t) % 256) END AS gidx
            FROM sz
        )
    """

    sql["graph_triangles"] = """
        WITH os AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS u
                    FROM lineitem),
        pairs AS (
            SELECT a.u AS u, b.u AS v
            FROM os a JOIN os b ON a.o = b.o AND a.u < b.u),
        supp AS (SELECT u, v, count(*) AS n FROM pairs GROUP BY u, v),
        edges AS (SELECT u, v FROM supp WHERE 2 * n >= (SELECT max(n) FROM supp)),
        deg AS (SELECT node, count(*) AS dg FROM (
                    SELECT u AS node FROM edges
                    UNION ALL SELECT v FROM edges) GROUP BY node),
        o AS (SELECT CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
                          THEN e.u ELSE e.v END AS s,
                     CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
                          THEN e.v ELSE e.u END AS t
              FROM edges e
              JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
        w AS (SELECT o1.s AS a, o1.t AS b, o2.t AS c
              FROM o o1 JOIN o o2 ON o1.s = o2.s
              JOIN deg db ON db.node = o1.t JOIN deg dc ON dc.node = o2.t
              WHERE db.dg < dc.dg OR (db.dg = dc.dg AND o1.t < o2.t)),
        tri AS (SELECT w.a, w.b, w.c FROM w
                JOIN o ON o.s = w.b AND o.t = w.c)
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri) GROUP BY node
    """

    sql["dedup_fuzzy_edit"] = f"""
        WITH keyed AS (
            SELECT doc_id, text,
                   array_to_string(list_slice({_WORD_TOKS}, 1, 5), ' ') AS blk
            FROM documents),
        k2 AS (SELECT * FROM keyed WHERE blk != ''),
        ok AS (SELECT blk FROM k2 GROUP BY blk HAVING count(*) <= 256)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist,
               CAST(greatest(length(a.text), length(b.text)) AS INT) AS max_len
        FROM k2 a
        JOIN k2 b ON a.blk = b.blk AND a.doc_id < b.doc_id
        JOIN ok ON ok.blk = a.blk
        WHERE 100 * abs(length(a.text) - length(b.text))
                <= 10 * greatest(length(a.text), length(b.text))
          AND 100 * levenshtein(a.text, b.text)
                <= 10 * greatest(length(a.text), length(b.text))
    """

    # EWMA: the SAME double literals Spark uses (repr of the Python
    # floats), summed in the same left-associative order — bit-exact.
    _ew = [repr((1.0 - 30 / 100.0) ** k) for k in range(8)]
    _ew_num = " + ".join(
        ["value * 1.0"]
        + [f"coalesce(lag(value, {k}) OVER w * {_ew[k]}, 0.0)" for k in range(1, 8)]
    )
    _ew_den = " + ".join(
        ["1.0"]
        + [
            f"CASE WHEN lag(value, {k}) OVER w IS NOT NULL THEN {_ew[k]} ELSE 0.0 END"
            for k in range(1, 8)
        ]
    )
    sql["w12_ewma"] = f"""
        SELECT user_id, event_id,
               floor(({_ew_num}) / ({_ew_den}) * 1000000.0 + 0.5)
                   / 1000000.0 AS ewma_value
        FROM events WHERE event_type = 'purchase'
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """

    sql["w17_interpolate"] = """
        WITH ev AS (SELECT user_id, ts, value,
                           CAST(date_trunc('day', ts) AS TIMESTAMP) AS tick
                    FROM events WHERE event_type = 'purchase'),
        grid AS (SELECT user_id,
                        unnest(generate_series(min(tick), max(tick),
                                               INTERVAL 1 DAY)) AS tick
                 FROM ev GROUP BY user_id),
        obs AS (SELECT user_id, tick, arg_max(value, ts) AS v
                FROM ev GROUP BY user_id, tick),
        b AS (SELECT g.user_id, g.tick, o.v,
                     last_value(o.v IGNORE NULLS) OVER wp AS pv,
                     last_value(CASE WHEN o.v IS NOT NULL
                                     THEN epoch(g.tick) END IGNORE NULLS)
                         OVER wp AS pt,
                     first_value(o.v IGNORE NULLS) OVER wf AS nv,
                     first_value(CASE WHEN o.v IS NOT NULL
                                      THEN epoch(g.tick) END IGNORE NULLS)
                         OVER wf AS nt
              FROM grid g
              LEFT JOIN obs o ON o.user_id = g.user_id AND o.tick = g.tick
              WINDOW wp AS (PARTITION BY g.user_id ORDER BY g.tick
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     wf AS (PARTITION BY g.user_id ORDER BY g.tick
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        SELECT user_id, CAST(epoch(tick) AS BIGINT) AS tick_s,
               floor((CASE WHEN v IS NOT NULL THEN v
                           WHEN nv IS NULL THEN pv
                           ELSE pv + (nv - pv) * ((epoch(tick) - pt) / (nt - pt))
                      END) * 1000000.0 + 0.5) / 1000000.0 AS value_filled,
               v IS NOT NULL AS is_observed
        FROM b
    """

    sql["t16_gap_fill"] = """
        WITH ev AS (SELECT user_id, ts, value,
                           CAST(date_trunc('day', ts) AS TIMESTAMP) AS tick
                    FROM events WHERE event_type = 'purchase'),
        grid AS (SELECT user_id,
                        unnest(generate_series(min(tick), max(tick),
                                               INTERVAL 1 DAY)) AS tick
                 FROM ev GROUP BY user_id),
        obs AS (SELECT user_id, tick, arg_max(value, ts) AS v
                FROM ev GROUP BY user_id, tick)
        SELECT g.user_id, g.tick,
               last_value(o.v IGNORE NULLS) OVER (
                   PARTITION BY g.user_id ORDER BY g.tick
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS value_filled,
               o.v IS NOT NULL AS is_observed
        FROM grid g
        LEFT JOIN obs o ON o.user_id = g.user_id AND o.tick = g.tick
    """

    # MMR: replay the 5 greedy steps via chained CTEs — cumulative
    # selected set selu{i}, per-step argmax with the same 6-dp-rounded
    # score and id tie-break the Spark operator uses.
    _mmr_steps = []
    for _i in range(2, 6):
        _mmr_steps.append(f"""
        sel{_i} AS (
            SELECT c{_i}.vec_id, {_i} AS rank,
                   floor((70 * c{_i}.rel - 30 * m.ms) / 100
                         * 1000000.0 + 0.5) / 1000000.0 AS mmr_score
            FROM cand c{_i}
            JOIN (SELECT a, max(sim) AS ms FROM s
                  WHERE b IN (SELECT vec_id FROM selu{_i - 1}) GROUP BY a) m
              ON m.a = c{_i}.vec_id
            WHERE c{_i}.vec_id NOT IN (SELECT vec_id FROM selu{_i - 1})
            ORDER BY mmr_score DESC, c{_i}.vec_id ASC LIMIT 1),
        selu{_i} AS (SELECT * FROM selu{_i - 1} UNION ALL SELECT * FROM sel{_i})""")
    sql["ann_mmr_rerank"] = f"""
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id = 0),
        c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        cand AS (
            SELECT vec_id, round(list_cosine_similarity(cv, qv), 6) AS rel
            FROM c CROSS JOIN q WHERE vec_id <> 0
            ORDER BY rel DESC, vec_id ASC LIMIT 20),
        s AS (SELECT x.vec_id AS a, y.vec_id AS b,
                     round(list_cosine_similarity(cx.cv, cy.cv), 6) AS sim
              FROM cand x JOIN cand y ON x.vec_id <> y.vec_id
              JOIN c cx ON cx.vec_id = x.vec_id
              JOIN c cy ON cy.vec_id = y.vec_id),
        sel1 AS (SELECT vec_id, 1 AS rank,
                        floor(70 * rel / 100 * 1000000.0 + 0.5)
                            / 1000000.0 AS mmr_score
                 FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1),
        selu1 AS (SELECT * FROM sel1),{",".join(_mmr_steps)}
        SELECT vec_id, CAST(rank AS INT) AS rank, mmr_score FROM selu5
    """

    sql["a25_event_paths"] = """
        WITH g AS (
            SELECT concat_ws('>',
                       lag(event_type, 2) OVER w,
                       lag(event_type, 1) OVER w,
                       event_type) AS path,
                   lag(event_type, 2) OVER w IS NOT NULL AS is_full
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT path, count(*) AS n_occurrences
        FROM g WHERE is_full
        GROUP BY path
        ORDER BY n_occurrences DESC, path ASC
        LIMIT 10
    """

    sql["dq_skew_report"] = """
        WITH c AS (SELECT l_suppkey, count(*) AS cnt
                   FROM lineitem GROUP BY l_suppkey),
        r AS (SELECT cnt, row_number() OVER (ORDER BY cnt ASC, l_suppkey ASC)
                         AS i
              FROM c),
        g AS (SELECT count(*) AS n, sum(cnt) AS tot, sum(i * cnt) AS isum
              FROM r)
        SELECT l_suppkey, cnt,
               floor(cnt / tot * 1000000.0 + 0.5) / 1000000.0 AS share,
               floor((2.0 * isum / (n * tot) - (n + 1.0) / n)
                     * 1000000.0 + 0.5) / 1000000.0 AS gini,
               n AS n_keys
        FROM c, g
        ORDER BY cnt DESC, l_suppkey ASC
        LIMIT 10
    """

    sql["train_winsorize"] = """
        WITH p AS (SELECT event_type,
                          quantile_cont(value, 0.05) AS lo,
                          quantile_cont(value, 0.95) AS hi
                   FROM events GROUP BY event_type)
        SELECT event_id, e.event_type, value,
               least(greatest(value, lo), hi) AS value_winsorized,
               (value < lo OR value > hi) AS was_clipped
        FROM events e JOIN p ON e.event_type = p.event_type
    """

    sql["a23_basket_lift"] = """
        WITH op AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                    FROM lineitem),
        nb AS (SELECT count(DISTINCT b) AS n FROM op),
        it AS (SELECT i, count(*) AS ni FROM op GROUP BY i),
        pr AS (SELECT a.i AS ia, c.i AS ib, count(*) AS support
               FROM op a JOIN op c ON a.b = c.b AND a.i < c.i
               GROUP BY a.i, c.i
               HAVING count(*) >= 2)
        SELECT pr.ia AS item_a, pr.ib AS item_b, pr.support,
               floor(CAST(pr.support * nb.n AS DOUBLE)
                     / CAST(na.ni * nc.ni AS DOUBLE)
                     * 1000000.0 + 0.5) / 1000000.0 AS lift
        FROM pr, nb
        JOIN it na ON na.i = pr.ia
        JOIN it nc ON nc.i = pr.ib
        ORDER BY lift DESC, item_a ASC, item_b ASC
        LIMIT 20
    """

    sql["a24_trend_slope"] = """
        WITH p AS (SELECT user_id,
                          -- floor(epoch) = Spark's unix_timestamp second
                          -- truncation (ts carries microseconds)
                          CAST(floor(epoch(ts))
                               - epoch(TIMESTAMP '2024-01-01 00:00:00')
                               AS DECIMAL(18,0)) AS x,
                          CAST(value AS DECIMAL(12,2)) AS y
                   FROM events WHERE event_type = 'purchase'),
        agg AS (SELECT user_id,
                       CAST(count(*) AS DOUBLE) AS n,
                       CAST(sum(x) AS DOUBLE) AS sx,
                       CAST(sum(y) AS DOUBLE) AS sy,
                       CAST(sum(x * y) AS DOUBLE) AS sxy,
                       CAST(sum(x * x) AS DOUBLE) AS sxx
                FROM p GROUP BY user_id)
        SELECT user_id, CAST(n AS BIGINT) AS n_points,
               floor((n * sxy - sx * sy) * 86400.0
                     / nullif(n * sxx - sx * sx, 0.0)
                     * 1000000.0 + 0.5) / 1000000.0 AS slope_per_day
        FROM agg
    """

    sql["s21_table_diff"] = """
        WITH r AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0
                        ELSE o_totalprice END AS o_totalprice,
                   o_custkey, o_orderstatus, o_orderdate, o_orderpriority
            FROM orders WHERE o_orderkey % 97 != 0
            UNION ALL
            SELECT o_orderkey + 1000000000, o_totalprice, o_custkey,
                   o_orderstatus, o_orderdate, o_orderpriority
            FROM orders WHERE o_orderkey % 101 = 0)
        SELECT coalesce(l.o_orderkey, r.o_orderkey) AS o_orderkey,
               CASE WHEN r.o_orderkey IS NULL THEN 'removed'
                    WHEN l.o_orderkey IS NULL THEN 'added'
                    ELSE 'changed' END AS diff_status
        FROM orders l FULL JOIN r ON l.o_orderkey = r.o_orderkey
        WHERE r.o_orderkey IS NULL OR l.o_orderkey IS NULL
           OR l.o_totalprice IS DISTINCT FROM r.o_totalprice
           OR l.o_custkey IS DISTINCT FROM r.o_custkey
           OR l.o_orderstatus IS DISTINCT FROM r.o_orderstatus
           OR l.o_orderdate IS DISTINCT FROM r.o_orderdate
           OR l.o_orderpriority IS DISTINCT FROM r.o_orderpriority
    """

    sql["t17_unpivot"] = """
        WITH wide AS (
            SELECT l_returnflag,
                   CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                       AS quantity,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                       AS extendedprice,
                   CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
                       AS discount,
                   CAST(sum(CAST(l_tax AS DECIMAL(12,2))) AS DOUBLE) AS tax
            FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, 'quantity' AS measure, quantity AS total FROM wide
        UNION ALL SELECT l_returnflag, 'extendedprice', extendedprice FROM wide
        UNION ALL SELECT l_returnflag, 'discount', discount FROM wide
        UNION ALL SELECT l_returnflag, 'tax', tax FROM wide
    """

    sql["dq_observe"] = """
        WITH carrier AS (
            SELECT o_orderpriority,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
                        AS DOUBLE) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority)
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(sum(CASE WHEN revenue IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS null_revenue,
               min(revenue) AS min_revenue
        FROM carrier
    """

    sql["dq_report"] = """
        WITH agg AS (
            SELECT
                CAST(count(*) - count(DISTINCT o_orderkey) AS DOUBLE) AS m_unique,
                CAST(sum(CASE WHEN o_orderstatus IS NULL
                                OR o_orderstatus NOT IN ('O', 'F', 'P')
                              THEN 1 ELSE 0 END) AS DOUBLE) AS m_acc,
                CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END)
                     AS DOUBLE) AS m_neg,
                floor(CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                           AS DOUBLE) / count(*) * 1000000.0 + 0.5)
                    / 1000000.0 AS m_null,
                CAST(datediff('day', TIMESTAMP '2000-01-01', max(o_orderdate))
                     AS DOUBLE) AS m_fresh
            FROM orders),
        orph AS (
            SELECT CAST(count(*) AS DOUBLE) AS m FROM orders
            WHERE o_custkey IS NOT NULL
              AND o_custkey NOT IN (SELECT c_custkey FROM customer))
        SELECT 'unique:o_orderkey' AS rule, m_unique AS metric,
               0.0 AS threshold, m_unique <= 0 AS passed FROM agg
        UNION ALL SELECT 'accepted:o_orderstatus', m_acc, 0.0, m_acc <= 0 FROM agg
        UNION ALL SELECT 'non_negative:o_totalprice', m_neg, 0.0, m_neg <= 0 FROM agg
        UNION ALL SELECT 'null_rate:o_orderpriority', m_null, 0.5, m_null <= 0.5 FROM agg
        UNION ALL SELECT 'fresh_after:o_orderdate', m_fresh, 0.0, m_fresh > 0 FROM agg
        UNION ALL SELECT 'references:o_custkey->c_custkey', m, 0.0, m <= 0 FROM orph
    """

    # Streaming DQ twin: the SAME report SQL evaluated per data-
    # determined half (o_orderkey parity = one micro-batch each),
    # UNION ALLed — batch_id is intentionally absent from the surface
    # (see _q_stream_dq_report), so the multiset is order-independent.
    def _dq_half(pred: str) -> str:
        return f"""
        WITH half AS (SELECT * FROM orders WHERE {pred}),
        agg AS (
            SELECT
                CAST(count(*) - count(DISTINCT o_orderkey) AS DOUBLE) AS m_unique,
                CAST(sum(CASE WHEN o_orderstatus IS NULL
                                OR o_orderstatus NOT IN ('O', 'F', 'P')
                              THEN 1 ELSE 0 END) AS DOUBLE) AS m_acc,
                CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END)
                     AS DOUBLE) AS m_neg,
                floor(CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                           AS DOUBLE) / count(*) * 1000000.0 + 0.5)
                    / 1000000.0 AS m_null,
                CAST(datediff('day', TIMESTAMP '2000-01-01', max(o_orderdate))
                     AS DOUBLE) AS m_fresh
            FROM half),
        orph AS (
            SELECT CAST(count(*) AS DOUBLE) AS m FROM half
            WHERE o_custkey IS NOT NULL
              AND o_custkey NOT IN (SELECT c_custkey FROM customer))
        SELECT 'unique:o_orderkey' AS rule, m_unique AS metric,
               0.0 AS threshold, m_unique <= 0 AS passed FROM agg
        UNION ALL SELECT 'accepted:o_orderstatus', m_acc, 0.0, m_acc <= 0 FROM agg
        UNION ALL SELECT 'non_negative:o_totalprice', m_neg, 0.0, m_neg <= 0 FROM agg
        UNION ALL SELECT 'null_rate:o_orderpriority', m_null, 0.5, m_null <= 0.5 FROM agg
        UNION ALL SELECT 'fresh_after:o_orderdate', m_fresh, 0.0, m_fresh > 0 FROM agg
        UNION ALL SELECT 'references:o_custkey->c_custkey', m, 0.0, m <= 0 FROM orph
        """

    sql["stream_dq_report"] = (
        "SELECT * FROM ("
        + _dq_half("o_orderkey % 2 = 0")
        + ") UNION ALL SELECT * FROM ("
        + _dq_half("o_orderkey % 2 <> 0")
        + ")"
    )

    # i6 incremental maintenance must equal the FULL rebuild, so its
    # oracle IS the t15 islands SQL (assigned right after t15 below).
    sql["t15_scd2_dimension"] = """
        WITH p AS (
            SELECT user_id, CAST(floor(value / 25) AS INT) AS tier, ts, event_id
            FROM events
            WHERE event_type = 'purchase' AND value IS NOT NULL),
        l AS (
            SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                             OR tier IS DISTINCT FROM lag(tier) OVER w
                           THEN 1 ELSE 0 END AS is_change
            FROM p
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (SELECT user_id, tier, ts, event_id FROM l WHERE is_change = 1),
        v AS (
            SELECT user_id, tier, ts AS effective_from,
                   coalesce(lead(ts) OVER w2,
                            TIMESTAMP '2100-01-01 00:00:00') AS effective_to,
                   CAST(row_number() OVER w2 AS INT) AS version
            FROM s
            WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT user_id, tier, effective_from, effective_to,
               effective_to = TIMESTAMP '2100-01-01 00:00:00' AS is_current,
               version
        FROM v
    """
    sql["i6_scd2_apply_changes"] = sql["t15_scd2_dimension"]
    sql["stream_scd2"] = sql["t15_scd2_dimension"]

    sql["text_hybrid_rrf"] = f"""
        WITH toks AS (SELECT doc_id, {_WORD_TOKS} AS t FROM documents),
        lens AS (SELECT doc_id, len(t) AS dl, t FROM toks),
        stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
        occ AS (SELECT doc_id, dl, unnest(t) AS term FROM lens),
        tf AS (
            SELECT doc_id, dl, term, count(*) AS tf FROM occ
            WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2, 3),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        bm_scored AS (
            SELECT tf.doc_id,
                   ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl)) AS partial
            FROM tf JOIN df USING (term) CROSS JOIN stats s),
        bm_agg AS (
            SELECT doc_id,
                   floor(sum(partial) * 1000000.0 + 0.5) / 1000000.0 AS score
            FROM bm_scored GROUP BY 1),
        bm AS (
            SELECT doc_id, CAST(row_number() OVER (
                       ORDER BY score DESC, doc_id ASC) AS INT) AS bm25_rank
            FROM (SELECT * FROM bm_agg
                  ORDER BY score DESC, doc_id ASC LIMIT 50)),
        q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id = 0),
        cos_scored AS (
            SELECT vec_id AS doc_id,
                   round(list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]), qv), 6) AS cosine_sim
            FROM embeddings CROSS JOIN q WHERE vec_id <> 0),
        cos AS (
            SELECT doc_id, CAST(rank AS INT) AS cos_rank FROM (
                SELECT doc_id, row_number() OVER (
                    ORDER BY cosine_sim DESC, doc_id ASC) AS rank
                FROM cos_scored) WHERE rank <= 50),
        fused AS (
            SELECT coalesce(bm.doc_id, cos.doc_id) AS doc_id,
                   coalesce(bm.bm25_rank, 0) AS bm25_rank,
                   coalesce(cos.cos_rank, 0) AS cos_rank,
                   floor((coalesce(1.0 / (60 + bm.bm25_rank), 0.0)
                          + coalesce(1.0 / (60 + cos.cos_rank), 0.0))
                         * 1000000.0 + 0.5) / 1000000.0 AS rrf_score
            FROM bm FULL OUTER JOIN cos ON bm.doc_id = cos.doc_id)
        SELECT doc_id, bm25_rank, cos_rank, rrf_score FROM fused
        ORDER BY rrf_score DESC, doc_id ASC LIMIT 10
    """

    sql["w11_session_window"] = """
        WITH lagged AS (
            SELECT user_id, event_id, ts,
                   -- exact-microsecond gap: Spark's session_window merges iff
                   -- next.ts < prev.ts + gap at FULL timestamp precision, so
                   -- the oracle must not floor to seconds before differencing
                   -- (a floored diff of 1800 can be a true diff of 1799.3s —
                   -- one such tie exists at sf0.1). The hand-rolled w3
                   -- sessionizer deliberately floors; this twin pins the
                   -- built-in's stricter semantics.
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                             >= 1800 * 1000000
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sessions AS (
            SELECT user_id, ts,
                   CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_seq
            FROM lagged)
        SELECT user_id, count(*) AS n_events,
               min(ts) AS session_start, max(ts) AS session_end,
               max(CAST(floor(epoch(ts)) AS BIGINT)) - min(CAST(floor(epoch(ts)) AS BIGINT)) AS duration_s
        FROM sessions GROUP BY user_id, session_seq
    """

    sql["s20_incremental_agg"] = """
        WITH live AS (
            SELECT user_id % 100 AS grp, user_id AS payload
            FROM events
            WHERE event_id % 3 IN (0, 1) AND event_id % 12 <> 0
        )
        SELECT count(DISTINCT grp) AS n_groups,
               count(*) AS n_rows,
               CAST(sum(payload) AS BIGINT) AS payload_total,
               TRUE AS first_build_full,
               TRUE AS append_was_incremental,
               TRUE AS dv_maintained_via_cdc,
               TRUE AS view_equals_recompute
        FROM live
    """

    sql["s19_change_feed"] = """
        WITH s AS (SELECT event_id AS k, user_id AS p
                   FROM events WHERE event_id % 9 = 0),
        ins AS (SELECT event_id AS k FROM events WHERE event_id % 9 = 3),
        del AS (SELECT k, p FROM s WHERE k % 27 = 0),
        upd AS (SELECT k, p FROM s WHERE k % 18 = 0 AND k % 27 <> 0)
        SELECT * FROM (
            SELECT 'insert' AS change_type, count(*) AS n,
                   CAST(sum(k) AS BIGINT) AS key_sum,
                   CAST(-count(*) AS BIGINT) AS payload_sum FROM ins
            UNION ALL
            SELECT 'delete', count(*), CAST(sum(k) AS BIGINT),
                   CAST(sum(p) AS BIGINT) FROM del
            UNION ALL
            SELECT 'update_preimage', count(*), CAST(sum(k) AS BIGINT),
                   CAST(sum(p) AS BIGINT) FROM upd
            UNION ALL
            SELECT 'update_postimage', count(*), CAST(sum(k) AS BIGINT),
                   CAST(-count(*) AS BIGINT) FROM upd
        ) ORDER BY change_type
    """

    sql["a22_attribution"] = """
        WITH touch AS (
            SELECT user_id, ts, event_type,
                   row_number() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type <> 'purchase'),
        t2 AS (SELECT user_id, ts, event_type FROM touch WHERE rn = 1),
        conv AS (SELECT event_id, user_id, ts FROM events
                 WHERE event_type = 'purchase'),
        last AS (
            SELECT c.event_id, c.user_id, c.ts,
                   (SELECT t.event_type FROM t2 t
                    WHERE t.user_id = c.user_id AND t.ts <= c.ts
                    ORDER BY t.ts DESC LIMIT 1) AS lt_type,
                   (SELECT max(t.ts) FROM t2 t
                    WHERE t.user_id = c.user_id AND t.ts <= c.ts) AS lt_ts
            FROM conv c)
        SELECT CASE WHEN lt_ts IS NOT NULL
                     AND lt_ts >= ts - INTERVAL 7 DAY
                    THEN lt_type ELSE 'unattributed' END AS credit,
               count(*) AS n_conversions,
               count(DISTINCT user_id) AS n_users
        FROM last
        GROUP BY 1 ORDER BY 1
    """

    sql["f10_dynamic_partition_pruning"] = """
        SELECT event_type, count(*) AS n_events,
               CAST(sum(user_id) AS BIGINT) AS user_sum,
               TRUE AS dpp_injected,
               TRUE AS dpp_attributable_and_lossless
        FROM events
        WHERE event_type IN ('purchase', 'signup')
        GROUP BY event_type
    """

    sql["train_weighted_sample"] = """
        SELECT doc_id, source, n_chars,
               CAST(floor(
                   ln((CAST(CAST(('0x' || substr(md5(doc_id || 'r5'), 1, 8)) AS UBIGINT) AS DOUBLE) + 1.0)
                      / 4294967296.0)
                   / CAST(n_chars AS DOUBLE)
                   * 1000000.0 + 0.5) AS BIGINT) AS es_key_micro
        FROM documents
        WHERE n_chars > 0
        ORDER BY ln((CAST(CAST(('0x' || substr(md5(doc_id || 'r5'), 1, 8)) AS UBIGINT) AS DOUBLE) + 1.0)
                    / 4294967296.0)
                 / CAST(n_chars AS DOUBLE) DESC,
                 doc_id ASC
        LIMIT 50
    """

    sql["train_corpus_drift"] = f"""
        WITH toks AS (SELECT source, unnest({_WORD_TOKS}) AS tok
                      FROM documents WHERE source IN ('src0', 'src1')),
        tb AS (SELECT source,
                      CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT) % 2048 AS BIGINT) AS bucket
               FROM toks),
        st AS (SELECT bucket,
                      CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                      CAST(sum(CASE WHEN source = 'src0' THEN 0 ELSE 1 END) AS BIGINT) AS n_b
               FROM tb GROUP BY bucket),
        tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS a_tot,
                       CAST(sum(n_b) AS BIGINT) AS b_tot FROM st)
        SELECT bucket, n_a, n_b,
               CAST(floor(log2(CAST((n_a + 1) * (b_tot + 2048) AS DOUBLE)
                             / CAST((n_b + 1) * (a_tot + 2048) AS DOUBLE))
                          * 1000000.0 + 0.5) AS BIGINT) AS lr_micro
        FROM st, tot
        ORDER BY abs(lr_micro) DESC, bucket ASC
        LIMIT 20
    """

    sql["mm_spectral_stats"] = """
        WITH d AS (
            SELECT doc_id, CAST(800 + 8 * (doc_id % 200) AS BIGINT) AS n_samples
            FROM documents WHERE doc_id % 4 = 3
        ),
        s AS (
            SELECT doc_id, n_samples, unnest(range(0, n_samples)) AS k FROM d
        ),
        v AS (
            SELECT doc_id, n_samples,
                   CASE WHEN ((doc_id + 2*k) % 256) + 256 * ((doc_id + 2*k + 1) % 256) >= 32768
                        THEN ((doc_id + 2*k) % 256) + 256 * ((doc_id + 2*k + 1) % 256) - 65536
                        ELSE ((doc_id + 2*k) % 256) + 256 * ((doc_id + 2*k + 1) % 256) END AS smp
            FROM s
        )
        SELECT doc_id, n_samples,
               n_samples // 2 + 1 AS n_bins,
               CAST(sum(smp) AS BIGINT) AS dc_sum,
               CAST(sum(smp * smp) AS BIGINT) AS energy,
               n_samples // 128 AS fundamental_bin_lo,
               TRUE AS peak_at_fundamental,
               TRUE AS parseval_holds
        FROM v GROUP BY doc_id, n_samples
    """

    sql["mm_audio_vad"] = """
        WITH d AS (
            SELECT doc_id, CAST(800 + 8 * (doc_id % 200) AS BIGINT) AS n_samples
            FROM documents WHERE doc_id % 4 = 3
        ),
        s AS (
            SELECT doc_id, unnest(range(0, (n_samples // 100) * 100)) AS k FROM d
        ),
        v AS (
            SELECT doc_id, k // 100 AS f,
                   CASE WHEN ((doc_id + 2*k) % 256) + 256 * ((doc_id + 2*k + 1) % 256) >= 32768
                        THEN ((doc_id + 2*k) % 256) + 256 * ((doc_id + 2*k + 1) % 256) - 65536
                        ELSE ((doc_id + 2*k) % 256) + 256 * ((doc_id + 2*k + 1) % 256) END AS smp
            FROM s
        ),
        fl AS (
            SELECT doc_id, f,
                   CASE WHEN sum(abs(smp)) > 16384 * 100 THEN 1 ELSE 0 END AS a
            FROM v GROUP BY 1, 2
        ),
        seg AS (
            SELECT doc_id, f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS rid
            FROM fl WHERE a = 1
        ),
        rl AS (SELECT doc_id, rid, count(*) AS len FROM seg GROUP BY 1, 2),
        per AS (
            SELECT fl.doc_id,
                   count(*) AS n_frames,
                   sum(a) AS n_active
            FROM fl GROUP BY 1
        ),
        runs AS (
            SELECT doc_id, count(*) AS n_segments, max(len) AS longest_run
            FROM rl GROUP BY 1
        )
        SELECT per.doc_id,
               CAST(n_frames AS BIGINT) AS n_frames,
               CAST(n_active AS BIGINT) AS n_active,
               CAST(coalesce(n_segments, 0) AS BIGINT) AS n_segments,
               CAST(coalesce(longest_run, 0) AS BIGINT) AS longest_run,
               floor(CAST(n_active AS DOUBLE) / n_frames * 1000000.0 + 0.5) / 1000000.0 AS active_ratio
        FROM per LEFT JOIN runs USING (doc_id)
    """

    sql["mm_vad_segments"] = """
        WITH d AS (
            SELECT doc_id, CAST(800 + 8 * (doc_id % 200) AS BIGINT) AS n_samples
            FROM documents WHERE doc_id % 4 = 3
        ),
        s AS (
            SELECT doc_id, unnest(range(0, (n_samples // 100) * 100)) AS k FROM d
        ),
        v AS (
            SELECT doc_id, k // 100 AS f,
                   CASE WHEN ((doc_id + 2*k) % 256) + 256 * ((doc_id + 2*k + 1) % 256) >= 32768
                        THEN ((doc_id + 2*k) % 256) + 256 * ((doc_id + 2*k + 1) % 256) - 65536
                        ELSE ((doc_id + 2*k) % 256) + 256 * ((doc_id + 2*k + 1) % 256) END AS smp
            FROM s
        ),
        fl AS (
            SELECT doc_id, f,
                   CASE WHEN sum(abs(smp)) > 16384 * 100 THEN 1 ELSE 0 END AS a
            FROM v GROUP BY 1, 2
        ),
        seg AS (
            SELECT doc_id, f,
                   f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS rid
            FROM fl WHERE a = 1
        ),
        rl AS (
            SELECT doc_id, rid, min(f) AS start_frame, max(f) AS end_frame,
                   count(*) AS seg_frames
            FROM seg GROUP BY 1, 2
        )
        SELECT doc_id,
               CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_frame) - 1 AS BIGINT) AS seg_id,
               CAST(start_frame AS BIGINT) AS start_frame,
               CAST(end_frame AS BIGINT) AS end_frame,
               CAST(seg_frames AS BIGINT) AS seg_frames
        FROM rl
    """

    sql["mm_audio_stats"] = """
        WITH d AS (
            SELECT doc_id, CAST(800 + 8 * (doc_id % 200) AS BIGINT) AS n_samples
            FROM documents WHERE doc_id % 4 = 3
        ),
        s AS (
            SELECT doc_id, n_samples, unnest(range(0, n_samples)) AS k FROM d
        ),
        v AS (
            -- payload byte i is (doc_id + i) % 256; sample k is the
            -- little-endian int16 at bytes (2k, 2k+1)
            SELECT doc_id, n_samples, k,
                   CASE WHEN ((doc_id + 2*k) % 256) + 256 * ((doc_id + 2*k + 1) % 256) >= 32768
                        THEN ((doc_id + 2*k) % 256) + 256 * ((doc_id + 2*k + 1) % 256) - 65536
                        ELSE ((doc_id + 2*k) % 256) + 256 * ((doc_id + 2*k + 1) % 256) END AS smp
            FROM s
        ),
        lagged AS (
            SELECT *, lag(smp) OVER (PARTITION BY doc_id ORDER BY k) AS prev FROM v
        )
        SELECT doc_id,
               CAST(8000 AS INT) AS sample_rate,
               n_samples,
               CAST(max(abs(smp)) AS INT) AS peak_abs,
               floor(sqrt(sum(CAST(smp AS DOUBLE) * smp) / n_samples) * 1000000.0 + 0.5) / 1000000.0 AS rms,
               CAST(sum(CASE WHEN prev IS NOT NULL AND ((smp < 0) <> (prev < 0))
                             THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        FROM lagged
        GROUP BY doc_id, n_samples
    """

    sql["mm_resize_stats"] = """
        WITH d AS (
            SELECT doc_id, doc_id % 4 AS fmt,
                   8 + doc_id % 24 AS w, 8 + (doc_id * 3) % 24 AS h
            FROM documents WHERE doc_id % 4 <> 3
        ),
        m AS (
            SELECT *,
                   list_transform(range(0, 8), x -> (x * w) // 8) AS sxs,
                   list_transform(range(0, 8), y -> (y * h) // 8) AS sys,
                   (7 * w) // 8 AS sxb, (7 * h) // 8 AS syb
            FROM d
        ),
        v AS (
            SELECT *,
                -- per-sampled-column channel values for the
                -- row-independent formats (bmp is BGR on disk: R at +2)
                CASE WHEN fmt = 0 THEN list_transform(sxs, sx -> (doc_id + 3*sx + 2) % 256)
                     WHEN fmt = 1 THEN list_transform(sxs, sx -> (doc_id + 3*sx) % 256) END AS rr,
                CASE WHEN fmt <= 1 THEN list_transform(sxs, sx -> (doc_id + 3*sx + 1) % 256) END AS gg,
                CASE WHEN fmt = 0 THEN list_transform(sxs, sx -> (doc_id + 3*sx) % 256)
                     WHEN fmt = 1 THEN list_transform(sxs, sx -> (doc_id + 3*sx + 2) % 256) END AS bb,
                -- gif: 64 sampled palette indices
                CASE WHEN fmt = 2 THEN flatten(list_transform(sys,
                     sy -> list_transform(sxs, sx -> (doc_id + sy*w + sx) % 256))) END AS gi
            FROM m
        )
        SELECT doc_id,
               CASE fmt WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm' ELSE 'gif' END AS format,
               CAST(8 AS INT) AS out_w, CAST(8 AS INT) AS out_h,
               CASE WHEN fmt <= 1 THEN floor(list_avg(rr) * 1000000.0 + 0.5) / 1000000.0
                    ELSE floor(list_avg(gi) * 1000000.0 + 0.5) / 1000000.0 END AS mean_r,
               CASE WHEN fmt <= 1 THEN floor(list_avg(gg) * 1000000.0 + 0.5) / 1000000.0
                    ELSE floor(list_avg(list_transform(gi, i -> 255 - i)) * 1000000.0 + 0.5) / 1000000.0 END AS mean_g,
               CASE WHEN fmt <= 1 THEN floor(list_avg(bb) * 1000000.0 + 0.5) / 1000000.0
                    ELSE floor(list_avg(list_transform(gi, i -> (3*i) % 256)) * 1000000.0 + 0.5) / 1000000.0 END AS mean_b,
               CAST(CASE WHEN fmt = 0 THEN (doc_id + 2) % 256
                         WHEN fmt = 1 THEN doc_id % 256
                         ELSE doc_id % 256 END AS INT) AS tl_r,
               CAST(CASE WHEN fmt <= 1 THEN (doc_id + 1) % 256
                         ELSE 255 - doc_id % 256 END AS INT) AS tl_g,
               CAST(CASE WHEN fmt = 0 THEN doc_id % 256
                         WHEN fmt = 1 THEN (doc_id + 2) % 256
                         ELSE (3 * (doc_id % 256)) % 256 END AS INT) AS tl_b,
               CAST(CASE WHEN fmt = 0 THEN (doc_id + 3*sxb + 2) % 256
                         WHEN fmt = 1 THEN (doc_id + 3*sxb) % 256
                         ELSE (doc_id + syb*w + sxb) % 256 END AS INT) AS br_r,
               CAST(CASE WHEN fmt <= 1 THEN (doc_id + 3*sxb + 1) % 256
                         ELSE 255 - (doc_id + syb*w + sxb) % 256 END AS INT) AS br_g,
               CAST(CASE WHEN fmt = 0 THEN (doc_id + 3*sxb) % 256
                         WHEN fmt = 1 THEN (doc_id + 3*sxb + 2) % 256
                         ELSE (3 * ((doc_id + syb*w + sxb) % 256)) % 256 END AS INT) AS br_b
        FROM v
    """

    sql["q3_shipping_priority"] = """
        SELECT l_orderkey,
               CAST(o_orderdate AS DATE) AS o_orderdate,
               o_orderpriority,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING'
          AND c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
          AND CAST(l_shipdate AS DATE) > DATE '1998-01-01'
        GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
        ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        LIMIT 10
    """

    sql["q5_local_supplier_volume"] = """
        SELECT n_name,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
          AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        GROUP BY n_name
    """

    sql["s16_zorder_pruning"] = """
        SELECT count(*) AS n_rows,
               CAST(sum(user_id) AS BIGINT) AS payload_sum,
               TRUE AS zorder_skipped_files,
               TRUE AS pruned_equals_full
        FROM events
        WHERE event_id % 7 = 0
          AND (user_id % 256) BETWEEN 32 AND 95
          AND (event_id % 256) BETWEEN 64 AND 127
    """

    sql["a21_cms_heavy_hitters"] = """
        SELECT event_type, count(*) AS exact_count,
               TRUE AS never_undercounts,
               TRUE AS within_eps_bound
        FROM events GROUP BY event_type ORDER BY event_type
    """

    sql["mm_dhash_neardup"] = """
        WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w, 8 + (doc_id * 3) % 24 AS h
                   FROM documents WHERE doc_id % 4 = 2),
        grid AS (SELECT doc_id, w, h,
                        unnest(range(0, 8)) AS y
                 FROM d),
        cells AS (SELECT doc_id, w, h, y, unnest(range(0, 9)) AS x FROM grid),
        lum AS (SELECT doc_id, y, x,
                       (255 + (3 * ((doc_id + ((y * h) // 8) * w + (x * w) // 9) % 256)) % 256) // 3 AS l
                FROM cells),
        bits AS (SELECT a.doc_id, a.y, a.x,
                        CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
                 FROM lum a JOIN lum b
                   ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
                 WHERE a.x < 8),
        rowbytes AS (SELECT doc_id, y,
                            CAST(sum(bit * (1 << (7 - CAST(x AS INT)))) AS INT) AS rb
                     FROM bits GROUP BY doc_id, y),
        sig AS (SELECT doc_id,
                       string_agg(lpad(lower(hex(rb)), 2, '0'), '' ORDER BY y) AS dhash
                FROM rowbytes GROUP BY doc_id),
        cand AS (SELECT DISTINCT s1.doc_id AS a, s2.doc_id AS b,
                        s1.dhash AS ha, s2.dhash AS hb
                 FROM sig s1 JOIN sig s2 ON s1.doc_id < s2.doc_id
                 JOIN (SELECT unnest(range(0, 4)) AS i) bi
                   ON substr(s1.dhash, 1 + 4 * CAST(bi.i AS INT), 4)
                    = substr(s2.dhash, 1 + 4 * CAST(bi.i AS INT), 4)),
        pairs AS (SELECT a, b,
                         bit_count(xor(CAST(CAST('0x' || substr(ha, 1, 8) AS UBIGINT) AS BIGINT),
                                       CAST(CAST('0x' || substr(hb, 1, 8) AS UBIGINT) AS BIGINT)))
                       + bit_count(xor(CAST(CAST('0x' || substr(ha, 9, 8) AS UBIGINT) AS BIGINT),
                                       CAST(CAST('0x' || substr(hb, 9, 8) AS UBIGINT) AS BIGINT))) AS hamming
                  FROM cand),
        nd AS (SELECT a, b, hamming FROM pairs WHERE hamming <= 8),
        sym AS (SELECT a AS doc_id, hamming FROM nd
                UNION ALL SELECT b AS doc_id, hamming FROM nd),
        agg AS (SELECT doc_id, count(*) AS n_partners, min(hamming) AS min_hamming
                FROM sym GROUP BY doc_id)
        SELECT s.doc_id, s.dhash,
               CAST(coalesce(n_partners, 0) AS BIGINT) AS n_partners,
               CAST(min_hamming AS BIGINT) AS min_hamming
        FROM sig s LEFT JOIN agg USING (doc_id)
    """

    # pHash oracle: recomputes every hash bit-identically — the fixture
    # pixel formula feeds the SAME fixed-point cosine table (injected
    # below as literals from PHASH_COS_TAB) through an exact-int64
    # separable DCT; p = v*8 + u - 1 because the Spark side's row-major
    # flatten runs over (vertical u, horizontal v) while the SQL's
    # first contraction is over x (so its `u` is horizontal).
    from chesscom_etl_tableau_spark.operators.multimodal import PHASH_COS_TAB

    _phash_tab = ",".join(
        f"({k},{n},{PHASH_COS_TAB[k][n]})" for k in range(8) for n in range(32)
    )
    sql["mm_phash_neardup"] = f"""
        WITH dd AS (SELECT doc_id, 8 + doc_id % 24 AS w, 8 + (doc_id * 3) % 24 AS h
                    FROM documents WHERE doc_id % 4 = 2),
        tab(k, n, c) AS (VALUES {_phash_tab}),
        grid AS (SELECT doc_id, w, h, unnest(range(0, 32)) AS y FROM dd),
        cells AS (SELECT doc_id, w, h, y, unnest(range(0, 32)) AS x FROM grid),
        lum AS (SELECT doc_id, y, x,
                       (255 + (3 * ((doc_id + ((y * h) // 32) * w + (x * w) // 32) % 256)) % 256) // 3 AS l
                FROM cells),
        r AS (SELECT doc_id, tab.k AS u, y, sum(l * c) AS rv
              FROM lum JOIN tab ON tab.n = lum.x GROUP BY 1, 2, 3),
        dct AS (SELECT doc_id, u, tab.k AS v, CAST(sum(rv * c) AS BIGINT) AS coef
                FROM r JOIN tab ON tab.n = r.y GROUP BY 1, 2, 3),
        cf AS (SELECT doc_id, v * 8 + u - 1 AS p, coef FROM dct
               WHERE NOT (u = 0 AND v = 0)),
        med AS (SELECT doc_id, list(coef ORDER BY coef)[32] AS m FROM cf GROUP BY doc_id),
        bits AS (SELECT cf.doc_id, p, CASE WHEN coef > m THEN 1 ELSE 0 END AS b
                 FROM cf JOIN med ON cf.doc_id = med.doc_id),
        chunks AS (SELECT doc_id, p // 16 AS ci,
                          CAST(sum(b * (1 << (15 - CAST(p % 16 AS INT)))) AS INT) AS cv
                   FROM bits GROUP BY 1, 2),
        sig AS (SELECT doc_id, string_agg(lpad(lower(hex(cv)), 4, '0'), '' ORDER BY ci) AS phash
                FROM chunks GROUP BY doc_id),
        cand AS (SELECT DISTINCT s1.doc_id AS a, s2.doc_id AS b,
                        s1.phash AS ha, s2.phash AS hb
                 FROM sig s1 JOIN sig s2 ON s1.doc_id < s2.doc_id
                 JOIN (SELECT unnest(range(0, 8)) AS i) bi
                   ON substr(s1.phash, 1 + 2 * CAST(bi.i AS INT), 2)
                    = substr(s2.phash, 1 + 2 * CAST(bi.i AS INT), 2)),
        pairs AS (SELECT a, b,
                         bit_count(xor(CAST(CAST('0x' || substr(ha, 1, 8) AS UBIGINT) AS BIGINT),
                                       CAST(CAST('0x' || substr(hb, 1, 8) AS UBIGINT) AS BIGINT)))
                       + bit_count(xor(CAST(CAST('0x' || substr(ha, 9, 8) AS UBIGINT) AS BIGINT),
                                       CAST(CAST('0x' || substr(hb, 9, 8) AS UBIGINT) AS BIGINT))) AS hamming
                  FROM cand),
        nd AS (SELECT a, b, hamming FROM pairs WHERE hamming <= 7),
        sym AS (SELECT a AS doc_id, hamming FROM nd
                UNION ALL SELECT b AS doc_id, hamming FROM nd),
        agg AS (SELECT doc_id, count(*) AS n_partners, min(hamming) AS min_hamming
                FROM sym GROUP BY doc_id)
        SELECT s.doc_id, s.phash,
               CAST(coalesce(n_partners, 0) AS BIGINT) AS n_partners,
               CAST(min_hamming AS BIGINT) AS min_hamming
        FROM sig s LEFT JOIN agg USING (doc_id)
    """

    sql["train_dsir_weights"] = f"""
        WITH toks AS (SELECT doc_id, source, unnest({_WORD_TOKS}) AS tok
                      FROM documents),
        tb AS (SELECT doc_id, source,
                      CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT) % 1024 AS BIGINT) AS bucket
               FROM toks),
        bs AS (SELECT bucket,
                      CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
                      CAST(sum(CASE WHEN source = 'src0' THEN 0 ELSE 1 END) AS BIGINT) AS n_r
               FROM tb GROUP BY bucket),
        tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS t_tot,
                       CAST(sum(n_r) AS BIGINT) AS r_tot FROM bs),
        lam AS (SELECT bucket,
                       CAST(floor(log2(CAST((n_t + 1) * (r_tot + 1024) AS DOUBLE)
                                     / CAST((n_r + 1) * (t_tot + 1024) AS DOUBLE))
                                  * 1000000.0 + 0.5) AS BIGINT) AS lam_micro
                FROM bs, tot),
        df AS (SELECT doc_id, bucket, count(*) AS c FROM tb GROUP BY 1, 2),
        sc AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                      CAST(sum(c * lam_micro) AS BIGINT) AS logweight_micro
               FROM df JOIN lam USING (bucket) GROUP BY doc_id)
        SELECT d.doc_id, d.source = 'src0' AS is_target,
               CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(coalesce(logweight_micro, 0) AS BIGINT) AS logweight_micro
        FROM documents d LEFT JOIN sc USING (doc_id)
    """

    sql["text_bigram_surprisal"] = f"""
        WITH d AS (SELECT doc_id, {_WORD_TOKS} AS w FROM documents),
        bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
               FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM d)),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
        sc AS (SELECT doc_id, count(*) AS nb,
                      CAST(sum(CAST(floor(-log2(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))
                                          * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s
               FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) GROUP BY doc_id)
        SELECT d2.doc_id, CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
               coalesce(floor(CAST(s AS DOUBLE) / nb + 0.5) / 1000000.0, 0.0) AS bigram_bits
        FROM documents d2 LEFT JOIN sc USING (doc_id)
    """

    def _bpe_iter(j: int) -> str:
        # one BPE round: pair counts over t{j-1}, deterministic argmax,
        # index-local merge application (overlap-free because the
        # argmax skips self-pairs)
        return f"""
        p{j} AS (SELECT w[i] AS w1, w[i + 1] AS w2
                 FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM t{j - 1})),
        m{j} AS (SELECT w1, w2, count(*) AS c FROM p{j} WHERE w1 <> w2
                 GROUP BY 1, 2 ORDER BY c DESC, w1 ASC, w2 ASC LIMIT 1),
        t{j} AS (SELECT doc_id,
                        list_filter(list_transform(range(1, len(w) + 1), i ->
                            CASE WHEN i > 1 AND w[i - 1] = m{j}.w1 AND w[i] = m{j}.w2
                                      THEN NULL
                                 WHEN i < len(w) AND w[i] = m{j}.w1 AND w[i + 1] = m{j}.w2
                                      THEN m{j}.w1 || '_' || m{j}.w2
                                 ELSE w[i] END), x -> x IS NOT NULL) AS w
                 FROM t{j - 1}, m{j})"""

    sql["train_bpe_merges"] = (
        f"""
        WITH t0 AS (SELECT doc_id, {_WORD_TOKS} AS w FROM documents),"""
        + ",".join(_bpe_iter(j) for j in (1, 2, 3, 4))
        + """
        SELECT 1 AS rank, w1 AS "left", w2 AS "right", CAST(c AS BIGINT) AS pair_count FROM m1
        UNION ALL SELECT 2, w1, w2, CAST(c AS BIGINT) FROM m2
        UNION ALL SELECT 3, w1, w2, CAST(c AS BIGINT) FROM m3
        UNION ALL SELECT 4, w1, w2, CAST(c AS BIGINT) FROM m4
        ORDER BY rank
    """
    )

    sql["train_bpe_tokenize"] = (
        f"""
        WITH t0 AS (SELECT doc_id, {_WORD_TOKS} AS w FROM documents),"""
        + ",".join(_bpe_iter(j) for j in (1, 2, 3, 4))
        + """
        SELECT a.doc_id,
               CAST(len(a.w) AS BIGINT) AS n_tokens_raw,
               CAST(len(b.w) AS BIGINT) AS n_tokens_bpe,
               coalesce(floor(CAST(len(b.w) AS DOUBLE) / nullif(len(a.w), 0)
                              * 1000000.0 + 0.5) / 1000000.0, 0.0) AS compression
        FROM t0 a JOIN t4 b USING (doc_id)
    """
    )

    sql["graph_label_prop"] = """
        WITH pe AS (SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS (SELECT c AS src, s AS dst FROM pe
                  UNION ALL SELECT s AS src, c AS dst FROM pe),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        l0 AS (SELECT node, node AS label FROM nodes),
        c1 AS (SELECT e.dst AS node, l.label, count(*) AS n
               FROM edges e JOIN l0 l ON e.src = l.node GROUP BY 1, 2),
        b1 AS (SELECT node, label FROM (
                   SELECT *, row_number() OVER (PARTITION BY node
                       ORDER BY n DESC, label ASC) AS rn FROM c1) WHERE rn = 1),
        l1 AS (SELECT l0.node, coalesce(b1.label, l0.label) AS label
               FROM l0 LEFT JOIN b1 USING (node)),
        c2 AS (SELECT e.dst AS node, l.label, count(*) AS n
               FROM edges e JOIN l1 l ON e.src = l.node GROUP BY 1, 2),
        b2 AS (SELECT node, label FROM (
                   SELECT *, row_number() OVER (PARTITION BY node
                       ORDER BY n DESC, label ASC) AS rn FROM c2) WHERE rn = 1),
        l2 AS (SELECT l1.node, coalesce(b2.label, l1.label) AS label
               FROM l1 LEFT JOIN b2 USING (node)),
        c3 AS (SELECT e.dst AS node, l.label, count(*) AS n
               FROM edges e JOIN l2 l ON e.src = l.node GROUP BY 1, 2),
        b3 AS (SELECT node, label FROM (
                   SELECT *, row_number() OVER (PARTITION BY node
                       ORDER BY n DESC, label ASC) AS rn FROM c3) WHERE rn = 1),
        l3 AS (SELECT l2.node, coalesce(b3.label, l2.label) AS label
               FROM l2 LEFT JOIN b3 USING (node))
        SELECT label, count(*) AS n_members, min(node) AS min_member
        FROM l3 GROUP BY label
        ORDER BY n_members DESC, label ASC
        LIMIT 25
    """

    sql["graph_pagerank"] = """
        WITH pe AS (SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS (SELECT c AS src, s AS dst FROM pe
                  UNION ALL SELECT s AS src, c AS dst FROM pe),
        deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        m1 AS (SELECT e.dst AS node, CAST(sum(r.r // d.deg) AS BIGINT) AS s
               FROM edges e JOIN r0 r ON e.src = r.node
               JOIN deg d ON d.src = e.src GROUP BY e.dst),
        r1 AS (SELECT n.node,
                      CAST(150000 + (85 * coalesce(m1.s, 0)) // 100 AS BIGINT) AS r
               FROM nodes n LEFT JOIN m1 USING (node)),
        m2 AS (SELECT e.dst AS node, CAST(sum(r.r // d.deg) AS BIGINT) AS s
               FROM edges e JOIN r1 r ON e.src = r.node
               JOIN deg d ON d.src = e.src GROUP BY e.dst),
        r2 AS (SELECT n.node,
                      CAST(150000 + (85 * coalesce(m2.s, 0)) // 100 AS BIGINT) AS r
               FROM nodes n LEFT JOIN m2 USING (node)),
        m3 AS (SELECT e.dst AS node, CAST(sum(r.r // d.deg) AS BIGINT) AS s
               FROM edges e JOIN r2 r ON e.src = r.node
               JOIN deg d ON d.src = e.src GROUP BY e.dst),
        r3 AS (SELECT n.node,
                      CAST(150000 + (85 * coalesce(m3.s, 0)) // 100 AS BIGINT) AS r
               FROM nodes n LEFT JOIN m3 USING (node))
        SELECT node, r AS rank_micro FROM r3
        ORDER BY rank_micro DESC, node ASC LIMIT 20
    """

    sql["s14_stats_pruning"] = """
        WITH s AS (SELECT event_id AS ord, user_id AS payload
                   FROM events WHERE event_id % 11 = 0),
        b AS (SELECT min(ord) + (max(ord) - min(ord)) // 4 AS lo,
                     min(ord) + (max(ord) - min(ord)) // 2 AS hi FROM s)
        SELECT count(*) AS n_rows,
               CAST(sum(payload) AS BIGINT) AS payload_sum,
               TRUE AS pruning_skipped_files,
               TRUE AS pruned_equals_full
        FROM s, b WHERE s.ord BETWEEN b.lo AND b.hi
    """

    sql["s17_bloom_pruning"] = """
        WITH ev AS (SELECT event_id AS game_url, user_id AS payload
                    FROM events WHERE event_id % 13 = 0),
        p AS (SELECT CAST(floor(median(game_url) / 13) * 13 AS BIGINT) AS probe
              FROM ev)
        SELECT count(*) AS n_rows,
               CAST(sum(payload) AS BIGINT) AS payload_sum,
               TRUE AS stats_skip_nothing,
               TRUE AS bloom_skipped_most,
               TRUE AS point_equals_full,
               TRUE AS missing_key_zero_rows
        FROM ev, p WHERE game_url = probe
    """

    sql["s18_multi_table_txn"] = """
        WITH ev AS (SELECT event_id, user_id
                    FROM events WHERE user_id % 3 = 0 AND event_id % 7 = 0)
        SELECT (SELECT count(DISTINCT user_id) FROM ev WHERE user_id % 2 = 0) AS g1_users,
               (SELECT count(*) FROM ev WHERE user_id % 2 = 0) AS g1_facts,
               TRUE AS g1_consistent,
               (SELECT count(DISTINCT user_id) FROM ev) AS g2_users,
               (SELECT count(*) FROM ev) AS g2_facts,
               (SELECT CAST(sum(event_id) AS BIGINT) FROM ev) AS g2_value_sum,
               TRUE AS g2_consistent,
               TRUE AS g1_frozen
    """

    sql["s15_delete_vector_lifecycle"] = """
        WITH s AS (SELECT event_id AS k, user_id AS payload
                   FROM events WHERE event_id % 11 = 0)
        SELECT (SELECT count(*) FROM s) AS appended,
               (SELECT count(*) FROM s WHERE k % 3 = 0) AS deleted,
               (SELECT count(*) FROM s WHERE k % 3 <> 0) AS after_delete,
               (SELECT count(*) FROM s WHERE k % 3 = 0 AND k % 2 = 0) AS reappended,
               (SELECT count(*) FROM s WHERE k % 3 <> 0 OR k % 2 = 0) AS after_reappend,
               (SELECT count(*) FROM s WHERE k % 3 <> 0 OR k % 2 = 0) AS final_rows,
               (SELECT CAST(sum(payload) AS BIGINT) FROM s WHERE k % 3 <> 0 OR k % 2 = 0) AS payload_sum,
               TRUE AS mask_materialized
    """

    sql["q4_order_priority"] = """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
          AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority
    """

    sql["q7_volume_shipping"] = """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        FROM lineitem, orders, customer, supplier, nation n1, nation n2
        WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
          AND l_suppkey = s_suppkey
          AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
          AND ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
            OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
          AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
          AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
        GROUP BY 1, 2, 3
    """

    sql["q10_returned_items"] = """
        SELECT c_custkey, c_name, c_acctbal, n_name,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        FROM lineitem, orders, customer, nation
        WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
          AND c_nationkey = n_nationkey
          AND l_returnflag = 'R'
          AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
          AND CAST(o_orderdate AS DATE) < DATE '1996-04-01'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """

    sql["q13_order_distribution"] = """
        SELECT c_count, count(*) AS custdist
        FROM (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        )
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """

    sql["q14_promo_revenue"] = """
        SELECT CAST(floor(
            100.0
            * CAST(sum(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice AS DECIMAL(12,2))
                            * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
                       ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
            / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                       * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
            * 1e6 + 0.5) AS BIGINT) AS promo_revenue_micro
        FROM lineitem, part
        WHERE l_partkey = p_partkey
          AND CAST(l_shipdate AS DATE) >= DATE '1996-03-01'
          AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
    """

    sql["q17_small_qty_revenue"] = """
        SELECT CAST(floor(
            CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
            * 1e6 + 0.5) AS BIGINT) AS avg_yearly_micro
        FROM lineitem l, part
        WHERE p_partkey = l_partkey AND p_brand = 'Brand#4'
          AND l_quantity < 0.5 * (SELECT avg(l2.l_quantity) FROM lineitem l2
                                  WHERE l2.l_partkey = l.l_partkey)
    """

    sql["q18_large_orders"] = """
        SELECT c_name, c_custkey, o_orderkey,
               CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
               total_qty
        FROM orders
        JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
              FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 190) big
          ON o_orderkey = big.l_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
        LIMIT 100
    """

    sql["q19_disjunctive_revenue"] = """
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        FROM lineitem, part
        WHERE l_partkey = p_partkey
          AND ((p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30))
    """

    sql["q21_waiting_supplier"] = """
        SELECT s_name, count(*) AS numwait
        FROM (
            SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
            FROM lineitem l1 JOIN orders ON o_orderkey = l1.l_orderkey
            WHERE l1.l_returnflag = 'R' AND o_orderstatus = 'F'
              AND EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM lineitem l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.l_returnflag = 'R')
        ) t
        JOIN supplier ON s_suppkey = t.l_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_13'
        GROUP BY s_name
        ORDER BY numwait DESC, s_name ASC
        LIMIT 20
    """

    sql["q22_dormant_customers"] = """
        SELECT c_nationkey % 5 AS cntrycode, count(*) AS numcust,
               CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
        FROM customer c
        WHERE CAST(c_acctbal AS DECIMAL(12,2))
              * (SELECT count(*) FROM customer WHERE c_acctbal > 0)
              > (SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c.c_custkey
                            AND CAST(o_orderdate AS DATE) >= DATE '2001-01-01')
        GROUP BY 1
        ORDER BY 1
    """

    sql["q2_min_cost_supplier"] = f"""
        WITH ps AS ({_PS_SQL})
        SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_supplycost
        FROM ps, part, supplier, nation, region
        WHERE ps_partkey = p_partkey AND ps_suppkey = s_suppkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND p_size = 15 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
          AND ps_supplycost = (
              SELECT min(i.ps_supplycost)
              FROM ps i, supplier s2, nation n2, region r2
              WHERE i.ps_partkey = p_partkey AND i.ps_suppkey = s2.s_suppkey
                AND s2.s_nationkey = n2.n_nationkey
                AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
        ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
        LIMIT 100
    """

    sql["q6_forecast_revenue"] = """
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
          AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
    """

    sql["q6_sql_surface"] = sql["q6_forecast_revenue"]

    sql["q8_market_share"] = """
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(floor(
                   (CAST(sum(CASE WHEN n2.n_name = 'NATION_1'
                                  THEN CAST(l_extendedprice AS DECIMAL(12,2))
                                       * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
                                  ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                    / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                               * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE))
                   * 1e6 + 0.5) AS BIGINT) AS mkt_share_micro
        FROM lineitem, orders, customer, supplier, part, nation n1, nation n2, region
        WHERE l_partkey = p_partkey AND l_orderkey = o_orderkey
          AND o_custkey = c_custkey AND l_suppkey = s_suppkey
          AND c_nationkey = n1.n_nationkey AND s_nationkey = n2.n_nationkey
          AND n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
          AND p_type = 'ECONOMY'
          AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
          AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
        GROUP BY 1 ORDER BY 1
    """

    sql["q9_product_profit"] = """
        SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
                        - CAST(p_retailprice AS DECIMAL(12,2))
                          * CAST(l_quantity AS DECIMAL(12,2))
                          * CAST(0.90 AS DECIMAL(12,2))) AS DOUBLE) AS sum_profit
        FROM lineitem, orders, part, supplier, nation
        WHERE l_partkey = p_partkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
          AND p_name LIKE '%widget%'
        GROUP BY 1, 2
        ORDER BY nation ASC, o_year DESC
    """

    sql["q11_important_stock"] = f"""
        WITH ps AS ({_PS_SQL}),
        national AS (
            SELECT ps_partkey,
                   CAST(ps_supplycost AS DECIMAL(12,2))
                   * CAST(ps_availqty AS DECIMAL(12,0)) AS v
            FROM ps, supplier, nation
            WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
              AND n_name = 'NATION_7')
        SELECT ps_partkey, CAST(sum(v) AS DOUBLE) AS part_value
        FROM national
        GROUP BY ps_partkey
        HAVING sum(v) * 400 > (SELECT sum(v) FROM national)
        ORDER BY part_value DESC, ps_partkey ASC
    """

    sql["q12_shipmode_priority"] = """
        SELECT l_returnflag AS ship_category,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem, orders
        WHERE l_orderkey = o_orderkey
          AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
          AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
        GROUP BY 1 ORDER BY 1
    """

    sql["q15_top_supplier"] = """
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   sum(CAST(l_extendedprice AS DECIMAL(12,2))
                       * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS total_rev_dec
            FROM lineitem
            WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
              AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
            GROUP BY 1)
        SELECT s_suppkey, s_name, CAST(total_rev_dec AS DOUBLE) AS total_revenue
        FROM revenue, supplier
        WHERE supplier_no = s_suppkey
          AND total_rev_dec = (SELECT max(total_rev_dec) FROM revenue)
        ORDER BY s_suppkey ASC
    """

    sql["q16_supplier_part_counts"] = f"""
        WITH ps AS ({_PS_SQL})
        SELECT p_brand, p_type, p_size,
               count(DISTINCT ps_suppkey) AS supplier_cnt
        FROM ps, part
        WHERE ps_partkey = p_partkey
          AND p_brand <> 'Brand#2' AND p_type <> 'PROMO'
          AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
          AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
    """

    sql["q20_excess_stock_suppliers"] = """
        SELECT s_name, s_acctbal
        FROM supplier, nation
        WHERE s_nationkey = n_nationkey AND n_name = 'NATION_5'
          AND s_suppkey IN (
              SELECT l_suppkey FROM lineitem
              WHERE l_partkey IN (SELECT p_partkey FROM part
                                  WHERE p_name LIKE 'small%')
              GROUP BY l_partkey, l_suppkey
              HAVING CAST(sum(l_quantity) AS BIGINT)
                     > 2 * CAST(sum(CASE WHEN CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
                                          AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
                                         THEN l_quantity ELSE 0 END) AS BIGINT))
        ORDER BY s_name ASC
    """

    sql["a20_hll_union_rollup"] = """
        SELECT event_type,
               count(DISTINCT user_id) AS exact_users,
               count(DISTINCT CAST(ts AS DATE)) AS n_days,
               TRUE AS union_within_bound
        FROM events GROUP BY event_type
    """

    sql["mm_audio_resample"] = """
        WITH d AS (
            SELECT doc_id, CAST((800 + 8 * (doc_id % 200)) // 4 AS BIGINT) AS n_samples
            FROM documents WHERE doc_id % 4 = 3
        ),
        s AS (
            SELECT doc_id, n_samples, unnest(range(0, n_samples)) AS k FROM d
        ),
        v AS (
            -- decimated sample j is original sample 4j: little-endian
            -- int16 at payload bytes (8j, 8j+1), each (doc_id + i) % 256
            SELECT doc_id, n_samples, k,
                   CASE WHEN ((doc_id + 8*k) % 256) + 256 * ((doc_id + 8*k + 1) % 256) >= 32768
                        THEN ((doc_id + 8*k) % 256) + 256 * ((doc_id + 8*k + 1) % 256) - 65536
                        ELSE ((doc_id + 8*k) % 256) + 256 * ((doc_id + 8*k + 1) % 256) END AS smp
            FROM s
        ),
        lagged AS (
            SELECT *, lag(smp) OVER (PARTITION BY doc_id ORDER BY k) AS prev FROM v
        )
        SELECT doc_id,
               CAST(2000 AS INT) AS sample_rate,
               n_samples,
               CAST(max(abs(smp)) AS INT) AS peak_abs,
               floor(sqrt(sum(CAST(smp AS DOUBLE) * smp) / n_samples) * 1000000.0 + 0.5) / 1000000.0 AS rms,
               CAST(sum(CASE WHEN prev IS NOT NULL AND ((smp < 0) <> (prev < 0))
                             THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        FROM lagged
        GROUP BY doc_id, n_samples
    """

    # Arbitrary-rate resample: output j sits at input pos j*8000/3000;
    # exact-integer blend num = s[i0]*(3000-r) + s[i1]*r (end-clamped),
    # rms sum in HUGEINT then ONE cast to double — mirrors the Python
    # side's arbitrary-precision int sum, so the floats are identical.
    sql["mm_audio_resample_arb"] = """
        WITH d AS (
            SELECT doc_id, CAST(800 + 8 * (doc_id % 200) AS BIGINT) AS n,
                   CAST((800 + 8 * (doc_id % 200)) * 3000 // 8000 AS BIGINT) AS n_out
            FROM documents WHERE doc_id % 4 = 3
        ),
        s AS (SELECT doc_id, n, n_out, unnest(range(0, n_out)) AS j FROM d),
        p AS (SELECT doc_id, n, n_out, j,
                     least((j * 8000) // 3000, n - 1) AS i0,
                     (j * 8000) % 3000 AS r
              FROM s),
        pp AS (SELECT *, least(i0 + 1, n - 1) AS i1 FROM p),
        v AS (SELECT doc_id, n_out, j,
                (CASE WHEN ((doc_id + 2*i0) % 256) + 256 * ((doc_id + 2*i0 + 1) % 256) >= 32768
                      THEN ((doc_id + 2*i0) % 256) + 256 * ((doc_id + 2*i0 + 1) % 256) - 65536
                      ELSE ((doc_id + 2*i0) % 256) + 256 * ((doc_id + 2*i0 + 1) % 256) END)
                * (3000 - r)
              + (CASE WHEN ((doc_id + 2*i1) % 256) + 256 * ((doc_id + 2*i1 + 1) % 256) >= 32768
                      THEN ((doc_id + 2*i1) % 256) + 256 * ((doc_id + 2*i1 + 1) % 256) - 65536
                      ELSE ((doc_id + 2*i1) % 256) + 256 * ((doc_id + 2*i1 + 1) % 256) END)
                * r AS num
              FROM pp),
        lagged AS (SELECT *, lag(num) OVER (PARTITION BY doc_id ORDER BY j) AS prev
                   FROM v)
        SELECT doc_id,
               CAST(3000 AS INT) AS sample_rate,
               n_out AS n_samples,
               floor(CAST(max(abs(num)) AS DOUBLE) / 3000.0 * 1000000.0 + 0.5)
                   / 1000000.0 AS peak_abs,
               floor(sqrt(CAST(sum(num * num) AS DOUBLE) / n_out) / 3000.0
                   * 1000000.0 + 0.5) / 1000000.0 AS rms,
               CAST(sum(CASE WHEN prev IS NOT NULL AND ((num < 0) <> (prev < 0))
                             THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        FROM lagged
        GROUP BY doc_id, n_out
    """

    sql["mm_frame_sample"] = """
        SELECT doc_id,
               CAST(unnest(range(0, greatest(
                   CAST(floor(octet_length(encode(coalesce(text, ''))) / 100.0) AS INT), 1))) AS INT) AS frame_idx,
               CAST(unnest(range(0, greatest(
                   CAST(floor(octet_length(encode(coalesce(text, ''))) / 100.0) AS INT), 1))) * 100 AS INT) AS frame_ts_ms
        FROM documents
    """

    bpe_sql_pattern = TX.BPE_PATTERN.replace("'", "''")
    sql["text_bpe_tokens"] = f"""
        SELECT doc_id,
               CAST(coalesce(len(regexp_extract_all(text, '{bpe_sql_pattern}', 1)), 0) AS INT) AS n_bpe_tokens
        FROM documents
    """

    # GIF luminance is closed-form in the palette index p = (doc_id +
    # y*w + x) % 256: rgb = (p, 255-p, 3p%256) so (r+g+b) div 3 =
    # (255 + 3p%256) div 3 — the oracle replays the per-patch integer
    # sums straight from that formula.
    sql["mm_patch_stats"] = """
        WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w, 8 + (doc_id * 3) % 24 AS h
                   FROM documents WHERE doc_id % 4 = 2),
        g AS (SELECT d.*, CAST(i.range AS INT) AS pi, CAST(j.range AS INT) AS pj
              FROM d, range(0, 4) i, range(0, 4) j),
        b AS (SELECT doc_id, pi, pj, w,
                     (pi * h) // 4 AS y0, ((pi + 1) * h) // 4 AS y1,
                     (pj * w) // 4 AS x0, ((pj + 1) * w) // 4 AS x1
              FROM g),
        s AS (SELECT doc_id, pi, pj,
                     (y1 - y0) * (x1 - x0) AS n_px,
                     list_sum(flatten(list_transform(range(y0, y1), y ->
                         list_transform(range(x0, x1), x ->
                             (255 + (3 * ((doc_id + y * w + x) % 256)) % 256) // 3))))
                         AS sum_lum
              FROM b)
        SELECT doc_id, pi AS patch_row, pj AS patch_col,
               CAST(n_px AS BIGINT) AS n_px,
               CAST(sum_lum // n_px AS BIGINT) AS mean_lum
        FROM s
    """

    sql["train_source_caps"] = f"""
        WITH qm AS ({sql['text_token_stats']}),
        s AS (SELECT d.doc_id, d.source, qm.n_tokens, qm.quality_score
              FROM documents d JOIN qm ON qm.doc_id = d.doc_id),
        r AS (SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY source
                     ORDER BY quality_score DESC, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
              FROM s)
        SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
               quality_score, CAST(before AS BIGINT) AS tokens_before,
               before < 3000 AS kept
        FROM r
    """

    # Capstone: composed from the same oracle fragments the component
    # queries use, exactly as the Spark side composes the operators.
    sql["pipeline_corpus_build"] = f"""
        WITH qm AS ({sql['text_token_stats']}),
        keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY {_NORM_FP}),
        kept AS (SELECT d.doc_id, d.source, qm.n_tokens, qm.quality_score
                 FROM documents d JOIN keep USING (doc_id) JOIN qm ON qm.doc_id = d.doc_id
                 WHERE qm.quality_score >= 0.3),
        mixed AS (SELECT * FROM kept
                  WHERE ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) % 65536) * 2654435761 + ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) // 65536) * 2654435761) % 65536 * 65536) % 4294967296 % 10000 <
                        CASE source WHEN 'src0' THEN 2000 WHEN 'src1' THEN 5000
                                    WHEN 'src2' THEN 0 ELSE 10000 END),
        sp AS (SELECT *, CASE WHEN ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) % 65536) * 2654435761 + ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) // 65536) * 2654435761) % 65536 * 65536) % 4294967296 % 100 < 80 THEN 'train'
                              WHEN ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) % 65536) * 2654435761 + ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) // 65536) * 2654435761) % 65536 * 65536) % 4294967296 % 100 < 90 THEN 'val'
                              ELSE 'test' END AS split FROM mixed)
        SELECT split, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               floor(CAST(sum(CAST(floor(quality_score * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
                     / CAST(count(*) AS DOUBLE) + 0.5) / 1000000.0 AS avg_quality
        FROM sp GROUP BY split
    """

    # --- Ingest-surface oracles (fixture = orders WHERE o_orderkey % 97 = 0,
    # 3 users by o_custkey % 3, one archive per (user, order month) plus one
    # empty archive per user; see _ingest_fixture). Contract-fixed values
    # (e.g. "second run appends 0") are literal constants.
    _FIX_G = """
        SELECT concat('u', CAST(o_custkey % 3 AS VARCHAR)) AS username,
               strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
               CAST(epoch(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)) AS BIGINT)
                   + o_orderkey % 86400 AS end_time
        FROM orders WHERE o_orderkey % 97 = 0
    """

    sql["i2_idempotent_reingest"] = f"""
        WITH g AS ({_FIX_G})
        SELECT CAST(count(*) AS BIGINT) AS first_run_appended,
               CAST(0 AS BIGINT) AS second_run_appended,
               CAST(count(*) AS BIGINT) AS sink_rows,
               CAST(count(*) AS BIGINT) AS distinct_keys
        FROM g
    """

    sql["i3_open_month_refetch"] = f"""
        WITH g AS ({_FIX_G}),
        a AS (SELECT DISTINCT username, month FROM g),
        u AS (SELECT DISTINCT username FROM g)
        SELECT CAST((SELECT count(*) FROM a) + (SELECT count(*) FROM u) AS BIGINT) AS first_run_processed,
               CAST((SELECT count(*) FROM u) AS BIGINT) AS second_run_processed,
               CAST(0 AS BIGINT) AS second_run_appended,
               CAST((SELECT count(*) FROM g) AS BIGINT) AS sink_rows
    """

    sql["s9_state_roundtrip"] = f"""
        WITH g AS ({_FIX_G})
        SELECT username,
               CAST(count(DISTINCT month) + 1 AS BIGINT) AS n_processed_archives,
               CAST(max(end_time) AS BIGINT) AS last_end_time
        FROM g GROUP BY username
    """

    sql["s6_audit_game_counts"] = f"""
        WITH g AS ({_FIX_G})
        SELECT username, concat('a://', username, '/', month) AS archive_url,
               CAST(count(*) AS INT) AS game_count
        FROM g GROUP BY 1, 2
        UNION ALL
        SELECT DISTINCT username, concat('a://', username, '/empty'), CAST(0 AS INT)
        FROM g
    """

    sql["i5_incremental_equivalence"] = f"""
        WITH g AS ({_FIX_G})
        SELECT CAST(count(*) AS BIGINT) AS batch_rows,
               CAST(count(*) AS BIGINT) AS incr_rows,
               CAST(0 AS BIGINT) AS only_in_batch,
               CAST(0 AS BIGINT) AS only_in_incr
        FROM g
    """

    sql["s5_append_roundtrip"] = """
        SELECT CAST(2 * count(*) AS BIGINT) AS sink_rows,
               CAST(count(*) AS BIGINT) AS distinct_events
        FROM events WHERE event_id % 37 = 0
    """

    sql["text_char_entropy"] = """
        WITH n AS (
            SELECT doc_id,
                   trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g')) AS s
            FROM documents),
        ch AS (
            SELECT doc_id, unnest(regexp_extract_all(s, '.')) AS c
            FROM n WHERE length(s) > 0),
        counts AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2),
        agg AS (
            SELECT doc_id,
                   CAST(sum(cnt) AS BIGINT) AS n_chars_norm,
                   CAST(count(*) AS INT) AS distinct_chars,
                   sum(cnt * log2(cnt)) AS nlogn
            FROM counts GROUP BY doc_id)
        SELECT doc_id, n_chars_norm, distinct_chars,
               floor((log2(n_chars_norm) - nlogn / n_chars_norm) * 1000000.0 + 0.5)
                   / 1000000.0 AS entropy_bits
        FROM agg
    """

    sql["w8_ntile_deciles"] = """
        WITH per_cust AS (
            SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(12,2))) AS spend
            FROM orders GROUP BY o_custkey),
        tiled AS (
            SELECT spend, ntile(10) OVER (ORDER BY spend DESC, o_custkey ASC) AS decile
            FROM per_cust)
        SELECT CAST(decile AS INT) AS decile,
               count(*) AS n_customers,
               CAST(sum(spend) AS DOUBLE) AS decile_spend,
               CAST(min(spend) AS DOUBLE) AS min_spend,
               CAST(max(spend) AS DOUBLE) AS max_spend
        FROM tiled GROUP BY decile
    """

    sql["s11_manifest_roundtrip"] = """
        WITH k AS (SELECT event_id FROM events WHERE event_id % 37 = 0),
        e AS (SELECT count(*) AS n_even FROM k WHERE event_id % 2 = 0),
        a AS (SELECT count(*) AS n_all FROM k)
        SELECT CAST(n_even AS BIGINT) AS published_first,
               CAST(n_all - n_even AS BIGINT) AS published_second,
               CAST(n_all AS BIGINT) AS sink_rows,
               CAST(n_all AS BIGINT) AS distinct_keys,
               CAST(2 AS BIGINT) AS generations
        FROM e, a
    """

    sql["w10_lag_lead"] = """
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS gap_s,
               lag(event_type) OVER w AS prev_type,
               lead(event_type) OVER w AS next_type,
               floor(percent_rank() OVER (PARTITION BY user_id
                         ORDER BY value ASC, event_id ASC) * 1000000.0 + 0.5)
                   / 1000000.0 AS value_pct_rank
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """

    sql["s13_merge_roundtrip"] = """
        WITH k AS (SELECT event_id, user_id FROM events WHERE event_id % 37 = 0),
        e AS (SELECT * FROM k WHERE event_id % 2 = 0),
        o AS (SELECT * FROM k WHERE event_id % 2 <> 0)
        SELECT CAST((SELECT count(*) FROM k) AS BIGINT) AS appended,
               CAST((SELECT count(*) FROM e) AS BIGINT) AS inserted,
               CAST((SELECT count(*) FROM e) AS BIGINT) AS updated,
               CAST((SELECT count(*) FROM k) + (SELECT count(*) FROM e) AS BIGINT) AS sink_rows,
               CAST((SELECT count(*) FROM k) + (SELECT count(*) FROM e) AS BIGINT) AS distinct_keys,
               CAST((SELECT coalesce(sum(user_id), 0) FROM o)
                    + (SELECT coalesce(sum(user_id + 100000), 0) FROM e)
                    + (SELECT coalesce(sum(user_id + 200000), 0) FROM e) AS BIGINT) AS payload_sum
    """

    sql["s12_time_travel"] = """
        WITH k AS (SELECT event_id FROM events WHERE event_id % 37 = 0),
        c AS (SELECT count(*) FILTER (event_id % 3 = 0) AS m0,
                     count(*) FILTER (event_id % 3 = 1) AS m1,
                     count(*) FILTER (event_id % 3 = 2) AS m2
              FROM k)
        SELECT CAST(g AS BIGINT) AS generation, CAST(n AS BIGINT) AS n_rows
        FROM c, LATERAL (VALUES (1, m0), (2, m0 + m1), (3, m0 + m1 + m2),
                                (99, m0 + m1 + m2)) AS t(g, n)
    """

    sql["s7_status_log_counts"] = """
        SELECT * FROM (VALUES ('error_archive_download', CAST(1 AS BIGINT)),
                              ('games_appended', CAST(2 AS BIGINT)),
                              ('no_new_unique_games', CAST(1 AS BIGINT))) AS t(stage, n)
    """

    sql["s10_bi_export_roundtrip"] = """
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY event_type
    """

    sql["s3_backoff_schedule"] = """
        SELECT * FROM (VALUES (CAST(1 AS BIGINT), 2.0, CAST(3 AS BIGINT)),
                              (CAST(2 AS BIGINT), 4.0, CAST(3 AS BIGINT)))
            AS t(retry, backoff_s, total_attempts)
    """

    sql["t6_csv_split"] = """
        SELECT * FROM (VALUES (CAST(0 AS BIGINT), 'alice'),
                              (CAST(1 AS BIGINT), 'bob'),
                              (CAST(2 AS BIGINT), 'carol')) AS t(idx, username)
    """

    sql["t4_result_fallback"] = """
        SELECT doc_id,
               CASE WHEN doc_id % 8 = 0 THEN '1/2-1/2'
                    WHEN doc_id % 8 = 1 THEN '0-1'
                    WHEN doc_id % 8 = 2 THEN '1-0'
                    WHEN doc_id % 8 = 3 THEN '0-1'
                    WHEN doc_id % 8 = 4 THEN '1-0'
                    WHEN doc_id % 4 = 0 AND doc_id % 3 = 0 THEN 'win / timeout'
                    WHEN doc_id % 4 = 0 THEN 'win / '
                    WHEN doc_id % 3 = 0 THEN ' / timeout'
                    ELSE '' END AS result
        FROM documents
    """

    sql["t7_t8_derivations"] = """
        WITH base AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 2 = 0
                        THEN (CASE WHEN o_orderkey % 11 = 0 THEN NULL
                                   ELSE 900 + o_custkey % 900 END)
                        ELSE 1000 + o_orderkey % 800 END AS opp_r
            FROM orders)
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 2 = 0 THEN 'white' ELSE 'black' END AS user_color,
               concat('opp', CAST(o_orderkey % 7 AS VARCHAR)) AS opponent_username,
               CAST(opp_r AS INT) AS opponent_rating,
               CASE WHEN opp_r IS NULL THEN 'unrated'
                    ELSE concat(CAST((opp_r // 100) * 100 AS VARCHAR), '-',
                                CAST((opp_r // 100) * 100 + 99 AS VARCHAR)) END
                   AS opponent_rating_bucket
        FROM base
    """

    sql["t11_eco_extract"] = """
        SELECT doc_id,
               CASE WHEN doc_id % 3 <> 0
                    THEN concat(substring('ABCDE', CAST(doc_id % 5 + 1 AS INT), 1), '20')
                    ELSE NULL END AS eco
        FROM documents
    """

    sql["f6_first_seen_wins"] = """
        SELECT user_id, event_id FROM (
            SELECT user_id, event_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events) WHERE rn = 1
    """

    sql["ann_recall_ivf"] = """
        WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (SELECT vec_id AS centroid_id, v AS cv FROM c WHERE vec_id < 8),
        q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 3),
        assign AS (
            SELECT vec_id, bucket FROM (
                SELECT c.vec_id, cent.centroid_id AS bucket,
                       row_number() OVER (PARTITION BY c.vec_id
                           ORDER BY round(list_cosine_similarity(c.v, cent.cv), 6) DESC,
                                    cent.centroid_id ASC) AS rn
                FROM c CROSS JOIN cent) WHERE rn = 1),
        probes AS (
            SELECT query_id, bucket FROM (
                SELECT q.query_id, cent.centroid_id AS bucket,
                       row_number() OVER (PARTITION BY q.query_id
                           ORDER BY round(list_cosine_similarity(q.qv, cent.cv), 6) DESC,
                                    cent.centroid_id ASC) AS rn
                FROM q CROSS JOIN cent) WHERE rn <= 2),
        approx AS (
            SELECT query_id, vec_id FROM (
                SELECT p.query_id, a.vec_id,
                       row_number() OVER (PARTITION BY p.query_id
                           ORDER BY round(list_cosine_similarity(c.v, q.qv), 6) DESC,
                                    a.vec_id ASC) AS rank
                FROM probes p
                JOIN assign a ON a.bucket = p.bucket
                JOIN c ON c.vec_id = a.vec_id
                JOIN q ON q.query_id = p.query_id
                WHERE a.vec_id <> p.query_id) WHERE rank <= 5),
        exact AS (
            SELECT query_id, vec_id FROM (
                SELECT q.query_id, c.vec_id,
                       row_number() OVER (PARTITION BY q.query_id
                           ORDER BY round(list_cosine_similarity(c.v, q.qv), 6) DESC,
                                    c.vec_id ASC) AS rank
                FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id) WHERE rank <= 5)
        SELECT e.query_id,
               CAST(count(*) AS BIGINT) AS n_exact,
               CAST(count(a.vec_id) AS BIGINT) AS n_hit,
               round(CAST(count(a.vec_id) AS DOUBLE) / count(*), 6) AS recall_at_5
        FROM exact e LEFT JOIN approx a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
        GROUP BY e.query_id
    """

    sql["a26_share_of_total"] = """
        WITH agg AS (SELECT o_orderpriority,
                            sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
                     FROM orders GROUP BY 1)
        SELECT o_orderpriority,
               CAST(s AS DOUBLE) AS total,
               floor(CAST(s AS DOUBLE)
                     / CAST((SELECT sum(s) FROM agg) AS DOUBLE)
                     * 1000000.0 + 0.5) / 1000000.0 AS share,
               CAST(row_number() OVER (ORDER BY s DESC, o_orderpriority ASC)
                    AS INT) AS rank
        FROM agg
    """

    sql["w13_period_growth"] = """
        WITH m AS (SELECT (year(o_orderdate) * 12 + month(o_orderdate) - 1)
                              AS midx,
                          CAST(date_trunc('month', o_orderdate) AS DATE)
                              AS month,
                          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
                   FROM orders GROUP BY 1, 2),
        l AS (SELECT midx, month, s,
                     lag(s) OVER (ORDER BY midx) AS prev,
                     lag(midx) OVER (ORDER BY midx) AS previdx
              FROM m)
        SELECT l.month, CAST(l.s AS DOUBLE) AS total,
               CASE WHEN l.previdx = l.midx - 1
                    THEN floor(CAST(l.s - l.prev AS DOUBLE)
                               / CAST(l.prev AS DOUBLE)
                               * 1000000.0 + 0.5) / 1000000.0
               END AS mom_growth,
               floor(CAST(l.s - y.s AS DOUBLE) / CAST(y.s AS DOUBLE)
                     * 1000000.0 + 0.5) / 1000000.0 AS yoy_growth
        FROM l LEFT JOIN m y ON y.midx = l.midx - 12
    """

    sql["w14_autocorr"] = """
        WITH daily AS (SELECT event_type AS key, CAST(ts AS DATE) AS day,
                              CAST(sum(CAST(value AS DECIMAL(15,2)))
                                   AS DECIMAL(15,2)) AS x
                       FROM events GROUP BY 1, 2),
        lagged AS (SELECT key, x,
                          lag(x, 1) OVER w AS x1, lag(x, 2) OVER w AS x2,
                          lag(x, 3) OVER w AS x3, lag(x, 4) OVER w AS x4,
                          lag(x, 5) OVER w AS x5
                   FROM daily WINDOW w AS (PARTITION BY key ORDER BY day)),
        stacked AS (
            SELECT key, 1 AS lag_k, x AS a, x1 AS b FROM lagged WHERE x1 IS NOT NULL
            UNION ALL SELECT key, 2, x, x2 FROM lagged WHERE x2 IS NOT NULL
            UNION ALL SELECT key, 3, x, x3 FROM lagged WHERE x3 IS NOT NULL
            UNION ALL SELECT key, 4, x, x4 FROM lagged WHERE x4 IS NOT NULL
            UNION ALL SELECT key, 5, x, x5 FROM lagged WHERE x5 IS NOT NULL),
        agg AS (SELECT key, lag_k,
                       CAST(count(*) AS DOUBLE) AS n,
                       CAST(sum(a) AS DOUBLE) AS sa,
                       CAST(sum(b) AS DOUBLE) AS sb,
                       CAST(sum(a * b) AS DOUBLE) AS sab,
                       CAST(sum(a * a) AS DOUBLE) AS saa,
                       CAST(sum(b * b) AS DOUBLE) AS sbb
                FROM stacked GROUP BY 1, 2)
        SELECT key AS event_type, lag_k, CAST(n AS BIGINT) AS n_pairs,
               CASE WHEN n >= 3 THEN
                   floor((n * sab - sa * sb)
                         / nullif(sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)),
                                  0.0)
                         * 1000000.0 + 0.5) / 1000000.0
               END AS acf
        FROM agg
    """

    sql["w15_mad_outliers"] = """
        WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                     FROM events GROUP BY 1),
        r AS (SELECT event_id, e.event_type, value, med,
                     abs(value - med) AS adev
              FROM events e JOIN med USING (event_type)),
        mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS madv
                FROM r GROUP BY 1),
        s AS (SELECT event_id, r.event_type, value, med, madv,
                     (value - med) / nullif(1.4826 * madv, 0.0) AS score
              FROM r JOIN mad USING (event_type))
        SELECT event_id, event_type, value,
               floor(med * 1000000.0 + 0.5) / 1000000.0 AS group_median,
               floor(madv * 1000000.0 + 0.5) / 1000000.0 AS group_mad,
               floor(score * 1000000.0 + 0.5) / 1000000.0 AS robust_z,
               coalesce(abs(score) > 3.5, FALSE) AS is_outlier
        FROM s WHERE coalesce(abs(score) > 3.5, FALSE)
    """

    sql["text_pmi_collocations"] = f"""
        WITH d AS (SELECT {_WORD_TOKS} AS w FROM documents),
        uni AS (SELECT t, count(*) AS c1
                FROM (SELECT unnest(w) AS t FROM d) GROUP BY 1),
        bi_all AS (SELECT w[i] AS w1, w[i + 1] AS w2, count(*) AS c2
                   FROM (SELECT w, unnest(range(1, len(w))) AS i FROM d)
                   GROUP BY 1, 2),
        n AS (SELECT CAST(sum(c1) AS DOUBLE) AS n FROM uni),
        b AS (SELECT CAST(sum(c2) AS DOUBLE) AS b FROM bi_all)
        SELECT w1, w2, c2 AS pair_count,
               floor((CAST(c2 AS DOUBLE) * n.n * n.n)
                     / (b.b * CAST(ua.c1 AS DOUBLE) * CAST(ub.c1 AS DOUBLE))
                     * 1000000.0 + 0.5) / 1000000.0 AS pmi_lift
        FROM bi_all
        JOIN uni ua ON ua.t = w1
        JOIN uni ub ON ub.t = w2
        CROSS JOIN n CROSS JOIN b
        WHERE c2 >= 5
        ORDER BY pmi_lift DESC, w1 ASC, w2 ASC
        LIMIT 20
    """

    sql["train_temperature_mixture"] = """
        WITH sizes AS (SELECT source, count(*) AS n_docs
                       FROM documents GROUP BY 1),
        nmin AS (SELECT min(n_docs) AS nm FROM sizes),
        rated AS (SELECT source, n_docs,
                         sqrt(CAST(nm AS DOUBLE) / CAST(n_docs AS DOUBLE))
                             AS rate
                  FROM sizes, nmin),
        kept AS (SELECT d.source, count(*) AS n_selected
                 FROM documents d JOIN rated r USING (source)
                 WHERE (CAST(CAST(('0x' || substr(md5(d.doc_id || 'tm0'), 1, 8))
                                  AS UBIGINT) AS DOUBLE) + 1.0)
                       / 4294967296.0 < r.rate
                 GROUP BY 1)
        SELECT r.source, CAST(r.n_docs AS BIGINT) AS n_docs,
               floor(r.rate * 1000000.0 + 0.5) / 1000000.0 AS keep_rate,
               CAST(coalesce(k.n_selected, 0) AS BIGINT) AS n_selected
        FROM rated r LEFT JOIN kept k USING (source)
        ORDER BY r.source
    """

    from chesscom_etl_tableau_spark.operators.linkage import linkage_weights

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
    sql["j8_record_linkage"] = f"""
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
    """

    _TRADE_E0 = """pe AS MATERIALIZED (
            SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        e0 AS MATERIALIZED (SELECT c AS src, s AS dst FROM pe
                            UNION ALL SELECT s AS src, c AS dst FROM pe)"""

    def _kcore_round(j: int) -> str:
        # one peel round: degree filter at the adaptive k, then keep
        # only edges with BOTH endpoints surviving. MATERIALIZED is
        # load-bearing: each CTE is referenced twice, and DuckDB would
        # otherwise inline them — exponential plan growth by round 8.
        return f""",
        k{j} AS MATERIALIZED (SELECT src AS n FROM e{j - 1}
                              GROUP BY src
                              HAVING count(*) >= (SELECT k FROM kk)),
        e{j} AS MATERIALIZED (SELECT e.src, e.dst FROM e{j - 1} e
                              JOIN k{j} a ON e.src = a.n
                              JOIN k{j} b ON e.dst = b.n)"""

    sql["graph_kcore"] = (
        f"""
        WITH {_TRADE_E0},
        d0 AS MATERIALIZED (SELECT src, count(*) AS dg FROM e0 GROUP BY src),
        kk AS MATERIALIZED (SELECT CAST(floor(quantile_cont(dg, 0.5)) + 1
                                        AS BIGINT) AS k FROM d0)"""
        + "".join(_kcore_round(j) for j in range(1, 9))
        + """
        SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
        FROM e8 GROUP BY src
    """
    )

    sql["graph_bfs"] = f"""
        WITH RECURSIVE {_TRADE_E0},
        walk(node, dist) AS (
            SELECT * FROM (VALUES ('s1', 0), ('s2', 0), ('s3', 0))
                AS seeds(node, dist)
            UNION
            SELECT e.dst, w.dist + 1
            FROM walk w JOIN e0 e ON e.src = w.node
            WHERE w.dist < 4
        )
        SELECT node, CAST(min(dist) AS INT) AS dist FROM walk GROUP BY node
    """

    # CAST AS DOUBLE[] is load-bearing: on float arrays DuckDB's
    # list_cosine_similarity computes AND returns float32, which both
    # diverges from Spark's float64 HOF chain in the 6th decimal and
    # poisons the rounding arithmetic (FLOAT * DECIMAL stays FLOAT).
    sql["ann_range_search"] = """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 3)
        SELECT query_id, vec_id,
               floor(list_cosine_similarity(e, qv) * 1000000.0 + 0.5)
                   / 1000000.0 AS cosine
        FROM v, q
        WHERE vec_id != query_id
          AND floor(list_cosine_similarity(e, qv) * 1000000.0 + 0.5)
                  / 1000000.0 >= 0.25
    """

    sql["a27_cohort_ltv"] = """
        WITH midx AS (SELECT user_id,
                             CAST(floor(datediff('day', DATE '1970-01-01',
                                                 CAST(ts AS DATE)) / 7.0)
                                  AS INT) AS m,
                             CAST(value AS DECIMAL(18,2)) AS v
                      FROM events WHERE event_type = 'purchase'),
        coh AS (SELECT user_id, min(m) AS c0 FROM midx GROUP BY 1),
        acts AS (SELECT c0, m - c0 AS period_offset, sum(v) AS rev
                 FROM midx JOIN coh USING (user_id) GROUP BY 1, 2),
        sizes AS (SELECT c0, count(*) AS cohort_users FROM coh GROUP BY 1),
        cum AS (SELECT c0, period_offset, rev,
                       sum(rev) OVER (PARTITION BY c0 ORDER BY period_offset
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cumrev
                FROM acts)
        SELECT DATE '1970-01-01' + INTERVAL (c0 * 7) DAY AS cohort_start,
               CAST(period_offset AS INT) AS period_offset,
               CAST(cohort_users AS BIGINT) AS cohort_users,
               CAST(rev AS DOUBLE) AS period_revenue,
               floor(CAST(cumrev AS DOUBLE) / CAST(cohort_users AS DOUBLE)
                     * 1000000.0 + 0.5) / 1000000.0 AS ltv_per_user
        FROM cum JOIN sizes USING (c0)
    """

    sql["train_dataset_card"] = f"""
        WITH base AS (SELECT source, count(*) AS n_docs,
                             sum(len({_WORD_TOKS})) AS total_tokens,
                             count(DISTINCT md5(coalesce(text, '')))
                                 AS n_uniq,
                             count(DISTINCT lang) AS n_langs
                      FROM documents GROUP BY 1),
        lc AS (SELECT source, lang, count(*) AS c
               FROM documents GROUP BY 1, 2),
        top AS (SELECT source, lang AS top_lang, c AS top_n,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY c DESC, lang ASC) AS rn
                FROM lc)
        SELECT b.source, CAST(n_docs AS BIGINT) AS n_docs,
               CAST(total_tokens AS BIGINT) AS total_tokens,
               floor(CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)
                     * 1000000.0 + 0.5) / 1000000.0 AS avg_tokens,
               floor((CAST(1.0 AS DOUBLE)
                      - CAST(n_uniq AS DOUBLE) / CAST(n_docs AS DOUBLE))
                     * 1000000.0 + 0.5) / 1000000.0 AS exact_dup_rate,
               CAST(n_langs AS BIGINT) AS n_langs, top_lang,
               floor(CAST(top_n AS DOUBLE) / CAST(n_docs AS DOUBLE)
                     * 1000000.0 + 0.5) / 1000000.0 AS top_lang_share
        FROM base b JOIN top t ON t.source = b.source AND t.rn = 1
        ORDER BY b.source
    """

    sql["graph_jaccard"] = """
        WITH e AS (SELECT DISTINCT l_suppkey AS u, l_partkey AS nb
                   FROM lineitem),
        deg AS (SELECT u, count(*) AS deg FROM e GROUP BY 1),
        c AS (SELECT a.u AS u, b.u AS v, count(*) AS n_common
              FROM e a JOIN e b ON a.nb = b.nb AND a.u < b.u
              GROUP BY 1, 2 HAVING count(*) >= 2)
        SELECT c.u AS l_suppkey_a, c.v AS l_suppkey_b, n_common,
               floor(CAST(n_common AS DOUBLE)
                     / CAST(da.deg + db.deg - n_common AS DOUBLE)
                     * 1000000.0 + 0.5) / 1000000.0 AS jaccard
        FROM c JOIN deg da ON da.u = c.u JOIN deg db ON db.u = c.v
        ORDER BY jaccard DESC, l_suppkey_a ASC, l_suppkey_b ASC
        LIMIT 20
    """


    # --- round-15 oracles ---

    # HTML extraction: the oracle replays the exact regexp/replace
    # chain of operators/text.py::html_extract over the SAME
    # deterministically built HTML shell (shared _HTML_P* constants).
    # Every pattern is RE2-portable by construction (no backrefs, no
    # engine-varying escape classes); entity decode order matters and
    # is mirrored exactly (&amp; last).
    _h_concat = (
        "concat('" + _HTML_P1 + "', lang, '" + _HTML_P2
        + "', replace(text, ' and ', ' &amp; '), '" + _HTML_P3 + "')"
    )
    _ent_chain = (
        "'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), "
        '\'&quot;\', \'"\'), '
        "'&#39;', '' || chr(39) || ''), '&amp;', '&'), "
    )
    sql["text_html_extract"] = (
        "WITH h AS (SELECT doc_id, " + _h_concat + " AS s FROM documents) "
        "SELECT doc_id, trim(regexp_replace("
        "replace(replace(replace(replace(replace(replace("
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace(s, "
        "'(?is)<script[^>]*>.*?</script>', ' ', 'g'), "
        "'(?is)<style[^>]*>.*?</style>', ' ', 'g'), "
        "'(?s)<!--.*?-->', ' ', 'g'), "
        "'<[^>]*>', ' ', 'g'), "
        + _ent_chain +
        "'[ \\t\\n\\r\\f]+', ' ', 'g')) AS extracted FROM h"
    )

    # Model-based quality scoring: the held-out slice is the
    # deterministic doc_id % 4 == 0 quarter; AUC/separation floors are
    # real Spark-side checks (measured ~1.0 at all fixture SFs against
    # floors 0.9/0.5) the oracle expects TRUE.
    sql["text_quality_model"] = """
        SELECT lang, CAST(count(*) AS BIGINT) AS n_test_docs,
               TRUE AS auc_ok, TRUE AS separation_ok
        FROM documents WHERE doc_id % 4 = 0 GROUP BY lang
    """

    # Cross-surface forget: remaining corpus is the closed-form
    # complement of the victim set; the exclusion/audit/replay booleans
    # are real Spark-side checks over all three surfaces.
    sql["pipeline_forget_ids"] = """
        SELECT source, CAST(count(*) AS BIGINT) AS n_remaining,
               TRUE AS corpus_excludes, TRUE AS lsh_excludes,
               TRUE AS ivf_excludes, TRUE AS audit_pre_shows,
               TRUE AS replay_noop
        FROM documents WHERE doc_id % 7 <> 0 GROUP BY source
    """

    # Streaming ANN enrichment: full closed-form replay of the IVF
    # probe — argmax bucket assignment of every corpus vector, nprobe=2
    # centroid routing per query (rounded sims, centroid-id tiebreak),
    # exact top-5 by cosine within the probed buckets (vec_id
    # tiebreak). Compaction changes file layout, never content, so the
    # mid-drain generation hop cannot move a single row of this
    # expected set — which is exactly what consistent_with_pinned
    # asserts Spark-side.
    sql["stream_ann_enrich"] = """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
        sc AS (SELECT v.vec_id, cid, round(list_cosine_similarity(v.e, ce), 6) AS sim
               FROM v CROSS JOIN c),
        asg AS (SELECT vec_id, cid AS bucket FROM (
                  SELECT vec_id, cid,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY sim DESC, cid) AS rn
                  FROM sc) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 6),
        qc AS (SELECT query_id, cid, qv,
                      round(list_cosine_similarity(qv, ce), 6) AS sim
               FROM q CROSS JOIN c),
        pr AS (SELECT query_id, cid AS bucket, qv FROM (
                  SELECT query_id, cid, qv, sim,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY sim DESC, cid) AS rn
                  FROM qc) WHERE rn <= 2),
        scored AS (SELECT p.query_id, a.vec_id,
                          round(list_cosine_similarity(cv.e, p.qv), 6) AS cosine_sim
                   FROM pr p
                   JOIN asg a ON a.bucket = p.bucket AND a.vec_id <> p.query_id
                   JOIN v cv ON cv.vec_id = a.vec_id)
        SELECT query_id, vec_id, cosine_sim, CAST(rank AS INT) AS rank,
               TRUE AS consistent_with_pinned, TRUE AS generations_advanced
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine_sim DESC, vec_id) AS rank
              FROM scored)
        WHERE rank <= 5
    """

    # Streaming decontamination: the stream_corpus_ingest macro rounds
    # with the contamination filter injected (decontam=True) — ctm is
    # the closed-form containment test (distinct 3-gram shingle hits
    # vs the doc_id % 11 == 3 benchmark vocabulary, exact integer
    # cross-multiply hits*2 >= n*1), dd{b} collects the per-batch
    # drops, and the scalar n_contam_dropped replays the counter sum.
    _ci_dc_rounds = ",".join(
        _corpus_ingest_cte(b, decontam=True) for b in (1, 2, 3)
    )
    sql["stream_corpus_decontam"] = f"""
        WITH qm AS ({{TOKEN_STATS}}),
        nt AS (SELECT doc_id, text, source, {_NORM_FP} AS fp,
                      ntile(3) OVER (ORDER BY doc_id) AS bb
               FROM documents),
        toks AS (SELECT doc_id, {_WORD_TOKS} AS t FROM documents),
        sh AS (SELECT doc_id,
                      unnest(list_distinct(list_transform(
                          range(1, greatest(len(t) - 2, 1) + 1),
                          i -> array_to_string(list_slice(t, i, i + 2), ' '))))
                          AS shingle
               FROM toks WHERE len(t) > 0),
        shn AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        rv AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 11 = 3),
        ctm AS (SELECT s.doc_id FROM sh s
                JOIN shn n ON n.doc_id = s.doc_id
                LEFT JOIN rv ON rv.shingle = s.shingle
                GROUP BY s.doc_id, n.n
                HAVING count(rv.shingle) * 2 >= n.n * 1),
        {_ci_dc_rounds},
        ddall AS (SELECT doc_id FROM dd1
                  UNION ALL SELECT doc_id FROM dd2
                  UNION ALL SELECT doc_id FROM dd3)
        SELECT cp3.source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(qm.n_tokens) AS BIGINT) AS total_tokens,
               floor(CAST(sum(CAST(floor(qm.quality_score * 1000000.0 + 0.5)
                                   AS BIGINT)) AS BIGINT)
                     / CAST(count(*) AS DOUBLE) + 0.5) / 1000000.0
                   AS avg_quality,
               (SELECT CAST(count(*) AS BIGINT) FROM ddall)
                   AS n_contam_dropped,
               TRUE AS lsh_recall_ok
        FROM cp3 JOIN qm ON qm.doc_id = cp3.doc_id
        GROUP BY cp3.source
    """

    # train_curriculum's band comes from the same quality_score the
    # token-stats oracle computes; splice that CTE in (defined above).
    sql["train_curriculum"] = sql["train_curriculum"].replace(
        "{TOKEN_STATS}", sql["text_token_stats"]
    )
    sql["stream_corpus_ingest"] = sql["stream_corpus_ingest"].replace(
        "{TOKEN_STATS}", sql["text_token_stats"]
    )
    sql["stream_corpus_ingest_mm"] = sql["stream_corpus_ingest_mm"].replace(
        "{TOKEN_STATS}", sql["text_token_stats"]
    )
    sql["stream_corpus_decontam"] = sql["stream_corpus_decontam"].replace(
        "{TOKEN_STATS}", sql["text_token_stats"]
    )
    # --- round-6 additions ---

    sql["s22_metadata_export"] = """
        -- expected snapshot log recomputed from the same source slice
        -- (s12's cumulative-count pattern): ids dense, 2 pinned files
        -- per commit (repartition(2)), no deletes, protocol 1, last
        -- snapshot current, total_records = footer sums = slice counts.
        WITH k AS (SELECT event_id FROM events WHERE event_id % 37 = 0),
        c AS (SELECT count(*) FILTER (event_id % 3 = 0) AS m0,
                     count(*) FILTER (event_id % 3 = 1) AS m1,
                     count(*) FILTER (event_id % 3 = 2) AS m2
              FROM k)
        SELECT CAST(g AS BIGINT) AS snapshot_id,
               CAST(2 * g AS BIGINT) AS n_data_files,
               CAST(0 AS BIGINT) AS n_delete_files,
               CAST(n AS BIGINT) AS total_records,
               CAST(1 AS BIGINT) AS protocol,
               g = 3 AS is_current
        FROM c, LATERAL (VALUES (1, m0), (2, m0 + m1), (3, m0 + m1 + m2)) AS t(g, n)
    """

    sql["text_kn_perplexity"] = """
        -- interpolated Kneser-Ney bigram LM, D = 0.75, trained on the
        -- doc_id % 5 != 0 split; association order mirrors the Spark
        -- expression verbatim so the doubles are bit-identical before
        -- the micro-floor.
        WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
               FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM d)),
        tr AS (SELECT * FROM bg WHERE doc_id % 5 <> 0),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM tr GROUP BY 1, 2),
        ctx AS (SELECT w1, sum(c2) AS c1, count(*) AS n1r FROM c2 GROUP BY 1),
        cont AS (SELECT w2, count(*) AS n1l FROM c2 GROUP BY 1),
        nb AS (SELECT count(*) AS b FROM c2),
        p AS (SELECT bg.doc_id,
                     -- B = 0 guard mirrors the engine: empty training
                     -- split scores at the epsilon floor, no div-by-0
                     CASE WHEN ctx.c1 IS NOT NULL THEN
                         (greatest(CAST(coalesce(c2.c2, 0) AS DOUBLE) - 0.75, 0.0)
                              / CAST(ctx.c1 AS DOUBLE))
                         + ((0.75 * CAST(ctx.n1r AS DOUBLE)) / CAST(ctx.c1 AS DOUBLE))
                           * (CASE WHEN nb.b > 0 THEN CAST(coalesce(cont.n1l, 0) AS DOUBLE) / CAST(nb.b AS DOUBLE) ELSE 0.0 END)
                     ELSE CASE WHEN nb.b > 0 THEN CAST(coalesce(cont.n1l, 0) AS DOUBLE) / CAST(nb.b AS DOUBLE) ELSE 0.0 END
                     END AS pr
              FROM bg
              LEFT JOIN c2 USING (w1, w2)
              LEFT JOIN ctx USING (w1)
              LEFT JOIN cont USING (w2)
              CROSS JOIN nb),
        sc AS (SELECT doc_id, count(*) AS nbg,
                      CAST(sum(CAST(floor(-log2(greatest(pr, 1e-9))
                                          * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s
               FROM p GROUP BY doc_id)
        SELECT d2.doc_id,
               CAST(coalesce(nbg, 0) AS BIGINT) AS n_bigrams,
               coalesce(floor(CAST(s AS DOUBLE) / nbg + 0.5) / 1000000.0, 0.0) AS kn_bits,
               coalesce(nbg, 0) >= 1
                   AND coalesce(floor(CAST(s AS DOUBLE) / nbg + 0.5) / 1000000.0, 0.0) <= 12.0
                   AS pass_quality
        FROM documents d2 LEFT JOIN sc USING (doc_id)
    """

    sql["emb_whitening"] = """
        -- contract oracle (the recall-floor pattern): the engine
        -- measures its own whitened output's mean/covariance; the
        -- oracle asserts the contract booleans and the yardsticks.
        SELECT CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(max(len(embedding)) AS BIGINT) AS dim,
               TRUE AS mean_is_zero,
               TRUE AS cov_is_identity
        FROM embeddings
    """

    sql["w16_resample_ohlc"] = """
        WITH e AS (SELECT user_id, event_id, value,
                          epoch_ns(ts) // 1000 AS us
                   FROM events),
        b AS (SELECT user_id, (us - us % 3600000000) // 1000000 AS bucket_start_s,
                     us, event_id, value
              FROM e),
        r AS (SELECT *,
                     row_number() OVER (PARTITION BY user_id, bucket_start_s
                                        ORDER BY us, event_id) AS ra,
                     row_number() OVER (PARTITION BY user_id, bucket_start_s
                                        ORDER BY us DESC, event_id DESC) AS rd
              FROM b)
        SELECT user_id,
               CAST(bucket_start_s AS BIGINT) AS bucket_start_s,
               max(CASE WHEN ra = 1 THEN value END) AS open_value,
               max(CASE WHEN rd = 1 THEN value END) AS close_value,
               min(value) AS low_value,
               max(value) AS high_value,
               CAST(count(*) AS BIGINT) AS n_events
        FROM r GROUP BY 1, 2
    """

    sql["a28_pattern_cep"] = """
        -- the greedy matcher replayed as a recursive CTE: one
        -- iteration = every user advances one event (event-time order,
        -- event_id tiebreak); a candidate older than the 24-hour budget
        -- expires BEFORE the event is considered, and the expiring
        -- event may itself start step 0 — identical semantics to
        -- operators/analytics.py::_advance_pattern (parity additionally
        -- pinned in tests/test_pattern_cep.py).
        WITH RECURSIVE ev AS (
            SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY epoch_ns(ts) // 1000, event_id) AS rn
            FROM events
        ),
        m AS (
            SELECT user_id, CAST(0 AS BIGINT) AS rn, 0 AS step_idx,
                   CAST(0 AS BIGINT) AS first_us,
                   CAST(NULL AS BIGINT) AS m_start, CAST(NULL AS BIGINT) AS m_end
            FROM (SELECT DISTINCT user_id FROM ev)
            UNION ALL
            SELECT e.user_id, e.rn,
                   CASE WHEN s.new_step = 3 THEN 0 ELSE s.new_step END,
                   CASE WHEN s.new_step = 3 THEN 0 ELSE s.new_first END,
                   CASE WHEN s.new_step = 3 THEN s.new_first END,
                   CASE WHEN s.new_step = 3 THEN e.us END
            FROM m
            JOIN ev e ON e.user_id = m.user_id AND e.rn = m.rn + 1
            CROSS JOIN LATERAL (
                SELECT new_step, new_first FROM (
                    SELECT CASE WHEN matched THEN eff_step + 1 ELSE eff_step END AS new_step,
                           CASE WHEN matched AND eff_step = 0 THEN e.us ELSE eff_first END AS new_first
                    FROM (
                        SELECT eff_step, eff_first,
                               e.event_type = CASE eff_step
                                   WHEN 0 THEN 'signup' WHEN 1 THEN 'view'
                                   WHEN 2 THEN 'purchase' END AS matched
                        FROM (
                            SELECT CASE WHEN m.step_idx > 0 AND e.us - m.first_us > 86400000000
                                        THEN 0 ELSE m.step_idx END AS eff_step,
                                   CASE WHEN m.step_idx > 0 AND e.us - m.first_us > 86400000000
                                        THEN 0 ELSE m.first_us END AS eff_first
                        )
                    )
                )
            ) s
        )
        SELECT user_id,
               make_timestamp(m_start) AS match_start,
               make_timestamp(m_end) AS match_end,
               CAST(m_end - m_start AS DOUBLE) / 1000000.0 AS duration_s
        FROM m WHERE m_start IS NOT NULL
    """

    # The streaming CEP twin drains to the SAME rows as the batch
    # matcher over fully-arrived data (closer events seal every
    # candidate), so its oracle is the a28 recursive CTE verbatim —
    # the stream_scd2 <- t15 convention.
    sql["stream_pattern_matches"] = sql["a28_pattern_cep"]

    # MG mergeability contract (see _q_stream_heavy_hitters): DuckDB
    # recomputes the exact heavy set (freq * (m+1) > N, m=8) and the
    # guarantee booleans are constants — TRUE for every heavy key, any
    # merge order.
    sql["stream_heavy_hitters"] = """
        WITH k AS (
            SELECT CASE WHEN user_id % 3 = 0
                        THEN 'hot' || CAST(user_id % 2 AS VARCHAR)
                        ELSE 'cold' || CAST(user_id % 997 AS VARCHAR) END AS key
            FROM events)
        SELECT key,
               CAST(count(*) AS BIGINT) AS true_count,
               TRUE AS in_state,
               TRUE AS bound_ok
        FROM k GROUP BY key
        HAVING count(*) * 9 > (SELECT count(*) FROM k)
    """

    sql["text_pr_curve"] = f"""
        -- mode="range" grid: t_i = mn + (mx - mn) * (i / 19.0), the
        -- SAME three binary64 ops the Spark plan performs, so every
        -- threshold (and thus every score >= t count) is bit-identical.
        WITH scored AS (
            SELECT CAST(len({_WORD_TOKS}) AS DOUBLE) AS score,
                   n_chars >= 300 AS label
            FROM documents),
        ext AS (SELECT CAST(min(score) AS DOUBLE) AS mn,
                       CAST(max(score) AS DOUBLE) AS mx
                FROM scored),
        th AS (SELECT CAST(i AS BIGINT) AS t_idx,
                      mn + (mx - mn) * (CAST(i AS DOUBLE) / 19.0) AS threshold
               FROM ext, range(20) r(i)),
        agg AS (
            SELECT t_idx, threshold,
                   sum(CASE WHEN score >= threshold AND label THEN 1 ELSE 0 END) AS tp,
                   sum(CASE WHEN score >= threshold THEN 1 ELSE 0 END) AS kept,
                   sum(CASE WHEN label THEN 1 ELSE 0 END) AS pos,
                   count(*) AS n
            FROM scored, th GROUP BY 1, 2)
        SELECT t_idx,
               floor(threshold * 1000000.0 + 0.5) / 1000000.0 AS threshold,
               floor((CAST(tp AS DOUBLE) / kept) * 1000000.0 + 0.5) / 1000000.0
                   AS "precision",
               floor((CAST(tp AS DOUBLE) / pos) * 1000000.0 + 0.5) / 1000000.0
                   AS recall,
               floor((CAST(kept AS DOUBLE) / n) * 1000000.0 + 0.5) / 1000000.0
                   AS kept_frac
        FROM agg
    """

    sql["a29_ab_test"] = """
        -- counts exact ints, value sums exact decimal; every derived
        -- statistic spells the engine's IEEE op sequence verbatim
        -- (divisions are NULL-on-zero in both engines: Spark uses
        -- try_divide, DuckDB divides to NULL natively).
        WITH per_user AS (
            SELECT user_id,
                   max(event_type = 'purchase') AS converted,
                   CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value
            FROM events GROUP BY user_id),
        o AS (
            SELECT CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END AS variant,
                   converted, value
            FROM per_user),
        pv AS (
            SELECT variant,
                   count(*) AS n,
                   sum(CASE WHEN converted THEN 1 ELSE 0 END) AS conv,
                   sum(CAST(value AS DECIMAL(12,2))) AS sx,
                   sum(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS sxx
            FROM o GROUP BY variant),
        w AS (
            SELECT CAST(sum(CASE WHEN variant = 'control' THEN n ELSE 0 END) AS BIGINT) AS n_c,
                   CAST(sum(CASE WHEN variant = 'treatment' THEN n ELSE 0 END) AS BIGINT) AS n_t,
                   CAST(sum(CASE WHEN variant = 'control' THEN conv ELSE 0 END) AS BIGINT) AS conv_c,
                   CAST(sum(CASE WHEN variant = 'treatment' THEN conv ELSE 0 END) AS BIGINT) AS conv_t,
                   sum(CASE WHEN variant = 'control' THEN CAST(sx AS DOUBLE) ELSE 0.0 END) AS sx_c,
                   sum(CASE WHEN variant = 'treatment' THEN CAST(sx AS DOUBLE) ELSE 0.0 END) AS sx_t,
                   sum(CASE WHEN variant = 'control' THEN CAST(sxx AS DOUBLE) ELSE 0.0 END) AS sxx_c,
                   sum(CASE WHEN variant = 'treatment' THEN CAST(sxx AS DOUBLE) ELSE 0.0 END) AS sxx_t
            FROM pv),
        s AS (
            SELECT *,
                   CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE) AS rate_c,
                   CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE) AS rate_t,
                   (CAST(conv_c AS DOUBLE) + CAST(conv_t AS DOUBLE))
                       / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)) AS pooled,
                   sx_c / CAST(n_c AS DOUBLE) AS m_c,
                   sx_t / CAST(n_t AS DOUBLE) AS m_t,
                   (sxx_c - sx_c * sx_c / CAST(n_c AS DOUBLE)) / (CAST(n_c AS DOUBLE) - 1.0) AS s2_c,
                   (sxx_t - sx_t * sx_t / CAST(n_t AS DOUBLE)) / (CAST(n_t AS DOUBLE) - 1.0) AS s2_t
            FROM w)
        SELECT n_c AS n_control, n_t AS n_treatment,
               conv_c AS conv_control, conv_t AS conv_treatment,
               floor(rate_c * 1000000.0 + 0.5) / 1000000.0 AS rate_control,
               floor(rate_t * 1000000.0 + 0.5) / 1000000.0 AS rate_treatment,
               floor((rate_t - rate_c) / rate_c * 1000000.0 + 0.5) / 1000000.0 AS rel_lift,
               floor((rate_t - rate_c)
                     / sqrt(pooled * (1.0 - pooled)
                            * (1.0 / CAST(n_c AS DOUBLE) + 1.0 / CAST(n_t AS DOUBLE)))
                     * 1000000.0 + 0.5) / 1000000.0 AS z_conversion,
               floor(m_c * 1000000.0 + 0.5) / 1000000.0 AS mean_value_control,
               floor(m_t * 1000000.0 + 0.5) / 1000000.0 AS mean_value_treatment,
               floor((m_t - m_c) / sqrt(s2_c / CAST(n_c AS DOUBLE) + s2_t / CAST(n_t AS DOUBLE))
                     * 1000000.0 + 0.5) / 1000000.0 AS welch_t_value
        FROM s
    """

    sql["a30_cusum"] = """
        -- Page's CUSUM replayed as a recursive CTE (the a28 strategy):
        -- one iteration advances every user one event; both one-sided
        -- statistics live in exact integer micro-units, so the
        -- recurrence is bit-identical to the engine's per-key scan.
        -- target 50.0 -> 50000000, slack 25.0 -> 25000000,
        -- threshold 200.0 -> 200000000.
        WITH RECURSIVE ev AS (
            SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id,
                   CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS x,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY epoch_ns(ts) // 1000, event_id) AS rn
            FROM events),
        m AS (
            SELECT user_id, CAST(0 AS BIGINT) AS rn,
                   CAST(0 AS BIGINT) AS s_pos, CAST(0 AS BIGINT) AS s_neg,
                   CAST(NULL AS BIGINT) AS cp_us, CAST(NULL AS VARCHAR) AS cp_dir,
                   CAST(NULL AS BIGINT) AS cp_stat
            FROM (SELECT DISTINCT user_id FROM ev)
            UNION ALL
            SELECT e.user_id, e.rn,
                   CASE WHEN s.emit THEN 0 ELSE s.np END,
                   CASE WHEN s.emit THEN 0 ELSE s.nn END,
                   CASE WHEN s.emit THEN e.us END,
                   CASE WHEN s.emit THEN s.dir END,
                   CASE WHEN s.emit THEN s.stat END
            FROM m
            JOIN ev e ON e.user_id = m.user_id AND e.rn = m.rn + 1
            CROSS JOIN LATERAL (
                SELECT np, nn, np > 200000000 OR nn > 200000000 AS emit,
                       CASE WHEN np > 200000000 THEN 'up' ELSE 'down' END AS dir,
                       CASE WHEN np > 200000000 THEN np ELSE nn END AS stat
                FROM (SELECT greatest(CAST(0 AS BIGINT),
                                      m.s_pos + (e.x - 50000000 - 25000000)) AS np,
                             greatest(CAST(0 AS BIGINT),
                                      m.s_neg + (50000000 - 25000000 - e.x)) AS nn)
            ) s
        )
        SELECT user_id,
               make_timestamp(cp_us) AS change_ts,
               cp_dir AS direction,
               CAST(cp_stat AS DOUBLE) / 1000000.0 AS stat
        FROM m WHERE cp_us IS NOT NULL
    """

    sql["emb_knn_consistency"] = """
        -- the ann_cosine_topk oracle shape over ALL vectors as queries,
        -- then per-query label agreement; agreement is one integer
        -- division, floor-6dp in both engines.
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS qlbl
                   FROM embeddings),
        c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv, label AS nlbl FROM embeddings),
        scored AS (
            SELECT query_id, qlbl, vec_id, nlbl,
                   round(list_cosine_similarity(cv, qv), 6) AS cosine_sim
            FROM c CROSS JOIN q WHERE vec_id <> query_id),
        top AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY cosine_sim DESC, vec_id ASC) AS rnk
                FROM scored) WHERE rnk <= 5)
        SELECT query_id AS vec_id, qlbl AS label,
               CAST(sum(CASE WHEN nlbl = qlbl THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
               floor(CAST(sum(CASE WHEN nlbl = qlbl THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
                     * 1000000.0 + 0.5) / 1000000.0 AS agreement
        FROM top GROUP BY 1, 2
    """

    sql["emb_psi_drift"] = """
        -- per-dimension PSI between the even/odd vec_id halves: bin
        -- edges are the range-grid three-op form, counts exact ints,
        -- per-bin terms micro-floored then integer-summed (the
        -- char_entropy convention) so ln() rounding can never drift
        -- the total.
        WITH ex AS (
            SELECT u.d AS dim, CAST(u.v AS DOUBLE) AS v,
                   CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS side
            FROM (SELECT vec_id,
                         unnest(list_transform(CAST(embedding AS DOUBLE[]),
                                               (x, i) -> struct_pack(v := x, d := i - 1))) AS u
                  FROM embeddings)),
        ext AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM ex GROUP BY dim),
        binned AS (
            SELECT e.dim, e.side,
                   CAST(CASE WHEN t.mx = t.mn THEN 0
                        ELSE least(9, floor((e.v - t.mn) * 10.0 / (t.mx - t.mn))) END AS INT) AS bin
            FROM ex e JOIN ext t USING (dim)),
        counts AS (
            SELECT dim, bin,
                   CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                   CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
            FROM binned GROUP BY dim, bin),
        tot AS (SELECT dim, CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
                FROM counts GROUP BY dim),
        terms AS (
            SELECT c.dim,
                   CAST(floor(((CAST(c.ca AS DOUBLE) + 1.0) / (CAST(t.na AS DOUBLE) + 10.0)
                               - (CAST(c.cb AS DOUBLE) + 1.0) / (CAST(t.nb AS DOUBLE) + 10.0))
                              * ln(((CAST(c.ca AS DOUBLE) + 1.0) / (CAST(t.na AS DOUBLE) + 10.0))
                                   / ((CAST(c.cb AS DOUBLE) + 1.0) / (CAST(t.nb AS DOUBLE) + 10.0)))
                              * 1000000.0 + 0.5) AS BIGINT) AS term_mu
            FROM counts c JOIN tot t USING (dim))
        SELECT CAST(dim AS INT) AS dim,
               CAST(sum(term_mu) AS DOUBLE) / 1000000.0 AS psi
        FROM terms GROUP BY dim
    """

    return sql
