"""TPC-H-style pricing and scan queries (q1-q22 stand-ins)."""

from __future__ import annotations

from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.plans.fence import fenced_broadcast
from chesscom_etl_tableau_spark.registry.common import _dec, _t
from chesscom_etl_tableau_spark.registry.record import query


def _tpch_revenue():
    # sum(extprice * (1 - discount)) with exact decimal arithmetic so
    # the aggregate is order-independent (engine-portable), surfaced as
    # DOUBLE for the driver compare.
    return F.sum(
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
    ).cast("double")


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

Q1_PRICING_SUMMARY = """
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


@query(headline="scan_bound", oracle=Q1_PRICING_SUMMARY)
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


@query(oracle="""
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
    """)
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


@query(oracle="""
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
    """)
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


@query(oracle="""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
          AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority
    """)
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


@query(oracle="""
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
    """)
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


@query(oracle="""
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
    """)
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


@query(oracle="""
        SELECT c_count, count(*) AS custdist
        FROM (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        )
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """)
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


@query(oracle="""
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
    """)
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


@query(oracle="""
        SELECT CAST(floor(
            CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
            * 1e6 + 0.5) AS BIGINT) AS avg_yearly_micro
        FROM lineitem l, part
        WHERE p_partkey = l_partkey AND p_brand = 'Brand#4'
          AND l_quantity < 0.5 * (SELECT avg(l2.l_quantity) FROM lineitem l2
                                  WHERE l2.l_partkey = l.l_partkey)
    """)
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


@query(oracle="""
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
    """)
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


@query(oracle="""
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        FROM lineitem, part
        WHERE l_partkey = p_partkey
          AND ((p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30))
    """)
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


@query(oracle="""
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
    """)
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


@query(oracle="""
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
    """)
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


@query(oracle=f"""
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
    """)
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


Q6_FORECAST_REVENUE = """
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
          AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
    """


@query(oracle=Q6_FORECAST_REVENUE)
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


@query(oracle="""
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
    """)
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


@query(oracle="""
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
    """)
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


@query(oracle=f"""
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
    """)
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


@query(oracle="""
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
    """)
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


@query(oracle="""
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
    """)
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


@query(oracle=f"""
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
    """)
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


@query(oracle="""
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
    """)
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
