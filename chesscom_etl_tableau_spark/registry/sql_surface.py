"""The same queries written in Spark SQL; each shares its DataFrame twin's oracle."""

from __future__ import annotations

from chesscom_etl_tableau_spark.registry.record import query
from chesscom_etl_tableau_spark.registry.aggregates_windows import A1_CARD_MEASURES
from chesscom_etl_tableau_spark.registry.joins import J3_STAR_JOIN, J4_TOPN_SEMI
from chesscom_etl_tableau_spark.registry.pricing_scan import Q1_PRICING_SUMMARY, Q6_FORECAST_REVENUE


@query(oracle=Q1_PRICING_SUMMARY)
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


@query(oracle=Q6_FORECAST_REVENUE)
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


@query(oracle=A1_CARD_MEASURES)
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


@query(oracle=J4_TOPN_SEMI)
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


@query(oracle=J3_STAR_JOIN)
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
