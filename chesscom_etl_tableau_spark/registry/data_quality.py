"""Data-quality reports and observations over the testdata tables."""

from __future__ import annotations

from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.operators import skew as SK
from chesscom_etl_tableau_spark.registry.common import _dec, _t
from chesscom_etl_tableau_spark.registry.record import query


@query(oracle="""
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
    """)
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


# Eager: observation resolves only after the carrier action.
@query(eager=True, oracle="""
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
    """)
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


@query(oracle="""
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
    """)
def _q_dq_skew_report(spark, sf_dir):
    # Key-skew measurement (new in r5 final): top-10 heaviest supplier
    # keys + Gini of the key-count distribution
    # (operators/skew.py::skew_report) — the evidence that decides
    # whether a8_salted_count's salting path is warranted.
    li = _t(spark, sf_dir, "lineitem")
    return SK.skew_report(li, ["l_suppkey"], top_k=10)
