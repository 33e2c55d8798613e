"""Aggregates and window functions (SURVEY.md §2 A*/W* operators)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.operators import analytics as AN
from chesscom_etl_tableau_spark.operators import sessions as SESS
from chesscom_etl_tableau_spark.operators import skew as SK
from chesscom_etl_tableau_spark.operators import text as TX
from chesscom_etl_tableau_spark.operators.asof import asof_join
from chesscom_etl_tableau_spark.operators.windows import rolling_ratio_by_day
from chesscom_etl_tableau_spark.registry.common import _WORD_TOKS, _dec, _t
from chesscom_etl_tableau_spark.registry.record import query


A1_CARD_MEASURES = """
        SELECT count(*) AS total_orders,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS fulfilled,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS open_orders,
               round(CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) / count(*), 6) AS fulfilled_ratio,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM orders
    """


@query(oracle=A1_CARD_MEASURES)
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


@query(oracle="""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_fulfilled,
               round(CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) / count(*), 6) AS fulfilled_ratio
        FROM orders GROUP BY o_orderpriority
    """)
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


@query(headline="scan_bound", oracle="""
        SELECT user_id, event_type, count(*) AS n_events
        FROM events GROUP BY user_id, event_type
    """)
def _q_a8_count_by_key(spark, sf_dir):
    # A8: COUNTROWS per key (games-vs-opponent pattern).
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n_events"))


@query(headline="scan_bound", oracle="""
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
    """)
def _q_w1_rolling_12d(spark, sf_dir):
    # W1: trailing 12-day ratio via per-day pre-agg + RANGE frame.
    ev = _t(spark, sf_dir, "events")
    return rolling_ratio_by_day(ev, "ts", F.col("event_type") == "purchase", days=12)


@query(oracle="""
        SELECT y, m, d, count(*) AS n_events
        FROM (SELECT CAST(year(CAST(ts AS DATE)) AS INT) AS y,
                     CAST(month(CAST(ts AS DATE)) AS INT) AS m,
                     CAST(day(CAST(ts AS DATE)) AS INT) AS d
              FROM events)
        GROUP BY ROLLUP(y, m, d)
    """)
def _q_w2_rollup_drill(spark, sf_dir):
    # W2: Year->Month->Day hierarchy drill as ROLLUP grouping sets.
    ev = _t(spark, sf_dir, "events")
    d = F.to_date("ts")
    base = ev.select(
        F.year(d).alias("y"), F.month(d).alias("m"), F.dayofmonth(d).alias("d")
    )
    return base.rollup("y", "m", "d").agg(F.count(F.lit(1)).alias("n_events"))


@query(headline="scan_bound", oracle="""
        SELECT lang,
               round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
               round(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
               count(*) AS n_docs
        FROM documents GROUP BY lang
    """)
def _q_a13_percentiles(spark, sf_dir):
    # A13 (beyond parity): exact percentiles per group — the quality-
    # threshold aggregate a filtering pipeline derives cutoffs from.
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.round(F.percentile("n_chars", F.lit(0.5)), 6).alias("p50_chars"),
        F.round(F.percentile("n_chars", F.lit(0.9)), 6).alias("p90_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@query(headline="scan_bound", oracle="""
        SELECT lang,
               round(quantile_cont(n_chars, 0.5), 6) AS exact_p50,
               round(quantile_cont(n_chars, 0.95), 6) AS exact_p95,
               count(*) AS n_docs,
               TRUE AS p50_within_band,
               TRUE AS p95_within_band
        FROM documents GROUP BY lang
    """)
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


@query(oracle="""
        SELECT event_type,
               count(DISTINCT user_id) AS exact_users,
               count(*) AS n_events,
               TRUE AS approx_within_bound
        FROM events GROUP BY event_type
    """)
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


@query(oracle="""
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
    """)
def _q_w3_sessionize(spark, sf_dir):
    # W3 (beyond parity): gap-based sessionization, 30-min gap.
    ev = _t(spark, sf_dir, "events")
    return SESS.sessionize(ev, gap_minutes=30, tiebreak_cols=("event_id",)).select(
        "user_id", "event_id", F.col("session_seq").cast("bigint").alias("session_seq")
    )


@query(headline="scan_bound", oracle="""
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
    """)
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


@query(oracle="""
        SELECT user_id, event_type, count(*) AS n_rows
        FROM events GROUP BY user_id, event_type
    """)
def _q_a8_salted_count(spark, sf_dir):
    # A8 under skew: salted two-phase count — identical output to the
    # direct groupBy, balanced shuffle under hot keys.
    ev = _t(spark, sf_dir, "events")
    return SK.salted_count_by_key(ev, ["user_id", "event_type"], salt=16)


@query(headline="scan_bound", oracle="""
        SELECT d, event_type, count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM (SELECT CAST(day(CAST(ts AS DATE)) AS INT) AS d, event_type, value FROM events)
        GROUP BY CUBE(d, event_type)
    """)
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


@query(headline="scan_bound", oracle="""
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
    """)
def _q_a15_funnel(spark, sf_dir):
    # Strict-order conversion funnel over the events stream.
    ev = _t(spark, sf_dir, "events")
    return AN.funnel_conversion(ev).select(
        F.col("step_idx").cast("int").alias("step_idx"), "step", "n_users"
    )


@query(headline="scan_bound", oracle="""
        WITH active AS (SELECT DISTINCT user_id,
                               CAST(date_trunc('day', ts) AS DATE) AS p
                        FROM events),
        cohort AS (SELECT user_id, min(p) AS cohort FROM active GROUP BY 1)
        SELECT cohort,
               CAST(date_diff('day', cohort, p) AS INT) AS "offset",
               count(DISTINCT a.user_id) AS n_users
        FROM active a JOIN cohort USING (user_id)
        GROUP BY 1, 2
    """)
def _q_a16_retention(spark, sf_dir):
    # Daily cohort retention matrix (cohort = first active day; the
    # synthetic corpus is dense enough that weekly collapses to one
    # cohort, daily exercises a real matrix).
    ev = _t(spark, sf_dir, "events")
    return AN.retention_matrix(ev, period="day")


@query(headline="scan_bound", oracle="""
        SELECT CAST(ts AS DATE) AS day,
               count(*) FILTER (event_type = 'click') AS click,
               count(*) FILTER (event_type = 'error') AS error,
               count(*) FILTER (event_type = 'purchase') AS purchase,
               count(*) FILTER (event_type = 'signup') AS signup,
               count(*) FILTER (event_type = 'view') AS view
        FROM events GROUP BY 1
    """)
def _q_w6_pivot(spark, sf_dir):
    # Daily activity pivot: fixed event-type columns, stable schema.
    ev = _t(spark, sf_dir, "events")
    return AN.pivot_counts(ev)


@query(oracle="""
        SELECT user_id, event_id,
               round(CAST(sum(CAST(value AS DECIMAL(12,2))) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS running_value
        FROM events
    """)
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


# Eager: driver-side sketch readout (df.stat).
@query(eager=True, oracle="""
        SELECT event_type, count(*) AS exact_count,
               TRUE AS never_undercounts,
               TRUE AS within_eps_bound
        FROM events GROUP BY event_type ORDER BY event_type
    """)
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


@query(oracle="""
        SELECT event_type,
               count(DISTINCT user_id) AS exact_users,
               count(DISTINCT CAST(ts AS DATE)) AS n_days,
               TRUE AS union_within_bound
        FROM events GROUP BY event_type
    """)
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


@query(oracle="""
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
    """)
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


@query(oracle=f"""
        WITH t AS (SELECT unnest({_WORD_TOKS}) AS token FROM documents),
        tot AS (SELECT count(*) AS n FROM t)
        SELECT token, count(*) AS support,
               (SELECT n FROM tot) AS total_rows
        FROM t GROUP BY token
        HAVING count(*) * 30 > (SELECT n FROM tot)
    """)
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


@query(oracle="""
        SELECT event_type, month,
               CAST(grouping(event_type, month) AS BIGINT) AS gid,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM (SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m') AS month, value
              FROM events)
        GROUP BY GROUPING SETS ((event_type, month), (event_type), ())
    """)
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


@query(oracle="""
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
    """)
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


@query(oracle="""
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
    """)
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


@query(oracle="""
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
    """)
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


@query(headline="scan_bound", oracle="""
        -- make_timestamp(micros) is timezone-free (naive UTC epoch
        -- arithmetic), unlike CAST(to_timestamp(..) AS TIMESTAMP)
        -- which routes through the DuckDB session TimeZone.
        SELECT make_timestamp(CAST((floor(epoch(ts) / 300) * 300 - j * 300) * 1000000 AS BIGINT)) AS window_start,
               make_timestamp(CAST((floor(epoch(ts) / 300) * 300 - j * 300 + 900) * 1000000 AS BIGINT)) AS window_end,
               event_type,
               count(*) AS n_events
        FROM events CROSS JOIN (VALUES (0), (1), (2)) t(j)
        GROUP BY 1, 2, 3
    """)
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


@query(headline="scan_bound", oracle="""
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
    """)
def _q_a17_zscore_anomalies(spark, sf_dir):
    # Rolling 7-day z-score volume anomaly detection per event type.
    ev = _t(spark, sf_dir, "events")
    return AN.zscore_anomalies(ev)


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


@query(oracle=f"""
        SELECT user_id, event_id,
               floor(({_ew_num}) / ({_ew_den}) * 1000000.0 + 0.5)
                   / 1000000.0 AS ewma_value
        FROM events WHERE event_type = 'purchase'
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """)
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


@query(oracle="""
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
    """)
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


@query(oracle="""
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
    """)
def _q_a25_event_paths(spark, sf_dir):
    # Behavioral path mining (new in r5 final): top-10 most frequent
    # 3-step event paths (operators/analytics.py::sequence_ngrams) —
    # funnel DISCOVERY, where a15_funnel checks one hypothesized path.
    ev = _t(spark, sf_dir, "events")
    return AN.sequence_ngrams(
        ev, "user_id", ["ts", "event_id"], "event_type", n=3, top_k=10
    )


@query(oracle="""
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
    """)
def _q_a23_basket_lift(spark, sf_dir):
    # Association rules (new in r5 final): top-20 part pairs by LIFT
    # among pairs co-purchased in >=2 orders
    # (operators/analytics.py::basket_lift). Exact-integer lift
    # numerator/denominator, one IEEE division, deterministic top-k.
    li = _t(spark, sf_dir, "lineitem")
    return AN.basket_lift(li, "l_orderkey", "l_partkey", min_support=2, top_k=20)


@query(oracle="""
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
    """)
def _q_a24_trend_slope(spark, sf_dir):
    # Per-user OLS value trend (new in r5 final): closed-form slope
    # from five exact-decimal sufficient statistics in ONE aggregation
    # pass (operators/analytics.py::trend_slope) — no iteration, no ML
    # fit, engine-exact combine.
    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    return AN.trend_slope(ev, "user_id", "ts", "value")


@query(oracle="""
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
    """)
def _q_a26_share_of_total(spark, sf_dir):
    # Percent-of-total (new in r5 sixth session): order value share by
    # priority (operators/analytics.py::share_of_total) — the Pareto/
    # donut BI staple. Exact decimal sums; the grand total rides a
    # single-partition window over the 5-row aggregate, never the fact.
    orders = _t(spark, sf_dir, "orders")
    return AN.share_of_total(orders, "o_orderpriority", "o_totalprice")


@query(oracle="""
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
    """)
def _q_w13_period_growth(spark, sf_dir):
    # MoM + YoY growth (new in r5 sixth session): the period-over-period
    # comparison (operators/analytics.py::period_growth). Gap months and
    # missing year-ago bases report NULL, never 0.
    orders = _t(spark, sf_dir, "orders")
    return AN.period_growth(orders, "o_orderdate", "o_totalprice")


@query(oracle="""
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
    """)
def _q_w14_autocorr(spark, sf_dir):
    # Per-type ACF lags 1..5 of the daily value series (new in r5 sixth
    # session, operators/analytics.py::autocorrelation) — exact-decimal
    # sufficient statistics, one window pass emits all lags.
    ev = _t(spark, sf_dir, "events")
    return AN.autocorrelation(ev, "event_type", "ts", "value", max_lag=5)


@query(oracle="""
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
    """)
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


@query(oracle="""
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
    """)
def _q_a27_cohort_ltv(spark, sf_dir):
    # Cohort LTV curves (new in r5 sixth session,
    # operators/analytics.py::cohort_ltv): cumulative revenue per
    # cohort member by month offset — the monetized sibling of
    # a16_retention, exact decimal through the cumulative sum.
    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    return AN.cohort_ltv(ev, "user_id", "ts", "value", period="week")


A28_PATTERN_CEP = """
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


@query(oracle=A28_PATTERN_CEP)
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


@query(oracle="""
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
    """)
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


@query(oracle="""
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
    """)
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


@query(oracle="""
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
    """)
def _q_w16_resample_ohlc(spark, sf_dir):
    # W16 (r6): hourly OHLC downsample per user — one partial-aggregated
    # shuffle, open/close via min_by/max_by on a (ts, event_id) struct
    # ordering key (operators/windows.py::resample_ohlc).
    from chesscom_etl_tableau_spark.operators.windows import resample_ohlc

    return resample_ohlc(_t(spark, sf_dir, "events"))
