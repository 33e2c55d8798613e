"""Row transforms: flattening, dates, regex extraction, bucketing, SCD2 (SURVEY.md §2 T*)."""

from __future__ import annotations

from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.operators import text as TX
from chesscom_etl_tableau_spark.operators.date_dim import date_dim_for
from chesscom_etl_tableau_spark.cli import parse_usernames
from chesscom_etl_tableau_spark.functions.derivations import (
    opponent_rating,
    opponent_username,
    rating_bucket,
    user_color,
)
from chesscom_etl_tableau_spark.functions.pgn import game_result, pgn_eco
from chesscom_etl_tableau_spark.registry.common import _WORD_TOKS, _dec, _t
from chesscom_etl_tableau_spark.registry.record import query


@query(headline="scan_bound", oracle="SELECT o_custkey, o_orderkey, o_totalprice FROM orders")
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


@query(oracle="""
        SELECT event_id,
               CAST(ts AS DATE) AS event_date,
               CAST(year(CAST(ts AS DATE)) AS INT) AS y,
               CAST(month(CAST(ts AS DATE)) AS INT) AS m,
               CAST(day(CAST(ts AS DATE)) AS INT) AS d,
               CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS INT) AS epoch_day
        FROM events
    """)
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


@query(oracle=f"""
        SELECT doc_id,
               coalesce(
                   nullif(regexp_extract(text, 'key ([a-z0-9]+)', 1), ''),
                   {_WORD_TOKS.replace('text', 'text')}[-1],
                   ''
               ) AS extracted
        FROM documents
    """)
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


@query(oracle="""
        SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                    WHEN o_totalprice < 150000 THEN 'medium'
                    WHEN o_totalprice < 300000 THEN 'large'
                    ELSE 'jumbo' END AS price_bucket,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM orders GROUP BY 1
    """)
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


@query(oracle="""
        SELECT CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT) AS acctbal_bucket,
               count(*) AS n_customers
        FROM customer GROUP BY 1
    """)
def _q_t10_width_bucket(spark, sf_dir):
    # T10: fixed-width numeric bucketing (opponent-rating-bucket pattern).
    c = _t(spark, sf_dir, "customer")
    lo = (F.floor(F.col("c_acctbal") / 1000) * 1000).cast("bigint")
    return c.groupBy(lo.alias("acctbal_bucket")).agg(F.count(F.lit(1)).alias("n_customers"))


@query(oracle="""
        SELECT CAST(d AS DATE) AS date,
               CAST(year(CAST(d AS DATE)) AS INT) AS year,
               CAST(month(CAST(d AS DATE)) AS INT) AS month,
               CAST(day(CAST(d AS DATE)) AS INT) AS day,
               CAST(quarter(CAST(d AS DATE)) AS INT) AS quarter
        FROM (SELECT unnest(generate_series(
                 (SELECT CAST(min(o_orderdate) AS DATE) FROM orders),
                 (SELECT CAST(max(o_orderdate) AS DATE) FROM orders),
                 INTERVAL 1 DAY)) AS d)
    """)
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


@query(oracle="""
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
               floor(CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS DOUBLE)
                     / count(*) * 1000000.0 + 0.5) / 1000000.0 AS avg_k
        FROM events GROUP BY event_type
    """)
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


@query(oracle="""
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
    """)
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


# i6 incremental maintenance (and the stream_scd2 twin) must equal
# the FULL rebuild, so their oracle IS the t15 islands SQL.
T15_SCD2_DIMENSION = """
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


@query(oracle=T15_SCD2_DIMENSION)
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


@query(oracle="""
        SELECT * FROM (VALUES (CAST(0 AS BIGINT), 'alice'),
                              (CAST(1 AS BIGINT), 'bob'),
                              (CAST(2 AS BIGINT), 'carol')) AS t(idx, username)
    """)
def _q_t6_csv_split(spark, sf_dir):
    # T6: CSV split + trim + drop-empty (fetch_and_post.py:296).
    users = parse_usernames("  alice, bob ,, carol ,")
    return spark.createDataFrame(
        [(i, u) for i, u in enumerate(users)], "idx bigint, username string"
    )


@query(oracle="""
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
    """)
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


@query(oracle="""
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
    """)
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


@query(oracle="""
        SELECT doc_id,
               CASE WHEN doc_id % 3 <> 0
                    THEN concat(substring('ABCDE', CAST(doc_id % 5 + 1 AS INT), 1), '20')
                    ELSE NULL END AS eco
        FROM documents
    """)
def _q_t11_eco_extract(spark, sf_dir):
    # T11: ECO opening code from the PGN tag header; NULL when absent.
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    eco = F.concat(F.substring(F.lit("ABCDE"), (d % 5 + 1).cast("int"), 1), F.lit("20"))
    pgn = F.when(d % 3 != 0, F.concat(F.lit('x [ECO "'), eco, F.lit('"] 1. e4'))).otherwise(
        F.lit("1. e4 e5")
    )
    return docs.select("doc_id", pgn_eco(pgn).alias("eco"))


@query(oracle="""
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
    """)
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


@query(oracle="""
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
    """)
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
