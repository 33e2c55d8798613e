"""Behavioral analytics over the events stream: funnel conversion,
retention cohorts, pivoted activity matrix.

These are the dashboard-layer query shapes the reference's BI workbook
family implies (SURVEY.md §2 A/W groups) applied to the generic events
table — each expressible as pure Catalyst aggregations, each with an
exact ANSI-SQL oracle.

Scale notes:
- funnel: per-step conditional min-aggregates — one shuffle per step on
  user_id, every join is on the same key so the exchange is reused;
  step joins are inner (a user missing step k cannot reach step k+1),
  keeping intermediate sides shrinking monotonically.
- retention: two aggregations (per-user cohort, per-(user, period)
  activity) joined on user_id, then a small matrix groupBy. The matrix
  is |cohorts| x |offsets| — tiny regardless of input scale.
- pivot: groupBy(day).pivot(type, FIXED values) — the value list is
  pinned so the plan is a single pass (no distinct-scan job) and the
  output schema is stable for the driver's hash compare.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel_conversion(
    events: DataFrame,
    steps: tuple[str, ...] = ("signup", "view", "purchase"),
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Strict-order funnel: a user completes step k+1 only with an
    event strictly after their earliest completion of step k.

    Returns one row per step: (step_idx, step, n_users), n_users
    monotonically non-increasing.
    """
    cur = (
        events.where(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t0"))
    )
    counts = [cur]
    for i, step in enumerate(steps[1:], start=1):
        nxt = (
            events.where(F.col(type_col) == step)
            .select(user_col, F.col(ts_col).alias("__ts"))
            .join(cur, user_col)
            .where(F.col("__ts") > F.col(f"t{i - 1}"))
            .groupBy(user_col)
            .agg(F.min("__ts").alias(f"t{i}"))
        )
        counts.append(nxt)
        cur = nxt
    rows = [
        df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i).alias("step_idx"),
            F.lit(steps[i]).alias("step"),
            "n_users",
        )
        for i, df in enumerate(counts)
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def retention_matrix(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
) -> DataFrame:
    """Classic cohort retention: cohort = the user's first active
    period; one output row per (cohort, offset) with the count of
    cohort users active `offset` periods later (offset 0 = cohort
    size). Periods are date_trunc buckets; offset is whole periods.
    """
    days = {"week": 7, "day": 1}[period]
    active = events.select(
        user_col, F.date_trunc(period, F.col(ts_col)).cast("date").alias("p")
    ).distinct()
    cohort = active.groupBy(user_col).agg(F.min("p").alias("cohort"))
    return (
        active.join(cohort, user_col)
        .select(
            user_col,
            "cohort",
            (F.datediff(F.col("p"), F.col("cohort")) / days).cast("int").alias("offset"),
        )
        .groupBy("cohort", "offset")
        .agg(F.count_distinct(user_col).alias("n_users"))
    )


def pivot_counts(
    events: DataFrame,
    values: tuple[str, ...] = ("click", "error", "purchase", "signup", "view"),
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Daily activity matrix: one row per day, one column per event
    type (fixed value list -> stable schema, single-pass plan)."""
    return (
        events.select(F.col(ts_col).cast("date").alias("day"), type_col)
        .groupBy("day")
        .pivot(type_col, list(values))
        .count()
        .na.fill(0, list(values))
    )


def zscore_anomalies(
    events: DataFrame,
    window_days: int = 7,
    z_threshold: float = 3.0,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Volume anomaly detection: per (event_type, day) counts scored
    against the trailing `window_days`-day mean/stddev (the day itself
    excluded — an anomaly must not inflate its own baseline).

    Output: (event_type, day, n_events, mu, sigma, z, is_anomaly);
    days without a full trailing window emit NULL z (cold start).
    One shuffle for the daily rollup; the trailing stats ride a RANGE
    window over the already-aggregated ~|types|x|days| frame — tiny
    regardless of input scale.
    """
    from pyspark.sql import Window

    daily = (
        events.select(F.col(type_col), F.col(ts_col).cast("date").alias("day"))
        .groupBy(type_col, "day")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = (
        Window.partitionBy(type_col)
        .orderBy(F.col("day").cast("timestamp").cast("long"))
        .rangeBetween(-window_days * 86400, -86400)
    )
    mu = F.avg("n_events").over(w)
    sigma = F.stddev_samp("n_events").over(w)
    n_win = F.count(F.lit(1)).over(w)
    r6 = lambda c: F.floor(c * F.lit(1000000.0) + F.lit(0.5)).cast("double") / F.lit(1000000.0)
    full = F.col("__nwin") >= window_days
    return (
        daily.select(
            type_col,
            "day",
            "n_events",
            mu.alias("__mu"),
            sigma.alias("__sigma"),
            n_win.alias("__nwin"),
        )
        .select(
            type_col,
            "day",
            "n_events",
            F.when(full, r6(F.col("__mu"))).alias("mu"),
            F.when(full, r6(F.col("__sigma"))).alias("sigma"),
            F.when(
                full,
                r6(F.try_divide(F.col("n_events") - F.col("__mu"), F.col("__sigma"))),
            ).alias("z"),
            F.coalesce(
                F.when(
                    full,
                    F.abs(
                        F.try_divide(F.col("n_events") - F.col("__mu"), F.col("__sigma"))
                    )
                    > z_threshold,
                ),
                F.lit(False),
            ).alias("is_anomaly"),
        )
    )


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    k: int = 20,
) -> DataFrame:
    """Exact phi-heavy hitters (support > n/k) with BOUNDED-memory
    candidate generation — the scale shape for "top domains / tokens /
    users in a 100 TB corpus" where a plain groupBy-count must shuffle
    every distinct key (billions) to find a handful of heavy ones.

    Two-phase Misra-Gries:
      1. per-partition Misra-Gries summaries of k-1 counters each
         (Arrow-batched mapInPandas — O(k) memory per partition,
         streaming one pass). MG guarantees NO FALSE NEGATIVES: any key
         with global support > n/k survives in at least one partition
         summary. Candidate union <= (k-1) x partitions rows — tiny.
      2. exact recount of ONLY the candidates (broadcast semi-join
         prune, then a groupBy whose input is already filtered to
         near-heavy keys), filter support > n/k.

    The output is therefore EXACT — identical to the full groupBy's
    heavy rows and independent of partitioning (the MG stage only
    decides what gets recounted, and it provably never drops a true
    heavy hitter) — which is what makes the DuckDB oracle a plain
    HAVING clause.
    """
    from collections.abc import Iterator

    from chesscom_etl_tableau_spark.util import ensure_parallelism

    def mg_partition(batches: "Iterator"):
        import pandas as pd

        # WEIGHTED Misra-Gries: each Arrow batch is first collapsed to
        # (value, count) by vectorized value_counts, so Python-side work
        # is O(unique-per-batch) merges, not O(rows). Inserting (v, w)
        # into a full table decrements every counter by
        # d = min(w, min(counters)) and inserts v with w - d if a slot
        # freed — the standard weighted extension, same guarantee: a key
        # with global support > n/k cannot end at zero.
        counters: dict = {}
        for pdf in batches:
            for v, w in pdf["__key"].value_counts().items():
                w = int(w)
                if v in counters:
                    counters[v] += w
                elif len(counters) < k - 1:
                    counters[v] = w
                else:
                    d = min(min(counters.values()), w)
                    dead = [c for c, n in counters.items() if n <= d]
                    for c in counters:
                        counters[c] -= d
                    for c in dead:
                        del counters[c]
                    if w > d and len(counters) < k - 1:
                        counters[v] = w - d
        yield pd.DataFrame({"__key": list(counters.keys())})

    keyed = ensure_parallelism(
        df.select(F.col(key_col).cast("string").alias("__key"))
    )
    candidates = (
        keyed.mapInPandas(mg_partition, schema="__key string").distinct()
    )
    total = keyed.groupBy().agg(F.count(F.lit(1)).alias("__n"))
    return (
        keyed.join(F.broadcast(candidates), "__key", "left_semi")
        .groupBy("__key")
        .agg(F.count(F.lit(1)).alias("support"))
        .crossJoin(F.broadcast(total))
        .where(F.col("support") * k > F.col("__n"))
        .select(
            F.col("__key").alias(key_col),
            "support",
            F.col("__n").alias("total_rows"),
        )
    )


def basket_lift(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    top_k: int = 20,
) -> DataFrame:
    """Association-rule mining over co-occurring items: for every item
    pair appearing in ≥ `min_support` baskets, emit support and LIFT
    (observed co-rate over the independence expectation) — the
    market-basket / "users who X also Y" primitive.

        lift(a,b) = n_ab · N / (n_a · n_b)

    computed as one exact-integer expression with a single double
    division at the end (IEEE-rounded identically on every engine),
    so the top-k order is deterministic cross-engine.

    Scale shape: distinct (basket, item) first (kills per-basket item
    repeats), then a self-join per basket — work is Σ per-basket
    |items|², bounded when basket width is (as in retail/order data)
    small and independent of table size. `min_support` prunes the
    long tail of singleton pairs BEFORE the lift join against the
    per-item counts (two broadcast-sized sides: distinct items and
    one scalar). Top-k via a single TakeOrderedAndProject.
    """
    bi = baskets.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).distinct()
    n_baskets = bi.select(F.countDistinct("__b").alias("__N"))
    item_n = bi.groupBy("__i").agg(F.count(F.lit(1)).alias("__ni"))
    pairs = (
        bi.join(bi.select(F.col("__b"), F.col("__i").alias("__j")), "__b")
        .where(F.col("__i") < F.col("__j"))
        .groupBy("__i", "__j")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= min_support)
    )
    scored = (
        pairs.join(F.broadcast(n_baskets))
        .join(item_n.select(F.col("__i"), F.col("__ni").alias("__na")), "__i")
        .join(
            item_n.select(F.col("__i").alias("__j"), F.col("__ni").alias("__nb")),
            "__j",
        )
        .select(
            F.col("__i").alias("item_a"),
            F.col("__j").alias("item_b"),
            "support",
            (
                F.floor(
                    (F.col("support") * F.col("__N"))
                    / (F.col("__na") * F.col("__nb"))
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                ).cast("double")
                / F.lit(1000000.0)
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("lift").desc(), F.col("item_a").asc(), F.col("item_b").asc()
    ).limit(top_k)


def trend_slope(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    epoch_origin: str = "2024-01-01 00:00:00",
) -> DataFrame:
    """Per-key ordinary-least-squares trend: the slope of value over
    time, in value-units PER DAY — the "is this metric drifting"
    primitive behind every per-entity health dashboard, computed
    closed-form from four sums in ONE aggregation pass (no iteration,
    no ML fit):

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    Engine-exactness is the design problem: a float SUM is
    shuffle-order-dependent, so the five sufficient statistics are
    accumulated in exact decimal/integer space (x centered on
    `epoch_origin` — seconds since a nearby fixed origin, ~1e6 for a
    month of data — so Σx² stays well inside decimal range; centering
    shifts the intercept, never the slope). Only THEN does each exact
    sum cast to double for the closed-form combine — pure IEEE
    scalar arithmetic, bit-identical on any engine and partitioning.
    Keys with < 2 points (or zero time variance) yield NULL.
    """
    x = (
        F.unix_timestamp(F.col(ts_col))
        - F.unix_timestamp(F.lit(epoch_origin).cast("timestamp"))
    ).cast("decimal(18,0)")
    y = F.col(value_col).cast("decimal(12,2)")
    agg = df.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(x).cast("double").alias("__sx"),
        F.sum(y).cast("double").alias("__sy"),
        F.sum(x * y).cast("double").alias("__sxy"),
        F.sum(x * x).cast("double").alias("__sxx"),
    )
    num = F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    den = F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    per_day = F.try_divide(num * F.lit(86400.0), den)
    return agg.select(
        F.col(key_col),
        F.col("__n").cast("bigint").alias("n_points"),
        (
            F.floor(per_day * F.lit(1000000.0) + F.lit(0.5)).cast("double")
            / F.lit(1000000.0)
        ).alias("slope_per_day"),
    )


def sequence_ngrams(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    token_col: str,
    n: int = 3,
    top_k: int = 10,
) -> DataFrame:
    """Top-k most frequent length-`n` event paths (behavioral n-grams):
    the "what do users do next" primitive behind funnel discovery —
    unlike `funnel_conversion`, which checks ONE hypothesized path,
    this surfaces the paths from the data.

    One LAG window per offset over a single (key)-hash exchange builds
    each row's trailing n-gram in place (no self-joins, no explode);
    rows without n-1 predecessors in their key emit nothing, so paths
    never span users. The global count is a map-side-combinable
    groupBy on the joined path string; top-k is one
    TakeOrderedAndProject with a total order (count desc, path asc).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(*order_cols)
    parts = [
        F.lag(F.col(token_col), n - 1 - i).over(w) for i in range(n)
    ]
    gram = F.concat_ws(">", *parts)
    return (
        df.withColumn("__g", gram)
        .withColumn("__full", parts[0].isNotNull())
        .where(F.col("__full"))
        .groupBy(F.col("__g").alias("path"))
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("path").asc())
        .limit(top_k)
    )


def _r6(c: "F.Column"):
    # Engine-portable HALF_UP rounding to 6 places (floor(x*1e6+0.5)):
    # the repo-wide convention for comparing derived doubles across
    # Spark and the DuckDB oracle.
    return F.floor(c * F.lit(1000000.0) + F.lit(0.5)).cast("double") / F.lit(1000000.0)


def share_of_total(
    df: DataFrame,
    group_col: str,
    value_col: str,
    decimal_type: str = "decimal(18,2)",
) -> DataFrame:
    """Percent-of-total contribution per group — the BI staple behind
    every donut chart and Pareto view: (group, total, share, rank).

    Scale shape: ONE map-side-combinable groupBy does all the heavy
    lifting; the grand total then rides an unpartitioned window over
    the already-aggregated |groups|-row frame (a single-partition
    exchange of a few rows, not of the fact table). Sums accumulate in
    exact decimal so they are shuffle-order-independent; the share is
    ONE IEEE division of two exact sums — bit-identical on any engine.
    """
    from pyspark.sql import Window

    agg = df.groupBy(group_col).agg(
        F.sum(F.col(value_col).cast(decimal_type)).alias("__sum")
    )
    w_all = Window.partitionBy()
    w_rank = Window.partitionBy().orderBy(
        F.col("__sum").desc(), F.col(group_col).asc()
    )
    return agg.select(
        F.col(group_col),
        F.col("__sum").cast("double").alias("total"),
        _r6(
            F.try_divide(
                F.col("__sum").cast("double"),
                F.sum("__sum").over(w_all).cast("double"),
            )
        ).alias("share"),
        F.row_number().over(w_rank).alias("rank"),
    )


def period_growth(
    df: DataFrame,
    date_col: str,
    value_col: str,
    decimal_type: str = "decimal(18,2)",
) -> DataFrame:
    """Period-over-period growth — the month-over-month / year-over-year
    comparison every revenue dashboard leads with.

    Output: one row per calendar month with the exact monthly total,
    MoM growth vs the PREVIOUS observed month row and YoY growth vs the
    SAME month one year earlier (NULL when the base period is absent —
    an absent base is "no comparison", never 0).

    Scale shape: the only full-data pass is the month rollup (map-side
    combinable); both comparisons ride windows/joins over the ~|months|
    aggregate. MoM uses LAG on the ordered month frame; YoY self-joins
    the aggregate on (month = month - 12), which stays broadcast-sized
    forever (decades = hundreds of rows). Growth = one IEEE division of
    exact decimal sums.
    """
    from pyspark.sql import Window

    monthly = (
        df.select(
            (F.year(date_col) * 12 + F.month(date_col) - 1).alias("__midx"),
            F.trunc(F.col(date_col), "month").alias("month"),
            F.col(value_col).cast(decimal_type).alias("__v"),
        )
        .groupBy("__midx", "month")
        .agg(F.sum("__v").alias("__sum"))
    )
    w = Window.partitionBy().orderBy("__midx")
    prev = F.lag("__sum", 1).over(w)
    prev_idx = F.lag("__midx", 1).over(w)
    yoy_base = monthly.select(
        (F.col("__midx") + F.lit(12)).alias("__midx"),
        F.col("__sum").alias("__yoy_sum"),
    )
    growth = lambda cur, base: _r6(
        F.try_divide(
            (cur - base).cast("double"), base.cast("double")
        )
    )
    return (
        monthly.withColumn("__prev", prev)
        .withColumn("__previdx", prev_idx)
        .join(yoy_base, "__midx", "left")
        .select(
            "month",
            F.col("__sum").cast("double").alias("total"),
            # MoM only against the immediately preceding calendar month;
            # a gap month means "no base" (NULL), same as YoY.
            F.when(
                F.col("__previdx") == F.col("__midx") - 1,
                growth(F.col("__sum"), F.col("__prev")),
            ).alias("mom_growth"),
            growth(F.col("__sum"), F.col("__yoy_sum")).alias("yoy_growth"),
        )
    )


def autocorrelation(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    max_lag: int = 5,
    decimal_type: str = "decimal(15,2)",
) -> DataFrame:
    """Per-key autocorrelation function (ACF) of the ordered daily
    series at lags 1..max_lag — the seasonality/persistence probe
    behind forecast-readiness checks ("is yesterday predictive of
    today?").

    Semantics: the series is the key's ordered daily-sum observations
    (index ACF — gaps collapse, documented; calendar ACF would need
    gap_fill_locf first, which composes). r(k) is the Pearson
    correlation of (x_t, x_{t-k}) over the n-k overlapping pairs.

    Engine-exactness: daily sums accumulate in exact decimal; ONE
    window pass (per-key hash exchange) emits all k lag columns; the
    per-(key,lag) sufficient statistics (n, Σa, Σb, Σab, Σa², Σb²)
    again accumulate exactly — decimal×decimal stays ≤ precision 31,
    inside the 38 fence — and only the final closed-form combine is
    IEEE double (engine- and partitioning-independent, like
    trend_slope). Keys with < k+3 observations — fewer than 3
    overlapping pairs, where a 2-pair Pearson r is defined but
    degenerate (always ±1) — or with zero variance yield NULL r at
    that lag; the oracle applies the identical n_pairs >= 3 guard.
    """
    from pyspark.sql import Window

    daily = (
        df.select(
            F.col(key_col).alias("key"),
            F.col(ts_col).cast("date").alias("__day"),
            F.col(value_col).cast(decimal_type).alias("__v"),
        )
        .groupBy("key", "__day")
        .agg(F.sum("__v").cast(decimal_type).alias("__x"))
    )
    w = Window.partitionBy("key").orderBy("__day")
    lagged = daily.select(
        "key",
        "__x",
        *[F.lag("__x", k).over(w).alias(f"__x{k}") for k in range(1, max_lag + 1)],
    )
    stacked = lagged.select(
        "key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("lag"),
                        F.col("__x").alias("a"),
                        F.col(f"__x{k}").alias("b"),
                    )
                    for k in range(1, max_lag + 1)
                ]
            )
        ).alias("p"),
    ).select("key", "p.lag", "p.a", "p.b").where(F.col("b").isNotNull())
    agg = stacked.groupBy("key", "lag").agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum("a").cast("double").alias("__sa"),
        F.sum("b").cast("double").alias("__sb"),
        F.sum(F.col("a") * F.col("b")).cast("double").alias("__sab"),
        F.sum(F.col("a") * F.col("a")).cast("double").alias("__saa"),
        F.sum(F.col("b") * F.col("b")).cast("double").alias("__sbb"),
    )
    n, sa, sb = F.col("__n"), F.col("__sa"), F.col("__sb")
    cov = n * F.col("__sab") - sa * sb
    var_a = n * F.col("__saa") - sa * sa
    var_b = n * F.col("__sbb") - sb * sb
    r = F.try_divide(cov, F.sqrt(var_a * var_b))
    return agg.select(
        F.col("key").alias(key_col),
        F.col("lag").alias("lag_k"),
        n.cast("bigint").alias("n_pairs"),
        F.when(n >= 3, _r6(r)).alias("acf"),
    )


def mad_outliers(
    df: DataFrame,
    key_col: str,
    value_col: str,
    threshold: float = 3.5,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Robust per-group outlier detection via Median Absolute Deviation
    — the heavy-tail-safe alternative to zscore_anomalies (a single
    extreme value drags a mean/stddev baseline toward itself; it moves
    a median baseline almost not at all).

    score = (x − median) / (1.4826 · MAD),  MAD = median(|x − median|)

    (1.4826 makes the score σ-comparable under normality — Iglewicz &
    Hoagland's modified z-score, threshold 3.5 their recommendation.)

    Scale shape: two sequential per-group percentile aggregations with
    the SAME grouping key (the second exchange is the unavoidable one —
    MAD is a median OF residuals, so it cannot fuse with the first
    pass), then a broadcast join of the |groups|-row stats back onto
    the rows. Spark `percentile` and DuckDB `quantile_cont` interpolate
    identically (verified bit-for-bit by the winsorize probe), so even
    interpolated medians compare exact.
    """
    med = df.groupBy(key_col).agg(
        F.percentile(value_col, F.lit(0.5)).alias("__med")
    )
    resid = df.join(F.broadcast(med), key_col).withColumn(
        "__absdev", F.abs(F.col(value_col) - F.col("__med"))
    )
    mad = resid.groupBy(key_col).agg(
        F.percentile("__absdev", F.lit(0.5)).alias("__mad")
    )
    scored = resid.join(F.broadcast(mad), key_col).withColumn(
        "__score",
        F.try_divide(
            F.col(value_col) - F.col("__med"),
            F.lit(1.4826) * F.col("__mad"),
        ),
    )
    return scored.select(
        *keep_cols,
        key_col,
        value_col,
        _r6(F.col("__med")).alias("group_median"),
        _r6(F.col("__mad")).alias("group_mad"),
        _r6(F.col("__score")).alias("robust_z"),
        # MAD = 0 (over half the group at the median) yields NULL score:
        # "no robust scale to score against", reported not-outlier.
        F.coalesce(
            F.abs(F.col("__score")) > F.lit(threshold), F.lit(False)
        ).alias("is_outlier"),
    )


def cohort_ltv(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    period: str = "month",
    decimal_type: str = "decimal(18,2)",
) -> DataFrame:
    """Cohort lifetime-value curves: users cohorted by first-activity
    period (calendar month, or epoch-anchored 7-day week); for each
    (cohort, period-offset) the cumulative revenue per cohort member —
    the "how much is a January user worth by month 3" view that prices
    acquisition. The monetized sibling of `retention_matrix` (same
    two-aggregation skeleton: per-user cohort, per-(user, period)
    activity, joined on user_id — the exchange is shared), plus a
    cumulative window over the tiny matrix.

    Revenue accumulates in exact decimal through BOTH the offset sums
    and the running cumulative sum; only the final per-member division
    is IEEE. Cohort size = distinct users in the cohort (denominator
    fixed at offset 0 — standard LTV, lapsed users keep diluting).
    """
    from pyspark.sql import Window

    epoch = F.lit("1970-01-01").cast("date")
    if period == "month":
        pidx = F.year(ts_col) * 12 + F.month(ts_col) - 1
        cohort_start = lambda c: F.make_date(
            (c / 12).cast("int"), c % 12 + 1, F.lit(1)
        )
    elif period == "week":
        # epoch-anchored 7-day buckets (1970-01-01 was a Thursday; the
        # anchor only shifts labels, never offsets)
        pidx = F.floor(F.datediff(F.col(ts_col).cast("date"), epoch) / 7).cast(
            "int"
        )
        cohort_start = lambda c: F.date_add(epoch, (c * 7).cast("int"))
    else:
        raise ValueError(f"period must be 'month' or 'week', got {period!r}")

    cohorts = events.groupBy(user_col).agg(F.min(pidx).alias("__c0"))
    acts = (
        events.select(
            user_col, pidx.alias("__m"), F.col(value_col).cast(decimal_type).alias("__v")
        )
        .join(cohorts, user_col)
        .groupBy("__c0", (F.col("__m") - F.col("__c0")).alias("period_offset"))
        .agg(
            F.sum("__v").alias("__rev"),
        )
    )
    sizes = cohorts.groupBy("__c0").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    w = (
        Window.partitionBy("__c0")
        .orderBy("period_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        acts.withColumn("__cum", F.sum("__rev").over(w))
        .join(F.broadcast(sizes), "__c0")
        .select(
            cohort_start(F.col("__c0")).alias("cohort_start"),
            "period_offset",
            "cohort_users",
            F.col("__rev").cast("double").alias("period_revenue"),
            _r6(
                F.try_divide(
                    F.col("__cum").cast("double"),
                    F.col("cohort_users").cast("double"),
                )
            ).alias("ltv_per_user"),
        )
    )


# --- CEP-style ordered-pattern matching ------------------------------------
#
# The complex-event-processing shape (Flink CEP / MATCH_RECOGNIZE):
# detect, per key, an ORDERED sequence of event types completed within
# a time budget measured from the sequence's first event. Greedy
# non-overlapping first-match semantics — the deterministic contract:
#
# - events scan in (ts, tiebreak) order;
# - a candidate starts at an event matching step 0 (when no candidate
#   is in progress) and advances on the next event matching the next
#   step; non-matching events are skipped;
# - a candidate whose budget an event overruns EXPIRES before that
#   event is considered, and the event may immediately start (or
#   advance nothing but a new candidate at) step 0;
# - a completed match emits one row and resets — matches never overlap
#   in time per key.
#
# The matcher is inherently sequential per key (regexes over event
# streams don't decompose into windowed aggregates), so this is the
# documented applyInPandas case: per-key Arrow batches, sorted scan in
# numpy/python, O(1) matcher state. The batch and streaming operators
# share ONE matcher (`_advance_pattern`) so parity is structural.


def _advance_pattern(
    seq,
    steps: tuple,
    within_us: int,
    state: tuple | None,
):
    """Run the greedy matcher over `seq` = iterable of (ts_us, etype)
    IN ORDER, from `state` = (step_idx, first_us) or None. Returns
    (matches, state) with matches = [(start_us, end_us), ...]."""
    matches = []
    step_idx, first_us = state if state is not None else (0, 0)
    for ts_us, etype in seq:
        if step_idx > 0 and ts_us - first_us > within_us:
            step_idx, first_us = 0, 0  # expire the stale candidate
        if etype == steps[step_idx]:
            if step_idx == 0:
                first_us = ts_us
            step_idx += 1
            if step_idx == len(steps):
                matches.append((first_us, ts_us))
                step_idx, first_us = 0, 0
    return matches, (step_idx, first_us)


def _hot_key_fence(
    slim: DataFrame, key_col: str, max_n: int, op: str, alternative: str
) -> None:
    """Shared hot-key fence for per-key sequential applyInPandas ops
    (the prefix_edit_pairs oversized-block precedent: fail LOUDLY
    before a worker OOMs). Partial-agg count probe: the exchange
    carries one row per key; only violators (almost always zero rows)
    reach the driver, capped at 5 for the error message."""
    hot = (
        slim.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > max_n)
        .limit(5)
        .collect()
    )
    if hot:
        keys = ", ".join(f"{r[key_col]}({r['__n']})" for r in hot)
        raise ValueError(
            f"{op}: key(s) exceed max_events_per_key={max_n}: {keys}; "
            "applyInPandas would materialize the full key history in "
            f"one Python worker — route hot keys through {alternative} "
            "or raise the fence explicitly"
        )


_NULL_KEY, _NAN_KEY = object(), object()


def _run_keys(keys: list, nulls: list) -> list:
    """Keys normalized for per-key run detection in a sorted partition.
    Arrow hands a nullable numeric key to pandas as float64 NaN for
    NULL and NaN alike, and NaN != NaN would make every such row its
    own run (advice r15). Spark groups NULL and NaN keys apart, so each
    gets its own sentinel and a NULL run next to a NaN run stays two
    runs; the Spark-side `nulls` flags tell them apart."""
    return [_NULL_KEY if n else _NAN_KEY if k != k else k for k, n in zip(keys, nulls)]


def pattern_matches(
    events: DataFrame,
    steps: tuple[str, ...] = ("signup", "view", "purchase"),
    within_minutes: int = 60,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    max_events_per_key: int | None = 10_000_000,
) -> DataFrame:
    """Batch CEP: one row per completed pattern instance —
    (user, match_start, match_end, duration_s). See the module note
    for the exact greedy semantics; `streaming/pattern_stream.py` is
    the watermark-sealed streaming twin sharing this matcher.

    Scale shape: one shuffle on the key (applyInPandas groupBy); the
    per-key scan is O(events of that key) with O(1) matcher state.
    applyInPandas materializes each KEY's events in the Python worker,
    so `max_events_per_key` fences the pathological hot key (the
    prefix_edit_pairs oversized-block precedent: fail LOUDLY before
    the worker OOMs): a cheap pre-aggregated count probe raises with
    the offending keys and points them at the streaming twin, whose
    state holds only watermark-unsealed events. None disables the
    probe (one fewer job) when per-key volume is known-bounded.
    """
    import pandas as pd

    if len(steps) < 2:
        raise ValueError("pattern needs >= 2 steps")
    within_us = within_minutes * 60 * 1_000_000
    # the key column keeps ITS OWN type (string keys are first-class;
    # a hard-coded long would fail inside the Python worker instead)
    key_type = events.schema[user_col].dataType.simpleString()
    out_schema = (
        f"{user_col} {key_type}, match_start timestamp, "
        "match_end timestamp, duration_s double"
    )

    slim = events.select(
        user_col,
        type_col,
        tiebreak_col,
        F.unix_micros(F.col(ts_col)).alias("__us"),
        F.col(user_col).isNull().alias("__knull"),
    )

    if max_events_per_key is not None:
        _hot_key_fence(
            slim, user_col, max_events_per_key,
            op="pattern_matches", alternative="streaming_pattern_matches",
        )

    # Partition-sorted mapInPandas instead of groupBy().applyInPandas
    # (optimization r15, guide §4): applyInPandas invokes the Python
    # function ONCE PER KEY — thousands of pandas-frame constructions
    # for per-key histories of a few rows. Hash-clustering the keys and
    # sorting within partitions gives the same per-key sequential scan
    # from ONE function call per Arrow batch; matcher state carries
    # across a batch boundary that splits a key. Output rows identical
    # (the oracle compares order-insensitively).
    sorted_ = slim.repartition(F.col(user_col)).sortWithinPartitions(
        user_col, "__us", tiebreak_col
    )

    def gen(it):
        steps_t = tuple(steps)
        cur_key = None
        mstate = None

        def flush(pdf, rows):
            keys, starts, ends = (
                [k for k, _, _ in rows],
                [s for _, s, _ in rows],
                [e for _, _, e in rows],
            )
            return pd.DataFrame(
                {
                    user_col: pd.Series(keys, dtype=pdf[user_col].dtype),
                    "match_start": pd.Series(starts, dtype="int64").astype(
                        "datetime64[us]"
                    ),
                    "match_end": pd.Series(ends, dtype="int64").astype(
                        "datetime64[us]"
                    ),
                    "duration_s": pd.Series(
                        [(e - s) / 1e6 for s, e in zip(starts, ends)],
                        dtype="float64",
                    ),
                }
            )

        # run detection compares NORMALIZED keys (see _run_keys);
        # emission keeps the raw values
        for pdf in it:
            rows = []
            us_arr = pdf["__us"].astype("int64").tolist()
            keys_arr = pdf[user_col].tolist()
            nk = _run_keys(keys_arr, pdf["__knull"].tolist())
            types_arr = pdf[type_col].tolist()
            i, n = 0, len(us_arr)
            while i < n:
                key = nk[i]
                j = i
                while j < n and nk[j] == key:
                    j += 1
                if key != cur_key:
                    cur_key, mstate = key, None
                seq = zip(us_arr[i:j], types_arr[i:j])
                matches, mstate = _advance_pattern(
                    seq, steps_t, within_us, mstate
                )
                rows.extend((keys_arr[i], s, e) for s, e in matches)
                i = j
            yield flush(pdf, rows)

    return sorted_.mapInPandas(gen, out_schema)


# ---------------------------------------------------------------------------
# A/B experiment analysis
# ---------------------------------------------------------------------------
#
# The standard experimentation readout: per-variant sample sizes,
# conversion rates, lift, a two-proportion z-score for the conversion
# delta, and a Welch t statistic for a continuous value metric. This is
# pure aggregation — one shuffle on the variant key (2 groups), partial
# aggregation map-side, a 2-row frame pivoted into the 1-row summary.
# Determinism contract: counts are exact integers; value sums go
# through exact decimal casts (order-independent); every derived
# statistic is then a FIXED sequence of IEEE binary64 ops identical in
# the oracle SQL, floor-rounded to 6dp.


def ab_test_summary(
    outcomes: DataFrame,
    variant_col: str = "variant",
    converted_col: str = "converted",
    value_col: str = "value",
    control: str = "control",
    treatment: str = "treatment",
) -> DataFrame:
    """One row summarizing an A/B experiment from per-UNIT outcomes
    (one row per experimental unit: variant label, converted flag,
    value metric). z = (p_t - p_c) / sqrt(p*(1-p)*(1/n_c + 1/n_t))
    with pooled p; Welch t = (m_t - m_c) / sqrt(s2_c/n_c + s2_t/n_t)
    with sample variances from exact decimal sums (s2 via
    (sxx - sx^2/n) / (n-1) evaluated in binary64 AFTER the exact
    sums, so shuffle order never changes a bit).
    """
    # decimal(12,2) is the repo-wide exact-money convention for the
    # events value column; the (25,4) product stays far inside int64 in
    # the oracle engine and int128 here.
    xd = F.col(value_col).cast("decimal(12,2)")
    per_variant = outcomes.groupBy(variant_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col(converted_col), 1).otherwise(0)).alias("conv"),
        F.sum(xd).alias("sx"),
        F.sum(xd * xd).alias("sxx"),
    )
    sides = {
        control: "c",
        treatment: "t",
    }
    agg_cols = []
    for label, sfx in sides.items():
        hit = F.col(variant_col) == label
        agg_cols += [
            F.sum(F.when(hit, F.col("n")).otherwise(0)).alias(f"n_{sfx}"),
            F.sum(F.when(hit, F.col("conv")).otherwise(0)).alias(f"conv_{sfx}"),
            F.sum(F.when(hit, F.col("sx").cast("double")).otherwise(0.0)).alias(f"sx_{sfx}"),
            F.sum(F.when(hit, F.col("sxx").cast("double")).otherwise(0.0)).alias(f"sxx_{sfx}"),
        ]
    one = per_variant.agg(*agg_cols)
    r6 = lambda c: F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    # every division is try_divide (NULL on zero): an empty variant
    # yields NULL statistics, never an ANSI DIVIDE_BY_ZERO — and DuckDB
    # division returns NULL on zero natively, so the oracle mirrors.
    div = F.try_divide
    nc, nt = F.col("n_c").cast("double"), F.col("n_t").cast("double")
    cc, ct = F.col("conv_c").cast("double"), F.col("conv_t").cast("double")
    rate_c, rate_t = div(cc, nc), div(ct, nt)
    pooled = div(cc + ct, nc + nt)
    z = div(
        rate_t - rate_c,
        F.sqrt(pooled * (F.lit(1.0) - pooled) * (div(F.lit(1.0), nc) + div(F.lit(1.0), nt))),
    )
    m_c, m_t = div(F.col("sx_c"), nc), div(F.col("sx_t"), nt)
    s2_c = div(F.col("sxx_c") - div(F.col("sx_c") * F.col("sx_c"), nc), nc - F.lit(1.0))
    s2_t = div(F.col("sxx_t") - div(F.col("sx_t") * F.col("sx_t"), nt), nt - F.lit(1.0))
    welch_t = div(m_t - m_c, F.sqrt(div(s2_c, nc) + div(s2_t, nt)))
    return one.select(
        F.col("n_c").cast("long").alias("n_control"),
        F.col("n_t").cast("long").alias("n_treatment"),
        F.col("conv_c").cast("long").alias("conv_control"),
        F.col("conv_t").cast("long").alias("conv_treatment"),
        r6(rate_c).alias("rate_control"),
        r6(rate_t).alias("rate_treatment"),
        r6(F.try_divide(rate_t - rate_c, rate_c)).alias("rel_lift"),
        r6(z).alias("z_conversion"),
        r6(m_c).alias("mean_value_control"),
        r6(m_t).alias("mean_value_treatment"),
        r6(welch_t).alias("welch_t_value"),
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection
# ---------------------------------------------------------------------------
#
# Page's cumulative-sum control chart (Page 1954, public): per key,
# scan the series in (ts, tiebreak) order keeping two one-sided
# statistics, s+ = max(0, s+ + (x - target - slack)) and
# s- = max(0, s- + (target - slack - x)); a crossing of the threshold
# emits a change-point row (direction up/down) and resets both sides.
# Like CEP pattern matching, the recurrence is inherently sequential
# per key (max() of a running sum does not decompose into windowed
# aggregates), so it shares the documented applyInPandas vehicle, the
# hot-key fence, and the recursive-CTE oracle strategy. All state is
# INTEGER micro-units (floor(x*1e6+0.5)), so every engine replays the
# identical integer recurrence — no float accumulation drift.


def cusum_changepoints(
    series: DataFrame,
    target: float,
    slack: float,
    threshold: float,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    max_events_per_key: int | None = 10_000_000,
) -> DataFrame:
    """Change-point rows (key, change_ts, direction, stat) per CUSUM
    crossing. `stat` is the crossing statistic in original units
    (micro-int / 1e6 — one exact division). Scale shape: one shuffle
    on the key; O(events of key) scan with O(1) state; the same
    per-key-history exposure as pattern_matches, fenced identically.
    """
    import pandas as pd

    if threshold <= 0:
        raise ValueError("threshold must be positive")
    # Quantize parameters with the SAME round-half-up convention as the
    # data values (floor(x*1e6+0.5)) — int() truncates, which would
    # shift the recurrence by one micro-unit for parameters that are
    # not exactly representable in binary (e.g. 2.3 -> 2299999).
    t_mu = int(math.floor(target * 1_000_000 + 0.5))
    k_mu = int(math.floor(slack * 1_000_000 + 0.5))
    h_mu = int(math.floor(threshold * 1_000_000 + 0.5))
    key_type = series.schema[key_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_type}, change_ts timestamp, direction string, "
        "stat double"
    )
    slim = series.select(
        key_col,
        tiebreak_col,
        F.unix_micros(F.col(ts_col)).alias("__us"),
        F.col(key_col).isNull().alias("__knull"),
        (F.floor(F.col(value_col).cast("double") * 1_000_000.0 + 0.5))
        .cast("long")
        .alias("__x"),
    )
    if max_events_per_key is not None:
        _hot_key_fence(
            slim, key_col, max_events_per_key,
            op="cusum_changepoints", alternative="windowed pre-aggregation",
        )

    # Partition-sorted mapInPandas instead of groupBy().applyInPandas
    # (optimization r15, guide §4): same rationale as pattern_matches
    # above — one Python call per Arrow batch instead of one per key;
    # the (s_pos, s_neg) recurrence carries across a batch boundary
    # that splits a key. Output rows identical.
    sorted_ = slim.repartition(F.col(key_col)).sortWithinPartitions(
        key_col, "__us", tiebreak_col
    )

    def gen(it):
        cur_key = None
        s_pos = s_neg = 0
        # run detection compares NORMALIZED keys (see _run_keys);
        # emitted rows keep the raw key value
        for pdf in it:
            rows = []
            us_arr = pdf["__us"].astype("int64").tolist()
            x_arr = pdf["__x"].astype("int64").tolist()
            keys_arr = pdf[key_col].tolist()
            for key, nk, us, x in zip(
                keys_arr,
                _run_keys(keys_arr, pdf["__knull"].tolist()),
                us_arr,
                x_arr,
            ):
                if nk != cur_key:
                    cur_key, s_pos, s_neg = nk, 0, 0
                s_pos = max(0, s_pos + (x - t_mu - k_mu))
                s_neg = max(0, s_neg + (t_mu - k_mu - x))
                if s_pos > h_mu:
                    rows.append((key, us, "up", s_pos))
                    s_pos = s_neg = 0
                elif s_neg > h_mu:
                    rows.append((key, us, "down", s_neg))
                    s_pos = s_neg = 0
            yield pd.DataFrame(
                {
                    key_col: pd.Series(
                        [k for k, _, _, _ in rows], dtype=pdf[key_col].dtype
                    ),
                    "change_ts": pd.Series(
                        [us for _, us, _, _ in rows], dtype="int64"
                    ).astype("datetime64[us]"),
                    "direction": pd.Series(
                        [d for _, _, d, _ in rows], dtype="object"
                    ),
                    "stat": pd.Series(
                        [s for _, _, _, s in rows], dtype="int64"
                    ).astype("float64")
                    / 1e6,
                }
            )

    return sorted_.mapInPandas(gen, out_schema)
