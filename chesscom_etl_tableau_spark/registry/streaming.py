"""Streaming twins surfaced for the driver: each eager entry drains a real
structured-streaming query over temp-dir file drops and returns its
sink as a small DataFrame.
"""

from __future__ import annotations

import contextlib as _contextlib
import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.operators import similarity as SIM
from chesscom_etl_tableau_spark.registry.common import _NORM_FP, _WORD_TOKS, _multiset_mismatch, _t
from chesscom_etl_tableau_spark.registry.record import query
from chesscom_etl_tableau_spark.registry.aggregates_windows import A28_PATTERN_CEP
from chesscom_etl_tableau_spark.registry.text_analysis import TEXT_TOKEN_STATS
from chesscom_etl_tableau_spark.registry.transforms import T15_SCD2_DIMENSION


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


# Eager: real streaming drain (temp dirs, 3 micro-batches).
@query(eager=True, oracle="""
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
    """)
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
    import tempfile

    from chesscom_etl_tableau_spark.streaming.sessionize import (
        streaming_session_stats,
    )

    with tempfile.TemporaryDirectory(prefix="sg_stream_sess_", ignore_cleanup_errors=True) as out:
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
    return res


# Eager: real streaming drain (temp dirs, 3 micro-batches).
@query(eager=True, oracle="""
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
    """)
def _q_stream_ohlc(spark, sf_dir):
    # Streaming OHLC bars (streaming/windowed.py::windowed_ohlc) drained
    # over the events table — the streaming twin of w16_resample_ohlc.
    # Same closer-file watermark mechanics as _q_stream_sessionize;
    # open/close ride min/max over a (ts, event_id, value) struct, so
    # stream bars equal the batch row_number oracle at full microsecond
    # precision (no second-flooring — the struct carries the raw ts).
    import datetime as _dt
    import tempfile

    from chesscom_etl_tableau_spark.streaming.windowed import windowed_ohlc

    with tempfile.TemporaryDirectory(prefix="sg_stream_ohlc_", ignore_cleanup_errors=True) as out:
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
    return res


# Eager: real streaming drain (temp dirs, 3 micro-batches).
@query(eager=True, oracle="""
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
    """)
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
    import tempfile

    from chesscom_etl_tableau_spark.streaming.join_stream import (
        interval_join_streams,
    )

    with tempfile.TemporaryDirectory(prefix="sg_stream_join_", ignore_cleanup_errors=True) as out:
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
    return res


# Eager: real streaming drain (temp dirs, 3 micro-batches).
@query(eager=True, oracle=f"""
        SELECT DISTINCT {_NORM_FP} AS fingerprint FROM documents
    """)
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
    import tempfile

    from chesscom_etl_tableau_spark.streaming.dedup_stream import (
        streaming_exact_dedup,
    )

    with tempfile.TemporaryDirectory(prefix="sg_stream_dedup_", ignore_cleanup_errors=True) as out:
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
    return res


# Eager: left-outer drain (2 data batches/side + closers).
@query(eager=True, oracle="""
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
    """)
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
    import tempfile

    from chesscom_etl_tableau_spark.streaming.join_stream import (
        interval_join_streams,
    )

    with tempfile.TemporaryDirectory(prefix="sg_stream_ojoin_", ignore_cleanup_errors=True) as out:
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
    return res


# Eager: full-outer drain (1 data batch/side + closers).
@query(eager=True, oracle="""
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
    """)
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
    import tempfile

    from chesscom_etl_tableau_spark.streaming.join_stream import (
        interval_join_streams,
    )

    with tempfile.TemporaryDirectory(prefix="sg_stream_fojoin_", ignore_cleanup_errors=True) as out:
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
    return res


# Streaming corpus ingest: macro-expand the three doc_id-ordered
# micro-batches (registry fence -> exact-Jaccard near-dup, both
# within-batch min-id and vs prior survivors -> quality gate), then
# the final per-source stats over the cumulative corpus. The LSH
# probe is an accelerator on the Spark side; drops are decided by
# the exact pair sets, so the replay here is deterministic.
_ci_rounds = ",".join(_corpus_ingest_cte(b) for b in (1, 2, 3))


# Eager: foreachBatch drain: manifest+LSH commits per batch.
@query(eager=True, oracle=f"""
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
    """.replace(
        "{TOKEN_STATS}", TEXT_TOKEN_STATS
    ))
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
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import read_manifest_sink
    from chesscom_etl_tableau_spark.streaming.corpus_ingest import (
        streaming_corpus_ingest,
    )

    with tempfile.TemporaryDirectory(prefix="sg_stream_corpus_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(
        rows,
        "source string, n_docs long, total_tokens long, avg_quality double, "
        "lsh_recall_ok boolean",
    )


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


# Eager: foreachBatch drain: manifest+LSH commits per batch, plus
# generation-logged IVF appends/refit.
@query(eager=True, oracle=f"""
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
    """.replace(
        "{TOKEN_STATS}", TEXT_TOKEN_STATS
    ))
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
    import tempfile

    from chesscom_etl_tableau_spark.operators import index_log as IL
    from chesscom_etl_tableau_spark.plans.ingest import read_manifest_sink
    from chesscom_etl_tableau_spark.streaming.corpus_ingest import (
        streaming_corpus_ingest,
    )

    with tempfile.TemporaryDirectory(prefix="sg_stream_mm_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(
        rows,
        "bucket int, n_vectors long, was_drifted boolean, "
        "final_resid_micro long, ids_exactly_once boolean, "
        "lsh_recall_ok boolean",
    )


# Eager: real streaming drain (foreachBatch merges into a temp manifest
# sink).
@query(eager=True, oracle=T15_SCD2_DIMENSION)
def _q_stream_scd2(spark, sf_dir):
    # Continuous SCD2 dimension maintenance (streaming/scd_stream.py)
    # drained over the purchase-tier change feed — the streaming twin
    # of t15_scd2_dimension (same oracle verbatim). The feed splits at
    # its time midpoint into two files; maxFilesPerTrigger=1 makes each
    # its own foreachBatch COW merge into a manifest sink, so the
    # dimension evolves through two real incremental merges (open
    # versions closed, tails rebuilt) and must still equal the batch
    # build from the full history.
    import tempfile

    from chesscom_etl_tableau_spark.streaming.scd_stream import (
        read_scd2_dim,
        streaming_scd2,
    )

    with tempfile.TemporaryDirectory(prefix="sg_stream_scd2_", ignore_cleanup_errors=True) as out:
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
    return res


# The streaming CEP twin drains to the SAME rows as the batch
# matcher over fully-arrived data (closer events seal every
# candidate), so its oracle is the a28 recursive CTE verbatim —
# the stream_scd2 <- t15 convention.
# Eager: CEP drain (4 micro-batches, state-crossing candidate).
@query(eager=True, oracle=A28_PATTERN_CEP)
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
    import tempfile

    from chesscom_etl_tableau_spark.streaming.pattern_stream import (
        streaming_pattern_matches,
    )

    with tempfile.TemporaryDirectory(prefix="sg_stream_cep_", ignore_cleanup_errors=True) as out:
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
    return res


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


# Eager: foreachBatch DQ auditor (2 micro-batches, report sink).
@query(eager=True, oracle="SELECT * FROM ("
        + _dq_half("o_orderkey % 2 = 0")
        + ") UNION ALL SELECT * FROM ("
        + _dq_half("o_orderkey % 2 <> 0")
        + ")")
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
    import tempfile

    from chesscom_etl_tableau_spark.streaming.dq_stream import streaming_dq_gate

    with tempfile.TemporaryDirectory(prefix="sg_stream_dq_", ignore_cleanup_errors=True) as out:
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
    return res


# MG mergeability contract (see _q_stream_heavy_hitters): DuckDB
# recomputes the exact heavy set (freq * (m+1) > N, m=8) and the
# guarantee booleans are constants — TRUE for every heavy key, any
# merge order.
# Eager: foreachBatch MG state merges (2 micro-batches).
@query(eager=True, oracle="""
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
    """)
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
    import tempfile

    from chesscom_etl_tableau_spark.streaming.heavy_stream import (
        read_heavy_state,
        streaming_heavy_hitters,
    )

    m = 8
    with tempfile.TemporaryDirectory(prefix="sg_stream_hh_", ignore_cleanup_errors=True) as out:
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


# Eager: real streaming drain (temp dirs, 3 micro-batches).
@query(eager=True, oracle="""
        SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start_s,
               CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) + 3600 AS window_end_s,
               event_type,
               count(*) AS n_events
        FROM events
        WHERE ts IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2, 3
    """)
def _q_stream_windowed_counts(spark, sf_dir):
    # Streaming tumbling-window counts (streaming/windowed.py) drained
    # over the events table — the streaming twin of the batch
    # date_trunc rollups (W2). Same closer-file watermark mechanics as
    # _q_stream_sessionize; 1-hour windows are epoch-aligned, so the
    # oracle is a plain date_trunc('hour') GROUP BY. The approximate
    # n_users column (HLL) is computed by the operator but excluded
    # from the contract frame — DuckDB cannot reproduce Spark's sketch.
    import datetime as _dt
    import tempfile

    from chesscom_etl_tableau_spark.streaming.windowed import (
        windowed_event_counts,
    )

    with tempfile.TemporaryDirectory(prefix="sg_stream_win_", ignore_cleanup_errors=True) as out:
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
    return res


# Streaming ANN enrichment: full closed-form replay of the IVF
# probe — argmax bucket assignment of every corpus vector, nprobe=2
# centroid routing per query (rounded sims, centroid-id tiebreak),
# exact top-5 by cosine within the probed buckets (vec_id
# tiebreak). Compaction changes file layout, never content, so the
# mid-drain generation hop cannot move a single row of this
# expected set — which is exactly what consistent_with_pinned
# asserts Spark-side.
# Eager: streaming drain with mid-drain index compaction.
@query(eager=True, oracle="""
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
    """)
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
    with tempfile.TemporaryDirectory(prefix="sg_annenrich_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(
        rows,
        "query_id long, vec_id long, cosine_sim double, rank int, "
        "consistent_with_pinned boolean, generations_advanced boolean",
    )


# Streaming decontamination: the stream_corpus_ingest macro rounds
# with the contamination filter injected (decontam=True) — ctm is
# the closed-form containment test (distinct 3-gram shingle hits
# vs the doc_id % 11 == 3 benchmark vocabulary, exact integer
# cross-multiply hits*2 >= n*1), dd{b} collects the per-batch
# drops, and the scalar n_contam_dropped replays the counter sum.
_ci_dc_rounds = ",".join(
    _corpus_ingest_cte(b, decontam=True) for b in (1, 2, 3)
)


# Eager: foreachBatch drain + decontamination screen.
@query(eager=True, oracle=f"""
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
    """.replace(
        "{TOKEN_STATS}", TEXT_TOKEN_STATS
    ))
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
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import read_manifest_sink
    from chesscom_etl_tableau_spark.streaming.corpus_ingest import (
        benchmark_shingle_vocab,
        streaming_corpus_ingest,
    )

    with tempfile.TemporaryDirectory(prefix="sg_stream_decon_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(
        rows,
        "source string, n_docs long, total_tokens long, avg_quality double, "
        "n_contam_dropped long, lsh_recall_ok boolean",
    )
