"""Ingest-surface checks (SURVEY.md §2.1 S3/S5-S10, §2.7 I1-I5) and the
manifest/warehouse sink lifecycles. Each eager entry runs a REAL
pipeline (fixture archives derived deterministically from the orders
table, temp-dir sinks) and returns the observable counters/rows as a
small DataFrame; the oracles recompute the expected values from the
same source table, or are constants fixed by the contract itself
(e.g. "a second ingest of the same archives appends zero rows",
fetch_and_post.py:4-8).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.plans import ingest as ING
from chesscom_etl_tableau_spark.plans.status import StatusLogger
from chesscom_etl_tableau_spark.sources.sinks import export_for_bi
from chesscom_etl_tableau_spark.registry.common import _multiset_mismatch, _t
from chesscom_etl_tableau_spark.registry.record import query
from chesscom_etl_tableau_spark.registry.transforms import T15_SCD2_DIMENSION


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


@query(oracle="SELECT o_orderkey FROM orders")
def _q_s4_key_scan(spark, sf_dir):
    # S4: single-column dedup-key scan (column-pruned projection).
    return _t(spark, sf_dir, "orders").select("o_orderkey")


# Eager: append/merge/DV pipeline + feed aggregation.
@query(eager=True, oracle="""
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
    """)
def _q_s19_change_feed(spark, sf_dir):
    # S19 (r5 cont.): change data feed across three generations —
    # append, COW merge (updates + inserts), delete vector — read back
    # as net row-level changes between generation 1 and the head. The
    # oracle recomputes each change class from the events closed form:
    # a key updated then deleted nets to a DELETE with its generation-1
    # image; updates emit pre/post images.
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import (
        commit_append_manifest,
        commit_delete_vector,
        commit_merge_manifest,
        manifest_change_feed,
    )

    with tempfile.TemporaryDirectory(prefix="sg_s19_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(
        rows, "change_type string, n bigint, key_sum bigint, payload_sum bigint"
    )


@query(oracle=T15_SCD2_DIMENSION)
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


# Eager: three view refreshes (temp-dir writes).
@query(eager=True, oracle="""
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
    """)
def _q_s20_incremental_agg(spark, sf_dir):
    # S20 (r5 cont.): incremental materialized-view maintenance. A
    # grouped count+sum view of a manifest sink refreshes by reading
    # ONLY newly appended files (sum/count self-merge); when the fact
    # history stops being pure appends (here: a delete vector), it
    # consumes the CHANGE DATA FEED and applies signed deltas instead
    # of rescanning; and it always equals the from-scratch aggregate —
    # which is exactly what the oracle recomputes from source.
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import (
        commit_append_manifest,
        commit_delete_vector,
        read_manifest_sink,
        refresh_incremental_agg,
    )

    with tempfile.TemporaryDirectory(prefix="sg_s20_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(
        rows,
        "n_groups bigint, n_rows bigint, payload_total bigint, "
        "first_build_full boolean, append_was_incremental boolean, "
        "dv_maintained_via_cdc boolean, view_equals_recompute boolean",
    )


# Ingest-surface oracles (fixture = orders WHERE o_orderkey % 97 = 0,
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


@query(eager=True, oracle=f"""
        WITH g AS ({_FIX_G})
        SELECT CAST(count(*) AS BIGINT) AS first_run_appended,
               CAST(0 AS BIGINT) AS second_run_appended,
               CAST(count(*) AS BIGINT) AS sink_rows,
               CAST(count(*) AS BIGINT) AS distinct_keys
        FROM g
    """)
def _q_i2_idempotent_reingest(spark, sf_dir):
    # I2/J1: ingesting the same archives twice appends zero duplicates
    # (fetch_and_post.py:4-8, 358-370).
    import tempfile

    with tempfile.TemporaryDirectory(prefix="sg_i2_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(
        rows,
        "first_run_appended bigint, second_run_appended bigint, sink_rows bigint, distinct_keys bigint",
    )


@query(eager=True, oracle=f"""
        WITH g AS ({_FIX_G}),
        a AS (SELECT DISTINCT username, month FROM g),
        u AS (SELECT DISTINCT username FROM g)
        SELECT CAST((SELECT count(*) FROM a) + (SELECT count(*) FROM u) AS BIGINT) AS first_run_processed,
               CAST((SELECT count(*) FROM u) AS BIGINT) AS second_run_processed,
               CAST(0 AS BIGINT) AS second_run_appended,
               CAST((SELECT count(*) FROM g) AS BIGINT) AS sink_rows
    """)
def _q_i3_open_month_refetch(spark, sf_dir):
    # I3: with state, a re-run unmarks the LAST processed archive per
    # user (the still-open month, fetch.yml:93-129), re-fetches exactly
    # that one, and idempotent dedup appends zero.
    import tempfile

    with tempfile.TemporaryDirectory(prefix="sg_i3_", ignore_cleanup_errors=True) as out:
        sink, state = f"{out}/games", f"{out}/state.json"
        archives = _ingest_fixture(spark, sf_dir)
        r1 = ING.ingest_archives(spark, archives, sink, state_path=state, reprocess_last=False)
        r2 = ING.ingest_archives(spark, archives, sink, state_path=state, reprocess_last=True)
        n_sink = spark.read.parquet(sink).count()
        rows = [(r1.processed_archives, r2.processed_archives, r2.appended_games, n_sink)]
    return spark.createDataFrame(
        rows,
        "first_run_processed bigint, second_run_processed bigint, second_run_appended bigint, sink_rows bigint",
    )


@query(eager=True, oracle=f"""
        WITH g AS ({_FIX_G})
        SELECT username,
               CAST(count(DISTINCT month) + 1 AS BIGINT) AS n_processed_archives,
               CAST(max(end_time) AS BIGINT) AS last_end_time
        FROM g GROUP BY username
    """)
def _q_s9_state_roundtrip(spark, sf_dir):
    # S9/I1: checkpoint state written by a run and read back — per-user
    # processed-archive count (incl. the empty archive) and the event-time
    # watermark (max end_time over APPENDED games, fetch_and_post.py:399-413).
    import tempfile

    with tempfile.TemporaryDirectory(prefix="sg_s9_", ignore_cleanup_errors=True) as out:
        sink, state_path = f"{out}/games", f"{out}/state.json"
        archives = _ingest_fixture(spark, sf_dir)
        ING.ingest_archives(spark, archives, sink, state_path=state_path, reprocess_last=False)
        st = ING.load_state(state_path)
        rows = sorted(
            (u, len(e.get("processed_archives", [])), int(e.get("last_end_time", 0)))
            for u, e in st.items()
        )
    return spark.createDataFrame(
        rows, "username string, n_processed_archives bigint, last_end_time bigint"
    )


@query(eager=True, oracle=f"""
        WITH g AS ({_FIX_G})
        SELECT username, concat('a://', username, '/', month) AS archive_url,
               CAST(count(*) AS INT) AS game_count
        FROM g GROUP BY 1, 2
        UNION ALL
        SELECT DISTINCT username, concat('a://', username, '/empty'), CAST(0 AS INT)
        FROM g
    """)
def _q_s6_audit_game_counts(spark, sf_dir):
    # S6: one audit row per processed archive; game_count counts APPENDED
    # (post-dedup) rows, and a zero-game archive still gets a row with 0
    # (fetch_and_post.py:345-350, 390-394).
    import tempfile

    with tempfile.TemporaryDirectory(prefix="sg_s6_", ignore_cleanup_errors=True) as out:
        sink, audit = f"{out}/games", f"{out}/audit"
        archives = _ingest_fixture(spark, sf_dir)
        ING.ingest_archives(spark, archives, sink, audit_path=audit, reprocess_last=False)
        rows = [
            (r["username"], r["archive_url"], int(r["game_count"]))
            for r in spark.read.parquet(audit)
            .select("username", "archive_url", "game_count")
            .collect()
        ]
    return spark.createDataFrame(sorted(rows), "username string, archive_url string, game_count int")


@query(eager=True, oracle=f"""
        WITH g AS ({_FIX_G})
        SELECT CAST(count(*) AS BIGINT) AS batch_rows,
               CAST(count(*) AS BIGINT) AS incr_rows,
               CAST(0 AS BIGINT) AS only_in_batch,
               CAST(0 AS BIGINT) AS only_in_incr
        FROM g
    """)
def _q_i5_incremental_equivalence(spark, sf_dir):
    # I5/I2: three archive-slice incremental runs produce exactly the
    # fact table one batch run does (same rows, same keys).
    import tempfile

    with tempfile.TemporaryDirectory(prefix="sg_i5_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(
        rows, "batch_rows bigint, incr_rows bigint, only_in_batch bigint, only_in_incr bigint"
    )


@query(eager=True, oracle="""
        SELECT CAST(2 * count(*) AS BIGINT) AS sink_rows,
               CAST(count(*) AS BIGINT) AS distinct_events
        FROM events WHERE event_id % 37 = 0
    """)
def _q_s5_append_roundtrip(spark, sf_dir):
    # S5: batched append sink — two appends of the same batch are both
    # present (append never overwrites); row count doubles, keys don't.
    import tempfile

    with tempfile.TemporaryDirectory(prefix="sg_s5_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(rows, "sink_rows bigint, distinct_events bigint")


# Eager: manifest commit pipeline (temp-dir writes).
@query(eager=True, oracle="""
        WITH k AS (SELECT event_id FROM events WHERE event_id % 37 = 0),
        e AS (SELECT count(*) AS n_even FROM k WHERE event_id % 2 = 0),
        a AS (SELECT count(*) AS n_all FROM k)
        SELECT CAST(n_even AS BIGINT) AS published_first,
               CAST(n_all - n_even AS BIGINT) AS published_second,
               CAST(n_all AS BIGINT) AS sink_rows,
               CAST(n_all AS BIGINT) AS distinct_keys,
               CAST(2 AS BIGINT) AS generations
        FROM e, a
    """)
def _q_s11_manifest_roundtrip(spark, sf_dir):
    # S11 (r5): object-store-safe manifest commit — overlapping commits
    # dedup on the key under the exclusive-create generation swap (no
    # rename, no lock; plans/ingest.py commit_append_manifest). The
    # oracle recomputes the expected counts from the same source slice:
    # second commit publishes only the non-overlapping half, snapshot
    # readers see each key exactly once, generations are dense.
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import (
        commit_append_manifest,
        read_manifest_sink,
    )

    with tempfile.TemporaryDirectory(prefix="sg_s11_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(
        rows,
        "published_first bigint, published_second bigint, "
        "sink_rows bigint, distinct_keys bigint, generations bigint",
    )


# Eager: three manifest commits + per-generation reads.
@query(eager=True, oracle="""
        WITH k AS (SELECT event_id FROM events WHERE event_id % 37 = 0),
        c AS (SELECT count(*) FILTER (event_id % 3 = 0) AS m0,
                     count(*) FILTER (event_id % 3 = 1) AS m1,
                     count(*) FILTER (event_id % 3 = 2) AS m2
              FROM k)
        SELECT CAST(g AS BIGINT) AS generation, CAST(n AS BIGINT) AS n_rows
        FROM c, LATERAL (VALUES (1, m0), (2, m0 + m1), (3, m0 + m1 + m2),
                                (99, m0 + m1 + m2)) AS t(g, n)
    """)
def _q_s12_time_travel(spark, sf_dir):
    # S12 (r5): manifest time travel — every published generation stays
    # a first-class snapshot read (its file list is immutable and gc
    # only reaps unreferenced files). Three commits, then each
    # generation read back by number: counts must equal the cumulative
    # slices the oracle recomputes from the source.
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import (
        commit_append_manifest,
        read_manifest_sink,
    )

    with tempfile.TemporaryDirectory(prefix="sg_s12_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(rows, "generation bigint, n_rows bigint")


# Eager: append + COW merge pipeline (temp-dir writes).
@query(eager=True, oracle="""
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
    """)
def _q_s13_merge_roundtrip(spark, sf_dir):
    # S13 (r5): copy-on-write MERGE on the manifest sink — matched keys
    # replaced, new keys appended, one generation swap. The oracle
    # recomputes counts and the post-merge payload sum from the same
    # source slice.
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import (
        commit_append_manifest,
        commit_merge_manifest,
        read_manifest_sink,
    )

    with tempfile.TemporaryDirectory(prefix="sg_s13_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(
        rows,
        "appended bigint, inserted bigint, updated bigint, "
        "sink_rows bigint, distinct_keys bigint, payload_sum bigint",
    )


# Eager: manifest stats + pruned-read pipeline (temp-dir writes).
@query(eager=True, oracle="""
        WITH s AS (SELECT event_id AS ord, user_id AS payload
                   FROM events WHERE event_id % 11 = 0),
        b AS (SELECT min(ord) + (max(ord) - min(ord)) // 4 AS lo,
                     min(ord) + (max(ord) - min(ord)) // 2 AS hi FROM s)
        SELECT count(*) AS n_rows,
               CAST(sum(payload) AS BIGINT) AS payload_sum,
               TRUE AS pruning_skipped_files,
               TRUE AS pruned_equals_full
        FROM s, b WHERE s.ord BETWEEN b.lo AND b.hi
    """)
def _q_s14_stats_pruning(spark, sf_dir):
    # S14 (r5 cont.): manifest per-file column stats + file skipping.
    # Events are range-clustered on the stats column at write, so a
    # narrow range read must SKIP files (driver-side, zero data I/O)
    # and still return exactly the rows the full-scan filter returns.
    # The oracle recomputes the row count and payload sum from source;
    # the pruning facts ride as contract booleans.
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import (
        commit_append_manifest,
        prune_file_list,
        read_manifest_pruned,
        read_manifest_sink,
    )

    with tempfile.TemporaryDirectory(prefix="sg_s14_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(
        rows,
        "n_rows bigint, payload_sum bigint, "
        "pruning_skipped_files boolean, pruned_equals_full boolean",
    )


# Eager: bloom commit + point-read pipeline (temp-dir).
@query(eager=True, oracle="""
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
    """)
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
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import (
        commit_append_manifest,
        prune_file_list,
        prune_file_list_eq,
        read_manifest_point,
        read_manifest_sink,
    )

    with tempfile.TemporaryDirectory(prefix="sg_s17_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(
        rows,
        "n_rows bigint, payload_sum bigint, stats_skip_nothing boolean, "
        "bloom_skipped_most boolean, point_equals_full boolean, "
        "missing_key_zero_rows boolean",
    )


# Eager: two warehouse transactions + snapshot reads.
@query(eager=True, oracle="""
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
    """)
def _q_s18_multi_table_txn(spark, sf_dir):
    # S18 (r5 cont.): cross-table TRANSACTIONS via the warehouse
    # manifest — one txn doc pins every table's file list, so a fact
    # and its dimension flip together or not at all. Two transactions
    # run (half the users+facts, then everything with keyed dedup);
    # the contract checks referential consistency INSIDE each
    # generation and that generation 1 is frozen by generation 2
    # (time travel across tables). The oracle recomputes every count
    # from source.
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import (
        commit_tables,
        read_warehouse_table,
    )

    with tempfile.TemporaryDirectory(prefix="sg_s18_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(
        rows,
        "g1_users bigint, g1_facts bigint, g1_consistent boolean, "
        "g2_users bigint, g2_facts bigint, g2_value_sum bigint, "
        "g2_consistent boolean, g1_frozen boolean",
    )


# Eager: DV delete/re-append/compact pipeline.
@query(eager=True, oracle="""
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
    """)
def _q_s15_delete_vector_lifecycle(spark, sf_dir):
    # S15 (r5 cont.): merge-on-read delete-vector lifecycle — DV delete
    # (no data rewrite), re-append of a deleted subset (file-scoped
    # tombstones keep old rows masked, new rows visible), compaction
    # materializing the mask. Every count is recomputable from the
    # source slice, so the whole lifecycle is oracle-checked.
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import (
        _current_manifest_doc,
        commit_append_manifest,
        commit_compact_manifest,
        commit_delete_vector,
        read_manifest_sink,
    )

    with tempfile.TemporaryDirectory(prefix="sg_s15_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(
        rows,
        "appended bigint, deleted bigint, after_delete bigint, "
        "reappended bigint, after_reappend bigint, final_rows bigint, "
        "payload_sum bigint, mask_materialized boolean",
    )


# Eager: z-order write + pruned-read pipeline (temp-dir).
@query(eager=True, oracle="""
        SELECT count(*) AS n_rows,
               CAST(sum(user_id) AS BIGINT) AS payload_sum,
               TRUE AS zorder_skipped_files,
               TRUE AS pruned_equals_full
        FROM events
        WHERE event_id % 7 = 0
          AND (user_id % 256) BETWEEN 32 AND 95
          AND (event_id % 256) BETWEEN 64 AND 127
    """)
def _q_s16_zorder_pruning(spark, sf_dir):
    # S16 (r5 cont.): Z-order layout x manifest column stats — the
    # Delta "OPTIMIZE ZORDER + data skipping" composition. Events are
    # written range-clustered on their Morton key with per-file zkey
    # stats; a 2-D box query prunes files via the z-range bound
    # [z(x0,y0), z(x1,y1)] (valid because Morton interleaving is
    # monotone under coordinate dominance), then applies the exact box
    # filter. The oracle recomputes the box aggregate from source; the
    # skip and parity facts ride as contract booleans.
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import (
        commit_append_manifest,
        prune_file_list,
        read_manifest_pruned,
        read_manifest_sink,
    )
    from chesscom_etl_tableau_spark.sources.sinks import zorder_value

    with tempfile.TemporaryDirectory(prefix="sg_s16_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(
        rows,
        "n_rows bigint, payload_sum bigint, "
        "zorder_skipped_files boolean, pruned_equals_full boolean",
    )


@query(eager=True, oracle="""
        SELECT * FROM (VALUES ('error_archive_download', CAST(1 AS BIGINT)),
                              ('games_appended', CAST(2 AS BIGINT)),
                              ('no_new_unique_games', CAST(1 AS BIGINT))) AS t(stage, n)
    """)
def _q_s7_status_log_counts(spark, sf_dir):
    # S7: best-effort status log — stage rows land in the sink with the
    # reference's verbatim stage names (fetch_and_post.py:265-271).
    import tempfile

    with tempfile.TemporaryDirectory(prefix="sg_s7_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(sorted(rows), "stage string, n bigint")


@query(eager=True, oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY event_type
    """)
def _q_s10_bi_export_roundtrip(spark, sf_dir):
    # S10: BI export sink — a curated aggregate exported flat and read
    # back is value-identical to computing it directly.
    import tempfile

    with tempfile.TemporaryDirectory(prefix="sg_s10_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(sorted(rows), "event_type string, n_events bigint")


@query(oracle="""
        SELECT * FROM (VALUES (CAST(1 AS BIGINT), 2.0, CAST(3 AS BIGINT)),
                              (CAST(2 AS BIGINT), 4.0, CAST(3 AS BIGINT)))
            AS t(retry, backoff_s, total_attempts)
    """)
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


@query(oracle="""
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
    """)
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


# Eager: manifest commits + footer-scan export (temp-dir).
@query(eager=True, oracle="""
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
    """)
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
    import tempfile

    from chesscom_etl_tableau_spark.plans.ingest import commit_append_manifest
    from chesscom_etl_tableau_spark.plans.metadata_export import (
        export_metadata_json,
        snapshot_log,
        snapshot_summaries,
    )

    with tempfile.TemporaryDirectory(prefix="sg_s22_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(
        rows,
        "snapshot_id bigint, n_data_files bigint, n_delete_files bigint, "
        "total_records bigint, protocol bigint, is_current boolean",
    )
