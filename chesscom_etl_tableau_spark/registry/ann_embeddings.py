"""Approximate nearest-neighbour search and embedding statistics (IVF, PQ, IVF-PQ, MMR)."""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.operators import similarity as SIM
from chesscom_etl_tableau_spark.registry.common import _emb_stats, _multiset_mismatch, _t
from chesscom_etl_tableau_spark.registry.record import query


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


@query(oracle="""
        WITH e AS (SELECT label, unnest(range(0, len(embedding))) AS pos, embedding
                   FROM embeddings)
        SELECT label, CAST(pos AS INT) AS pos,
               floor(CAST(sum(CAST(CAST(embedding[CAST(pos + 1 AS INT)] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
                     / count(*) * 1000000.0 + 0.5) / 1000000.0 AS centroid_val
        FROM e GROUP BY 1, 2
    """)
def _q_emb_label_centroids(spark, sf_dir):
    # Per-label mean embedding (class prototypes), exploded rows.
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.label_centroids(emb)


@query(oracle="""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        s AS (SELECT vec_id, e,
                     greatest(list_max(list_transform(e, x -> abs(x))), 1e-12) / 127.0 AS sc
              FROM v),
        x AS (SELECT vec_id, e, sc, unnest(range(0, len(e))) AS pos FROM s)
        SELECT vec_id, CAST(pos AS INT) AS pos,
               CAST(floor(e[CAST(pos + 1 AS INT)] / sc + 0.5) AS INT) AS qval,
               floor(sc * 1000000000.0 + 0.5) / 1000000000.0 AS scale
        FROM x
    """)
def _q_emb_quantize(spark, sf_dir):
    # Symmetric int8 quantization of the embedding column.
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.quantize_int8(emb)


@query(oracle="""
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
    """)
def _q_emb_hard_negatives(spark, sf_dir):
    # Hard-negative mining (r5 cont.): per anchor, the top-3 nearest
    # vectors with a DIFFERENT label — contrastive-training negatives
    # at the decision boundary. Exact broadcast form (the IVF variant
    # is the scale path); DuckDB recomputes every cosine.
    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") % 100 == 0)
    return SIM.hard_negatives(emb, anchors, k=3)


@query(headline="scan_bound", oracle="""
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
    """)
def _q_ann_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.cosine_topk(emb, queries, k=5)


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


@query(oracle=ann_exact_contract)
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


# Eager: temp-dir index build + append + exceptAll check.
@query(eager=True, oracle="""
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
    """)
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
    import tempfile

    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    base = emb.where(F.col("vec_id") % 3 != 0)
    batch = emb.where(F.col("vec_id") % 3 == 0)
    with tempfile.TemporaryDirectory(prefix="sg_ivfapp_", ignore_cleanup_errors=True) as out:
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


# Eager: temp-dir persist/append x2/compact + probe compares.
@query(eager=True, oracle="""
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
    """)
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
    with tempfile.TemporaryDirectory(prefix="sg_ivfcomp_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(
        rows,
        "bucket int, n_total long, probe_equal boolean, content_equal boolean, "
        "files_collapsed boolean",
    )


# Generation-logged maintenance (r14): the final content is the
# same closed-form argmax assignment as ann_ivf_compact (the log
# changes WHERE files live and WHEN they die, never the rows); the
# snapshot-isolation booleans (pinned probe == post-compact probe,
# pinned files intact, one live file per partition) are real
# Spark-side checks the oracle expects TRUE.
# Eager: temp-dir generation-logged append/compact + pinned probe.
@query(eager=True, oracle="""
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
    """)
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
    with tempfile.TemporaryDirectory(prefix="sg_ivfgen_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(
        rows,
        "bucket int, n_total long, probe_equal boolean, content_equal boolean, "
        "pinned_intact boolean, files_collapsed boolean",
    )


# Id deletion on the generation-logged index (r14): remaining rows
# are the closed-form assignment minus the deleted ids; the
# snapshot/replay booleans are real Spark-side checks.
# Eager: temp-dir logged delete + time-travel/replay checks.
@query(eager=True, oracle="""
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
    """)
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
    import tempfile

    from chesscom_etl_tableau_spark.operators import index_log as IL

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    victims = emb.where(F.col("vec_id") % 7 == 0).select("vec_id")
    with tempfile.TemporaryDirectory(prefix="sg_ivfdel_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(
        rows,
        "bucket int, n_remaining long, current_excludes boolean, "
        "pinned_shows_deleted boolean, replay_noop boolean, "
        "untouched_carried boolean",
    )


# Full replay of the partial-refit contract: argmax assignment,
# per-row micro residuals, the residual-threshold corpus split, the
# exact-integer drift test (cur_mean*20 > base_mean*23), per-dim
# micro-mean refit centroids over the drifted buckets' members,
# reassignment of ONLY those members among ONLY the refit centroids,
# and final per-bucket mean residuals against the updated set.
ANN_IVF_REFIT = """
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


# Eager: temp-dir persist/append/refit + rebuild compare.
@query(eager=True, oracle=ANN_IVF_REFIT)
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
    with tempfile.TemporaryDirectory(prefix="sg_ivfrefit_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(
        rows,
        "bucket int, n_vectors long, was_drifted boolean, final_resid_micro long, "
        "matches_rebuild boolean",
    )


# Coarse stats are independent of the PQ codebooks, so the PQ
# refit's replay IS the IVF refit's replay (contract column renamed;
# the code-table equality is the Spark-side exceptAll boolean).
# Eager: temp-dir persist/append/refit + re-encode compare (PQ fit).
@query(eager=True, oracle=ANN_IVF_REFIT.replace(
        "matches_rebuild", "matches_reencode"
    ))
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
    with tempfile.TemporaryDirectory(prefix="sg_ivfpqrefit_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(
        rows,
        "bucket int, n_vectors long, was_drifted boolean, final_resid_micro long, "
        "matches_reencode boolean",
    )


# Eager: spark.ml KMeans fit.
@query(eager=True, oracle=ann_exact_contract)
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


# Eager: spark.ml KMeans fits (IVF centroids + m PQ books).
@query(eager=True, oracle=ann_exact_contract)
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


@query(oracle="""
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
    """)
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


# Eager: spark.ml KMeans fits (one per PQ subspace).
@query(eager=True, oracle="""
        WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        d AS (SELECT unnest(e) AS val, unnest(range(len(e))) AS pos FROM v),
        b AS (SELECT sum(vp) AS base FROM
                  (SELECT var_pop(val) AS vp FROM d GROUP BY pos))
        SELECT (SELECT count(*) FROM embeddings) AS n_vectors,
               floor(base * 10000.0 + 0.5) / 10000.0 AS mean_baseline_mse,
               TRUE AS pq_beats_mean, TRUE AS errors_nonneg
        FROM b
    """)
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


# Eager: spark.ml KMeans fits (one per PQ subspace).
@query(eager=True, oracle=ann_exact_contract)
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


# Eager: temp-dir index build + append + exceptAll check, plus frozen-
# codebook encode (KMeans fits).
@query(eager=True, oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_total,
               CAST(coalesce(sum(CASE WHEN vec_id % 3 = 0 THEN 1 END), 0)
                    AS BIGINT) AS n_appended,
               TRUE AS matches_rebuild, TRUE AS err_nonneg
        FROM embeddings
    """)
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
    import tempfile

    emb = _t(spark, sf_dir, "embeddings")
    n, dim = _emb_stats(sf_dir)
    base = emb.where(F.col("vec_id") % 3 != 0)
    batch = emb.where(F.col("vec_id") % 3 == 0)
    with tempfile.TemporaryDirectory(prefix="sg_ivfpqapp_", ignore_cleanup_errors=True) as out:
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
    return spark.createDataFrame(
        rows,
        "n_total long, n_appended long, matches_rebuild boolean, "
        "err_nonneg boolean",
    )


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


# Eager: bounded candidate-list collect + driver greedy.
@query(eager=True, oracle=f"""
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
    """)
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


# CAST AS DOUBLE[] is load-bearing: on float arrays DuckDB's
# list_cosine_similarity computes AND returns float32, which both
# diverges from Spark's float64 HOF chain in the 6th decimal and
# poisons the rounding arithmetic (FLOAT * DECIMAL stays FLOAT).
@query(oracle="""
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
    """)
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


# Eager: two Arrow passes + driver eigh run at build time.
@query(eager=True, oracle="""
        -- contract oracle (the recall-floor pattern): the engine
        -- measures its own whitened output's mean/covariance; the
        -- oracle asserts the contract booleans and the yardsticks.
        SELECT CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(max(len(embedding)) AS BIGINT) AS dim,
               TRUE AS mean_is_zero,
               TRUE AS cov_is_identity
        FROM embeddings
    """)
def _q_emb_whitening(spark, sf_dir):
    # ZCA whitening contract (r6): whiten the embedding table (two
    # Arrow passes + driver d x d eigendecomposition), then MEASURE the
    # output — mean ~ 0, covariance ~ identity — and report the
    # contract booleans (operators/similarity.py::whitening_contract,
    # the recall-floor oracle pattern).
    _n, dim = _emb_stats(sf_dir)
    return SIM.whitening_contract(_t(spark, sf_dir, "embeddings"), dim=dim)


@query(oracle="""
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
    """)
def _q_emb_knn_consistency(spark, sf_dir):
    # kNN label-consistency (r7, operators/similarity.py::
    # knn_label_consistency): per vector, the fraction of its 5
    # nearest cosine neighbors sharing its label — the geometric
    # label-noise signal ("confident learning" shape). Exact O(n^2)
    # anchor over cosine_topk; the corpus-scale candidate stage is
    # ivf_topk, as in dedup_semantic. agreement = one integer division.
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.knn_label_consistency(emb, k=5)


@query(oracle="""
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
    """)
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
