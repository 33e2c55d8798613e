"""Streaming corpus ingest — the 100 TB training-data capstone: a
document stream drained through ``foreachBatch`` where every micro-batch
is exact-deduped against a fingerprint registry, near-deduped against
the already-ingested corpus, quality-gated, and its survivors committed
to the manifest sink AND the persisted banded LSH index under one
replay-idempotent discipline. This composes the r12 persisted-index
surfaces (lsh_index_persist/append + partition-pruned probe) with the
manifest sink's exactly-once keyed append into the shape a continuous
training-corpus builder actually runs.

Per micro-batch, O(batch + touched index partitions), never O(corpus):

1. EXACT dedup — min-id per normalized fingerprint within the batch,
   then an anti-join against the fingerprint REGISTRY (its own manifest
   sink): a fingerprint seen in ANY earlier batch is retired even if
   its first representative later failed quality — exactly the batch
   `exact_dedup` semantics, so the stream composes to the batch build.
2. NEAR dedup — two deterministic exact k-shingle Jaccard drop sets
   (`exact_jaccard_batch_pairs`): WITHIN the batch (min-id survivor,
   so corpus contents don't depend on how arrivals were sliced into
   micro-batches) and against the PRE-BATCH corpus (corpus rows whose
   ids appear in the current batch are excluded, so a replayed batch
   compares against exactly the corpus its first run saw). The
   persisted LSH index is probed with partition pruning
   (`lsh_candidates_persisted`) as the candidate accelerator for the
   cross-corpus half; its recall against that exact pair set is
   surfaced as the contract statistic (the `dedup_lsh_persist`
   discipline: exact set decides, LSH is the measured accelerator).
3. QUALITY gate — `quality_metrics().quality_score >= threshold`, the
   same C4-style score `pipeline_corpus_build` gates on.
4. COMMITS, in replay-safe order:
   a. survivors -> corpus manifest sink (`commit_append_manifest`
      keyed by doc id: exactly-once, replays publish 0);
   b. survivors' band rows -> LSH index (`lsh_index_append`: replay
      duplicates are HARMLESS — the probe is distinct-by-pair — and
      bounded by foreachBatch's single-uncommitted-batch replay);
   c. fresh fingerprints -> registry sink (keyed by fingerprint:
      exactly-once).
   Replay fencing (the scd_stream fence, adapted): a replayed batch
   either finds its fingerprints registered (full prior commit ->
   no-ops everywhere) or recomputes the SAME survivor set — the
   near-dedup corpus excludes every id in the current batch, so docs
   that already reached the sink before the crash can near-dup-drop
   neither themselves NOR their same-batch near-dup partners (the
   within-batch pass re-makes those drops identically instead) — and
   every commit it re-runs is keyed-idempotent or harmless-duplicate.
   Crash between (a) and (b) heals on replay: the recomputed
   survivors re-append their band rows.

Scale shape: the registry anti-join reads one narrow fingerprint
column; the LSH probe reads only the batch's pb partitions; exact
verification shingles the BATCH and joins the inverted shingle key
(candidate-bounded, never corpus x corpus); the sink append audits
keys through manifest stats. State lives entirely in the two manifest
sinks and the index — the streaming query itself is stateless, so
restarts need no state-store compatibility.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.util import local_frame


def _state_dir(ivf_path: str) -> str:
    # underscore prefix: invisible to Spark's file listing, like the
    # sibling _generations dir
    return os.path.join(ivf_path, "_state")


def _persist_ivf_state(ivf_state: dict, ivf_path: str, gen: int) -> None:
    """Checkpoint centroids+baseline as generation-stamped parquet
    sidecars (advice r14: in-memory-only state made replay safety a
    single-process property — a stream restarted from its checkpoint
    got fresh state, KeyError'd on the next refit tick, and assigned
    replayed batches with pre-refit centroids). Each checkpoint is a
    NEW pair of dirs (write-once, _SUCCESS-marked); `_rehydrate` picks
    the newest complete pair, so a crash mid-write falls back to the
    previous checkpoint instead of reading a torn one."""
    for name, df in (("centroids", ivf_state["centroids"]),
                     ("baseline", ivf_state["baseline"])):
        df.write.mode("overwrite").parquet(
            os.path.join(_state_dir(ivf_path), f"{name}-g{gen:012d}")
        )


def _rehydrate_ivf_state(spark, ivf_path: str, ivf_state: dict) -> None:
    """Load the newest complete (centroids, baseline) checkpoint into
    `ivf_state`, replacing the caller's bootstrap centroids — after a
    restart the sidecar carries the POST-refit state, which is what
    replayed batches must assign with (the keyed anti-join probes the
    buckets the assignment routes to; stale centroids probe the wrong
    ones and can re-publish a vector a refit moved). No-op when no
    complete checkpoint exists."""
    d = _state_dir(ivf_path)
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return
    gens = sorted(
        (
            int(n.removeprefix("centroids-g"))
            for n in names
            if n.startswith("centroids-g")
        ),
        reverse=True,
    )
    for g in gens:
        pair = [os.path.join(d, f"{k}-g{g:012d}") for k in ("centroids", "baseline")]
        if all(os.path.exists(os.path.join(p, "_SUCCESS")) for p in pair):
            ivf_state["centroids"] = spark.read.parquet(pair[0]).localCheckpoint()
            ivf_state["baseline"] = spark.read.parquet(pair[1]).localCheckpoint()
            return


def benchmark_shingle_vocab(
    ref_docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """The broadcastable decontamination reference: the DISTINCT
    k-token shingle vocabulary of a benchmark/test split. Computed
    once per stream (benchmarks are tiny next to a crawl) and passed
    to `corpus_ingest_batch` as `decontam_vocab` — never recomputed
    per batch."""
    from chesscom_etl_tableau_spark.operators.text import shingles

    return (
        ref_docs.select(
            F.explode(shingles(F.col(text_col), k)).alias("shingle")
        ).distinct()
    )


def corpus_ingest_batch(
    batch_df: DataFrame,
    sink_path: str,
    lsh_path: str,
    registry_path: str,
    quality_threshold: float = 0.3,
    jaccard_threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    ivf_path: str | None = None,
    ivf_state: dict | None = None,
    vec_col: str = "embedding",
    decontam_vocab: DataFrame | None = None,
    decontam_k: int = 3,
    decontam_num: int = 1,
    decontam_den: int = 2,
) -> dict:
    """Apply ONE document micro-batch; see the module docstring for the
    step/commit discipline. Returns the batch's audit counters:
    {n_in, n_fresh, n_dropped_near, n_dropped_within,
    n_dropped_quality, n_published, n_exact_pairs, n_lsh_hits,
    n_vec_appended} — `n_exact_pairs`/`n_lsh_hits` feed the caller's
    LSH recall contract (cross-corpus pairs only; `n_dropped_within`
    counts the within-batch min-id drops, a subset of
    `n_dropped_near`). With `ivf_path`/`ivf_state` the survivors'
    `vec_col` vectors are also committed to a generation-logged IVF
    index (step 4b2 below)."""
    from chesscom_etl_tableau_spark.operators.dedup import (
        incremental_exact_dedup,
        lsh_candidates_persisted,
    )
    from chesscom_etl_tableau_spark.operators.text import (
        normalized_fingerprint,
        quality_metrics,
    )
    from chesscom_etl_tableau_spark.plans.ingest import (
        commit_append_manifest,
        read_manifest_sink,
    )

    if ivf_path is not None and not (
        isinstance(ivf_state, dict) and "centroids" in ivf_state
    ):
        # validate the pair BEFORE any commit (advice r14: a bare
        # TypeError used to surface mid-commit-ladder, after the
        # manifest/LSH commits had already landed)
        raise ValueError(
            "ivf_path requires ivf_state={'centroids': <DataFrame>}"
        )
    spark = batch_df.sparkSession
    batch = batch_df.localCheckpoint()  # pin: several passes below
    n_in = batch.count()
    if n_in == 0:
        return {
            "n_in": 0, "n_fresh": 0, "n_dropped_near": 0,
            "n_dropped_within": 0, "n_dropped_quality": 0,
            "n_dropped_contaminated": 0,
            "n_published": 0, "n_exact_pairs": 0, "n_lsh_hits": 0,
            "n_vec_appended": 0,
        }

    # 1. exact dedup: within-batch min-id survivor, then registry fence
    registry = read_manifest_sink(spark, registry_path)
    index_frame = (
        registry.select("fingerprint")
        if registry is not None
        else local_frame(spark, [], "fingerprint string")
    )
    fresh = incremental_exact_dedup(
        batch, index_frame, text_col, id_col
    ).localCheckpoint()

    # 2. near dedup. Two deterministic exact-Jaccard drop sets:
    #   (a) WITHIN the batch — min-id survivor per near-dup pair of
    #       fresh docs (non-chained: a fresh doc drops iff ANY lower-id
    #       fresh doc is near it). This makes corpus contents invariant
    #       to how arrivals are sliced into micro-batches: split the
    #       pair across batches and the higher-id doc would drop against
    #       the corpus instead (advice r13 — previously both published).
    #   (b) AGAINST the PRE-BATCH corpus — corpus rows whose ids appear
    #       in the current batch are excluded, not just self-pairs
    #       (advice r13): a replayed batch that already committed some
    #       survivors must compare against exactly the corpus its first
    #       run saw, or two near-dup docs in one batch would near-drop
    #       each OTHER's committed copy on replay, shrinking the
    #       survivor set and orphaning manifest rows from the LSH index.
    #   The LSH probe covers only (b) (the index never holds the
    #   current batch), so the recall statistic is measured on (b).
    #   Residual asymmetry, documented: (a) drops against ALL fresh
    #   docs, even those the quality gate later rejects — mirroring the
    #   registry's first-seen-retires-fingerprint rule — so a near-dup
    #   of a low-quality doc drops when they share a batch but survives
    #   when it arrives later (its pair partner never reached the
    #   corpus).
    corpus = read_manifest_sink(spark, sink_path)
    n_exact_pairs = 0
    n_lsh_hits = 0
    # Shingle the fresh batch ONCE (optimization r15, guide §1.2): the
    # pinned (doc, shingle) frame feeds both sides of the within-batch
    # pair set and the batch side of the cross-corpus pair set — four
    # shingling passes collapse to one.
    from chesscom_etl_tableau_spark.operators.dedup import _doc_shingles

    fresh_sh = _doc_shingles(fresh, text_col, id_col, 3).localCheckpoint()

    # MinHash band rows of the fresh batch, computed at most once per
    # batch (optimization r15): the LSH candidate probe and the
    # survivor index append previously each ran their own full
    # MinHash/banding stage over the same rows. Pinned and pb-clustered
    # so the eventual append writes one file per touched partition from
    # parallel writers (guide §6).
    _band_box: dict = {}

    def _fresh_band_rows(fresh_df: DataFrame) -> DataFrame:
        if "bb" not in _band_box:
            from chesscom_etl_tableau_spark.operators.dedup import lsh_band_rows
            from chesscom_etl_tableau_spark.util import (
                cluster_for_partitioned_write,
            )

            _band_box["bb"] = cluster_for_partitioned_write(
                lsh_band_rows(fresh_df, text_col, id_col), "pb"
            ).localCheckpoint()
        return _band_box["bb"]
    # ONE inverted-shingle pass for BOTH drop sets (optimization r15,
    # guide §1.2/§2.4): the batch side joins a tagged union of (its own
    # shingles) and (the pre-batch corpus' shingles); the within-batch
    # pair set and the batch-vs-corpus pair set fall out of the same
    # intersection/size pipeline, with per-pair jaccard math identical
    # to two separate exact_jaccard_batch_pairs calls (same shingle
    # sets per doc, same round-6 division — only the join is shared).
    if corpus is not None:
        batch_ids = fresh.select(id_col)
        corpus_prior = corpus.select(id_col, text_col).join(
            F.broadcast(batch_ids), id_col, "left_anti"
        )
        from chesscom_etl_tableau_spark.operators.dedup import (
            _doc_shingles as _dsh,
        )

        other_sh = fresh_sh.withColumn("__c", F.lit(False)).unionByName(
            _dsh(corpus_prior, text_col, id_col, 3).withColumn("__c", F.lit(True))
        )
    else:
        other_sh = fresh_sh.withColumn("__c", F.lit(False))
    from chesscom_etl_tableau_spark.operators.dedup import (
        exact_jaccard_tagged_pairs,
    )

    all_pairs = exact_jaccard_tagged_pairs(
        fresh_sh, other_sh, threshold=jaccard_threshold, tag_col="__c"
    ).localCheckpoint()
    within_ids = (
        all_pairs.where(~F.col("__c") & (F.col("batch_id") > F.col("corpus_id")))
        .select(F.col("batch_id").alias(id_col))
        .distinct()
        .localCheckpoint()
    )
    n_dropped_within = within_ids.count()
    if corpus is not None:
        exact_pairs = all_pairs.where(F.col("__c")).select(
            "batch_id", "corpus_id", "jaccard"
        )
        n_exact_pairs = exact_pairs.count()
        if os.path.isdir(lsh_path):
            cands = lsh_candidates_persisted(
                spark, lsh_path, fresh, text_col, id_col,
                band_rows=_fresh_band_rows(fresh),
            )
            n_lsh_hits = (
                exact_pairs.join(
                    cands.select(
                        "batch_id", F.col("index_id").alias("corpus_id")
                    ),
                    ["batch_id", "corpus_id"],
                    "left_semi",
                ).count()
            )
        dup_ids = (
            exact_pairs.select(F.col("batch_id").alias(id_col))
            .union(within_ids)
            .distinct()
        )
    else:
        dup_ids = within_ids
    n_dropped_near = dup_ids.count()
    kept_near = fresh.join(dup_ids, id_col, "left_anti")

    # 3. quality gate (the pipeline_corpus_build score and threshold)
    qual = quality_metrics(kept_near, text_col, id_col).select(
        id_col, "n_tokens", "quality_score"
    )
    survivors = kept_near.join(qual, id_col).where(
        F.col("quality_score") >= quality_threshold
    )
    # 3.5 incremental decontamination (r14 verdict ask #8): screen the
    # quality-passing docs against the benchmark shingle vocabulary —
    # drop when (distinct-shingle hits / distinct shingles) >=
    # num/den, tested as the EXACT integer cross-multiply so the
    # oracle replays it without float drift. Pure function of (batch,
    # static vocab): replays recompute the identical drop set, so the
    # replay fencing above is untouched. Cost: one shingle explode of
    # the batch + a broadcast join against the (tiny) vocab.
    n_dropped_contam = 0
    if decontam_vocab is not None:
        from chesscom_etl_tableau_spark.operators.text import shingles

        if decontam_k == 3:
            # The near-dedup pass already shingled the fresh batch at
            # k=3 into the pinned fresh_sh frame, and survivors ⊆ fresh
            # — reuse it via a semi-join instead of re-tokenizing and
            # re-shingling the survivor text (optimization r15, guide
            # §1.2; the shingle definitions are identical:
            # word-token k-shingles, distinct per doc).
            sh = fresh_sh.select(F.col("doc").alias(id_col), "shingle").join(
                F.broadcast(survivors.select(id_col)), id_col, "left_semi"
            )
        else:
            sh = survivors.select(
                id_col,
                F.explode(shingles(F.col(text_col), decontam_k)).alias("shingle"),
            )
        per_doc = (
            sh.join(
                F.broadcast(decontam_vocab.withColumn("__hit", F.lit(1))),
                "shingle",
                "left",
            )
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("__hits"),
            )
        )
        contaminated = per_doc.where(
            F.col("__hits") * decontam_den >= F.col("__n") * decontam_num
        ).select(id_col).localCheckpoint()
        n_dropped_contam = contaminated.count()
        survivors = survivors.join(contaminated, id_col, "left_anti")
    survivors = survivors.localCheckpoint()
    n_survivors = survivors.count()

    # 4a. corpus sink append — exactly-once keyed by doc id
    n_published = 0
    if n_survivors:
        n_published = commit_append_manifest(
            survivors, sink_path, key_col=id_col
        )
        # 4b. LSH index append — replay duplicates are harmless (probe
        # is distinct-by-pair); a crash between 4a and this line heals
        # on replay because the survivor set recomputes identically.
        # Survivor band rows are the batch band rows semi-joined to the
        # survivor ids (signatures are per-doc pure), so the append
        # shares the probe's MinHash pass instead of re-running it.
        from chesscom_etl_tableau_spark.operators.dedup import (
            lsh_index_append_rows,
        )

        surv_band = _fresh_band_rows(fresh).join(
            F.broadcast(survivors.select(F.col(id_col).alias("doc"))),
            "doc",
            "left_semi",
        )
        lsh_index_append_rows(surv_band, lsh_path)
    # 4b2. vector-index append (the embedding modality, r14): the
    # survivors' vectors land in a generation-LOGGED IVF index
    # (operators/index_log.py) so the ingest composes with pinned
    # probes and the drift-refit maintenance hook. Replay-idempotent
    # BY KEY, not by harmless duplication (duplicate vectors would
    # surface twice in a top-k): candidates are anti-joined against
    # the ids already present in the touched buckets' CURRENT
    # generation — a partition-pruned read bounded by |batch| buckets.
    # The first surviving batch bootstraps the index (persist + log
    # init) and captures the per-bucket residual BASELINE the drift
    # test compares against.
    n_vec_appended = 0
    if ivf_path is not None and n_survivors:
        from chesscom_etl_tableau_spark.operators import index_log as IL
        from chesscom_etl_tableau_spark.operators.similarity import (
            assign_buckets,
            ivf_bucket_residuals,
            ivf_persist,
        )

        gen, _ = IL.index_log_current(ivf_path)
        if gen > 0 and "baseline" not in ivf_state:
            # restart: the index exists but this process never saw a
            # bootstrap — rehydrate the persisted post-refit state so
            # replayed batches assign with the centroids their prior
            # copies were actually bucketed under (advice r14)
            _rehydrate_ivf_state(spark, ivf_path, ivf_state)
        cents = ivf_state["centroids"]
        vecs = survivors.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        )
        if gen == 0:
            ivf_persist(vecs, cents, ivf_path)
            IL.index_log_init(ivf_path, "bucket")
            ivf_state["baseline"] = ivf_bucket_residuals(
                IL.index_log_read(spark, ivf_path), cents
            ).localCheckpoint()
            _persist_ivf_state(ivf_state, ivf_path, 1)
            n_vec_appended = vecs.count()
        else:
            assigned = assign_buckets(vecs, cents).localCheckpoint()
            touched = sorted(
                r["bucket"]
                for r in assigned.select("bucket").distinct().collect()
            )
            existing = IL.index_log_read(
                spark, ivf_path, values=touched
            ).select("vec_id")
            new = assigned.join(existing, "vec_id", "left_anti").localCheckpoint()
            n_vec_appended = new.count()
            if n_vec_appended:
                IL.index_log_append(spark, ivf_path, new, "bucket")
    # 4c. registry append — every fresh fingerprint is retired, even if
    # its representative failed the quality/near gates
    fresh_fps = fresh.select(
        normalized_fingerprint(F.col(text_col)).alias("fingerprint"),
        F.col(id_col),
    )
    commit_append_manifest(fresh_fps, registry_path, key_col="fingerprint")
    n_fresh = fresh.count()
    return {
        "n_in": n_in,
        "n_fresh": n_fresh,
        "n_dropped_near": n_dropped_near,
        "n_dropped_within": n_dropped_within,
        "n_dropped_quality": (
            n_fresh - n_dropped_near - n_survivors - n_dropped_contam
        ),
        "n_dropped_contaminated": n_dropped_contam,
        "n_published": n_published,
        "n_exact_pairs": n_exact_pairs,
        "n_lsh_hits": n_lsh_hits,
        "n_vec_appended": n_vec_appended,
    }


def streaming_corpus_ingest(
    stream_df: DataFrame,
    sink_path: str,
    lsh_path: str,
    registry_path: str,
    checkpoint: str,
    quality_threshold: float = 0.3,
    jaccard_threshold: float = 0.5,
    stats: list | None = None,
    compact_every: int | None = None,
    ivf_path: str | None = None,
    ivf_state: dict | None = None,
    refit_every: int | None = None,
    drift_num: int = 3,
    drift_den: int = 2,
    decontam_vocab: DataFrame | None = None,
    decontam_k: int = 3,
    decontam_num: int = 1,
    decontam_den: int = 2,
):
    """Wire a document stream through `corpus_ingest_batch` with
    availableNow + maxFilesPerTrigger-shaped micro-batches (the caller
    controls batch boundaries by file layout). `stats`, when given,
    collects each batch's counter dict — driver-side audit telemetry,
    bounded by the number of micro-batches.

    `compact_every=N` runs the LSH-index small-file compaction
    (`compact_partitioned_index` on the pb partitions) after every Nth
    micro-batch — the maintenance loop a continuous ingest needs, since
    each batch's append adds files to its touched partitions. Safe
    inside the single-writer foreachBatch serialization (no concurrent
    appender exists between batches), and probe-preserving: candidates
    are a pure function of index CONTENT. Compaction after a batch that
    later replays is harmless — the replayed batch recomputes against
    identical content.

    The EMBEDDING modality (r14, verdict ask #3): pass `ivf_path` plus
    `ivf_state = {"centroids": <DataFrame>}` (caller-owned, mutated in
    place) and the stream also maintains a generation-logged IVF index
    of the survivors' vectors — bootstrap + baseline capture on the
    first surviving batch, keyed-idempotent appends after (see
    `corpus_ingest_batch`). `refit_every=N` runs the drift-triggered
    partial refit (`index_log.ivf_refit_drifted_log`, exact-integer
    drift rule cur*drift_den > base*drift_num) after every Nth batch:
    drifted buckets are re-centered and reassigned in a NEW generation
    (pinned probes unaffected), `ivf_state["centroids"]` advances to
    the updated set, and the refitted buckets' baselines reset to
    their post-refit residuals so the next drift test measures from
    the refit state. A refit after a batch that later replays is
    harmless for the same reason compaction is: the replayed batch's
    keyed append sees identical ids, and a re-run refit against the
    post-refit baseline finds no drift."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        counters = corpus_ingest_batch(
            batch_df, sink_path, lsh_path, registry_path,
            quality_threshold, jaccard_threshold,
            ivf_path=ivf_path, ivf_state=ivf_state,
            decontam_vocab=decontam_vocab, decontam_k=decontam_k,
            decontam_num=decontam_num, decontam_den=decontam_den,
        )
        if compact_every and (batch_id + 1) % compact_every == 0 and os.path.isdir(
            lsh_path
        ):
            from chesscom_etl_tableau_spark.operators.similarity import (
                compact_partitioned_index,
            )

            counters["n_files_retired"] = compact_partitioned_index(
                batch_df.sparkSession, lsh_path, "pb"
            )
        if (
            refit_every
            and ivf_path is not None
            and (batch_id + 1) % refit_every == 0
        ):
            from chesscom_etl_tableau_spark.operators import index_log as IL
            from chesscom_etl_tableau_spark.operators.similarity import (
                ivf_bucket_residuals,
            )

            spark = batch_df.sparkSession
            if IL.index_log_current(ivf_path)[0]:
                if "baseline" not in ivf_state:
                    # restart before this process saw a surviving
                    # batch: pull the persisted checkpoint instead of
                    # KeyError-ing (advice r14)
                    _rehydrate_ivf_state(spark, ivf_path, ivf_state)
            if (
                IL.index_log_current(ivf_path)[0]
                and ivf_state.get("baseline") is not None
            ):
                updated, drifted, _gen = IL.ivf_refit_drifted_log(
                    spark, ivf_path, ivf_state["centroids"],
                    ivf_state["baseline"], drift_num, drift_den,
                )
                counters["n_drifted"] = len(drifted)
                if drifted:
                    ivf_state["centroids"] = updated.localCheckpoint()
                    post = ivf_bucket_residuals(
                        IL.index_log_read(spark, ivf_path, values=drifted),
                        updated,
                    )
                    ivf_state["baseline"] = (
                        ivf_state["baseline"]
                        .where(~F.col("bucket").isin(drifted))
                        .unionByName(post)
                        .localCheckpoint()
                    )
                    ivf_state["drifted"] = sorted(
                        set(ivf_state.get("drifted", [])) | set(drifted)
                    )
                    _persist_ivf_state(ivf_state, ivf_path, _gen)
        if stats is not None:
            stats.append(counters)

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
