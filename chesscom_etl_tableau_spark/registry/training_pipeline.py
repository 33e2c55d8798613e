"""Training-data pipeline: splits, mixtures, packing, BPE and contamination screens."""

from __future__ import annotations

from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.operators import dedup as D
from chesscom_etl_tableau_spark.operators import similarity as SIM
from chesscom_etl_tableau_spark.operators import text as TX
from chesscom_etl_tableau_spark.operators import training as TR
from chesscom_etl_tableau_spark.plans import ingest as ING
from chesscom_etl_tableau_spark.registry.common import _NORM_FP, _WORD_TOKS, _t
from chesscom_etl_tableau_spark.registry.record import query
from chesscom_etl_tableau_spark.registry.text_analysis import TEXT_TOKEN_STATS


def _bucket32(expr: str) -> str:
    """SQL mirror of training.split_bucket's overflow-safe scramble:
    (id mod 2^32) * 2654435761 mod 2^32, computed in 16-bit halves so no
    intermediate exceeds 2^48 (a naive bigint multiply overflows for ids
    >= ~3.47e9 in DuckDB too). pmod keeps negative ids well-defined."""
    a = f"(((({expr}) % 4294967296) + 4294967296) % 4294967296)"
    return (
        f"((({a} % 65536) * 2654435761 + (({a} // 65536) * 2654435761) % 65536 * 65536)"
        f" % 4294967296)"
    )


@query(oracle="""
        SELECT doc_id,
               CASE WHEN ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) % 65536) * 2654435761 + ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) // 65536) * 2654435761) % 65536 * 65536) % 4294967296 % 100 < 80 THEN 'train'
                    WHEN ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) % 65536) * 2654435761 + ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) // 65536) * 2654435761) % 65536 * 65536) % 4294967296 % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """)
def _q_train_split(spark, sf_dir):
    # Deterministic train/val/test assignment by multiplicative hash
    # bucket — reproducible across runs and engines (operators/training.py).
    docs = _t(spark, sf_dir, "documents")
    return TR.assign_split(docs).select("doc_id", "split")


@query(headline="cpu_bound", oracle=f"""
        WITH toks AS (SELECT doc_id, {_WORD_TOKS} AS t FROM documents),
        b AS (SELECT doc_id, t,
                     greatest(CAST(ceil((len(t) - 64) / 48.0) AS BIGINT), 0) AS n_extra
              FROM toks WHERE len(t) > 0),
        e AS (SELECT doc_id, t, unnest(range(0, n_extra + 1)) AS i FROM b)
        SELECT doc_id, CAST(i AS INT) AS chunk_idx,
               CAST(len(list_slice(t, CAST(i * 48 + 1 AS INT), CAST(i * 48 + 64 AS INT))) AS INT) AS n_chunk_tokens,
               array_to_string(list_slice(t, CAST(i * 48 + 1 AS INT), CAST(i * 48 + 64 AS INT)), ' ') AS chunk_text
        FROM e
    """)
def _q_train_chunks(spark, sf_dir):
    # Sliding-window token chunking (64-token windows, stride 48).
    docs = _t(spark, sf_dir, "documents")
    return TR.chunk_sliding(docs, chunk_tokens=64, stride=48)


@query(headline="scan_bound", oracle=f"""
        WITH tok AS (SELECT doc_id, source,
                            CAST(coalesce(len({_WORD_TOKS}), 0) AS INT) AS n_tokens
                     FROM documents)
        SELECT doc_id, source, n_tokens,
               CAST(floor((CAST(sum(n_tokens) OVER w AS BIGINT) - n_tokens) / 512.0) AS BIGINT) AS pack_id
        FROM tok
        WINDOW w AS (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """)
def _q_train_pack(spark, sf_dir):
    # Token-budget sequence packing: cumulative-prefix binning per
    # source in stable doc_id order.
    docs = _t(spark, sf_dir, "documents")
    return TR.pack_by_token_budget(docs, budget=512)


@query(oracle=f"""
        WITH tok AS (SELECT doc_id,
                            CAST(coalesce(len({_WORD_TOKS}), 0) AS INT) AS n_tokens
                     FROM documents),
        c AS (SELECT doc_id, n_tokens,
                     CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                         AS tokens_before
              FROM tok)
        SELECT doc_id, n_tokens, tokens_before,
               CAST(floor(tokens_before / 4096.0) AS BIGINT) AS shard_id
        FROM c
    """)
def _q_train_shard_pack(spark, sf_dir):
    # GLOBAL token-budget shard assignment (r11): the export-side
    # sharding step — shard_id = floor(global preceding-token cumsum /
    # budget) in stable doc_id order, computed WITHOUT a data-sized
    # global window via the two-pass distributed prefix sum
    # (range-bucket partials -> tiny offsets cumsum -> within-bucket
    # window; operators/training.py::shard_by_token_budget). The
    # DuckDB oracle is the plain global window cumsum the trick
    # replaces — values match exactly (integer prefix sums are
    # associative).
    docs = _t(spark, sf_dir, "documents")
    return TR.shard_by_token_budget(docs, budget=4096, bucket_width=64)


@query(oracle="""
        SELECT doc_id, source FROM documents
        WHERE ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) % 65536) * 2654435761 + ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) // 65536) * 2654435761) % 65536 * 65536) % 4294967296 % 10000 <
              CASE source WHEN 'src0' THEN 2000 WHEN 'src1' THEN 5000
                          WHEN 'src2' THEN 0 ELSE 10000 END
    """)
def _q_train_mixture(spark, sf_dir):
    # Deterministic data-mixture downsampling: src0 keeps 20%, src1
    # keeps 50%, src2 is dropped, everything else kept in full.
    docs = _t(spark, sf_dir, "documents")
    return TR.mixture_sample(
        docs, {"src0": 0.2, "src1": 0.5, "src2": 0.0}
    ).select("doc_id", "source")


@query(oracle="""
        SELECT doc_id, source FROM (
            SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) % 65536) * 2654435761 + ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) // 65536) * 2654435761) % 65536 * 65536) % 4294967296 ASC,
                                               doc_id ASC) AS rn
            FROM documents)
        WHERE rn <= 5
    """)
def _q_train_stratified(spark, sf_dir):
    # Deterministic 5-per-source stratified sample.
    docs = _t(spark, sf_dir, "documents")
    return TR.stratified_sample(docs, 5).select("doc_id", "source")


@query(oracle="""
        WITH nrm AS (SELECT doc_id,
                            trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g')) AS s
                     FROM documents),
        h AS (SELECT doc_id,
                     list_transform(range(1, length(s) - 5 + 2), i ->
                         list_reduce(list_prepend(CAST(0 AS BIGINT),
                             list_transform(range(i, i + 5), j ->
                                 CAST(ascii(substring(s, CAST(j AS INT), 1)) AS BIGINT))),
                             (a, b) -> (a * 31 + b) % 1000000007)) AS hs
              FROM nrm WHERE length(s) >= 5),
        sel AS (SELECT doc_id,
                       CASE WHEN len(hs) >= 4
                            THEN list_transform(range(1, len(hs) - 4 + 2),
                                                si -> list_min(list_slice(hs, si, si + 3)))
                            ELSE [list_min(hs)] END AS fps
                FROM h),
        fp AS (SELECT doc_id, unnest(list_distinct(fps)) AS fingerprint FROM sel),
        rare AS (SELECT fingerprint FROM fp GROUP BY 1 HAVING count(*) <= 5),
        fpr AS (SELECT fp.doc_id, fp.fingerprint FROM fp JOIN rare USING (fingerprint)),
        split AS (SELECT doc_id,
               CASE WHEN ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) % 65536) * 2654435761 + ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) // 65536) * 2654435761) % 65536 * 65536) % 4294967296 % 100 < 80 THEN 'train'
                    WHEN ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) % 65536) * 2654435761 + ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) // 65536) * 2654435761) % 65536 * 65536) % 4294967296 % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split FROM documents)
        SELECT tr.doc_id AS train_id, te.doc_id AS test_id, count(*) AS n_shared
        FROM fpr tr JOIN split st ON tr.doc_id = st.doc_id AND st.split = 'train'
        JOIN fpr te ON tr.fingerprint = te.fingerprint
        JOIN split se ON te.doc_id = se.doc_id AND se.split = 'test'
        GROUP BY 1, 2
        HAVING count(*) >= 1
    """)
def _q_train_decontaminate(spark, sf_dir):
    # Train/test leakage detection: cross-split pairs sharing rare
    # winnowing fingerprints (df-capped inverted index).
    docs = _t(spark, sf_dir, "documents")
    return TR.decontaminate(docs, k=5, w=4, max_df=5, min_shared=1)


# Capstone: composed from the same oracle fragments the component
# queries use, exactly as the Spark side composes the operators.
@query(oracle=f"""
        WITH qm AS ({TEXT_TOKEN_STATS}),
        keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY {_NORM_FP}),
        kept AS (SELECT d.doc_id, d.source, qm.n_tokens, qm.quality_score
                 FROM documents d JOIN keep USING (doc_id) JOIN qm ON qm.doc_id = d.doc_id
                 WHERE qm.quality_score >= 0.3),
        mixed AS (SELECT * FROM kept
                  WHERE ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) % 65536) * 2654435761 + ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) // 65536) * 2654435761) % 65536 * 65536) % 4294967296 % 10000 <
                        CASE source WHEN 'src0' THEN 2000 WHEN 'src1' THEN 5000
                                    WHEN 'src2' THEN 0 ELSE 10000 END),
        sp AS (SELECT *, CASE WHEN ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) % 65536) * 2654435761 + ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) // 65536) * 2654435761) % 65536 * 65536) % 4294967296 % 100 < 80 THEN 'train'
                              WHEN ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) % 65536) * 2654435761 + ((((((doc_id) % 4294967296) + 4294967296) % 4294967296) // 65536) * 2654435761) % 65536 * 65536) % 4294967296 % 100 < 90 THEN 'val'
                              ELSE 'test' END AS split FROM mixed)
        SELECT split, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               floor(CAST(sum(CAST(floor(quality_score * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
                     / CAST(count(*) AS DOUBLE) + 0.5) / 1000000.0 AS avg_quality
        FROM sp GROUP BY split
    """)
def _q_pipeline_corpus_build(spark, sf_dir):
    # Capstone composition — the corpus-build pipeline as ONE
    # declarative plan: exact-dedup survivors -> quality filter ->
    # mixture downsample -> split assignment -> per-split stats.
    # Catalyst pushes the mixture/quality filters below the joins; the
    # operators compose because each is a plain DataFrame transform.
    docs = _t(spark, sf_dir, "documents")
    survivors = D.exact_dedup(docs)
    qual = TX.quality_metrics(docs).select("doc_id", "n_tokens", "quality_score")
    kept = survivors.join(qual, "doc_id").where(F.col("quality_score") >= 0.3)
    mixed = TR.mixture_sample(kept, {"src0": 0.2, "src1": 0.5, "src2": 0.0})
    split = TR.assign_split(mixed)
    micro = F.floor(F.col("quality_score") * F.lit(1000000.0) + F.lit(0.5))
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        (
            F.floor(F.sum(micro) / F.count(F.lit(1)) + F.lit(0.5)).cast("double")
            / F.lit(1000000.0)
        ).alias("avg_quality"),
    )


_B100 = _bucket32("doc_id") + " % 100"


@query(oracle=f"""
        WITH sp AS (
            SELECT doc_id, text,
                   CASE WHEN {_B100} < 80 THEN 'train'
                        WHEN {_B100} < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents),
        toks AS (SELECT doc_id, split, {_WORD_TOKS} AS t FROM sp),
        sh AS (SELECT doc_id, split, unnest(list_distinct(list_transform(
                   range(1, greatest(len(t) - 4, 1) + 1),
                   i -> array_to_string(list_slice(t, i, i + 4), ' ')))) AS shingle
               FROM toks WHERE len(t) > 0),
        bench AS (SELECT DISTINCT shingle FROM sh WHERE split = 'test'),
        per AS (SELECT s.doc_id, count(*) AS n_shingles,
                       sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS n_cont
                FROM (SELECT * FROM sh WHERE split = 'train') s
                LEFT JOIN bench b ON s.shingle = b.shingle
                GROUP BY s.doc_id)
        SELECT d.doc_id,
               CAST(coalesce(n_shingles, 0) AS BIGINT) AS n_shingles,
               CAST(coalesce(n_cont, 0) AS BIGINT) AS n_contaminated,
               coalesce(floor(CAST(n_cont AS DOUBLE) / n_shingles * 1000000.0 + 0.5)
                        / 1000000.0, 0.0) AS containment,
               coalesce(floor(CAST(n_cont AS DOUBLE) / n_shingles * 1000000.0 + 0.5)
                        / 1000000.0, 0.0) >= 0.8 AS flagged
        FROM (SELECT doc_id FROM sp WHERE split = 'train') d LEFT JOIN per USING (doc_id)
    """)
def _q_train_contamination(spark, sf_dir):
    # N-gram containment contamination scoring (new in r5): fraction of
    # each train doc's distinct 5-gram shingles that occur anywhere in
    # the deterministic test split. Fully deterministic string algebra —
    # the oracle recomputes splits, shingles and containment in DuckDB.
    docs = _t(spark, sf_dir, "documents")
    return TR.contamination_scores(docs, k=5)


@query(oracle=f"""
        WITH toks AS (SELECT doc_id, source, unnest({_WORD_TOKS}) AS tok
                      FROM documents),
        tb AS (SELECT doc_id, source,
                      CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT) % 1024 AS BIGINT) AS bucket
               FROM toks),
        bs AS (SELECT bucket,
                      CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
                      CAST(sum(CASE WHEN source = 'src0' THEN 0 ELSE 1 END) AS BIGINT) AS n_r
               FROM tb GROUP BY bucket),
        tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS t_tot,
                       CAST(sum(n_r) AS BIGINT) AS r_tot FROM bs),
        lam AS (SELECT bucket,
                       CAST(floor(log2(CAST((n_t + 1) * (r_tot + 1024) AS DOUBLE)
                                     / CAST((n_r + 1) * (t_tot + 1024) AS DOUBLE))
                                  * 1000000.0 + 0.5) AS BIGINT) AS lam_micro
                FROM bs, tot),
        df AS (SELECT doc_id, bucket, count(*) AS c FROM tb GROUP BY 1, 2),
        sc AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                      CAST(sum(c * lam_micro) AS BIGINT) AS logweight_micro
               FROM df JOIN lam USING (bucket) GROUP BY doc_id)
        SELECT d.doc_id, d.source = 'src0' AS is_target,
               CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(coalesce(logweight_micro, 0) AS BIGINT) AS logweight_micro
        FROM documents d LEFT JOIN sc USING (doc_id)
    """)
def _q_train_dsir_weights(spark, sf_dir):
    # DSIR importance weights (r5 cont.): hashed-unigram log-likelihood
    # ratio vs the 'src0' target slice; md5 bucket hash + micro-bit
    # per-feature rounding keep every emitted value an exact bigint the
    # DuckDB oracle replays (operators/training.py::dsir_importance).
    from chesscom_etl_tableau_spark.operators.training import dsir_importance

    return dsir_importance(
        _t(spark, sf_dir, "documents"), target_source="src0", n_buckets=1024
    )


def _bpe_iter(j: int) -> str:
    # one BPE round: pair counts over t{j-1}, deterministic argmax,
    # index-local merge application (overlap-free because the
    # argmax skips self-pairs)
    return f"""
        p{j} AS (SELECT w[i] AS w1, w[i + 1] AS w2
                 FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM t{j - 1})),
        m{j} AS (SELECT w1, w2, count(*) AS c FROM p{j} WHERE w1 <> w2
                 GROUP BY 1, 2 ORDER BY c DESC, w1 ASC, w2 ASC LIMIT 1),
        t{j} AS (SELECT doc_id,
                        list_filter(list_transform(range(1, len(w) + 1), i ->
                            CASE WHEN i > 1 AND w[i - 1] = m{j}.w1 AND w[i] = m{j}.w2
                                      THEN NULL
                                 WHEN i < len(w) AND w[i] = m{j}.w1 AND w[i + 1] = m{j}.w2
                                      THEN m{j}.w1 || '_' || m{j}.w2
                                 ELSE w[i] END), x -> x IS NOT NULL) AS w
                 FROM t{j - 1}, m{j})"""


# Eager: greedy merge loop (driver argmax per round).
@query(eager=True, oracle=f"""
        WITH t0 AS (SELECT doc_id, {_WORD_TOKS} AS w FROM documents),"""
        + ",".join(_bpe_iter(j) for j in (1, 2, 3, 4))
        + """
        SELECT 1 AS rank, w1 AS "left", w2 AS "right", CAST(c AS BIGINT) AS pair_count FROM m1
        UNION ALL SELECT 2, w1, w2, CAST(c AS BIGINT) FROM m2
        UNION ALL SELECT 3, w1, w2, CAST(c AS BIGINT) FROM m3
        UNION ALL SELECT 4, w1, w2, CAST(c AS BIGINT) FROM m4
        ORDER BY rank
    """)
def _q_train_bpe_merges(spark, sf_dir):
    # BPE merge learning (r5 cont.): 4 greedy rounds of
    # count-pairs -> argmax -> merge-and-recount — the real tokenizer
    # training loop (operators/training.py::bpe_learn_merges). The
    # DuckDB oracle replays all 4 iterations (pair counts, the
    # deterministic argmax, and the index-local merge application)
    # through chained CTEs.
    from chesscom_etl_tableau_spark.operators.training import bpe_merge_table

    return bpe_merge_table(_t(spark, sf_dir, "documents"), k=4)


# Eager: learn loop runs eagerly before the apply plan.
@query(eager=True, oracle=f"""
        WITH t0 AS (SELECT doc_id, {_WORD_TOKS} AS w FROM documents),"""
        + ",".join(_bpe_iter(j) for j in (1, 2, 3, 4))
        + """
        SELECT a.doc_id,
               CAST(len(a.w) AS BIGINT) AS n_tokens_raw,
               CAST(len(b.w) AS BIGINT) AS n_tokens_bpe,
               coalesce(floor(CAST(len(b.w) AS DOUBLE) / nullif(len(a.w), 0)
                              * 1000000.0 + 0.5) / 1000000.0, 0.0) AS compression
        FROM t0 a JOIN t4 b USING (doc_id)
    """)
def _q_train_bpe_tokenize(spark, sf_dir):
    # Tokenizer train + APPLY (r5 cont.): learn 4 merges on the corpus,
    # then tokenize every document with them — one scan-local HOF pass
    # per merge, zero shuffles in the apply path
    # (operators/training.py::bpe_apply).
    from chesscom_etl_tableau_spark.operators.training import (
        bpe_apply,
        bpe_learn_merges,
    )

    docs = _t(spark, sf_dir, "documents")
    return bpe_apply(docs, bpe_learn_merges(docs, k=4))


# train_curriculum's band comes from the same quality_score the
# token-stats oracle computes; splice that CTE in.
@query(oracle=f"""
        WITH qm AS ({{TOKEN_STATS}}),
        cells AS (
            SELECT doc_id,
                   CAST(4 - least(CAST(floor(quality_score * 5) AS INT), 4) AS INT) AS band,
                   CAST({_bucket32('doc_id')} % 64 AS INT) AS sub,
                   {_bucket32('doc_id * 31 + 7')} % 1073741824 AS ord
            FROM qm)
        SELECT doc_id, band, sub,
               CAST(row_number() OVER (ORDER BY band, sub, ord, doc_id) - 1 AS BIGINT) AS position
        FROM cells
    """.replace(
        "{TOKEN_STATS}", TEXT_TOKEN_STATS
    ))
def _q_train_curriculum(spark, sf_dir):
    # Curriculum ordering (new in r5): global training position —
    # best-quality band first, hash-shuffled within band — computed
    # WITHOUT a global sort (cell counts + broadcast offsets +
    # within-cell row_number). Oracle: one window row_number over the
    # same deterministic key.
    docs = _t(spark, sf_dir, "documents")
    scored = TX.quality_metrics(docs).select("doc_id", "quality_score")
    return TR.curriculum_order(scored).select(
        "doc_id", "band", "sub", "position"
    )


@query(oracle=f"""
        WITH t AS (SELECT doc_id, {_WORD_TOKS} AS w FROM documents),
        items AS (
          SELECT doc_id, 0 AS idx, 'image' AS modality, CAST(64 AS BIGINT) AS cost,
                 concat(CAST(doc_id AS VARCHAR), '#img') AS ref
          FROM t WHERE doc_id % 4 = 2
          UNION ALL
          SELECT doc_id, j + 1 AS idx, 'text' AS modality,
                 CAST(least(256, len(w) - j * 256) AS BIGINT) AS cost,
                 concat(CAST(doc_id AS VARCHAR), '#c', CAST(j AS VARCHAR)) AS ref
          FROM (SELECT doc_id, w, unnest(range(0, (len(w) + 255) // 256)) AS j
                FROM t WHERE len(w) >= 1)
        ),
        o AS (SELECT *, coalesce(sum(cost) OVER (ORDER BY doc_id, idx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
              FROM items)
        SELECT CAST(bef // 2048 AS BIGINT) AS sample_id,
               CAST(row_number() OVER (PARTITION BY bef // 2048
                    ORDER BY doc_id, idx) - 1 AS BIGINT) AS position,
               modality, ref, cost AS n_cost_tokens, doc_id
        FROM o
    """)
def _q_train_interleave(spark, sf_dir):
    # Interleaved multimodal sample assembly (r12): pack image-
    # placeholder items (media-class docs, id%4==2 — the blob fixture
    # residue) and 256-token text chunks into 2048-budget samples,
    # preserving document order; the multimodal twin of
    # train_shard_pack, same two-pass distributed prefix sum, zero
    # global data-sized windows (operators/training.py::
    # interleave_multimodal_samples). Samples carry REFS, never blob
    # bytes. The DuckDB oracle replays the item stream, the global
    # cost cumsum, and the per-sample positions.
    return TR.interleave_multimodal_samples(_t(spark, sf_dir, "documents"))


_kmv_key = _bucket32(
    "(((doc_id % 4294967296) + 4294967296) % 4294967296) + 11 * 40503"
)


@query(oracle=f"""
        SELECT doc_id, source, lang, CAST({_kmv_key} AS BIGINT) AS sample_key
        FROM documents
        ORDER BY sample_key, doc_id
        LIMIT 100
    """)
def _q_train_kmv_sample(spark, sf_dir):
    # Fixed-size deterministic uniform sample (r13): k-minimum-values
    # over the shared scramble32 hash — the exact-COUNT complement of
    # the rate-based samplers, mergeable across shards (min-k of a
    # union == min-k of per-part min-ks, the KMV sketch property the
    # tests pin) and compiled to TakeOrderedAndProject, never a global
    # sort (operators/training.py::sample_fixed_k). The DuckDB oracle
    # replays the scramble and the ORDER BY ... LIMIT.
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return TR.sample_fixed_k(docs, k=100, seed=11)


_epoch_key = _bucket32(
    "(((doc_id % 4294967296) + 4294967296) % 4294967296) + 7 * 40503"
)


@query(oracle=f"""
        WITH k AS (SELECT doc_id, {_epoch_key} AS shuffle_key FROM documents)
        SELECT CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) - 1
                    AS BIGINT) AS epoch_rank,
               CAST(shuffle_key AS BIGINT) AS shuffle_key, doc_id
        FROM k
    """)
def _q_train_epoch_order(spark, sf_dir):
    # Deterministic per-epoch global shuffle (r13): pseudo-random
    # permutation of the sample ids from the shared engine-portable
    # scramble32 hash seeded by epoch — reproducible on any engine or
    # cluster layout, different per epoch; rank via the two-pass
    # distributed prefix sum over MONOTONE range buckets of the key,
    # never a data-sized single-partition sort
    # (operators/training.py::epoch_order). The DuckDB oracle replays
    # the scramble and the global row_number.
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return TR.epoch_order(docs, epoch=7)


@query(oracle=f"""
        WITH t AS (SELECT doc_id, {_WORD_TOKS} AS w FROM documents),
        items AS (
          SELECT doc_id, 0 AS idx, 'image' AS modality, CAST(64 AS BIGINT) AS cost,
                 concat(CAST(doc_id AS VARCHAR), '#img') AS ref
          FROM t WHERE doc_id % 4 = 2
          UNION ALL
          SELECT doc_id, 1 AS idx, 'audio' AS modality, CAST(96 AS BIGINT) AS cost,
                 concat(CAST(doc_id AS VARCHAR), '#aud') AS ref
          FROM t WHERE doc_id % 4 = 3
          UNION ALL
          SELECT doc_id, j + 2 AS idx, 'text' AS modality,
                 CAST(least(256, len(w) - j * 256) AS BIGINT) AS cost,
                 concat(CAST(doc_id AS VARCHAR), '#c', CAST(j AS VARCHAR)) AS ref
          FROM (SELECT doc_id, w, unnest(range(0, (len(w) + 255) // 256)) AS j
                FROM t WHERE len(w) >= 1)
        ),
        o AS (SELECT *,
                 coalesce(sum(cost) OVER (PARTITION BY modality
                     ORDER BY doc_id, idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef,
                 CASE modality WHEN 'image' THEN 128
                               WHEN 'audio' THEN 96 ELSE 1792 END AS q
              FROM items),
        s AS (SELECT *, bef // q AS sample_id FROM o)
        SELECT CAST(sample_id AS BIGINT) AS sample_id,
               CAST(row_number() OVER (PARTITION BY sample_id
                    ORDER BY doc_id, idx) - 1 AS BIGINT) AS position,
               modality, ref, cost AS n_cost_tokens, doc_id
        FROM s
    """)
def _q_train_interleave_mm(spark, sf_dir):
    # Modality-AWARE interleave (r13): sample k is the union of the
    # k-th per-modality quota window — image/audio/text each get their
    # own cost budget per sample (the way VLM/omni training batches
    # provision encoder + LM token budgets), with audio-ref items from
    # the WAV residue class joining the stream (operators/training.py::
    # interleave_modality_budgets). Same two-pass distributed prefix
    # sum as train_interleave, run per modality; refs only, blob bytes
    # never shuffle. The DuckDB oracle replays the item stream, the
    # per-modality cumsums, and the per-sample positions.
    return TR.interleave_modality_budgets(_t(spark, sf_dir, "documents"))


@query(oracle="""
        SELECT doc_id, source, n_chars,
               CAST(floor(
                   ln((CAST(CAST(('0x' || substr(md5(doc_id || 'r5'), 1, 8)) AS UBIGINT) AS DOUBLE) + 1.0)
                      / 4294967296.0)
                   / CAST(n_chars AS DOUBLE)
                   * 1000000.0 + 0.5) AS BIGINT) AS es_key_micro
        FROM documents
        WHERE n_chars > 0
        ORDER BY ln((CAST(CAST(('0x' || substr(md5(doc_id || 'r5'), 1, 8)) AS UBIGINT) AS DOUBLE) + 1.0)
                    / 4294967296.0)
                 / CAST(n_chars AS DOUBLE) DESC,
                 doc_id ASC
        LIMIT 50
    """)
def _q_train_weighted_sample(spark, sf_dir):
    # Derandomized A-ES weighted sampling (r5 cont.): 50 documents
    # drawn without replacement with probability ∝ length — the
    # mixture-weighted corpus sampler. The md5-derived uniform makes
    # the draw bit-identical across engines; DuckDB replays the exact
    # key computation. es_key is rounded to micro-units for the
    # cross-engine hash compare (ln/division agree well past 6dp).
    docs = _t(spark, sf_dir, "documents")
    return (
        TR.weighted_sample(
            docs.where(F.col("n_chars") > 0), "n_chars", k=50, seed="r5"
        )
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.floor(F.col("es_key") * 1e6 + F.lit(0.5)).cast("long").alias("es_key_micro"),
        )
    )


@query(oracle=f"""
        WITH toks AS (SELECT source, unnest({_WORD_TOKS}) AS tok
                      FROM documents WHERE source IN ('src0', 'src1')),
        tb AS (SELECT source,
                      CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT) % 2048 AS BIGINT) AS bucket
               FROM toks),
        st AS (SELECT bucket,
                      CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                      CAST(sum(CASE WHEN source = 'src0' THEN 0 ELSE 1 END) AS BIGINT) AS n_b
               FROM tb GROUP BY bucket),
        tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS a_tot,
                       CAST(sum(n_b) AS BIGINT) AS b_tot FROM st)
        SELECT bucket, n_a, n_b,
               CAST(floor(log2(CAST((n_a + 1) * (b_tot + 2048) AS DOUBLE)
                             / CAST((n_b + 1) * (a_tot + 2048) AS DOUBLE))
                          * 1000000.0 + 0.5) AS BIGINT) AS lr_micro
        FROM st, tot
        ORDER BY abs(lr_micro) DESC, bucket ASC
        LIMIT 20
    """)
def _q_train_corpus_drift(spark, sf_dir):
    # Corpus drift monitor (r5 cont.): token-distribution shift between
    # two sources as smoothed per-bucket log-likelihood ratios in exact
    # micro-bits (the DSIR hash/ratio pattern — the only float op is
    # log2 of a ratio of exact bigints). Top-20 most drifted buckets,
    # fully hash-checked: the oracle replays the md5 bucketing, counts,
    # and lr formula in DuckDB.
    docs = _t(spark, sf_dir, "documents")
    drift = TR.corpus_drift(docs, "src0", "src1")
    return drift.orderBy(
        F.abs(F.col("lr_micro")).desc(), F.col("bucket").asc()
    ).limit(20)


@query(oracle=f"""
        WITH qm AS ({TEXT_TOKEN_STATS}),
        s AS (SELECT d.doc_id, d.source, qm.n_tokens, qm.quality_score
              FROM documents d JOIN qm ON qm.doc_id = d.doc_id),
        r AS (SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY source
                     ORDER BY quality_score DESC, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
              FROM s)
        SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
               quality_score, CAST(before AS BIGINT) AS tokens_before,
               before < 3000 AS kept
        FROM r
    """)
def _q_train_source_caps(spark, sf_dir):
    # Per-source token-budget capping (r12): within each source, docs
    # admitted best-quality-first until the source's 3000-token budget
    # is spent (operators/training.py::cap_source_tokens) — the
    # curation step that stops a dominant crawl from swamping the
    # mixture. Full frame returned with the decision so the rejection
    # set is auditable. The oracle replays the quality scorer (the
    # token-stats CTE verbatim) and the quality-ordered running sum.
    docs = _t(spark, sf_dir, "documents")
    qual = TX.quality_metrics(docs).select("doc_id", "n_tokens", "quality_score")
    scored = docs.select("doc_id", "source").join(qual, "doc_id")
    return TR.cap_source_tokens(scored, cap=3000)


@query(oracle="""
        WITH p AS (SELECT event_type,
                          quantile_cont(value, 0.05) AS lo,
                          quantile_cont(value, 0.95) AS hi
                   FROM events GROUP BY event_type)
        SELECT event_id, e.event_type, value,
               least(greatest(value, lo), hi) AS value_winsorized,
               (value < lo OR value > hi) AS was_clipped
        FROM events e JOIN p ON e.event_type = p.event_type
    """)
def _q_train_winsorize(spark, sf_dir):
    # Outlier capping for training signals (new in r5 final): clip
    # event values to their type's exact [p05, p95] band
    # (operators/training.py::winsorize). Spark percentile() and
    # DuckDB quantile_cont compute the same p·(n−1) interpolation
    # bit-for-bit, so even the interpolated clip bounds compare exact.
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return TR.winsorize(ev, "event_type", "value")


@query(oracle="""
        WITH sizes AS (SELECT source, count(*) AS n_docs
                       FROM documents GROUP BY 1),
        nmin AS (SELECT min(n_docs) AS nm FROM sizes),
        rated AS (SELECT source, n_docs,
                         sqrt(CAST(nm AS DOUBLE) / CAST(n_docs AS DOUBLE))
                             AS rate
                  FROM sizes, nmin),
        kept AS (SELECT d.source, count(*) AS n_selected
                 FROM documents d JOIN rated r USING (source)
                 WHERE (CAST(CAST(('0x' || substr(md5(d.doc_id || 'tm0'), 1, 8))
                                  AS UBIGINT) AS DOUBLE) + 1.0)
                       / 4294967296.0 < r.rate
                 GROUP BY 1)
        SELECT r.source, CAST(r.n_docs AS BIGINT) AS n_docs,
               floor(r.rate * 1000000.0 + 0.5) / 1000000.0 AS keep_rate,
               CAST(coalesce(k.n_selected, 0) AS BIGINT) AS n_selected
        FROM rated r LEFT JOIN kept k USING (source)
        ORDER BY r.source
    """)
def _q_train_temperature_mixture(spark, sf_dir):
    # Temperature-balanced mixture audit (new in r5 sixth session,
    # operators/training.py::temperature_mixture): α=1/2 sqrt
    # rebalancing with md5-derandomized per-row keeps — the selected
    # SET replays bit-for-bit, so even n_selected is oracle-exact.
    docs = _t(spark, sf_dir, "documents")
    return TR.temperature_mixture(docs)


@query(oracle=f"""
        WITH base AS (SELECT source, count(*) AS n_docs,
                             sum(len({_WORD_TOKS})) AS total_tokens,
                             count(DISTINCT md5(coalesce(text, '')))
                                 AS n_uniq,
                             count(DISTINCT lang) AS n_langs
                      FROM documents GROUP BY 1),
        lc AS (SELECT source, lang, count(*) AS c
               FROM documents GROUP BY 1, 2),
        top AS (SELECT source, lang AS top_lang, c AS top_n,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY c DESC, lang ASC) AS rn
                FROM lc)
        SELECT b.source, CAST(n_docs AS BIGINT) AS n_docs,
               CAST(total_tokens AS BIGINT) AS total_tokens,
               floor(CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)
                     * 1000000.0 + 0.5) / 1000000.0 AS avg_tokens,
               floor((CAST(1.0 AS DOUBLE)
                      - CAST(n_uniq AS DOUBLE) / CAST(n_docs AS DOUBLE))
                     * 1000000.0 + 0.5) / 1000000.0 AS exact_dup_rate,
               CAST(n_langs AS BIGINT) AS n_langs, top_lang,
               floor(CAST(top_n AS DOUBLE) / CAST(n_docs AS DOUBLE)
                     * 1000000.0 + 0.5) / 1000000.0 AS top_lang_share
        FROM base b JOIN top t ON t.source = b.source AND t.rn = 1
        ORDER BY b.source
    """)
def _q_train_dataset_card(spark, sf_dir):
    # Per-source datasheet audit (new in r5 sixth session,
    # operators/training.py::dataset_card): volume, token budget,
    # exact-dup rate, language concentration — the provenance row a
    # corpus release ships with.
    docs = _t(spark, sf_dir, "documents")
    return TR.dataset_card(docs)


# Cross-surface forget: remaining corpus is the closed-form
# complement of the victim set; the exclusion/audit/replay booleans
# are real Spark-side checks over all three surfaces.
# Eager: temp-dir corpus+LSH+IVF build, forget txn, replay.
@query(eager=True, oracle="""
        SELECT source, CAST(count(*) AS BIGINT) AS n_remaining,
               TRUE AS corpus_excludes, TRUE AS lsh_excludes,
               TRUE AS ivf_excludes, TRUE AS audit_pre_shows,
               TRUE AS replay_noop
        FROM documents WHERE doc_id % 7 <> 0 GROUP BY source
    """)
def _q_pipeline_forget_ids(spark, sf_dir):
    # End-to-end right-to-be-forgotten (r15, verdict ask #1 — the
    # capstone composition): one removal request (doc_id % 7 == 0)
    # applied across ALL THREE serving surfaces via plans/forget.py —
    # corpus manifest sink (COW delete), generation-logged banded LSH
    # index, generation-logged IVF index — under a write-ahead intent
    # that pins every surface's PRE-delete generation as the audit
    # surface. Contract booleans are REAL Spark-side checks: every
    # current surface excludes the victims (with exact counts), every
    # pinned pre-delete generation still serves them, a replayed
    # forget publishes nothing anywhere (counts 0, post == post), and
    # no intent is left pending. Per-source remaining counts are
    # replayed closed-form by the oracle. The crash-between-surfaces
    # resume path is pytest-pinned (tests/test_round15_ops.py).
    import tempfile

    from chesscom_etl_tableau_spark.operators import index_log as IL
    from chesscom_etl_tableau_spark.plans import forget as FG
    from chesscom_etl_tableau_spark.plans.ingest import (
        commit_append_manifest,
        read_manifest_sink,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    # ONE victim predicate shared by the victims frame and the combined
    # aggregate below (advice r15: two copies of the rule can drift).
    is_victim = F.col("doc_id") % 7 == 0
    victims = docs.where(is_victim).select("doc_id")
    with tempfile.TemporaryDirectory(prefix="sg_forget_", ignore_cleanup_errors=True) as out:
        corpus, lsh, ivf = f"{out}/corpus", f"{out}/lsh", f"{out}/ivf"
        commit_append_manifest(docs, corpus, key_col="doc_id")
        from chesscom_etl_tableau_spark.util import cluster_for_partitioned_write

        cluster_for_partitioned_write(D.lsh_band_rows(docs), "pb").write.partitionBy(
            "pb"
        ).parquet(lsh)
        IL.index_log_init(lsh, "pb")
        SIM.ivf_persist(emb, centroids, ivf)
        IL.index_log_init(ivf, "bucket")
        # One pass over docs for (n_docs, n_victims) instead of two
        # count jobs; the victim rule is the SAME shared predicate the
        # victims frame filters on, and the sum is coalesced so an
        # empty docs frame yields 0 like the old victims.count() did
        # (optimization r15, guide §1.2; advice r15).
        n_docs, n_victims = docs.agg(
            F.count(F.lit(1)),
            F.coalesce(
                F.sum(F.when(is_victim, 1).otherwise(0)), F.lit(0)
            ),
        ).first()
        n_emb_victims = emb.join(
            F.broadcast(victims.select(F.col("doc_id").alias("vec_id"))),
            "vec_id", "left_semi",
        ).count()
        res = FG.forget_ids(victims, corpus, lsh_path=lsh, ivf_path=ivf)
        remaining = read_manifest_sink(spark, corpus).localCheckpoint()
        v_doc = F.broadcast(victims)
        # (remaining count, victims still present) in ONE job via a
        # broadcast left join instead of a semi-join count + a count.
        n_remaining, n_victims_left = remaining.join(
            v_doc.withColumn("__v", F.lit(1)), "doc_id", "left"
        ).agg(F.count(F.lit(1)), F.count("__v")).first()
        corpus_excludes = (
            res["deleted"]["corpus"] == n_victims
            and n_victims_left == 0
            and n_remaining == n_docs - n_victims
        )
        v_lsh = F.broadcast(victims.select(F.col("doc_id").alias("doc")))
        lsh_excludes = (
            IL.index_log_read(spark, lsh)
            .join(v_lsh, "doc", "left_semi").count() == 0
        )
        v_vec = F.broadcast(victims.select(F.col("doc_id").alias("vec_id")))
        ivf_cur = IL.index_log_read(spark, ivf)
        ivf_excludes = (
            res["deleted"]["ivf"] == n_emb_victims
            and ivf_cur.join(v_vec, "vec_id", "left_semi").count() == 0
        )
        pre = res["pre"]
        pre_corpus_files = ING._manifest_doc(corpus, pre["corpus"])["files"]
        audit_pre_shows = (
            spark.read.parquet(*pre_corpus_files)
            .join(v_doc, "doc_id", "left_semi").count() == n_victims
            and IL.index_log_read(spark, lsh, pre["lsh"])
            .join(v_lsh, "doc", "left_semi").count() > 0
            and IL.index_log_read(spark, ivf, pre["ivf"])
            .join(v_vec, "vec_id", "left_semi").count() == n_emb_victims
        )
        res2 = FG.forget_ids(victims, corpus, lsh_path=lsh, ivf_path=ivf)
        replay_noop = (
            all(v == 0 for v in res2["deleted"].values())
            and res2["post"] == res["post"]
            and FG.forget_pending(corpus) == []
        )
        per_source = (
            remaining.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_remaining"))
            .collect()
        )
        rows = [
            (r["source"], r["n_remaining"], corpus_excludes, lsh_excludes,
             ivf_excludes, audit_pre_shows, replay_noop)
            for r in per_source
        ]
    return spark.createDataFrame(
        rows,
        "source string, n_remaining long, corpus_excludes boolean, "
        "lsh_excludes boolean, ivf_excludes boolean, "
        "audit_pre_shows boolean, replay_noop boolean",
    )
