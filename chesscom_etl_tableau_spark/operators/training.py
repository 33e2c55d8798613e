"""Training-data preparation operators (beyond the reference surface;
the BASELINE.json north star asks for the operations a large-scale LLM
training pipeline needs on top of dedup/similarity/text analysis).

Everything here is pure Catalyst expressions — string/array
higher-order functions, window functions, one shuffle where the
semantics require one — so the operators scale with scan throughput
and stay inside whole-stage codegen. No Python UDFs.

Determinism is a design requirement, not a nicety: training splits and
chunk boundaries must be reproducible run-over-run and engine-over-
engine (the DuckDB oracles reproduce every value bit-for-bit), so
randomness is replaced with explicit integer hashing on stable ids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.operators.text import word_tokens
from chesscom_etl_tableau_spark.util import local_frame

# Knuth multiplicative hash constant (2^32 / phi). Portable: plain
# bigint multiply + mod, identical in any engine — unlike xxhash64/md5
# whose availability and output differ across engines.
_KNUTH = 2654435761
_MOD32 = 4294967296


def split_bucket(id_col: Column, n_buckets: int = 1000) -> Column:
    """Deterministic [0, n_buckets) bucket from a stable integer id.

    `(id * 2654435761) mod 2^32 mod n` — the multiplicative scramble
    decorrelates the bucket from id order, so range-correlated ids
    (append order, time order) still split uniformly. THE reproducible
    train/val/test primitive: re-running the pipeline, or running it on
    a different engine, assigns every document the same split.

    Overflow-safe over the FULL bigint domain (multi-billion-doc ids and
    negative ids included): a naive `id * 2654435761` overflows int64 for
    ids >= ~3.47e9 and throws under ANSI mode. Instead the id is first
    reduced with pmod into [0, 2^32), then multiplied in 16-bit halves so
    every intermediate stays < 2^48:

        a = pmod(id, 2^32);  a = a_hi*2^16 + a_lo
        a*K mod 2^32 = (a_lo*K + (a_hi*K mod 2^16)*2^16) mod 2^32

    For ids already in [0, 2^32) this is bit-identical to the naive
    formula, so existing splits are unchanged. The DuckDB oracles mirror
    the same decomposition.
    """
    return scramble32(id_col) % F.lit(n_buckets)


def scramble32(id_col: Column) -> Column:
    """The overflow-safe 32-bit multiplicative scramble `split_bucket`
    documents, exposed as the shared engine-portable hash kernel:
    pmod into [0, 2^32), then multiply by 2654435761 in 16-bit halves
    (every intermediate < 2^48). Returns a value in [0, 2^32)."""
    a = F.pmod(id_col.cast("bigint"), F.lit(_MOD32))
    a_hi = (a / F.lit(65536)).cast("bigint")  # floor: a >= 0
    a_lo = a % F.lit(65536)
    return (
        a_lo * F.lit(_KNUTH) + (a_hi * F.lit(_KNUTH)) % F.lit(65536) * F.lit(65536)
    ) % F.lit(_MOD32)


def assign_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Add a `split` column: train/val/test by deterministic hash bucket
    (percent thresholds out of 100)."""
    b = split_bucket(F.col(id_col), 100)
    split = (
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test")
    )
    return docs.withColumn("split", split)


def mixture_sample(
    docs: DataFrame,
    weights: dict[str, float],
    default_weight: float = 1.0,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic data-mixture downsampling: keep each row with its
    source's retention fraction, decided by the row's hash bucket.

    The mixture-weighting step of training-corpus assembly ("keep 20%
    of common-crawl, 100% of wikipedia"). Hash-bucket thresholding
    instead of `sample()`: reproducible across runs/engines, exactly
    composable with `assign_split` (same bucket function ⇒ sampling is
    split-stratified for free), and a pure filter — no shuffle, fully
    pushed down to the scan.
    """
    b = split_bucket(F.col(id_col), 10000)
    frac = F.lit(int(default_weight * 10000))
    for src, w in sorted(weights.items()):
        frac = F.when(F.col(group_col) == src, int(w * 10000)).otherwise(frac)
    return docs.where(b < frac)


def stratified_sample(
    df: DataFrame,
    n_per_group: int,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic fixed-size sample per group: the `n_per_group`
    rows with the smallest scrambled-hash bucket (ties broken by id).

    Equivalent to a per-stratum uniform sample that is stable across
    runs and engines. One shuffle (the per-group window sort); for
    very hot groups the sort is still O(n log n) within the group —
    pre-filtering by an estimated bucket threshold would cap that, at
    the cost of approximate sample sizes.
    """
    w = Window.partitionBy(group_col).orderBy(
        split_bucket(F.col(id_col), _MOD32).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n_per_group)
        .drop("__rn")
    )


def chunk_sliding(
    docs: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into overlapping token-window chunks
    (context-window preparation). One output row per chunk:
    (id, chunk_idx, n_chunk_tokens, chunk_text).

    Start positions 1, 1+stride, 2·stride+1, … cover every token; the
    final window is shorter rather than padded. A document with no
    tokens yields no chunks. Pure explode fan-out — embarrassingly
    parallel, no shuffle.
    """
    toks_bound = docs.select(
        F.col(id_col), word_tokens(F.col(text_col)).alias("__t")
    ).where(F.size("__t") > 0)
    t = F.col("__t")
    n = F.size(t)
    # last start: the largest 1 + i*stride that still begins a new
    # window (start <= n). ceil((n - chunk)/stride) windows after the
    # first when n > chunk.
    n_extra = F.ceil((n - F.lit(chunk_tokens)) / F.lit(stride))
    starts = F.sequence(
        F.lit(0), F.greatest(n_extra, F.lit(0)).cast("int")
    )
    chunked = toks_bound.select(
        F.col(id_col),
        F.posexplode(
            F.transform(starts, lambda i: F.slice(t, i * stride + 1, chunk_tokens))
        ).alias("chunk_idx", "__chunk"),
    )
    return chunked.select(
        F.col(id_col),
        "chunk_idx",
        F.size("__chunk").alias("n_chunk_tokens"),
        F.array_join("__chunk", " ").alias("chunk_text"),
    )


def pack_by_token_budget(
    docs: DataFrame,
    budget: int = 512,
    group_col: str = "source",
    order_col: str = "doc_id",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign documents to fixed-token-budget packs (sequence packing
    for training batches): within each group, in stable `order_col`
    order, pack_id = floor(preceding-token-cumsum / budget).

    Cumulative-prefix binning: deterministic, one shuffle (the per-
    group window sort), and — unlike greedy first-fit — expressible as
    a closed-form window expression in ANY engine, so it is oracle-
    checkable. Packs can overflow by at most one document, which
    training loaders tolerate (they truncate/split the straddler).
    """
    n_tok = F.size(word_tokens(F.col(text_col)))
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_tok = docs.select(
        F.col(id_col), F.col(group_col), n_tok.alias("n_tokens")
    )
    cum = F.sum("n_tokens").over(w)
    return with_tok.select(
        id_col,
        group_col,
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / budget).alias("pack_id"),
    )


# PII redaction patterns, restricted to regex constructs Java regex and
# RE2 (DuckDB) interpret identically (no backrefs, no lookaround).
# The phone pattern REQUIRES a separator after the leading digit group:
# separator-less digit runs are ambiguous (card/account/id numbers) and
# are left for the long-digit-run mask instead.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?[0-9]{1,4}[\s\-(][0-9()\-\s]{5,}[0-9]"
PII_LONG_DIGITS = r"[0-9]{9,}"


def redact_pii(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mask emails, phone-like runs, and long digit runs with typed
    placeholder tokens; report per-document counts of each.

    Order matters: emails first (their local parts contain digits),
    then phones, then bare long digit runs on the already-masked text.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_email = F.size(F.coalesce(F.regexp_extract_all(t, F.lit(f"({PII_EMAIL})"), F.lit(1)), F.array()))
    step1 = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    bound = docs.select(
        F.col(id_col), n_email.alias("n_emails"), step1.alias("__s1")
    )
    s1 = F.col("__s1")
    n_phone = F.size(F.coalesce(F.regexp_extract_all(s1, F.lit(f"({PII_PHONE})"), F.lit(1)), F.array()))
    step2 = F.regexp_replace(s1, PII_PHONE, "<PHONE>")
    bound2 = bound.select(
        id_col, "n_emails", n_phone.alias("n_phones"), step2.alias("__s2")
    )
    s2 = F.col("__s2")
    n_digits = F.size(F.coalesce(F.regexp_extract_all(s2, F.lit(f"({PII_LONG_DIGITS})"), F.lit(1)), F.array()))
    redacted = F.regexp_replace(s2, PII_LONG_DIGITS, "<NUMBER>")
    return bound2.select(
        id_col,
        "n_emails",
        "n_phones",
        n_digits.alias("n_long_digit_runs"),
        redacted.alias("redacted_text"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    top_n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-N terms per document by smoothed tf-idf.

    tf = in-document term count; idf = ln((N+1)/(df+1)) + 1 (sklearn's
    smooth_idf). Two aggregations (term counts, document frequencies)
    + a broadcast-sized idf join + a per-document top-N window.
    Ratios are rounded at 6 decimals with the floor(x·1e6+0.5) pattern
    so oracle engines agree on midpoints.

    Scale shape: the exploded (doc, term) aggregation is the big
    shuffle and is unavoidable for exact tf-idf; df/idf is tiny
    (vocabulary-sized) and broadcasts.
    """
    # NOT spread with ensure_parallelism (optimization r15, measured):
    # shuffle-bound already — see bm25_topk's note.
    toks = docs.select(
        F.col(id_col), F.explode(word_tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # N (corpus size) as a 1-row aggregate crossJoined into the plan —
    # NOT a driver-side count(): building this query must not run a job
    # (lazy plan-build is asserted for every queries() entry in tests).
    n_docs = docs.select(F.count_distinct(F.col(id_col)).alias("__n_docs"))
    idf = F.log((F.col("__n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    scored_raw = F.col("tf") * idf
    score = (
        F.floor(scored_raw * F.lit(1000000.0) + F.lit(0.5)).cast("double")
        / F.lit(1000000.0)
    )
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(id_col, "term", "tf", score.alias("tfidf"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .select(id_col, "term", "tf", "tfidf", "rank")
    )


def decontaminate(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    max_df: int = 5,
    min_shared: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/test contamination detection: (train_id, test_id, n_shared)
    pairs of documents that share >= `min_shared` RARE winnowing
    fingerprints across the split boundary.

    The decontamination pass of an eval-aware corpus build: test-set
    text leaking into training data shows up as shared rolling-hash
    fingerprints. Fingerprints appearing in more than `max_df`
    documents are discarded first — common n-grams are not evidence of
    leakage, and the df-cap bounds the fingerprint join fan-out at
    max_df² pairs per fingerprint, keeping the join linear in corpus
    size (the same inverted-index discipline as the Jaccard dedup).
    """
    from chesscom_etl_tableau_spark.operators.text import winnow_fingerprints

    fps = winnow_fingerprints(docs, k=k, w=w, text_col=text_col, id_col=id_col)
    rare = (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") <= max_df)
        .select("fingerprint")
    )
    split = assign_split(docs, id_col=id_col).select(F.col(id_col), "split")
    fpr = fps.join(rare, "fingerprint").join(split, id_col)
    train = fpr.where(F.col("split") == "train").select(
        F.col(id_col).alias("train_id"), "fingerprint"
    )
    test = fpr.where(F.col("split") == "test").select(
        F.col(id_col).alias("test_id"), "fingerprint"
    )
    return (
        train.join(test, "fingerprint")
        .groupBy("train_id", "test_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def curriculum_order(
    docs: DataFrame,
    score_col: str = "quality_score",
    id_col: str = "doc_id",
    n_bands: int = 5,
    n_sub: int = 64,
) -> DataFrame:
    """Curriculum ordering: a deterministic GLOBAL training position for
    every document — highest-quality band first, documents shuffled
    (hash-scrambled) within a band. Standard curriculum-learning data
    prep (easy/clean examples early), reproducible across engines.

    Scale shape — global rank WITHOUT a global sort: ranking by
    `row_number() over (ORDER BY ...)` collapses to one partition.
    Instead each doc gets a (band, sub) cell — sub = a `split_bucket`
    hash shard, so cells are uniform — then:
      1. one tiny groupBy counts rows per cell (n_bands*n_sub rows);
      2. a window cumsum over that TINY table yields each cell's
         starting offset (driver-size data, broadcast back);
      3. row_number within each cell (uniform partitions, no skew)
         + the cell offset = the global position.
    Total: one map-side-combining agg + one broadcast join + one
    well-partitioned window. Order = (band asc, sub asc, scramble asc,
    id asc) where band 0 is the BEST band (descending score).
    """
    band = (F.lit(n_bands - 1) - F.least(
        F.floor(F.col(score_col) * n_bands), F.lit(n_bands - 1)
    )).cast("int")
    scored = docs.withColumn("band", band).withColumn(
        "sub", split_bucket(F.col(id_col), n_sub).cast("int")
    )
    cells = scored.groupBy("band", "sub").agg(F.count(F.lit(1)).alias("__n"))
    w_cum = (
        Window.partitionBy(F.lit(1))
        .orderBy("band", "sub")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = cells.select(
        "band", "sub", F.coalesce(F.sum("__n").over(w_cum), F.lit(0)).alias("__off")
    )
    w_cell = Window.partitionBy("band", "sub").orderBy(
        split_bucket(F.col(id_col) * 31 + 7, 1 << 30).asc(), F.col(id_col).asc()
    )
    return (
        scored.join(F.broadcast(offsets), ["band", "sub"])
        .withColumn(
            "position",
            (F.col("__off") + F.row_number().over(w_cell) - 1).cast("long"),
        )
        .drop("__n", "__off")
    )


def contamination_scores(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    flag_threshold: float = 0.8,
) -> DataFrame:
    """N-gram containment contamination scoring — the GPT-3-style
    decontamination signal: for every TRAIN document, the fraction of
    its distinct k-gram shingles that also occur anywhere in the
    held-out (test) split. containment ~1.0 means the training doc is
    effectively a benchmark document with edits; `flagged` marks docs
    at/above `flag_threshold`.

    Splits come from the same deterministic `assign_split` hash the
    rest of the training pipeline uses, so the score is reproducible.
    Scale shape: distinct per-doc shingle explode (linear), one
    distinct pass over the test side's shingle vocabulary, and an
    equi-join on the shingle key — inverted-index shape, no all-pairs.
    The test vocabulary is usually the small side (benchmarks are tiny
    next to a crawl) and broadcastable; at this fixture scale Catalyst
    picks the broadcast automatically.
    """
    from chesscom_etl_tableau_spark.operators.text import (
        shingles_from_tokens,
        word_tokens,
    )

    split = assign_split(docs.select(id_col, text_col), id_col=id_col)
    toks = split.select(
        id_col, "split", word_tokens(F.col(text_col)).alias("__toks")
    )
    sh = toks.select(
        id_col,
        "split",
        F.explode(shingles_from_tokens(F.col("__toks"), k)).alias("shingle"),
    )
    bench_vocab = (
        sh.where(F.col("split") == "test").select("shingle").distinct()
    )
    train_sh = sh.where(F.col("split") == "train")
    per_doc = (
        train_sh.join(
            bench_vocab.withColumn("__hit", F.lit(1)), "shingle", "left"
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_contaminated"),
        )
    )
    containment = (
        F.floor(
            F.try_divide(F.col("n_contaminated"), F.col("n_shingles"))
            * 1000000.0
            + 0.5
        )
        / 1000000.0
    )
    return (
        split.where(F.col("split") == "train")
        .select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_shingles"), F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("long").alias("n_contaminated"),
            F.coalesce(containment, F.lit(0.0)).alias("containment"),
            (F.coalesce(containment, F.lit(0.0)) >= flag_threshold).alias("flagged"),
        )
    )


def dsir_importance(
    docs: DataFrame,
    target_source: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    n_buckets: int = 2048,
) -> DataFrame:
    """DSIR-style hashed n-gram importance weights (Xie et al., "Data
    Selection for Language Models via Importance Resampling", NeurIPS
    2023): score every document by how target-like its token
    distribution is, using hashed unigram features and a smoothed
    log-likelihood ratio between the target slice and the rest of the
    corpus.

        bucket(tok)  = int(md5(tok)[:8], 16) mod n_buckets
        lam(b)       = log2( (n_t(b)+1)·(R+B) / ((n_r(b)+1)·(T+B)) )
        weight(doc)  = Σ_tokens lam(bucket(tok))

    md5 is the engine-portable token hash (same bytes in Spark and
    DuckDB); counts and products stay exact bigints, so the only float
    op is one log2 of an exactly-reproducible double — stored
    per-feature in micro-bits (floor(x·1e6 + 0.5)), making the per-doc
    weight an EXACT bigint sum the oracle replays bit-for-bit.

    Scale shape: one explode + groupBy for the B-sized feature table
    (B = n_buckets, thousands — broadcasts), one per-(doc, bucket)
    aggregate, one broadcast join back. No all-pairs, no Python; the
    corpus is read once.
    """
    toks = docs.select(
        F.col(id_col),
        F.col(source_col),
        F.explode(word_tokens(F.col(text_col))).alias("__tok"),
    )
    tb = toks.select(
        id_col,
        source_col,
        (
            F.conv(F.substring(F.md5("__tok"), 1, 8), 16, 10).cast("long")
            % n_buckets
        ).alias("__bucket"),
    )
    is_t = (F.col(source_col) == target_source).cast("long")
    bucket_stats = tb.groupBy("__bucket").agg(
        F.sum(is_t).alias("__n_t"),
        F.sum(1 - is_t).alias("__n_r"),
    )
    totals = bucket_stats.agg(
        F.sum("__n_t").alias("__T"), F.sum("__n_r").alias("__R")
    )
    lam = (
        bucket_stats.crossJoin(F.broadcast(totals))
        .select(
            "__bucket",
            F.floor(
                F.log2(
                    ((F.col("__n_t") + 1) * (F.col("__R") + n_buckets)).cast("double")
                    / ((F.col("__n_r") + 1) * (F.col("__T") + n_buckets)).cast("double")
                )
                * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("__lam_micro"),
        )
    )
    doc_feats = tb.groupBy(id_col, "__bucket").agg(F.count(F.lit(1)).alias("__c"))
    scored = (
        doc_feats.join(F.broadcast(lam), "__bucket")
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_tokens"),
            F.sum(F.col("__c") * F.col("__lam_micro")).alias("logweight_micro"),
        )
    )
    return (
        docs.select(id_col, source_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            (F.col(source_col) == target_source).alias("is_target"),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("logweight_micro"), F.lit(0)).cast("long").alias(
                "logweight_micro"
            ),
        )
    )


def weighted_sample(
    docs: DataFrame,
    weight_col,
    k: int,
    id_col: str = "doc_id",
    seed: str = "s0",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, derandomized — the
    Efraimidis-Spirakis A-ES scheme (Inf. Process. Lett. 2006) with the
    uniform drawn from an engine-portable hash instead of an RNG:

        u(i)   = (int(md5(id||seed)[:8], 16) + 1) / 2^32   ∈ (0, 1]
        key(i) = ln(u(i)) / w(i)          (w > 0; w <= 0 is excluded)
        sample = top-k by key DESC (ties by id)

    P(i in sample) is exactly the A-ES inclusion law ∝ weights when u
    is uniform — and a 32-bit md5 slice is uniform for any id set that
    isn't chosen adversarially against md5. Determinism buys: the same
    (corpus, seed, k) samples identically on ANY engine / partitioning
    (the DuckDB oracle replays it bit-for-bit), and re-runs are
    reproducible — the property a training-mixture pipeline needs for
    provenance. Different seeds give independent samples.

    Scale: one scan computing key (codegen-only), one
    TakeOrderedAndProject for the top-k — no shuffle beyond the k-row
    collect-to-one-partition.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(seed))), 1, 8),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(2**32))
    return (
        docs.where(w > 0)
        .withColumn("es_key", F.log(u) / w.cast("double"))
        .orderBy(F.col("es_key").desc(), F.col(id_col).asc())
        .limit(k)
    )


def corpus_drift(
    docs: DataFrame,
    source_a: str,
    source_b: str,
    text_col: str = "text",
    source_col: str = "source",
    n_buckets: int = 2048,
) -> DataFrame:
    """Token-distribution drift between two corpus slices — the
    data-quality monitor that catches a scraper change, a broken
    decoder, or a contaminated refresh before it trains a model.

    Both slices hash tokens into the same DSIR-style md5 buckets
    (engine-portable); each observed bucket gets the smoothed
    log-likelihood ratio

        lr(b) = log2( (n_a(b)+1)·(B+K) / ((n_b(b)+1)·(A+K)) )

    stored in exact micro-bits. |lr| ranks the most drifted buckets,
    and Σ n_a(b)·lr(b) is an un-normalized KL(a‖b) estimate a caller
    can aggregate as an exact bigint. Counts/products stay exact
    bigints; the one float op is log2 of a ratio of exact integers
    (the same cross-engine-reproducible pattern `dsir_importance`
    uses).

    Scale shape: one explode + map-side-combined groupBy at bucket
    grain (K rows out), one 1-row totals broadcast. The corpus is
    read once; nothing per-document survives the aggregate.
    """
    pair = docs.where(F.col(source_col).isin(source_a, source_b)).select(
        F.col(source_col),
        F.explode(word_tokens(F.col(text_col))).alias("__tok"),
    )
    tb = pair.select(
        source_col,
        (
            F.conv(F.substring(F.md5("__tok"), 1, 8), 16, 10).cast("long")
            % n_buckets
        ).alias("bucket"),
    )
    is_a = (F.col(source_col) == source_a).cast("long")
    stats = tb.groupBy("bucket").agg(
        F.sum(is_a).alias("n_a"),
        F.sum(1 - is_a).alias("n_b"),
    )
    totals = stats.agg(F.sum("n_a").alias("__A"), F.sum("n_b").alias("__B"))
    return stats.crossJoin(F.broadcast(totals)).select(
        "bucket",
        "n_a",
        "n_b",
        F.floor(
            F.log2(
                ((F.col("n_a") + 1) * (F.col("__B") + n_buckets)).cast("double")
                / ((F.col("n_b") + 1) * (F.col("__A") + n_buckets)).cast("double")
            )
            * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("lr_micro"),
    )


def bpe_learn_merges(
    docs: DataFrame,
    k: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> list[tuple[int, str, str, int]]:
    """Greedy BPE merge learning (Sennrich et al., ACL 2016) on word
    tokens: `k` iterations of count-adjacent-pairs -> take the most
    frequent pair -> merge every occurrence, re-counting on the merged
    corpus each round (the real tokenizer-training loop, not a one-shot
    bigram top-k). Returns [(rank, left, right, pair_count)].

    Determinism/portability contract: ties break by (count desc, left
    asc, right asc); self-pairs (a, a) are skipped in the argmax so the
    left-to-right merge is overlap-free and exactly reproducible by a
    per-index expression — both Spark and the DuckDB oracle apply
    merges with the same index-local CASE, no fold needed. Merged
    tokens join with '_' (tokens are [a-z0-9]+, so the separator can't
    collide).

    Scale shape per iteration: one explode + groupBy(pair) with
    map-side combine (the counting pass), one `.first()` of the 1-row
    argmax (driver sees a single pair, never data), and a narrow HOF
    rewrite of the token arrays. k passes over the corpus is what
    distributed BPE trainers pay; the alternative (heap maintenance) is
    inherently sequential.
    """
    from chesscom_etl_tableau_spark.util import ensure_parallelism

    cur = ensure_parallelism(
        docs.select(id_col, word_tokens(F.col(text_col)).alias("__toks"))
    ).localCheckpoint()
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, k + 1):
        n = F.size("__toks")
        pairs = cur.select(
            F.explode(
                F.when(
                    n >= 2,
                    F.transform(
                        F.sequence(F.lit(1), n - 1),
                        lambda i: F.struct(
                            F.element_at("__toks", i).alias("w1"),
                            F.element_at("__toks", i + 1).alias("w2"),
                        ),
                    ),
                ).otherwise(F.array())
            ).alias("__bg")
        ).select(F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2"))
        top = (
            pairs.where(F.col("w1") != F.col("w2"))
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.col("c").desc(), F.col("w1").asc(), F.col("w2").asc())
            .first()
        )
        if top is None:
            break
        a, b, c = top["w1"], top["w2"], top["c"]
        merges.append((rank, a, b, c))
        cur = cur.select(
            id_col, _apply_bpe_merge(F.col("__toks"), a, b).alias("__toks")
        ).localCheckpoint()
    return merges


def _apply_bpe_merge(toks: Column, a: str, b: str) -> Column:
    """Index-local application of one BPE merge (a, b) — valid because
    a != b makes left-to-right merging overlap-free: position i emits
    the merged token when (w[i], w[i+1]) == (a, b), NULL (dropped) when
    (w[i-1], w[i]) == (a, b), else w[i]."""
    merged = F.concat(F.lit(a), F.lit("_"), F.lit(b))
    nn = F.size(toks)
    return F.filter(
        F.transform(
            F.sequence(F.lit(1), F.greatest(nn, F.lit(1))),
            lambda i: F.when(nn == 0, F.lit(None))
            .when(
                (i > 1)
                & (F.element_at(toks, i - 1) == a)
                & (F.element_at(toks, i) == b),
                F.lit(None),
            )
            .when(
                (i < nn)
                & (F.element_at(toks, i) == a)
                & (F.element_at(toks, i + 1) == b),
                merged,
            )
            .otherwise(F.element_at(toks, i)),
        ),
        lambda x: x.isNotNull(),
    )


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[int, str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer INFERENCE with a learned merge table: apply the
    merges in rank order to every document (one narrow HOF rewrite per
    merge, fully codegen — no shuffle at all), returning
    (id, n_tokens_raw, n_tokens_bpe, compression). The
    train/apply split mirrors a real tokenizer workflow: learn once on
    a corpus sample, tokenize the full 100 TB with a scan-local map."""
    # each stage binds to a NAMED column referenced several times by
    # the next stage's lambda — the multi-reference keeps the binding
    # alive through CollapseProject, so every merge pass evaluates its
    # input array once per row instead of once per element (the
    # winnow_fingerprints CSE lesson; an inline chain here would
    # re-evaluate the tokenizer ~5^k times)
    df = docs.select(
        F.col(id_col), word_tokens(F.col(text_col)).alias("__t0")
    )
    stage = 0
    for _, a, b, _ in sorted(merges):
        df = df.select(
            id_col,
            "__t0",
            *([f"__t{stage}"] if stage else []),
            _apply_bpe_merge(F.col(f"__t{stage}"), a, b).alias(f"__t{stage + 1}"),
        ).select(id_col, "__t0", f"__t{stage + 1}")
        stage += 1
    raw_n = F.size("__t0")
    bpe_n = F.size(f"__t{stage}")
    compression = F.floor(
        F.try_divide(bpe_n.cast("double"), raw_n.cast("double")) * 1e6 + 0.5
    ) / 1e6
    return df.select(
        id_col,
        raw_n.cast("long").alias("n_tokens_raw"),
        bpe_n.cast("long").alias("n_tokens_bpe"),
        F.coalesce(compression, F.lit(0.0)).alias("compression"),
    )


def bpe_merge_table(
    docs: DataFrame,
    k: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """`bpe_learn_merges` surfaced as a DataFrame:
    (rank, left, right, pair_count) — the learned merge table a
    tokenizer would persist."""
    return local_frame(
        docs.sparkSession,
        bpe_learn_merges(docs, k=k, text_col=text_col, id_col=id_col),
        "rank bigint, left string, right string, pair_count bigint",
    )


def winsorize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo_pct: int = 5,
    hi_pct: int = 95,
) -> DataFrame:
    """Per-group winsorization: clip values to the group's exact
    [p_lo, p_hi] percentile band — the outlier-capping step applied to
    reward/quality scores before they feed a training mixture, where a
    single runaway value would otherwise dominate a mean or a softmax.

    Uses EXACT interpolated percentiles (`percentile`, which DuckDB's
    `quantile_cont` matches bit-for-bit — both compute the same
    p·(n−1) linear interpolation over the sorted values), so the
    clipped output is engine-exact: the clip itself is
    least/greatest, no arithmetic. Exact percentiles materialize each
    group's values during the aggregate — the right trade at
    dashboard-scale group counts; at 100 TB-per-group scale swap in
    `approx_percentile` (the a13/a18 twins) and accept the sketch
    bound.

    One aggregate over the group key + one broadcast join back (the
    percentile frame has one row per group): the fact table is
    scanned twice but never shuffled on a new key.
    """
    p = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, {lo_pct / 100.0})").alias("__lo"),
        F.expr(f"percentile({value_col}, {hi_pct / 100.0})").alias("__hi"),
    )
    return (
        df.join(F.broadcast(p), group_col)
        .select(
            *df.columns,
            F.least(
                F.greatest(F.col(value_col), F.col("__lo")), F.col("__hi")
            ).alias(f"{value_col}_winsorized"),
            (
                (F.col(value_col) < F.col("__lo"))
                | (F.col(value_col) > F.col("__hi"))
            ).alias("was_clipped"),
        )
    )


def temperature_mixture(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "tm0",
) -> DataFrame:
    """Temperature-balanced corpus downsampling (α = 0.5), the
    multilingual/multi-source rebalance ("don't let common-crawl drown
    wikipedia") — unlike `mixture_sample`, the retention rates are
    DERIVED from the observed source sizes, not hand-specified:

        rate(s) = sqrt(n_min / n_s)       (the smallest source keeps 1.0)
        keep i  ⇔ u(i) < rate(s_i),  u(i) = (int(md5(id||seed)[:8],16)+1)/2^32

    so post-sample sizes follow n_s^0.5 (pulled toward uniform, never
    fully flattened — the α=1/2 temperature point). α is fixed at 1/2
    because sqrt is an IEEE correctly-rounded primitive: the rate, the
    md5-uniform, and therefore the exact selected SET replay
    bit-for-bit on any engine or partitioning (a general n^α needs
    exp/ln whose last ulp is libm-dependent). Per-row decisions are
    scan-local codegen; the only data-dependent inputs are the
    |sources|-row size table, broadcast back onto the scan.

    Returns the per-source audit row (source, n_docs, keep_rate,
    n_selected) — the mixture provenance a training run records.
    """
    sizes = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    n_min = sizes.agg(F.min("n_docs").alias("__nmin"))
    rated = sizes.join(F.broadcast(n_min)).withColumn(
        "__rate",
        F.sqrt(F.col("__nmin").cast("double") / F.col("n_docs").cast("double")),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(seed))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(2**32))
    kept = (
        docs.select(group_col, id_col)
        .join(F.broadcast(rated.select(group_col, "__rate")), group_col)
        .where(u < F.col("__rate"))
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n_selected"))
    )
    r6 = lambda c: F.floor(c * F.lit(1000000.0) + F.lit(0.5)).cast("double") / F.lit(
        1000000.0
    )
    return (
        # kept is |sources|-row; hint it broadcast so the audit row pins
        # a BHJ rather than leaving the tiny left join to planner whim
        # (without the hint Spark statically plans an SMJ here and only
        # AQE rescues it at runtime).
        rated.join(F.broadcast(kept), group_col, "left")
        .select(
            group_col,
            "n_docs",
            r6(F.col("__rate")).alias("keep_rate"),
            F.coalesce(F.col("n_selected"), F.lit(0)).cast("bigint").alias(
                "n_selected"
            ),
        )
        .orderBy(group_col)
    )


def dataset_card(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-source datasheet row — the "dataset card" audit a training
    corpus ships with: volume, token budget, exact-duplicate rate, and
    language concentration, in two passes over the corpus (one for the
    per-source scalars, one tiny one for the language mode).

    exact_dup_rate counts md5-fingerprint collisions within the source
    (1 − distinct/total — the same fingerprint the dedup family keys
    on). top_lang is the modal language with share of docs; ties break
    lexicographically so the row is engine-deterministic.
    """
    from pyspark.sql import Window

    toks = F.size(word_tokens(F.col(text_col)))
    base = docs.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks.cast("bigint")).alias("total_tokens"),
        F.countDistinct(F.md5(F.coalesce(F.col(text_col), F.lit("")))).alias(
            "__n_uniq"
        ),
        F.countDistinct(lang_col).alias("n_langs"),
    )
    w = Window.partitionBy(source_col).orderBy(
        F.col("__lc").desc(), F.col(lang_col).asc()
    )
    top_lang = (
        docs.groupBy(source_col, lang_col)
        .agg(F.count(F.lit(1)).alias("__lc"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            source_col,
            F.col(lang_col).alias("top_lang"),
            F.col("__lc").alias("__top_n"),
        )
    )
    r6 = lambda c: F.floor(c * F.lit(1000000.0) + F.lit(0.5)).cast("double") / F.lit(
        1000000.0
    )
    return (
        base.join(F.broadcast(top_lang), source_col)
        .select(
            source_col,
            "n_docs",
            "total_tokens",
            r6(
                F.col("total_tokens").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("avg_tokens"),
            r6(
                F.lit(1.0)
                - F.col("__n_uniq").cast("double") / F.col("n_docs").cast("double")
            ).alias("exact_dup_rate"),
            "n_langs",
            "top_lang",
            r6(
                F.col("__top_n").cast("double") / F.col("n_docs").cast("double")
            ).alias("top_lang_share"),
        )
        .orderBy(source_col)
    )


def shard_by_token_budget(
    docs: DataFrame,
    budget: int = 4096,
    bucket_width: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """GLOBAL fixed-token-budget shard assignment — the export-side
    sharding step of a training-data pipeline (write shard files of
    ~`budget` tokens each, in a stable global document order):
    shard_id = floor(global-preceding-token-cumsum / budget) over
    ascending `id_col`.

    `pack_by_token_budget` is the per-group flavor; its window is
    partitioned by the group column, so one viral group (a dominant
    source) concentrates an entire sort on one task. This operator is
    the GLOBAL flavor, and a global ordered cumsum is the textbook
    single-partition-window trap — so it never runs one. Instead it is
    the classic two-pass distributed prefix sum (the `curriculum_order`
    pattern applied to a value cumsum rather than a rank):

      1. each doc gets a RANGE bucket `id div bucket_width`
         (order-preserving — a value cumsum needs buckets that cut the
         global id order into contiguous runs, so the hash shards
         curriculum uses are out);
      2. one map-side-combining agg sums tokens per bucket (tiny);
      3. a window cumsum over that TINY table yields each bucket's
         exclusive token offset (<= id-span/bucket_width rows — the
         bounded-global-window class, like curriculum's cell table);
      4. a within-bucket window cumsum (bounded-width partitions)
         + the bucket offset = the exact global prefix sum.

    The plan is fully lazy and boundary-deterministic: buckets come
    from id arithmetic, not runtime range sampling, so the same input
    shards identically on any engine — the oracle is a plain global
    window cumsum and matches exactly (integer token counts make the
    prefix sum associative). Callers size `bucket_width` from table
    stats so the bucket count lands in the 10^2..10^5 range (id_span /
    bucket_width); at 100 TB that is one metadata lookup, and the
    offsets table stays driver-size while each within-bucket sort is
    capped at `bucket_width` rows. Shards can overflow by at most one
    straddling document — the same contract `pack_by_token_budget`
    documents.

    Output: (doc_id, n_tokens, tokens_before, shard_id).
    """
    n_tok = F.size(word_tokens(F.col(text_col)))
    base = docs.select(F.col(id_col), n_tok.alias("n_tokens"))
    bucket = F.floor(F.col(id_col) / F.lit(bucket_width)).cast("long")
    bucketed = base.withColumn("__bucket", bucket)
    per_bucket = bucketed.groupBy("__bucket").agg(
        F.sum("n_tokens").alias("__btok")
    )
    w_off = (
        Window.partitionBy(F.lit(1))
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_bucket.select(
        "__bucket", F.coalesce(F.sum("__btok").over(w_off), F.lit(0)).alias("__off")
    )
    w_in = (
        Window.partitionBy("__bucket")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.col("__off") + F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
    return (
        bucketed.join(F.broadcast(offsets), "__bucket")
        .select(
            id_col,
            "n_tokens",
            before.cast("long").alias("tokens_before"),
            F.floor(before / F.lit(budget)).cast("long").alias("shard_id"),
        )
    )


def sample_fixed_k(
    corpus: DataFrame,
    k: int,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Fixed-SIZE deterministic uniform sample — the k-minimum-values
    rule: keep the k rows with the smallest scramble32(pmod(id, 2^32) +
    seed * 40503), id-tiebroken. Complements the rate-based samplers
    (mixture/weighted/temperature keep a deterministic FRACTION; eval
    sets, human-review batches and debugging draws need an exact
    COUNT).

    Properties the tests pin: (a) engine/layout-reproducible (shared
    scramble, no rng); (b) uniform over ids (hash scramble decorrelates
    from id order); (c) MERGEABLE — the KMV property: min-k of a union
    equals min-k of the per-part min-ks, so shards can sample locally
    and a coordinator merges candidate sets without rescanning (the
    incremental-ingest shape).

    Scale: orderBy(key).limit(k) compiles to TakeOrderedAndProject —
    per-partition top-k then one merge of |partitions| x k rows; never
    a global sort.

    Output: the corpus row plus `sample_key` (the draw is auditable and
    re-mergeable downstream).
    """
    key = scramble32(
        F.pmod(F.col(id_col).cast("bigint"), F.lit(_MOD32))
        + F.lit(int(seed) * 40503)
    )
    return (
        corpus.withColumn("sample_key", key)
        .orderBy(F.col("sample_key").asc(), F.col(id_col).asc())
        .limit(k)
    )


def epoch_order(
    samples: DataFrame,
    epoch: int,
    id_col: str = "doc_id",
    order_buckets: int = 64,
) -> DataFrame:
    """Deterministic per-EPOCH global shuffle order — the training-
    loader primitive every epoch-based run needs: a pseudo-random
    permutation of the sample ids that is (a) reproducible across
    reruns, engines, and cluster layouts (the shared `scramble32`
    multiplicative hash, seeded by epoch — no rng, no partition-order
    dependence), and (b) DIFFERENT per epoch, so the model never sees
    the same batch order twice.

    shuffle_key = scramble32(pmod(id, 2^32) + epoch * 40503); rank =
    dense 0-based position in (shuffle_key, id) order. The rank is
    computed with the two-pass distributed prefix sum (the
    shard/interleave shape): RANGE buckets of the key (monotone
    bucketing — `key div (2^32/order_buckets)` — preserves the global
    order across buckets), per-bucket counts, a bounded offsets window
    over `order_buckets` rows, then a within-bucket row_number. Never
    a data-sized single-partition sort-and-number.

    Output: (epoch_rank, shuffle_key, id_col). Readers ORDER BY
    epoch_rank (or range-partition on it) to stream the epoch.
    """
    key = scramble32(
        F.pmod(F.col(id_col).cast("bigint"), F.lit(_MOD32))
        + F.lit(int(epoch) * 40503)
    )
    step = _MOD32 // order_buckets
    keyed = samples.select(F.col(id_col), key.alias("shuffle_key")).withColumn(
        "__bucket", (F.col("shuffle_key") / F.lit(step)).cast("long")
    )
    per_bucket = keyed.groupBy("__bucket").agg(F.count(F.lit(1)).alias("__n"))
    w_off = (
        Window.partitionBy(F.lit(1))
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_bucket.select(
        "__bucket", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off")
    )
    w_in = Window.partitionBy("__bucket").orderBy(
        F.col("shuffle_key").asc(), F.col(id_col).asc()
    )
    return (
        keyed.join(F.broadcast(offsets), "__bucket")
        .select(
            (F.col("__off") + F.row_number().over(w_in) - 1)
            .cast("long")
            .alias("epoch_rank"),
            "shuffle_key",
            F.col(id_col),
        )
    )


def interleave_modality_budgets(
    docs: DataFrame,
    image_budget: int = 128,
    audio_budget: int = 96,
    text_budget: int = 1792,
    chunk_tokens: int = 256,
    image_tokens: int = 64,
    audio_tokens: int = 96,
    bucket_width: int = 64,
    image_residue: int = 2,
    audio_residue: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Modality-AWARE interleaved sample assembly — extends
    `interleave_multimodal_samples` with audio-ref items and a
    per-modality budget split: sample k is the union of the k-th
    quota-window of EACH modality stream (image/audio/text cost
    quotas), so every assembled sample carries a controlled modality
    mix instead of whatever the single shared budget happened to pack.
    This is how VLM/omni training batches are actually provisioned —
    the image encoder, audio encoder and LM each have their own token
    budget per step.

    Item stream per document, in order: an image placeholder
    (`id % 4 == image_residue`, cost `image_tokens`, ref "<id>#img"),
    an audio placeholder (`id % 4 == audio_residue` — the WAV residue
    of the blob fixtures — cost `audio_tokens`, ref "<id>#aud"), then
    text chunks (ref "<id>#c<j>"). Refs only; blob bytes never enter
    this plan.

    Assignment is the same TWO-PASS distributed prefix sum as the
    single-budget twin, but per modality: (modality, range-bucket)
    partials -> per-modality offsets window (bounded by bucket count)
    -> within-bucket running window; sample_id = floor(per-modality
    preceding-cost / that modality's budget). Per sample and modality
    the cost overflows its quota by at most one straddling item.

    Quota invariance (property-tested): for EVERY modality and ANY
    budget triple, reading that modality's items in (sample_id,
    position) order reproduces its per-modality corpus stream exactly.

    Output: (sample_id, position, modality, ref, n_cost_tokens, doc_id);
    position ranks items within a sample by (doc_id, item-index).
    """
    base = docs.select(
        F.col(id_col), word_tokens(F.col(text_col)).alias("__toks")
    )
    img_items = base.where(F.col(id_col) % 4 == image_residue).select(
        F.col(id_col),
        F.lit(0).alias("__idx"),
        F.lit("image").alias("modality"),
        F.lit(image_tokens).cast("long").alias("cost"),
        F.concat(F.col(id_col).cast("string"), F.lit("#img")).alias("ref"),
    )
    aud_items = base.where(F.col(id_col) % 4 == audio_residue).select(
        F.col(id_col),
        F.lit(1).alias("__idx"),
        F.lit("audio").alias("modality"),
        F.lit(audio_tokens).cast("long").alias("cost"),
        F.concat(F.col(id_col).cast("string"), F.lit("#aud")).alias("ref"),
    )
    c = chunk_tokens
    chunk_costs = F.expr(
        f"if(size(__toks) >= 1,"
        f" transform(sequence(0, (size(__toks) + {c} - 1) div {c} - 1),"
        f"  j -> least({c}, size(__toks) - j * {c})), array())"
    )
    txt_items = base.select(
        F.col(id_col), F.posexplode(chunk_costs).alias("__j", "__cost")
    ).select(
        F.col(id_col),
        (F.col("__j") + 2).alias("__idx"),
        F.lit("text").alias("modality"),
        F.col("__cost").cast("long").alias("cost"),
        F.concat(
            F.col(id_col).cast("string"), F.lit("#c"), F.col("__j").cast("string")
        ).alias("ref"),
    )
    items = img_items.unionByName(aud_items).unionByName(txt_items)
    quota = (
        F.when(F.col("modality") == "image", F.lit(image_budget))
        .when(F.col("modality") == "audio", F.lit(audio_budget))
        .otherwise(F.lit(text_budget))
        .cast("long")
    )
    bucketed = items.withColumn(
        "__bucket", F.floor(F.col(id_col) / F.lit(bucket_width)).cast("long")
    )
    per_bucket = bucketed.groupBy("modality", "__bucket").agg(
        F.sum("cost").alias("__btok")
    )
    w_off = (
        Window.partitionBy("modality")
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_bucket.select(
        "modality",
        "__bucket",
        F.coalesce(F.sum("__btok").over(w_off), F.lit(0)).alias("__off"),
    )
    w_in = (
        Window.partitionBy("modality", "__bucket")
        .orderBy(F.col(id_col).asc(), F.col("__idx").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.col("__off") + F.coalesce(F.sum("cost").over(w_in), F.lit(0))
    assigned = bucketed.join(
        F.broadcast(offsets), ["modality", "__bucket"]
    ).withColumn("sample_id", F.floor(before / quota).cast("long"))
    w_pos = Window.partitionBy("sample_id").orderBy(
        F.col(id_col).asc(), F.col("__idx").asc()
    )
    return assigned.select(
        "sample_id",
        (F.row_number().over(w_pos) - 1).cast("long").alias("position"),
        "modality",
        "ref",
        F.col("cost").alias("n_cost_tokens"),
        F.col(id_col),
    )


def interleave_multimodal_samples(
    docs: DataFrame,
    budget: int = 2048,
    chunk_tokens: int = 256,
    image_tokens: int = 64,
    bucket_width: int = 64,
    media_residue: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Interleaved multimodal sample assembly — the multimodal twin of
    `shard_by_token_budget`: pack text chunks and image-placeholder
    items into fixed-budget training samples, preserving document order
    within and across samples.

    Item stream per document, in order: one image placeholder costing
    `image_tokens` for documents in the media class (`id % 4 ==
    media_residue`, the residue layout the multimodal blob fixtures
    use — image first, caption after, the standard VLM sample shape),
    then the document's text in `chunk_tokens`-sized chunks (last
    partial kept; an empty document contributes no text items). Item
    `ref` strings ("<id>#img", "<id>#c<j>") point back at the source —
    the sample table carries REFERENCES, never blob bytes, so nothing
    image-sized ever shuffles here.

    Sample assignment is the same two-pass distributed prefix sum as
    `shard_by_token_budget` (range-bucket partials -> bounded offsets
    window -> within-bucket window), over the global item order
    (id, item-index): sample_id = floor(preceding-cost-cumsum /
    budget). A sample can overflow by at most one straddling item —
    the documented pack contract. `position` is the 0-based rank
    within a sample (window partitioned BY SAMPLE: <= budget rows,
    every item costs >= 1).

    Budget invariance (property-tested): for ANY budget, reading items
    in (sample_id, position) order reproduces the corpus item stream
    exactly — assembly reorders nothing, it only draws sample
    boundaries.

    Output: (sample_id, position, modality, ref, n_cost_tokens, doc_id).
    """
    base = docs.select(
        F.col(id_col), word_tokens(F.col(text_col)).alias("__toks")
    )
    img_items = base.where(F.col(id_col) % 4 == media_residue).select(
        F.col(id_col),
        F.lit(0).alias("__idx"),
        F.lit("image").alias("modality"),
        F.lit(image_tokens).cast("long").alias("cost"),
        F.concat(F.col(id_col).cast("string"), F.lit("#img")).alias("ref"),
    )
    c = chunk_tokens
    chunk_costs = F.expr(
        f"if(size(__toks) >= 1,"
        f" transform(sequence(0, (size(__toks) + {c} - 1) div {c} - 1),"
        f"  j -> least({c}, size(__toks) - j * {c})), array())"
    )
    txt_items = base.select(
        F.col(id_col), F.posexplode(chunk_costs).alias("__j", "__cost")
    ).select(
        F.col(id_col),
        (F.col("__j") + 1).alias("__idx"),
        F.lit("text").alias("modality"),
        F.col("__cost").cast("long").alias("cost"),
        F.concat(
            F.col(id_col).cast("string"), F.lit("#c"), F.col("__j").cast("string")
        ).alias("ref"),
    )
    items = img_items.unionByName(txt_items)
    bucketed = items.withColumn(
        "__bucket", F.floor(F.col(id_col) / F.lit(bucket_width)).cast("long")
    )
    per_bucket = bucketed.groupBy("__bucket").agg(F.sum("cost").alias("__btok"))
    w_off = (
        Window.partitionBy(F.lit(1))
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_bucket.select(
        "__bucket", F.coalesce(F.sum("__btok").over(w_off), F.lit(0)).alias("__off")
    )
    w_in = (
        Window.partitionBy("__bucket")
        .orderBy(F.col(id_col).asc(), F.col("__idx").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.col("__off") + F.coalesce(F.sum("cost").over(w_in), F.lit(0))
    assigned = bucketed.join(F.broadcast(offsets), "__bucket").withColumn(
        "sample_id", F.floor(before / F.lit(budget)).cast("long")
    )
    w_pos = Window.partitionBy("sample_id").orderBy(
        F.col(id_col).asc(), F.col("__idx").asc()
    )
    return assigned.select(
        "sample_id",
        (F.row_number().over(w_pos) - 1).cast("long").alias("position"),
        "modality",
        "ref",
        F.col("cost").alias("n_cost_tokens"),
        F.col(id_col),
    )


def cap_source_tokens(
    scored: DataFrame,
    cap: int = 3000,
    group_col: str = "source",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    quality_col: str = "quality_score",
) -> DataFrame:
    """Per-source token-budget capping, best-quality-first — the data-
    curation staple that stops one dominant crawl/source from swamping
    a training mixture: within each source, documents are admitted in
    descending quality order until the source's token budget is spent.

    Input is a scored frame (id, group, n_tokens, quality) — compose
    with `text.quality_metrics` (or any scorer). A document is kept
    when the tokens admitted BEFORE it are under `cap`, so the budget
    can overflow by exactly one straddling document — the same
    admit-the-straddler contract pack_by_token_budget documents.
    Ordering is (quality desc, id asc): quality scores are
    micro-floored by the scorer, so ties and therefore the admitted
    set are engine-deterministic.

    Output: (id, group, n_tokens, quality, tokens_before, kept) — the
    full frame with the decision, so callers can audit what the cap
    rejected instead of silently losing it.

    Scale: one window partitioned by source (quality-ordered running
    sum). A single viral source concentrates its sort on one task —
    the same per-group hazard pack_by_token_budget documents; when one
    source IS the corpus, pre-band by floor(quality*K) and apply the
    curriculum_order two-pass instead (banded offsets + within-band
    cumsum approximates the same admission order at band granularity).
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(quality_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    return scored.select(
        F.col(id_col),
        F.col(group_col),
        F.col(tokens_col).cast("long").alias(tokens_col),
        F.col(quality_col),
        before.cast("long").alias("tokens_before"),
        (before < F.lit(cap)).alias("kept"),
    )
