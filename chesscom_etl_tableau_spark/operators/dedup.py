"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

The reference dedups by exact key (`game_url`, fetch_and_post.py:358-370
— see plans/ingest.py for that anti-join). These operators extend dedup
to *content* similarity, the LLM-training-data requirement
(BASELINE.json north star).

Scale design:
- Exact dedup: fingerprint -> groupBy. One shuffle on a well-distributed
  md5 key; map-side combine collapses most groups before the exchange.
- N-gram Jaccard: inverted-index self-join on shingles. The classic
  skew hazard is a stop-shingle shared by millions of docs; we drop
  shingles with document-frequency above `max_shingle_df` (`_rare`;
  standard practice, and AQE skew-join splits whatever remains).
- Every exact set-similarity pair set (self pairs, LSH-candidate
  verify, batch-vs-corpus, tagged unions, per-source vocabularies) is
  counted by one kernel, `_overlap`: shared-shingle count plus both set
  sizes per pair, scored by `_ratio` (round-6 division).
- MinHash-LSH: signature = h min-aggregates over the exploded shingles
  (one shuffle); banding -> candidate pairs via an equi-join on
  (band_id, band_hash) — this replaces the O(n^2) pair space with
  bucket-local pairs. Hash family is xxhash64(seed, shingle) min'd as
  a bigint — deterministic, seedable, and cheap (the LSH stage is
  candidate-gen only; the exact-Jaccard verify is engine-portable).
- SimHash: 64 sign-accumulators over token hashes; near-dup candidates
  share a 16-bit band (4-band decomposition tolerates Hamming dist <=3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.operators.text import normalized_fingerprint, word_tokens
from chesscom_etl_tableau_spark.util import ensure_parallelism


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
def exact_dup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct normalized fingerprint: representative id
    (min), duplicate count. `dup_count > 1` rows are the duplicate sets."""
    return (
        docs.select(F.col(id_col), normalized_fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one doc (min id) per normalized fingerprint.

    Implemented as min-id-per-fingerprint + semi join rather than
    dropDuplicates so the survivor choice is deterministic.
    """
    keep = exact_dup_groups(docs, text_col, id_col).select(F.col("keep_id").alias(id_col))
    return docs.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# N-gram Jaccard (exact similarity over shingle sets)
# ---------------------------------------------------------------------------
def _doc_shingles(docs: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    # Shingling is the CPU-heavy stage: spread narrow sources first, and
    # bind the token array as a column before the shingle transform so
    # the tokenizer regex runs once per doc, not once per position
    # (Catalyst has no CSE inside higher-order-function lambdas).
    toks = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc"),
        word_tokens(F.col(text_col)).alias("__toks"),
    )
    from chesscom_etl_tableau_spark.operators.text import shingles_from_tokens

    return toks.select(
        "doc",
        F.explode(shingles_from_tokens(F.col("__toks"), k)).alias("shingle"),
    )


def _rare(sh: DataFrame, max_shingle_df: int | None) -> DataFrame:
    """The document-frequency cap: keep (doc, shingle) rows whose shingle
    occurs in at most `max_shingle_df` rows (None keeps all)."""
    if max_shingle_df is None:
        return sh
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_shingle_df)
        .select("shingle")
    )
    return sh.join(rare, "shingle", "left_semi")


def _overlap(
    left: DataFrame,
    right: DataFrame,
    a: str,
    b: str,
    pairs: DataFrame | None = None,
    where: "F.Column | None" = None,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """The shingle-overlap kernel of every exact set-similarity pair set:
    columns a, b, *keys, n_common, n_l, n_r from two (doc, shingle)
    frames, n_common = shared rows of the pair, n_l / n_r = the two set
    sizes. Column order is the joins' own; callers select their output.

    Pairs come from ONE inverted join on `shingle` (filtered by
    `where`), or, given a `pairs` frame of (a, b) candidates, from
    joining each side's shingles onto the candidates — then only
    candidate pairs are ever counted. `keys` are columns of `right`
    that split its sets (a tagged union counts each tag separately).
    Sizes are one groupBy per distinct side, renamed per role, so a
    self-pair query (`left is right`) builds a single size aggregate.
    """
    lsh = left.select(F.col("doc").alias(a), "shingle")
    rsh = right.select(F.col("doc").alias(b), "shingle", *keys)
    if pairs is None:
        joined = lsh.join(rsh, "shingle")
    else:
        joined = pairs.join(lsh, a).join(rsh, [b, "shingle"])
    if where is not None:
        joined = joined.where(where)
    inter = joined.groupBy(a, b, *keys).agg(F.count(F.lit(1)).alias("n_common"))

    def sizes(sh: DataFrame, ks: tuple[str, ...]) -> DataFrame:
        return sh.groupBy("doc", *ks).agg(F.count(F.lit(1)).alias("n"))

    sl = sizes(left, ())
    sr = sl if right is left and not keys else sizes(right, keys)
    return (
        inter.join(sl.select(F.col("doc").alias(a), F.col("n").alias("n_l")), a)
        .join(sr.select(F.col("doc").alias(b), *keys, F.col("n").alias("n_r")), [b, *keys])
    )


def _ratio(den: "F.Column") -> "F.Column":
    """n_common / den rounded to 6 places — the score of every `_overlap`
    frame (the DuckDB oracles round the same way)."""
    return F.round(F.try_divide(F.col("n_common") * F.lit(1.0), den), 6)


def _jaccard() -> "F.Column":
    """|A∩B| / |A∪B| of an `_overlap` frame, |A∪B| = n_l + n_r - n_common."""
    return _ratio(F.col("n_l") + F.col("n_r") - F.col("n_common"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """All doc pairs (a < b) with Jaccard(shingles_a, shingles_b) >= threshold.

    Inverted-index join: |intersection| from the shingle self-join,
    |union| = |A| + |B| - |intersection|. `max_shingle_df` drops
    ubiquitous shingles BEFORE sizes and intersection are computed, so
    the Jaccard is over the rare-shingle subsets — a stop-shingle shared
    by millions of docs would otherwise dominate the join (df² pair
    fan-out per shingle). Defaulted ON (1000) because at 100 TB the
    unguarded join is the scale-killer; pass None for exact Jaccard
    over all shingles. The DuckDB oracles mirror the same cap.
    """
    sh = _rare(_doc_shingles(docs, text_col, id_col, k), max_shingle_df)
    return (
        _overlap(sh, sh, "doc_a", "doc_b", where=F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", _jaccard())
        .where(F.col("jaccard") >= threshold)
        .select(
            "doc_a", "doc_b", "n_common",
            F.col("n_l").alias("n_a"), F.col("n_r").alias("n_b"), "jaccard",
        )
    )


def ngram_containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.9,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Doc pairs (a < b) where the SMALLER shingle set is mostly inside
    the other: containment = |A∩B| / min(|A|, |B|) >= threshold.

    Jaccard's blind spot: a short document quoted verbatim inside a
    long one has near-zero Jaccard (the union is huge) but containment
    ~1 — the case corpus curation actually needs to catch (boilerplate
    wrappers, quoted articles, prompt/response supersets; cf. the
    containment dedup in RefinedWeb-style pipelines). Same inverted
    index, same df cap, same single intersection join as
    `ngram_jaccard_pairs` — only the denominator changes, so the scale
    argument carries over unchanged.
    """
    sh = _rare(_doc_shingles(docs, text_col, id_col, k), max_shingle_df)
    return (
        _overlap(sh, sh, "doc_a", "doc_b", where=F.col("doc_a") < F.col("doc_b"))
        .withColumn("containment", _ratio(F.least(F.col("n_l"), F.col("n_r"))))
        .where(F.col("containment") >= threshold)
        .select(
            "doc_a", "doc_b", "n_common",
            F.col("n_l").alias("n_a"), F.col("n_r").alias("n_b"), "containment",
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (approximate Jaccard at scale)
# ---------------------------------------------------------------------------
def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """Per-doc MinHash signature: array of `num_hashes` xxhash64 minima.

    min(xxhash64(seed_i, shingle)) is an order-statistic over a uniform
    hash family — the standard MinHash estimator. One groupBy (single
    shuffle), `num_hashes` min-aggregates computed in the same pass.
    """
    sh = _doc_shingles(docs, text_col, id_col, k)
    # xxhash64(seed_i, shingle) is an order of magnitude cheaper than a
    # cryptographic hash and just as uniform for min-estimation; the
    # min is over bigint instead of a 32-char string.
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy("doc").agg(*mins)
    return sig.select("doc", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("signature"))


def _banded(signatures: DataFrame, bands: int) -> DataFrame:
    """Explode (doc, signature) into `bands` (doc, band_id, band_key) rows.

    band_key = hash of the band's slice of the signature; two docs that
    agree on every hash of any band land in the same (band_id, band_key)
    bucket — the standard LSH banding decomposition.
    """
    return signatures.select(
        "doc",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.array_join(
                        F.transform(
                            F.slice(
                                F.col("signature"),
                                b * (F.size("signature") / bands).cast("int") + 1,
                                (F.size("signature") / bands).cast("int"),
                            ),
                            lambda v: v.cast("string"),
                        ),
                        "|",
                    )
                ),
            )
        ).alias("band_id", "band_key"),
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    bands: int = 4,
) -> DataFrame:
    """LSH banding: docs whose signature agrees on ALL rows of any band.

    Explode each signature into `bands` (band_id, band_key) rows, then
    self-join per bucket.
    """
    return _bucket_pairs(_banded(signatures, bands))


def _bucket_pairs(banded: DataFrame) -> DataFrame:
    """(doc_a, doc_b), a < b, of docs sharing any (band_id, band_key)
    bucket — one self-join per bucket; pairs may match in several bands,
    hence the distinct."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Full near-dup pipeline: MinHash -> LSH candidates -> exact verify.

    The exact-Jaccard verification joins candidate pairs back to their
    shingle sets; candidates are broadcast, so the verify joins stream
    the shingle sets without shuffling them. At very large corpora,
    persist/checkpoint `cands` first and semi-join `docs` down to
    candidate members before re-shingling — as a single lazy plan that
    restructuring recomputes the signature branch and measures slower,
    so it is only worth it with materialization the caller owns.
    """
    sigs = minhash_signatures(docs, text_col, id_col, k, num_hashes)
    cands = minhash_lsh_candidates(sigs, bands)
    sh = _doc_shingles(docs, text_col, id_col, k)
    return (
        _overlap(sh, sh, "doc_a", "doc_b", pairs=cands)
        .withColumn("jaccard", _jaccard())
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """60-bit SimHash per document over word tokens.

    Token hash = xxhash64(token); sign accumulation per bit, bit set
    when the weighted sum is positive. Runs as one groupBy over exploded
    tokens — `bits` sum-aggregates in a single pass.
    """
    if bits > 60:
        bits = 60  # keep the sign bits out of the fingerprint
    toks = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc"),
        F.explode(word_tokens(F.col(text_col))).alias("token"),
    )
    # xxhash64 is uniform and ~10x cheaper than md5+base-conversion;
    # shiftright below only ever reads the low `bits` bits.
    toks = toks.select("doc", F.xxhash64(F.col("token")).alias("th"))
    sums = toks.groupBy("doc").agg(
        *[
            F.sum(F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    sim = sums.select(
        "doc",
        sum(
            [F.when(F.col(f"b{i}") > 0, F.lit(2**i).cast("bigint")).otherwise(F.lit(0).cast("bigint")) for i in range(bits)],
            F.lit(0).cast("bigint"),
        ).alias("simhash"),
    )
    return sim


def simhash_candidates(sim: DataFrame, band_bits: int = 15, bands: int = 4) -> DataFrame:
    """Near-dup candidates: pairs agreeing on any `band_bits`-bit band."""
    banded = sim.select(
        "doc",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), i * band_bits)
                    .bitwiseAND(F.lit((1 << band_bits) - 1))
                    .cast("bigint")
                    for i in range(bands)
                ]
            )
        ).alias("band_id", "band_key"),
    )
    return _bucket_pairs(banded)


# ---------------------------------------------------------------------------
# Incremental dedup against a persisted corpus index
# ---------------------------------------------------------------------------
# The at-scale ingest pattern: a 100 TB corpus is never re-scanned when
# a new batch arrives. Instead a compact per-doc index — (id, exact
# fingerprint, MinHash signature), ~170 bytes/doc vs multi-KB docs, so
# <1% of corpus bytes — is persisted once and appended per batch. Exact
# dedup of a batch is an anti-join against the index's fingerprint
# column (parquet column pruning reads ONLY that column); near-dup is an
# LSH band join batch-sigs x index-sigs, and only the candidate corpus
# docs are ever re-read for exact verification.


def dedup_index_frame(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    with_signature: bool = True,
) -> DataFrame:
    """The compact dedup-index rows for a corpus/batch: one row per doc
    with its exact fingerprint and (optionally) MinHash signature."""
    fp = docs.select(
        F.col(id_col), normalized_fingerprint(F.col(text_col)).alias("fingerprint")
    )
    if not with_signature:
        return fp
    sigs = minhash_signatures(docs, text_col, id_col, k, num_hashes).withColumnRenamed(
        "doc", id_col
    )
    return fp.join(sigs, id_col)


def build_dedup_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    mode: str = "overwrite",
) -> None:
    """Materialize (or with mode='append', extend) the corpus dedup index.

    Append the surviving batch rows after each incremental ingest so the
    next batch dedups against everything seen so far — the content-hash
    twin of the reference's running `game_url` set
    (fetch_and_post.py:358-370), kept on disk instead of driver memory.
    """
    dedup_index_frame(docs, text_col, id_col, k, num_hashes).write.mode(mode).parquet(path)


def incremental_exact_dedup(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Surviving rows of `batch` vs an existing corpus index: drop any
    doc whose fingerprint is already indexed, keep min-id per fingerprint
    within the batch. `index` needs only a `fingerprint` column — reading
    it from a persisted index scans just that column (pruning asserted in
    tests).

    Sequential batches (ids arriving in order) compose exactly: the
    union of survivors across batches equals `exact_dedup` over the
    concatenated corpus (property-tested).
    """
    bfp = batch.select(
        F.col(id_col), normalized_fingerprint(F.col(text_col)).alias("fingerprint")
    )
    fresh = bfp.join(index.select("fingerprint"), "fingerprint", "left_anti")
    keep = fresh.groupBy("fingerprint").agg(F.min(id_col).alias(id_col)).select(id_col)
    return batch.join(keep, id_col, "left_semi")


def incremental_near_dup_pairs(
    batch: DataFrame,
    corpus: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup pairs (batch_id, corpus_id, jaccard) of a new batch vs an
    indexed corpus: LSH band join of batch signatures against the stored
    index signatures, then exact-Jaccard verify.

    Only candidate corpus docs are re-shingled — `corpus` is semi-joined
    down to candidate ids first, so verification cost scales with the
    candidate count, not the corpus size.
    """
    bsig = minhash_signatures(batch, text_col, id_col, k, num_hashes)
    bb = _banded(bsig, bands).select(
        F.col("doc").alias("batch_id"), "band_id", "band_key"
    )
    ib = _banded(
        index.select(F.col(id_col).alias("doc"), "signature"), bands
    ).select(F.col("doc").alias("corpus_id"), "band_id", "band_key")
    cands = (
        bb.join(ib, ["band_id", "band_key"]).select("batch_id", "corpus_id").distinct()
    )
    return _verify_candidates(cands, batch, corpus, text_col, id_col, k, threshold)


def _verify_candidates(
    cands: DataFrame,
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verify of (batch_id, corpus_id) candidates:
    (batch_id, corpus_id, jaccard) with round-6 jaccard >= threshold.
    `corpus` is semi-joined down to candidate ids before shingling, so
    the cost scales with the candidate count, not the corpus size."""
    corpus_c = corpus.join(
        cands.select(F.col("corpus_id").alias(id_col)), id_col, "left_semi"
    )
    return (
        _overlap(
            _doc_shingles(batch, text_col, id_col, k),
            _doc_shingles(corpus_c, text_col, id_col, k),
            "batch_id",
            "corpus_id",
            pairs=cands,
        )
        .withColumn("jaccard", _jaccard())
        .where(F.col("jaccard") >= threshold)
        .select("batch_id", "corpus_id", "jaccard")
    )


# ---------------------------------------------------------------------------
# Cross-source overlap (corpus provenance analysis)
# ---------------------------------------------------------------------------
def source_overlap(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    k: int = 3,
) -> DataFrame:
    """Pairwise shingle-overlap matrix between document groups:
    (source_a, source_b, n_shared, n_a, n_b, jaccard) over the groups'
    DISTINCT shingle vocabularies.

    Corpus-level contamination / provenance analysis — which sources are
    near-copies of each other. The distinct collapses per-doc fan-out
    before the self-join, so join input is bounded by vocabulary size,
    and with G groups each shingle contributes at most G(G-1)/2 pairs.
    """
    gsh = _doc_shingles(docs, text_col, group_col, k).distinct()
    return _overlap(
        gsh, gsh, "source_a", "source_b", where=F.col("source_a") < F.col("source_b")
    ).select(
        "source_a",
        "source_b",
        F.col("n_common").alias("n_shared"),
        F.col("n_l").alias("n_a"),
        F.col("n_r").alias("n_b"),
        _jaccard().alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Span-level (paragraph-style) dedup
# ---------------------------------------------------------------------------
def _token_block_expr(k: int) -> "F.Column":
    """The shared span unit of `duplicated_spans` (measuring) and
    `remove_boilerplate_spans` (cleaning): consecutive non-overlapping
    k-token blocks over `__toks`, trailing partial dropped. The if()
    guards the empty case: sequence(1, 0) would infer a NEGATIVE step
    and fabricate spans. Blocks are positions (i-1)*k+1 .. i*k."""
    return F.expr(
        f"if(size(__toks) >= {k}, transform(sequence(1, size(__toks) div {k}),"
        f" i -> array_join(slice(__toks, (i-1)*{k} + 1, {k}), ' ')), array())"
    )


def duplicated_spans(
    docs: DataFrame, k: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Span-level exact dedup — the paragraph-dedup operator (C4/Gopher
    pipelines drop repeated paragraphs; for corpora without paragraph
    breaks the unit is a consecutive non-overlapping k-token block).
    Reports, per document, how much of it is duplicated elsewhere:
    (doc_id, n_spans, n_dup_spans, dup_fraction) over the document's
    DISTINCT spans, where a span is "duplicated" when it appears in
    >= 2 distinct documents.

    Scale shape: explode is linear in corpus tokens (~n_tokens/k span
    rows); the span groupBy is one hash agg on the span string
    (map-side combine collapses repeats before the exchange) and the
    rejoin is an equi-join on the span key — no all-pairs anywhere.
    The classic hazard is a viral boilerplate span shared by millions
    of docs; that key is exactly what this operator exists to surface,
    and AQE skew-join handles its join side.
    """
    toksed = docs.select(
        F.col(id_col), word_tokens(F.col(text_col)).alias("__toks")
    )
    blocks = _token_block_expr(k)
    spans = (
        ensure_parallelism(toksed)
        .select(id_col, F.explode(blocks).alias("span"))
        .distinct()
    )
    counts = spans.groupBy("span").agg(F.count(F.lit(1)).alias("__n_docs"))
    per_doc = (
        spans.join(counts, "span")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("__n_spans"),
            F.sum(F.when(F.col("__n_docs") >= 2, 1).otherwise(0)).alias("__n_dup"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("__n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("__n_dup"), F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce(
                F.floor(
                    F.try_divide(F.col("__n_dup"), F.col("__n_spans")) * 1000000.0 + 0.5
                )
                / 1000000.0,
                F.lit(0.0),
            ).alias("dup_fraction"),
        )
    )


def prefix_edit_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_tokens: int = 5,
    rel_dist_pct: int = 10,
    max_block: int = 256,
) -> DataFrame:
    """Fuzzy near-duplicate pairs by EDIT DISTANCE with prefix-token
    blocking — the record-linkage complement to the shingle family:
    Jaccard/MinHash sees a heavily-edited copy as "mostly shared
    shingles", while edit distance certifies the stronger claim that
    one text is at most `rel_dist_pct`% edits away from the other
    (the legal/provenance notion of a derived copy).

    Blocking is the scale story: candidates are generated ONLY among
    docs sharing their first `prefix_tokens` normalized word tokens
    (copies and revisions overwhelmingly keep their opening — title,
    first sentence), one equi-join on the prefix key, never all-pairs.
    `max_block` fences the degenerate block (boilerplate openings:
    every real corpus has a "copyright (c) ..." pile) by dropping
    oversized blocks outright — the honest-truncation contract
    ngram_jaccard's df-cap uses. The O(len_a·len_b) distance kernel
    runs ONLY on surviving candidates, JVM-side (`F.levenshtein`,
    codegen) — no Python.

    The relative threshold compares in INTEGER space
    (100·dist ≤ pct·max_len) so the cut is bit-exact on any engine.
    NOTE: Spark's levenshtein counts character edits, DuckDB's counts
    byte edits — identical on ASCII corpora (the oracle's domain).
    """
    from chesscom_etl_tableau_spark.operators.text import word_tokens

    keyed = docs.select(
        F.col(id_col),
        F.col(text_col),
        F.array_join(
            F.slice(word_tokens(F.col(text_col)), 1, prefix_tokens), " "
        ).alias("__blk"),
    ).where(F.col("__blk") != "")
    sizes = keyed.groupBy("__blk").agg(F.count(F.lit(1)).alias("__bn"))
    ok = sizes.where(F.col("__bn") <= max_block).select("__blk")
    a = keyed.select(
        "__blk", F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a")
    )
    b = keyed.select(
        "__blk", F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b")
    )
    max_len = F.greatest(F.length("text_a"), F.length("text_b"))
    # length pre-filter: each edit changes length by at most 1, so
    # 100·|len_a-len_b| > pct·max(len) can never pass. The kernel is
    # GUARDED inside when(): as a bare conjunct the optimizer is free
    # to reorder it before the cheap id/length predicates and run the
    # O(len²) kernel on every raw in-block pair (measured 3.5x). The
    # banded 3-arg levenshtein caps work at O(threshold·len); it
    # returns -1 above the threshold and the EXACT distance within it
    # (d ≤ floor(pct·L/100) ⟺ 100·d ≤ pct·L for integer d, so the
    # surviving set and reported distances equal the full kernel's —
    # the 2-arg DuckDB oracle replays the same result).
    cheap = (F.col("id_a") < F.col("id_b")) & (
        F.abs(F.length("text_a") - F.length("text_b")) * 100
        <= max_len * rel_dist_pct
    )
    banded = F.expr(
        "levenshtein(text_a, text_b, cast("
        f"greatest(length(text_a), length(text_b)) * {rel_dist_pct} div 100"
        " as int))"
    )
    return (
        a.join(ok, "__blk", "semi")
        .join(b, "__blk")
        .withColumn("edit_dist", F.when(cheap, banded))
        .where(F.col("edit_dist") >= 0)
        .select(
            "id_a",
            "id_b",
            "edit_dist",
            max_len.alias("max_len"),
        )
    )


def remove_boilerplate_spans(
    docs: DataFrame,
    k: int = 4,
    min_docs: int = 2,
    df_frac: float = 0.05,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-source template/boilerplate REMOVAL — the cleaning twin of
    `duplicated_spans` (which only measures): a span (consecutive
    non-overlapping k-token block, same unit) is boilerplate within
    its group when it appears in >= max(min_docs, ceil(df_frac *
    group_doc_count)) DISTINCT documents of that group — headers,
    footers, nav chrome, license blocks shared across a site. Every
    instance of a boilerplate span is dropped; the cleaned text is the
    remaining blocks in original order plus the trailing partial block
    (token-normalized, the unit the span definition lives in).

    Output: (doc_id, group, n_spans, n_boiler, clean_text).

    Scale shape: block explode is linear in corpus tokens; the df
    count is one hash agg on (group, span) with map-side combine; the
    group-size table is |groups| rows (broadcast); the boilerplate set
    joins back by (group, span) equi-key. The viral-span hazard (one
    footer in millions of docs) lands on a single (group, span) agg
    key — AQE skew handling, never a pair join. Reassembly is a
    per-doc collect_list over the doc's OWN blocks: bounded by
    document length, the same per-doc bound chunking relies on.
    The trailing-partial string shuffles ONCE, in a doc_id-keyed
    one-row-per-doc frame joined back after the block aggregation —
    never duplicated across a document's exploded block rows (r11
    advice: carrying it through the explode multiplied the tail bytes
    by blocks-per-doc in the groupBy exchange).
    """
    toksed = docs.select(
        F.col(id_col),
        F.col(group_col),
        word_tokens(F.col(text_col)).alias("__toks"),
    )
    spans_arr = _token_block_expr(k)
    tail = F.expr(
        f"array_join(slice(__toks, (size(__toks) div {k}) * {k} + 1,"
        f" size(__toks) - (size(__toks) div {k}) * {k}), ' ')"
    )
    base = ensure_parallelism(toksed).select(
        id_col, group_col, spans_arr.alias("__spans"), tail.alias("__tail")
    )
    tails = base.select(id_col, "__tail")
    blocks = base.select(
        id_col,
        group_col,
        F.posexplode_outer("__spans").alias("__pos", "__span"),
    )
    gsize = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n_docs"))
    df_tbl = (
        blocks.where(F.col("__span").isNotNull())
        .select(id_col, group_col, "__span")
        .distinct()
        .groupBy(group_col, "__span")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    boiler = (
        df_tbl.join(F.broadcast(gsize), group_col)
        .where(
            F.col("__df")
            >= F.greatest(
                F.lit(min_docs), F.ceil(F.lit(df_frac) * F.col("__n_docs"))
            )
        )
        .select(group_col, "__span", F.lit(True).alias("__is_boiler"))
    )
    flagged = blocks.join(boiler, [group_col, "__span"], "left")
    per_doc = flagged.groupBy(id_col, group_col).agg(
        F.count("__span").alias("n_spans"),
        F.sum(F.when(F.col("__is_boiler"), 1).otherwise(0)).alias("n_boiler"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__is_boiler").isNull() & F.col("__span").isNotNull(),
                            F.struct(F.col("__pos"), F.col("__span")),
                        )
                    )
                ),
                lambda s: s["__span"],
            ),
            " ",
        ).alias("__body"),
    )
    return per_doc.join(tails, id_col).select(
        id_col,
        F.col(group_col),
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("n_boiler").cast("long").alias("n_boiler"),
        F.concat_ws(
            " ", F.nullif(F.col("__body"), F.lit("")), F.nullif(F.col("__tail"), F.lit(""))
        ).alias("clean_text"),
    )


def _dup_window_islands(
    docs: DataFrame, k: int, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared kernel of the duplicated-substring family (measure =
    `duplicated_substring_coverage`, apply = the `_remove` twin — one
    source so they cannot drift, the same contract the VAD twins use):
    tokenize, slide a k-token window over EVERY position, mark a window
    duplicated when its token string appears in >= 2 distinct docs,
    and merge each doc's duplicated [i, i+k-1] position intervals into
    disjoint islands with one per-doc gaps-and-islands pass.

    Returns (toksed, islands): `toksed` = (id, __toks) one row per doc;
    `islands` = (id, __s, __e) one row per island, 1-based inclusive
    token bounds, disjoint within a doc by construction (consecutive
    hits <= k-1 apart merge; a new island starts only at a gap >= k, so
    the previous island's coverage end __i_prev + k - 1 lies strictly
    before the next island's start).

    Scale shape: the window explode is k-dense but LINEAR in corpus
    tokens; the df count is one hash agg on the window string with
    map-side combine; the rejoin is an equi-join on that key; the
    interval merge is a window partitioned BY DOCUMENT (bounded by
    document length, never global). The viral window (boilerplate in
    millions of docs) is one agg key and one skewed-join key — AQE
    territory, never a pair join.
    """
    toksed = docs.select(
        F.col(id_col), word_tokens(F.col(text_col)).alias("__toks")
    )
    # one window per start position 1 .. n-k+1 (1-based), guarded like
    # _token_block_expr: sequence(1, n-k+1) is invalid when n < k
    windows_arr = F.expr(
        f"if(size(__toks) >= {k}, transform(sequence(1, size(__toks) - {k} + 1),"
        f" i -> array_join(slice(__toks, i, {k}), ' ')), array())"
    )
    base = ensure_parallelism(toksed).select(
        id_col,
        F.posexplode_outer(windows_arr).alias("__i0", "__w"),
    )
    dup = (
        base.where(F.col("__w").isNotNull())
        .select(id_col, "__w")
        .distinct()
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") >= 2)
        .select("__w")
    )
    hits = base.join(dup, "__w").select(
        id_col, (F.col("__i0") + 1).alias("__i")  # 1-based start
    )
    w_doc = Window.partitionBy(id_col).orderBy("__i")
    islands = (
        hits.withColumn(
            "__new",
            F.when(
                F.col("__i") > F.lag("__i").over(w_doc) + F.lit(k - 1), 1
            ).otherwise(F.when(F.lag("__i").over(w_doc).isNull(), 1).otherwise(0)),
        )
        .withColumn(
            "__isl",
            F.sum("__new").over(
                w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy(id_col, "__isl")
        .agg(
            F.min("__i").alias("__s"),
            (F.max("__i") + F.lit(k - 1)).alias("__e"),
        )
        .select(id_col, "__s", "__e")
    )
    return toksed, islands


def duplicated_substring_coverage(
    docs: DataFrame, k: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """OVERLAPPING duplicated-substring coverage — the suffix-array-
    style dedup measure (Lee et al., "Deduplicating Training Data
    Makes Language Models Better"): a k-token window starting at EVERY
    position (not `duplicated_spans`' non-overlapping blocks, which
    miss any duplicate that straddles a block boundary or sits at a
    different offset in each document). A window is duplicated when
    its token string appears in >= 2 distinct documents; a document's
    duplicated-token coverage is the size of the UNION of all its
    duplicated windows' [i, i+k-1] position intervals, computed with
    one per-doc gaps-and-islands pass (equal-length sorted intervals
    merge when the next start is within k-1 of the previous).

    Output: (doc_id, n_tokens, dup_tokens, n_islands, dup_fraction).

    Scale shape: the window explode is k-dense but LINEAR in corpus
    tokens (one row per position); the df count is a single hash agg
    on the window string with map-side combine; the rejoin is an
    equi-join on that key; the interval merge is a window partitioned
    BY DOCUMENT (bounded by document length, never global). The viral
    window (boilerplate shared by millions of docs) is one agg key and
    one skewed-join key — AQE territory, never a pair join.
    """
    toksed, isl = _dup_window_islands(docs, k, text_col, id_col)
    islands = isl.groupBy(id_col).agg(
        F.sum(F.col("__e") - F.col("__s") + 1).alias("__dup_tokens"),
        F.count(F.lit(1)).alias("__n_islands"),
    )
    # per-doc frame comes straight from the tokenized base (one row per
    # doc already), NOT a groupBy over the k-dense posexploded frame —
    # that re-aggregation was an extra full pass over the largest
    # intermediate just to rebuild a frame available upstream (r11
    # advice).
    per_doc = toksed.select(id_col, F.size("__toks").alias("__n_tokens"))
    return per_doc.join(islands, id_col, "left").select(
        id_col,
        F.col("__n_tokens").cast("long").alias("n_tokens"),
        F.coalesce(F.col("__dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
        F.coalesce(F.col("__n_islands"), F.lit(0)).cast("long").alias("n_islands"),
        F.coalesce(
            F.floor(
                F.try_divide(F.col("__dup_tokens"), F.col("__n_tokens"))
                * 1000000.0
                + 0.5
            )
            / 1000000.0,
            F.lit(0.0),
        ).alias("dup_fraction"),
    )


def remove_duplicated_substrings(
    docs: DataFrame, k: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Duplicated-substring REMOVAL — the apply twin of
    `duplicated_substring_coverage` (ExactSubstr-remove of the Lee et
    al. dedup pipeline, whose measure side landed in r11): rewrite each
    document with every duplicated k-token interval cut out. The union
    of a doc's duplicated [i, i+k-1] windows (merged into disjoint
    islands by the shared `_dup_window_islands` kernel, so the twins
    cannot drift) is complemented against the doc's position range and
    the surviving tokens are reassembled in original order.

    Output: (doc_id, n_tokens, kept_tokens, clean_text) where
    kept_tokens = n_tokens - coverage's dup_tokens by construction and
    clean_text is token-normalized (the unit the window definition
    lives in), '' when the whole document is duplicated or empty.

    One-pass semantics (as in Lee et al.): removal can in principle
    mint NEW duplicates from text rejoined across a cut; callers
    wanting a fixpoint iterate measure->apply until coverage is 0
    (property tests pin coverage==0 / idempotence on fixtures where no
    cross-cut window collides).

    Scale shape: everything up to the islands frame is the shared
    kernel (linear explode, one df hash agg, per-doc bounded window);
    the apply side adds one per-doc collect_list of interval structs
    (bounded by document length — the same per-doc bound chunking and
    boilerplate reassembly rely on) and a JVM-side HOF complement
    (sequence/flatten/array_except/element_at — zero Python, zero
    extra shuffles beyond the islands agg).
    """
    toksed, isl = _dup_window_islands(docs, k, text_col, id_col)
    iv = isl.groupBy(id_col).agg(
        F.collect_list(F.struct(F.col("__s"), F.col("__e"))).alias("__iv")
    )
    n = F.size("__toks")
    # islands are disjoint within a doc, so the flattened position
    # arrays never overlap; array_except keeps the first array's order
    # (ascending positions) and positions are distinct by construction
    covered = F.coalesce(
        F.flatten(
            F.transform(F.col("__iv"), lambda s: F.sequence(s["__s"], s["__e"]))
        ),
        F.array().cast("array<int>"),
    )
    # sequence(1, 0) would generate a DESCENDING [1, 0] — guard n == 0
    positions = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    kept = F.array_except(positions, covered)
    return toksed.join(iv, id_col, "left").select(
        id_col,
        n.cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("kept_tokens"),
        F.array_join(
            F.transform(kept, lambda p: F.element_at(F.col("__toks"), p)), " "
        ).alias("clean_text"),
    )


def exact_jaccard_batch_pairs(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    batch_shingles: DataFrame | None = None,
    corpus_shingles: DataFrame | None = None,
) -> DataFrame:
    """EXACT k-shingle Jaccard pairs of a batch against a corpus via the
    inverted shingle join — deterministic (engine-replayable) unlike the
    LSH candidate route, and the verification half of every incremental
    near-dup surface: (batch_id, corpus_id, jaccard) with round-6
    jaccard >= threshold. Pairs with batch_id == corpus_id are excluded
    — a replayed micro-batch whose docs already landed in the corpus
    must not match ITSELF (the foreachBatch replay fence
    streaming/corpus_ingest.py relies on).

    Scale: one inverted join on the shingle key (df-style skew belongs
    to the caller's corpus curation; the batch side is one micro-batch)
    + two bounded size aggs; never an all-pairs product."""
    # `batch_shingles` / `corpus_shingles` (optimization r15): callers
    # that evaluate several pair sets over the same frame (the corpus-
    # ingest micro-batch computes within-batch AND batch-vs-corpus
    # drops) pass ONE pinned (doc, shingle) frame instead of paying the
    # shingling stage once per side per call. Must be exactly
    # `_doc_shingles(frame, text_col, id_col, k)` of the same frame.
    bsh = (
        batch_shingles
        if batch_shingles is not None
        else _doc_shingles(batch, text_col, id_col, k)
    )
    csh = (
        corpus_shingles
        if corpus_shingles is not None
        else _doc_shingles(corpus, text_col, id_col, k)
    )
    return (
        _overlap(
            bsh, csh, "batch_id", "corpus_id", where=F.col("batch_id") != F.col("corpus_id")
        )
        .withColumn("jaccard", _jaccard())
        .where(F.col("jaccard") >= threshold)
        .select("batch_id", "corpus_id", "jaccard")
    )


def exact_jaccard_tagged_pairs(
    batch_shingles: DataFrame,
    other_shingles: DataFrame,
    threshold: float = 0.5,
    tag_col: str = "__c",
) -> DataFrame:
    """Tagged-union twin of `exact_jaccard_batch_pairs`: ONE inverted-
    shingle join producing SEVERAL pair sets over the same batch side.

    `batch_shingles` is `_doc_shingles(batch, ...)`; `other_shingles`
    is a union of (doc, shingle) frames each stamped with a constant
    `tag_col` value identifying its pair set (the corpus-ingest
    micro-batch unions its own shingles tagged False with the pre-batch
    corpus' tagged True). Per-(pair, tag) jaccard math — shingle sets
    per doc, intersection counts, the round-6 division, the threshold —
    is identical to one `exact_jaccard_batch_pairs` call per tag; only
    the join is shared (optimization r15, folded back behind the dedup
    hooks in r16 per advice: the inlined copy in corpus_ingest was a
    silent-divergence risk).

    Output: (batch_id, corpus_id, jaccard, tag_col), self-pairs
    excluded exactly as in `exact_jaccard_batch_pairs`."""
    return (
        _overlap(
            batch_shingles,
            other_shingles,
            "batch_id",
            "corpus_id",
            where=F.col("batch_id") != F.col("corpus_id"),
            keys=(tag_col,),
        )
        .withColumn("jaccard", _jaccard())
        .where(F.col("jaccard") >= threshold)
        .select("batch_id", "corpus_id", "jaccard", tag_col)
    )


def remove_duplicated_substrings_fixpoint(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_rounds: int = 3,
) -> DataFrame:
    """Bounded-round FIXPOINT of duplicated-substring removal — closes
    the gap `remove_duplicated_substrings` documents: a single pass can
    MINT new duplicates when text rejoined across a cut happens to match
    a window elsewhere in the corpus ("a b [p q r] c d" rejoining to
    "a b c d" which another document already contains). This operator
    iterates measure->apply until a round removes nothing or the round
    cap is hit, then measures the RESIDUAL coverage of the final text so
    callers (and the oracle) can see exactly how converged the corpus is.

    Output: (doc_id, n_tokens, kept_tokens, residual_dup_tokens,
    clean_text) — n_tokens is the ORIGINAL token count, kept_tokens the
    final one, residual_dup_tokens the duplicated-token coverage still
    present after the last round (0 iff the fixpoint was reached).

    Round semantics make a capped loop oracle-equivalent to a fixed
    expansion: a round applied to converged text is the identity, so
    `max_rounds` applications in a re-player (the DuckDB oracle macro-
    expands exactly `max_rounds` rounds) equal this loop whether it
    early-exits or runs the cap.

    Scale shape: each round is the one-pass kernel (linear window
    explode, one df hash agg, per-doc bounded interval window) over
    text that only SHRINKS round-over-round; rounds are separated by
    eager localCheckpoint (the kcore discipline) so lineage stays one
    round deep and the convergence probe is a cheap count on
    materialized partitions, not a recompute. Empirically corpora
    converge in 1-2 effective rounds — the cap is a guard, not a tune.
    """
    orig = docs.select(
        id_col, F.size(word_tokens(F.col(text_col))).cast("long").alias("n_tokens")
    )
    cur = docs.select(id_col, F.col(text_col).cast("string").alias(text_col))
    for _ in range(max_rounds):
        cleaned = remove_duplicated_substrings(
            cur, k, text_col, id_col
        ).localCheckpoint()
        removed = (
            cleaned.where(F.col("kept_tokens") < F.col("n_tokens")).limit(1).count()
        )
        cur = cleaned.select(id_col, F.col("clean_text").alias(text_col))
        if removed == 0:
            break
    residual = duplicated_substring_coverage(cur, k, text_col, id_col).select(
        id_col,
        F.col("dup_tokens").alias("residual_dup_tokens"),
        F.col("n_tokens").alias("kept_tokens"),
    )
    final = cur.join(residual, id_col)
    return orig.join(final, id_col).select(
        id_col,
        "n_tokens",
        F.col("kept_tokens").cast("long").alias("kept_tokens"),
        F.col("residual_dup_tokens").cast("long").alias("residual_dup_tokens"),
        F.col(text_col).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Persisted banded LSH index (the text-side twin of similarity.ivf_persist)
# ---------------------------------------------------------------------------
def _pb(key_buckets: int) -> "F.Column":
    """Partition key of a band row: band_id * key_buckets +
    pmod(band_key, key_buckets) — one flat integer so the probe's
    `pb IN (...)` lands in PartitionFilters as a single-column prune."""
    return (
        F.col("band_id") * F.lit(key_buckets)
        + F.pmod(F.col("band_key"), F.lit(key_buckets))
    ).cast("int")


def lsh_index_persist(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    key_buckets: int = 64,
) -> None:
    """Materialize the banded MinHash index on disk: one (doc, band_id,
    band_key) row per band per doc, partitioned by pb = band_id *
    key_buckets + pmod(band_key, key_buckets).

    Unlike IVF (where a probe needs nprobe of nlist buckets), a band
    join needs ALL bands — so band_id alone prunes nothing. The key
    residue does: a batch only collides inside the (band, key-bucket)
    partitions its own band keys hash into, so a small batch probes
    |batch|*bands partitions at most (and never more than
    bands*key_buckets). The corpus text itself is NOT in the index —
    signatures are order-statistics over xxhash64, so the index stores
    only ids and band hashes; exact-Jaccard verification re-shingles
    candidate docs only (the incremental_near_dup_pairs contract)."""
    from chesscom_etl_tableau_spark.util import cluster_for_partitioned_write

    # Cluster by pb with explicit parallelism before the 256-directory
    # write (optimization r15, guide §6): one file per directory AND
    # parallel writers — the unclustered write serialized all ~bands x
    # key_buckets parquet file creations behind one task (measured
    # 10.6s -> ~3s for the sf0.1 corpus persist).
    cluster_for_partitioned_write(
        lsh_band_rows(corpus, text_col, id_col, k, num_hashes, bands, key_buckets),
        "pb",
    ).write.mode("overwrite").partitionBy("pb").parquet(path)


def lsh_band_rows(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    key_buckets: int = 64,
) -> DataFrame:
    """The banded-index row form shared by every persisted-LSH surface:
    (doc, band_id, band_key, pb) — one row per band per doc, pb the
    (band x key-bucket) partition key. Exposed so generation-logged
    maintenance (`operators/index_log.py`) can append the same rows
    through its manifest commit instead of the raw hive append."""
    sig = minhash_signatures(docs, text_col, id_col, k, num_hashes)
    return _banded(sig, bands).withColumn("pb", _pb(key_buckets))


def lsh_index_append(
    spark,
    index_path: str,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    key_buckets: int = 64,
) -> DataFrame:
    """Append a batch's band rows into the persisted LSH index — the
    text twin of `similarity.ivf_append`: signatures are a pure
    function of the text (no trained state at all), so the appended
    index is row-identical to a rebuild, only the touched pb
    partitions receive NEW files, and append cost is O(|batch| *
    bands) regardless of index size.

    Returns the per-partition occupancy delta (pb, n_appended) — the
    banding-health signal: a partition absorbing a disproportionate
    share of appends is a hot band key (boilerplate-heavy batch), the
    precursor of candidate-pair blowup, and the cue to re-shingle with
    a larger k or drop the offending high-df shingles upstream."""
    from chesscom_etl_tableau_spark.util import cluster_for_partitioned_write

    sig = minhash_signatures(batch, text_col, id_col, k, num_hashes)
    # pb-clustered with explicit parallelism (optimization r15, guide
    # §6): parallel writers over the touched directories instead of one
    # task serializing every per-directory file creation — measured
    # 3.5s -> 0.6s per sf0.1 append. The checkpoint pins the clustered
    # layout so the write and the returned stats share one compute.
    banded = cluster_for_partitioned_write(
        _banded(sig, bands).withColumn("pb", _pb(key_buckets)), "pb"
    ).localCheckpoint()
    return lsh_index_append_rows(banded, index_path)


def lsh_index_append_rows(banded: DataFrame, index_path: str) -> DataFrame:
    """Append PRE-COMPUTED, pinned band rows (doc, band_id, band_key,
    pb — `lsh_band_rows` shape, pb-clustered) into the persisted index.
    Split out of `lsh_index_append` (optimization r15) so the corpus-
    ingest micro-batch can compute band rows once and share them
    between the candidate probe and this append."""
    banded.select("doc", "band_id", "band_key", "pb").write.mode(
        "append"
    ).partitionBy("pb").parquet(index_path)
    return banded.groupBy("pb").agg(F.count(F.lit(1)).alias("n_appended"))


def lsh_candidates_persisted(
    spark,
    index_path: str,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    key_buckets: int = 64,
    scan=None,
    band_rows: DataFrame | None = None,
) -> DataFrame:
    """Batch-vs-index candidate pairs from the persisted LSH index with
    partition pruning: the batch's band rows are computed once (pinned),
    the DISTINCT pb set they touch is collected driver-side (bounded by
    min(|batch| * bands, bands * key_buckets) — a scalar read, the
    ivf_topk_persisted probe pattern), and the index scan carries
    `pb IN (...)` so only touched partitions are read. Candidates are
    (batch_id, index_id) distinct band collisions; callers verify with
    exact Jaccard over candidate docs only."""
    if band_rows is not None:
        # pre-pinned (doc, band_id, band_key, pb) rows of the batch
        # (optimization r15): the corpus-ingest micro-batch computes
        # them ONCE and shares probe + index append — the probe
        # otherwise re-ran the whole MinHash/banding stage.
        bb = band_rows.select(
            F.col("doc").alias("batch_id"), "band_id", "band_key", "pb"
        )
    else:
        sig = minhash_signatures(batch, text_col, id_col, k, num_hashes)
        bb = (
            _banded(sig, bands)
            .withColumn("pb", _pb(key_buckets))
            .select(F.col("doc").alias("batch_id"), "band_id", "band_key", "pb")
            .localCheckpoint()
        )
    needed = sorted(r["pb"] for r in bb.select("pb").distinct().collect())
    if not needed:  # empty batch: isin([]) would build a full (pointless) plan
        return bb.select(
            "batch_id", F.col("batch_id").alias("index_id")
        ).limit(0)
    # `scan(needed_pbs) -> DataFrame` overrides how the touched
    # partitions reach the plan — directory pruning by default,
    # manifest-side file selection for a pinned generation
    # (`index_log.lsh_candidates_generation`).
    idx = (
        scan(needed)
        if scan is not None
        else spark.read.parquet(index_path).where(F.col("pb").isin(needed))
    )
    return (
        bb.join(idx, ["band_id", "band_key"])
        .where(F.col("batch_id") != F.col("doc"))
        .select("batch_id", F.col("doc").alias("index_id"))
        .distinct()
    )
