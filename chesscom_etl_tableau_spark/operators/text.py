"""Text analysis operators for the documents table (BASELINE.json north star).

All pure Catalyst expressions (regexp + higher-order array functions) —
no Python UDFs — so they scale linearly with scan throughput and fuse
into a single codegen stage per document batch.

Operators:
  - tokenization + token counting (whitespace + word-regex variants)
  - quality scoring (length / punctuation / stopword ratios)
  - language ID (stopword-marker n-gram heuristic, argmax over langs)
  - document fingerprinting (normalized md5; the both-engine-stable
    stand-in for a rolling hash) and shingle generation for dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.util import ensure_parallelism

# Tiny per-language stopword marker sets for the heuristic language ID.
# Deterministic and intentionally small: language ID at 100 TB must stay
# JVM-side, and a marker-hit argmax is a single codegen stage.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "es"),
    "fr": ("le", "la", "et", "les", "est"),
    "de": ("der", "die", "und", "das", "ist"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),  # pinyin-ish placeholders
}

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def tokens(text: Column) -> Column:
    """Whitespace tokens (empty array for NULL/empty text)."""
    return F.coalesce(F.regexp_extract_all(text, F.lit(r"(\S+)"), F.lit(1)), F.array())


def word_tokens(text: Column) -> Column:
    """Lowercased alphanumeric word tokens (BPE-ish regex tokenizer)."""
    return F.coalesce(F.regexp_extract_all(F.lower(text), F.lit(r"([a-z0-9]+)"), F.lit(1)), F.array())


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


# GPT-2-style pre-tokenizer pattern, restricted to constructs Java regex
# and RE2 (DuckDB) interpret identically: contraction suffixes, letter
# runs, digit runs, punctuation runs, each with an optional leading space.
BPE_PATTERN = r"('(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+)"


def bpe_tokens(text: Column) -> Column:
    """BPE-ish pre-tokenization (the unit LLM token budgets count)."""
    return F.coalesce(F.regexp_extract_all(text, F.lit(BPE_PATTERN), F.lit(1)), F.array())


def bpe_token_count(text: Column) -> Column:
    return F.size(bpe_tokens(text))


def punct_count(text: Column) -> Column:
    return F.size(F.coalesce(F.regexp_extract_all(text, F.lit(r"([!-/:-@\[-`{-~])"), F.lit(1)), F.array()))


def quality_metrics(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality features + a composite [0,1] quality score.

    Word tokens are bound as a column in a first projection: they feed
    three downstream expressions, and Catalyst has no CSE inside
    higher-order-function lambdas (see `shingles_from_tokens`).
    """
    t = F.col(text_col)
    bound = docs.select(
        "*",
        word_tokens(t).alias("__wtoks"),
    )
    wt = F.col("__wtoks")
    n_tok = token_count(t)
    n_chars = F.length(F.coalesce(t, F.lit("")))
    n_punct = punct_count(t)
    n_stop = F.size(F.filter(wt, lambda tok: tok.isin(*STOPWORDS)))
    punct_ratio = F.round(F.coalesce(F.try_divide(F.lit(1.0) * n_punct, n_chars), F.lit(0.0)), 6)
    stop_ratio = F.round(F.coalesce(F.try_divide(F.lit(1.0) * n_stop, n_tok), F.lit(0.0)), 6)
    mean_tok_len = F.round(
        F.coalesce(F.try_divide(F.aggregate(wt, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)) * F.lit(1.0), n_tok), F.lit(0.0)),
        6,
    )
    # Composite score: reward length (saturating at 200 tokens) and
    # stopword presence, penalize punctuation soup.
    score_raw = (
        F.least(F.lit(1.0), n_tok / F.lit(200.0)) * F.lit(0.5)
        + F.least(F.lit(1.0), stop_ratio * F.lit(5.0)) * F.lit(0.3)
        + (F.lit(1.0) - F.least(F.lit(1.0), punct_ratio * F.lit(10.0))) * F.lit(0.2)
    )
    # Explicit floor-based half-up rounding: the rounded 6-decimal inputs
    # make exact .xxxxxx5 midpoints common, where engines' native round()
    # implementations disagree; floor(x*1e6+0.5)/1e6 is the same fp op
    # sequence in any engine, so oracles match bit-for-bit.
    score = (F.floor(score_raw * F.lit(1000000.0) + F.lit(0.5)).cast("double")) / F.lit(1000000.0)
    return bound.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stopwords"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        mean_tok_len.alias("mean_token_len"),
        score.alias("quality_score"),
    )


def lang_scores(toks: Column) -> dict[str, Column]:
    """Marker-hit count per language over a bound token-array column.

    Pass a bound column, not an inline tokenizer expression — the token
    array feeds one filter per language (no CSE inside HOF lambdas).
    """

    def marker_hits(markers: tuple[str, ...]) -> Column:
        # NB: the lambda must be unary — Spark derives the number of
        # higher-order-function variables from the Python signature.
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    return {lang: marker_hits(markers) for lang, markers in LANG_MARKERS.items()}


def lang_id_from_tokens(toks: Column) -> Column:
    """Argmax language by marker hits; deterministic tie-break by lang
    code ascending; 'und' (undetermined) when no marker hits at all."""
    scores = lang_scores(toks)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    # Iterate langs in sorted order; strict > keeps the earliest
    # (lexicographically smallest) language on ties.
    for lang in sorted(scores):
        s = scores[lang]
        take = s > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, s).otherwise(best_score)
    return best_lang


def lang_id(text: Column) -> Column:
    """`lang_id_from_tokens` over an inline tokenizer — convenience for
    one-off use; hot paths should bind the token column first."""
    return lang_id_from_tokens(word_tokens(text))


def normalized_fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 over lowercased alphanumeric-collapsed text.

    Robust to whitespace/punctuation-only edits — the exact-dedup key.
    """
    normalized = F.regexp_replace(F.lower(F.coalesce(text, F.lit(""))), r"[^a-z0-9]+", " ")
    return F.md5(F.trim(normalized))


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Distinct k-token shingles (space-joined) from a token array.

    Token arrays shorter than k produce a single shingle of the whole
    text so they still participate in similarity joins.

    `toks` should be a *bound column*, not a nested expression: Catalyst
    does not eliminate common subexpressions inside higher-order-function
    lambdas, so an inline tokenizer expression would be re-evaluated for
    every shingle position (measured 2x slowdown).
    """
    n = F.size(toks)
    k_shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    return F.when(n > 0, F.array_distinct(k_shingles)).otherwise(F.array())


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-token shingles over word tokens (see
    `shingles_from_tokens` for the hot-path variant)."""
    return shingles_from_tokens(word_tokens(text), k)


# Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03): the rolling-hash
# document fingerprint. Engine-portable polynomial hash — plain bigint
# arithmetic over ascii codes — so a DuckDB oracle can reproduce the
# exact fingerprint values (md5/xxhash64 differ across engines;
# (h*B + code) % M does not).
WINNOW_BASE = 31
WINNOW_MOD = 1_000_000_007


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowed fingerprint set per document: (id, fingerprint) rows.

    1. normalize (lowercase, collapse non-alphanumerics to single
       spaces) — same canonicalization as `normalized_fingerprint`,
       kept as JVM expressions so cross-engine string semantics are
       untouched;
    2. polynomial rolling hash of every char k-gram;
    3. keep the min hash of every window of `w` consecutive k-gram
       hashes (guarantees any match of length >= k+w-1 shares a
       fingerprint), distinct per document.

    Steps 2-3 run as vectorized numpy inside one `mapInPandas` stage
    (optimization r15, guide §4.2): the Catalyst HOF lambdas of the
    previous implementation (`winnow_fingerprints_expr`, kept below as
    the equivalence anchor) are interpreted per element — the rolling
    hash alone touched every char k times through an interpreted
    `aggregate` — where numpy does the same exact int64-mod arithmetic
    in k vector ops per document (measured 3.5s -> ~0.4s at sf0.1,
    identical rows). Post-normalization text is pure [a-z0-9 ] ASCII,
    so byte codes == `ascii()` codes and the math is engine-exact.
    No shuffle; scan-local either way.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    from chesscom_etl_tableau_spark.util import ensure_parallelism

    t = F.col(text_col)
    norm = F.trim(
        F.regexp_replace(F.lower(F.coalesce(t, F.lit(""))), r"[^a-z0-9]+", " ")
    )
    # Spread the scan before the CPU-heavy hashing (guide §2.6): a
    # single small parquet file arrives as ONE split and the whole
    # stage would run on one core; no-op when the scan has splits.
    bound = ensure_parallelism(docs).select(F.col(id_col), norm.alias("__s")).where(
        F.length("__s") >= k
    )
    id_field = bound.schema[id_col]
    out_schema = StructType(
        [id_field, StructField("fingerprint", LongType(), True)]
    )
    base, mod = WINNOW_BASE, WINNOW_MOD

    def batches(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids: list = []
            fps: list = []
            for doc, s in zip(pdf[id_col], pdf["__s"]):
                c = np.frombuffer(s.encode("ascii"), dtype=np.uint8).astype(
                    np.int64
                )
                n = c.size
                m = n - k + 1  # >= 1: the Spark-side filter guarantees n >= k
                h = np.zeros(m, dtype=np.int64)
                for j in range(k):
                    h = (h * base + c[j : j + m]) % mod
                if m >= w:
                    sel = h[: m - w + 1].copy()
                    for j in range(1, w):
                        np.minimum(sel, h[j : j + m - w + 1], out=sel)
                else:
                    sel = h.min(keepdims=True)
                u = np.unique(sel)
                ids.extend([doc] * u.size)
                fps.append(u)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                    "fingerprint": (
                        np.concatenate(fps)
                        if fps
                        else np.array([], dtype=np.int64)
                    ),
                }
            )

    return bound.mapInPandas(batches, out_schema)


def winnow_fingerprints_expr(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The pre-r15 all-Catalyst-HOF winnowing implementation — kept as
    the equivalence anchor for `winnow_fingerprints` (a pytest asserts
    both produce the identical multiset) and as the no-Python fallback.
    """
    t = F.col(text_col)
    norm = F.trim(
        F.regexp_replace(F.lower(F.coalesce(t, F.lit(""))), r"[^a-z0-9]+", " ")
    )
    bound = docs.select(F.col(id_col), norm.alias("__s")).where(
        F.length("__s") >= k
    )
    # Bind the char-code ARRAY before hashing: `substring(s, i, 1)` on a
    # UTF8 string is O(i) (codepoint scan from the start), which makes
    # per-doc hashing O(len²·k) — measured 5x slower at sf0.1.
    # split-to-chars + ascii is computed once, and `element_at` on the
    # bound array is O(1).
    # NB the sequence bound below MUST read size(__codes), not a
    # separately-bound length: CollapseProject inlines a bound alias
    # that is referenced exactly once, and an inlined transform(split)
    # re-evaluates per lambda element (measured 50x). Two references
    # keep the binding real.
    codes_bound = bound.select(
        F.col(id_col),
        F.transform(F.split("__s", ""), lambda ch: F.ascii(ch).cast("bigint")).alias(
            "__codes"
        ),
    )
    codes = F.col("__codes")
    gram_hash = lambda i: F.aggregate(  # noqa: E731
        F.sequence(F.lit(0), F.lit(k - 1)),
        F.lit(0).cast("bigint"),
        lambda h, j: (h * F.lit(WINNOW_BASE) + F.element_at(codes, (i + j).cast("int")))
        % F.lit(WINNOW_MOD),
    )
    hashed = codes_bound.select(
        F.col(id_col),
        F.transform(
            F.sequence(F.lit(1), F.size(codes) - F.lit(k - 1)), gram_hash
        ).alias("__h"),
    )
    h = F.col("__h")
    nh = F.size(h)
    windowed = F.transform(
        F.sequence(F.lit(1), nh - F.lit(w - 1)),
        lambda si: F.array_min(F.slice(h, si, w)),
    )
    selected = F.when(nh >= w, windowed).otherwise(F.array(F.array_min(h)))
    return hashed.select(
        F.col(id_col), F.explode(F.array_distinct(selected)).alias("fingerprint")
    )


def repetition_score(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Intra-document repetition: fraction of duplicate token k-grams
    (the MassiveText/Gopher repetitious-text quality rule).

    rep_ratio = 1 - distinct_kgrams / total_kgrams for docs with at
    least one full k-gram; 0.0 otherwise. HOF-only, no shuffle.
    """
    bound = docs.select(
        F.col(id_col), word_tokens(F.col(text_col)).alias("__t")
    )
    t = F.col("__t")
    n = F.size(t)
    total = F.greatest(n - F.lit(k - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(total, F.lit(1))),
        lambda i: F.array_join(F.slice(t, i, k), " "),
    )
    n_distinct = F.size(F.array_distinct(grams))
    ratio_raw = (total - n_distinct) / total
    ratio = (
        F.floor(ratio_raw * F.lit(1000000.0) + F.lit(0.5)).cast("double")
        / F.lit(1000000.0)
    )
    return bound.select(
        F.col(id_col),
        n.alias("n_tokens"),
        total.alias("n_kgrams"),
        F.when(total > 0, n_distinct).otherwise(F.lit(0)).alias("n_distinct_kgrams"),
        F.when(total > 0, ratio).otherwise(F.lit(0.0)).alias("rep_ratio"),
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """BM25 ranking of `docs` against a bag of query terms (Lucene's
    IDF form: ln(1 + (N - df + 0.5)/(df + 0.5))) — the retrieval
    primitive of corpus curation (find near-query training docs) and
    RAG indexing. Returns the top_k docs: (doc_id, score, n_hits).

    Scale shape: the ONLY per-occurrence work is the explode + an
    `array_contains`-style filter to query terms, so the shuffled data
    is |docs O query terms|, not the full posting list. Corpus stats
    (N, avgdl) are a 1-row aggregate broadcast via a cross join; df per
    query term is a |q|-row broadcast. No full-corpus inverted index is
    materialized — at 100 TB this is a scan + two tiny broadcasts + one
    groupBy(doc), and the final top-k is a TakeOrderedAndProject.

    Determinism: score is rounded half-up at 1e-6 (cross-engine: Spark
    and DuckDB round() disagree on midpoints) and ties break on doc_id.
    """
    # NOT spread with ensure_parallelism (optimization r15, measured):
    # the query is shuffle-bound (the tf aggregation), tokenization is
    # light, and an upfront round-robin exchange of the raw text costs
    # more than the single-split map side saves (0.35s -> 1.8s A/B'd).
    toks = docs.select(
        F.col(id_col).alias("doc_id"), word_tokens(F.col(text_col)).alias("__t")
    )
    lens = toks.select("doc_id", F.size("__t").alias("dl"), "__t")
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )

    terms = [t.lower() for t in query_terms]
    occ = lens.select(
        "doc_id", "dl", F.explode("__t").alias("term")
    ).where(F.col("term").isin(terms))
    tf = occ.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "partial",
            F.col("idf")
            * (F.col("tf") * (F.lit(k1) + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        (
            F.floor(F.sum("partial") * F.lit(1000000.0) + F.lit(0.5)).cast("double")
            / F.lit(1000000.0)
        ).alias("score"),
        F.count(F.lit(1)).alias("n_hits"),
    )
    return agg.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(top_k)


QUALITY_RULES = (
    "too_short",
    "too_long",
    "low_stopword",
    "high_punct",
    "repetitious",
    "lang_blocked",
)


def quality_filter(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    allowed_langs: tuple[str, ...] = ("en",),
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_stopword_ratio: float = 0.01,
    max_punct_ratio: float = 0.3,
    max_rep_ratio: float = 0.3,
    k: int = 3,
) -> DataFrame:
    """C4/Gopher-style document quality gate: every doc gets a keep
    verdict plus the semicolon-joined list of violated rules — the
    auditable form (a bare boolean can't tell you WHY the corpus
    shrank, which is the first question every data-quality review
    asks). Per-metric formulas are identical to `quality_metrics` /
    `repetition_score`, so the DuckDB oracle reuses those fragments.

    Scale: one scan-local projection chain — no joins, no shuffle, no
    Python; all HOFs run in codegen over bound token arrays.
    """
    t = F.col(text_col)
    bound = docs.select(
        F.col(id_col),
        F.col(lang_col).alias("lang"),
        t.alias("__text"),
        word_tokens(t).alias("__wt"),
    )
    txt = F.col("__text")
    wt = F.col("__wt")
    n_tok = token_count(txt)
    n_chars = F.length(F.coalesce(txt, F.lit("")))
    n_stop = F.size(F.filter(wt, lambda tok: tok.isin(*STOPWORDS)))
    punct_ratio = F.round(
        F.coalesce(F.try_divide(F.lit(1.0) * punct_count(txt), n_chars), F.lit(0.0)), 6
    )
    stop_ratio = F.round(
        F.coalesce(F.try_divide(F.lit(1.0) * n_stop, n_tok), F.lit(0.0)), 6
    )
    total = F.greatest(F.size(wt) - F.lit(k - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(total, F.lit(1))),
        lambda i: F.array_join(F.slice(wt, i, k), " "),
    )
    rep_raw = (total - F.size(F.array_distinct(grams))) / total
    rep_ratio = F.when(
        total > 0,
        F.floor(rep_raw * F.lit(1000000.0) + F.lit(0.5)).cast("double")
        / F.lit(1000000.0),
    ).otherwise(F.lit(0.0))
    score_raw = (
        F.least(F.lit(1.0), n_tok / F.lit(200.0)) * F.lit(0.5)
        + F.least(F.lit(1.0), stop_ratio * F.lit(5.0)) * F.lit(0.3)
        + (F.lit(1.0) - F.least(F.lit(1.0), punct_ratio * F.lit(10.0))) * F.lit(0.2)
    )
    score = (
        F.floor(score_raw * F.lit(1000000.0) + F.lit(0.5)).cast("double")
        / F.lit(1000000.0)
    )
    # metrics bound once; the rule expressions reference them >=2 times
    # so CollapseProject keeps the binding (NOTES.md lesson)
    m = bound.select(
        F.col(id_col),
        "lang",
        n_tok.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        rep_ratio.alias("rep_ratio"),
        score.alias("quality_score"),
    )
    seg = [
        F.when(F.col("n_tokens") < min_tokens, F.lit("too_short;")).otherwise(F.lit("")),
        F.when(F.col("n_tokens") > max_tokens, F.lit("too_long;")).otherwise(F.lit("")),
        F.when(F.col("stopword_ratio") < min_stopword_ratio, F.lit("low_stopword;")).otherwise(F.lit("")),
        F.when(F.col("punct_ratio") > max_punct_ratio, F.lit("high_punct;")).otherwise(F.lit("")),
        F.when(F.col("rep_ratio") > max_rep_ratio, F.lit("repetitious;")).otherwise(F.lit("")),
        F.when(~F.col("lang").isin(*allowed_langs), F.lit("lang_blocked;")).otherwise(F.lit("")),
    ]
    # TRIM(TRAILING..) syntax: Spark's two-arg rtrim is (trimStr, str)
    # while DuckDB's is (str, chars) — the standard form is unambiguous.
    reasons = F.expr(
        f"trim(TRAILING ';' FROM concat({', '.join(f'__r{i}' for i in range(len(seg)))}))"
    )
    with_segs = m.select("*", *[s.alias(f"__r{i}") for i, s in enumerate(seg)])
    return with_segs.select(
        F.col(id_col),
        "lang",
        "n_tokens",
        "punct_ratio",
        "stopword_ratio",
        "rep_ratio",
        "quality_score",
        reasons.alias("reasons"),
        (reasons == "").alias("keep"),
    )


def char_entropy(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Shannon entropy (bits/char) of each document's normalized
    character distribution — the classic gibberish/low-diversity signal
    a corpus quality gate adds next to `quality_metrics` (random bytes
    score high, single-char spam scores ~0, natural language sits in a
    narrow band).

    Computed distributed, never per-row-quadratic: explode chars ->
    (doc, char) counts -> per-doc aggregate using the identity
    H = log2(N) - (sum n_c*log2(n_c))/N over integer counts (numerically
    stable, and the integer counts make the oracle comparison exact up
    to the 6-decimal floor both engines apply). Two shuffles, both on
    (doc, char) / doc — linear in corpus bytes at any scale. Documents
    whose normalized text is empty produce no row (no distribution to
    measure), mirrored by the oracle's length filter.
    """
    t = F.col(text_col)
    norm = F.trim(
        F.regexp_replace(F.lower(F.coalesce(t, F.lit(""))), r"[^a-z0-9]+", " ")
    )
    chars = (
        ensure_parallelism(docs)
        .select(F.col(id_col), F.explode(F.split(norm, "")).alias("ch"))
        .where(F.col("ch") != "")
    )
    counts = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("n"))
    per_doc = counts.groupBy(id_col).agg(
        F.sum("n").alias("n_chars_norm"),
        F.count(F.lit(1)).cast("int").alias("distinct_chars"),
        F.sum(F.col("n") * F.log2("n")).alias("__nlogn"),
    )
    ent = F.log2("n_chars_norm") - F.col("__nlogn") / F.col("n_chars_norm")
    return per_doc.select(
        F.col(id_col),
        "n_chars_norm",
        "distinct_chars",
        (F.floor(ent * 1000000.0 + 0.5) / 1000000.0).alias("entropy_bits"),
    )


def unigram_surprisal(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-trained unigram language-model score per document: the
    mean -log2 probability of the doc's tokens under the corpus's own
    unigram MLE distribution. The classic cheap perplexity-ish quality
    signal — boilerplate/common text scores low surprise, rare-token
    gibberish high; ranking by it surfaces outlier documents without
    any external model.

    Scale shape: one groupBy(token) for the term frequencies (map-side
    combine), a 1-row total broadcast, and an equi-join of the token
    stream back to the tf table — the same inverted-index join the
    tf-idf and BM25 operators already use; no all-pairs, no driver
    state. Engine portability: each token's -log2 p is floor-rounded
    to integer MICRO-bits first and the per-doc sum runs in exact
    bigint arithmetic (a raw double sum would be accumulation-order-
    dependent, and Spark and DuckDB reduce in different orders — the
    same integer-micro pattern pipeline_corpus_build's avg_quality
    uses).
    """
    from chesscom_etl_tableau_spark.util import ensure_parallelism

    toks = ensure_parallelism(
        docs.select(F.col(id_col), F.explode(word_tokens(F.col(text_col))).alias("token"))
    )
    tf = toks.groupBy("token").agg(F.count(F.lit(1)).alias("__tf"))
    total = toks.groupBy().agg(F.count(F.lit(1)).alias("__n"))
    lp_micro = F.floor(
        -F.log2(F.col("__tf") / F.col("__n")) * 1000000.0 + 0.5
    ).cast("long")
    scored = (
        toks.join(tf, "token")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(lp_micro).alias("__s_micro"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(
                F.floor(F.col("__s_micro") / F.col("n_tokens") + 0.5)
                / 1000000.0,
                F.lit(0.0),
            ).alias("surprisal_bits"),
        )
    )


def bigram_surprisal(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-trained BIGRAM language-model score per document: mean
    -log2 P(w2|w1) over the doc's bigram occurrences, with P the
    corpus MLE (count(w1,w2) / count(w1 as prefix)). The step up from
    `unigram_surprisal`: word-order-aware, so shuffled or templated
    text separates from natural phrasing even when the unigram mix is
    identical.

    Same engine-portable arithmetic as the unigram op: each bigram's
    -log2 p floor-rounds to integer micro-bits BEFORE the per-doc sum,
    which then runs exact in bigint. Scale shape: one extra
    groupBy(w1, w2) vs the unigram pass; the bigram explode is built
    from a bound token array (one tokenizer evaluation per doc, see
    shingles_from_tokens' CSE note).
    """
    from chesscom_etl_tableau_spark.util import ensure_parallelism

    with_toks = docs.select(F.col(id_col), word_tokens(F.col(text_col)).alias("__toks"))
    n = F.size("__toks")
    pairs = with_toks.select(
        id_col,
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
        ).alias("__bg"),
    ).select(id_col, F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2"))
    pairs = ensure_parallelism(pairs)
    c2 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__c2"))
    c1 = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("__c1"))
    bits_micro = F.floor(
        -F.log2(F.col("__c2") / F.col("__c1")) * 1000000.0 + 0.5
    ).cast("long")
    scored = (
        pairs.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(bits_micro).alias("__s_micro"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce(
                F.floor(F.col("__s_micro") / F.col("n_bigrams") + 0.5) / 1000000.0,
                F.lit(0.0),
            ).alias("bigram_bits"),
        )
    )


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Top-k collocations (fixed phrases) by pointwise mutual
    information over word bigrams — the phrase-mining primitive behind
    vocabulary induction ("new_york" as one unit) and corpus-drift
    reading ("which word pairs travel together in THIS corpus?").

    Reported as the PMI *lift* ratio p(w1,w2)/(p(w1)·p(w2)) rather than
    its log: the ranking is identical (log is monotone) and the ratio
    needs no transcendental call, so the compared value is pure IEEE
    multiply/divide over exactly-counted integers — bit-identical on
    any engine, any partitioning. `min_count` keeps the rare-pair
    PMI explosion out (a hapax pair has near-maximal PMI by
    construction — the classic PMI failure mode).

    Scale shape: tokenization is scan-local codegen; bigram and unigram
    counts are two map-side-combinable groupBys; the two 1-row totals
    broadcast; the per-bigram join of two unigram counts is a broadcast
    hash join only when the vocabulary is small — at corpus scale the
    vocab side shuffles, but it is |vocab|-sized (Heaps' law: sublinear
    in corpus), never corpus-sized. Top-k is one TakeOrderedAndProject.
    """
    toks = docs.select(word_tokens(F.col(text_col)).alias("w"))
    uni = toks.select(F.explode("w").alias("t")).groupBy("t").agg(
        F.count(F.lit(1)).alias("c1")
    )
    bi_all = (
        toks.where(F.size("w") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("w"), 1, F.size("w") - 1),
                    F.slice(F.col("w"), 2, F.size("w") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("p")
        )
        .groupBy("p.w1", "p.w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    # B is the ALL-bigram total (the probability denominator), computed
    # BEFORE the min_count cut — the cut only prunes which pairs are
    # *reported*, it must not reweight the distribution.
    n_tok = uni.agg(F.sum("c1").cast("double").alias("__n"))
    n_bi = bi_all.agg(F.sum("c2").cast("double").alias("__b"))
    bi = bi_all.where(F.col("c2") >= min_count)
    # lift = (c2 * n * n) / (b * c1a * c1b), evaluated in this exact
    # association order on both engines (IEEE ops on identical trees
    # are bit-identical; keeping every factor double also stays finite
    # at corpus scale where the integer product would overflow int64).
    lift = (
        F.col("c2").cast("double") * F.col("__n") * F.col("__n")
    ) / (
        F.col("__b") * F.col("__c1a").cast("double") * F.col("__c1b").cast("double")
    )
    r6 = lambda c: F.floor(c * F.lit(1000000.0) + F.lit(0.5)).cast("double") / F.lit(
        1000000.0
    )
    uni_a = uni.select(F.col("t").alias("w1"), F.col("c1").alias("__c1a"))
    uni_b = uni.select(F.col("t").alias("w2"), F.col("c1").alias("__c1b"))
    # No broadcast hint on the unigram sides: the vocabulary is
    # |vocab|-sized (Heaps' law sublinear, but still unbounded), and a
    # pinned broadcast would OOM on a large corpus. Left to the planner,
    # AQE broadcasts when the runtime size is under the threshold and
    # shuffles otherwise — exactly the adaptive behavior the docstring
    # promises. The two 1-row totals stay explicitly broadcast.
    return (
        bi.join(uni_a, "w1")
        .join(uni_b, "w2")
        .join(F.broadcast(n_tok))
        .join(F.broadcast(n_bi))
        .select(
            "w1",
            "w2",
            F.col("c2").alias("pair_count"),
            r6(lift).alias("pmi_lift"),
        )
        .orderBy(F.col("pmi_lift").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(top_k)
    )


def kn_perplexity(
    docs: DataFrame,
    discount: float = 0.75,
    bits_threshold: float = 12.0,
    train_mod: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Kneser-Ney-smoothed bigram LM quality filter (the KenLM/CCNet
    pretraining-pipeline shape): train an interpolated-KN bigram model
    on a HELD-OUT split (``doc_id % train_mod != 0``), score EVERY
    document's mean -log2 P(w2|w1), and flag the ones under the bits
    threshold. Unlike the MLE `bigram_surprisal`, smoothing gives
    unseen bigrams honest mass, so the score separates fluent-but-new
    text from corrupt text instead of sending both to infinity — this
    is why production quality filters use KN, not MLE.

    Interpolated KN with a single absolute discount D:

        P(w2|w1) = max(c(w1,w2) - D, 0)/c(w1.)
                   + (D * N1+(w1,.)/c(w1.)) * Pcont(w2)
        Pcont(w2) = N1+(.,w2) / |distinct bigrams|

    with backoff to Pcont alone when w1 was never seen as a context,
    and an epsilon floor (1e-9) for tokens outside the training
    continuation vocabulary. Engine-portable arithmetic: the formula's
    association order is written identically in the DuckDB oracle
    (IEEE doubles make same-order arithmetic bit-exact), each bigram's
    bits floor-round to integer micro-units BEFORE the per-doc sum
    (the `unigram_surprisal` pattern), and the quality flag compares
    the ROUNDED value so the boolean is exact too.

    Scale shape: two groupBy passes over the training bigrams build
    the model (c2, and per-w1 totals+continuations fused in one agg;
    per-w2 continuations in another); scoring left-joins the corpus
    bigram stream against the model tables on their natural keys —
    shuffle joins on (w1, w2)/w1/w2, all partial-aggregated, no
    driver-side model and no broadcast of the unbounded vocabulary
    (same reasoning as `pmi_collocations`). The two 1-row totals
    broadcast. At 100 TB the model tables are |distinct bigrams|-sized
    — big but Heaps-sublinear — and every join key is
    high-cardinality, so AQE's skew handling covers the `the`-row.
    """
    from chesscom_etl_tableau_spark.util import ensure_parallelism

    with_toks = docs.select(
        F.col(id_col), word_tokens(F.col(text_col)).alias("__toks")
    )
    n = F.size("__toks")
    pairs = with_toks.select(
        id_col,
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
        ).alias("__bg"),
    ).select(id_col, F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2"))
    pairs = ensure_parallelism(pairs)

    train = pairs.where((F.col(id_col) % train_mod) != 0)
    c2 = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__c2"))
    # per-context totals and distinct continuations, one agg over c2
    # (c1(w1) = sum of its bigram counts; N1+(w1,.) = its row count)
    ctx = c2.groupBy("w1").agg(
        F.sum("__c2").alias("__c1"), F.count(F.lit(1)).alias("__n1r")
    )
    cont = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("__n1l"))
    n_bi = c2.agg(F.count(F.lit(1)).alias("__b"))

    d = F.lit(float(discount))
    c2d = F.coalesce(F.col("__c2"), F.lit(0)).cast("double")
    c1d = F.col("__c1").cast("double")
    # B = 0 (an empty training split: every doc in the held-out class,
    # or a corpus of sub-2-token docs) must not divide by zero — an
    # empty model scores everything at the epsilon floor.
    pcont = F.when(
        F.col("__b") > 0,
        F.coalesce(F.col("__n1l"), F.lit(0)).cast("double")
        / F.col("__b").cast("double"),
    ).otherwise(F.lit(0.0))
    # association order mirrored verbatim in the oracle SQL
    p_seen = (F.greatest(c2d - d, F.lit(0.0)) / c1d) + (
        (d * F.col("__n1r").cast("double")) / c1d
    ) * pcont
    p = F.when(F.col("__c1").isNotNull(), p_seen).otherwise(pcont)
    bits_micro = F.floor(
        -F.log2(F.greatest(p, F.lit(1e-9))) * 1000000.0 + 0.5
    ).cast("long")

    scored = (
        pairs.join(c2, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(cont, "w2", "left")
        .join(F.broadcast(n_bi))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(bits_micro).alias("__s_micro"),
        )
    )
    kn_bits = F.coalesce(
        F.floor(F.col("__s_micro") / F.col("n_bigrams") + 0.5) / 1000000.0,
        F.lit(0.0),
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            kn_bits.alias("kn_bits"),
            (
                (F.coalesce(F.col("n_bigrams"), F.lit(0)) >= 1)
                & (kn_bits <= F.lit(float(bits_threshold)))
            ).alias("pass_quality"),
        )
    )


def pr_curve(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    n_thresholds: int = 20,
    mode: str = "quantile",
) -> DataFrame:
    """Precision/recall sweep for a quality classifier — the
    calibration step before picking a filter threshold (every
    production quality gate ships with this table). Thresholds are the
    exact score values at evenly-spaced rank quantiles (data-derived,
    so the sweep adapts to the score distribution instead of assuming
    [0,1]); for each, precision/recall/kept-fraction of `label_col`
    (boolean ground truth) at `score >= t`.

    Two passes: an exact `percentile` agg derives the thresholds
    (single-column, no corpus sort), then the corpus scans ONCE
    against ALL thresholds via a broadcast nested-loop cross join with
    the n-row threshold frame — |rows| x n_thresholds intermediate,
    collapsed map-side by the partial aggregation, so the exchange
    carries n_thresholds rows per partition. Divisions are one IEEE op
    per output row, floor-rounded to 6dp for engine-exact compares.

    `mode="range"` swaps the quantile thresholds for an evenly-spaced
    grid over [min, max]: t_i = mn + (mx - mn) * (i / (k-1)). Same
    sweep, but every threshold is the SAME three IEEE binary64 ops in
    any engine — the registry oracle uses this mode because exact
    cross-engine quantile parity would hinge on the interpolation's
    internal op order (v[l] + f*(v[l+1]-v[l]) vs v[l]*(1-f)+v[l+1]*f
    differ in the last ulp, and one ulp flips a `score >= t` count).
    """
    if n_thresholds < 2:
        raise ValueError("need >= 2 thresholds")
    if mode not in ("quantile", "range"):
        raise ValueError(f"mode must be 'quantile' or 'range', got {mode!r}")
    qs = [i / (n_thresholds - 1) for i in range(n_thresholds)]
    if mode == "range":
        ext = scored.agg(
            F.min(F.col(score_col).cast("double")).alias("__mn"),
            F.max(F.col(score_col).cast("double")).alias("__mx"),
        )
        idx = ext.select(
            "__mn",
            "__mx",
            F.explode(F.array(*[F.lit(i) for i in range(n_thresholds)])).alias(
                "t_idx"
            ),
        )
        # op order pinned: mn + (mx - mn) * (i / (k-1)) — the oracle
        # SQL spells the identical expression tree
        th = idx.select(
            "t_idx",
            (
                F.col("__mn")
                + (F.col("__mx") - F.col("__mn"))
                * (
                    F.col("t_idx").cast("double")
                    / F.lit(float(n_thresholds - 1))
                )
            ).alias("threshold"),
        )
    else:
        th = scored.agg(
            F.percentile(F.col(score_col), F.array(*[F.lit(q) for q in qs])).alias(
                "__ts"
            )
        ).select(F.posexplode("__ts").alias("t_idx", "threshold"))
    r6 = lambda c: F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    joined = scored.crossJoin(F.broadcast(th))
    agg = (
        joined.groupBy("t_idx", "threshold")
        .agg(
            F.sum(
                F.when(
                    (F.col(score_col) >= F.col("threshold")) & F.col(label_col), 1
                ).otherwise(0)
            ).alias("__tp"),
            F.sum(
                F.when(F.col(score_col) >= F.col("threshold"), 1).otherwise(0)
            ).alias("__kept"),
            F.sum(F.when(F.col(label_col), 1).otherwise(0)).alias("__pos"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    return agg.select(
        F.col("t_idx").cast("long").alias("t_idx"),
        r6(F.col("threshold")).alias("threshold"),
        r6(F.try_divide(F.col("__tp"), F.col("__kept"))).alias("precision"),
        r6(F.try_divide(F.col("__tp"), F.col("__pos"))).alias("recall"),
        r6(F.col("__kept") / F.col("__n")).alias("kept_frac"),
    ).orderBy("t_idx")


# HTML entity decode order matters: `&amp;` must decode LAST, or
# "&amp;lt;" (the author wrote a literal "&lt;") double-decodes to "<".
_HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def html_extract(col: Column) -> Column:
    """HTML/markup -> text extraction, scan-local (r14 verdict ask #4):
    the real-pipeline step upstream of the quality gate — CCNet/C4
    strip markup before scoring. Drops <script>/<style> blocks and
    comments wholesale, strips remaining tags, decodes the six
    entities that dominate real corpora, and normalizes whitespace.

    Pure Catalyst regexp/replace chain — one codegen stage, no Python,
    no shuffle — and every pattern is RE2-portable (no backreferences,
    lazy quantifiers + inline (?is) flags only, explicit
    ``[ \\t\\n\\r\\f]`` whitespace class instead of the engine-varying
    ``\\s``), so the DuckDB oracle replays the chain byte-identically.
    Composes with `dedup.remove_boilerplate_spans` for the repeated-
    chrome pass that needs cross-document frequency."""
    s = F.regexp_replace(col, r"(?is)<script[^>]*>.*?</script>", " ")
    s = F.regexp_replace(s, r"(?is)<style[^>]*>.*?</style>", " ")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", " ")
    s = F.regexp_replace(s, r"<[^>]*>", " ")
    for ent, rep in _HTML_ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(rep))
    s = F.regexp_replace(s, r"[ \t\n\r\f]+", " ")
    return F.trim(s)
