"""Text analysis: tokens, language id, tf-idf/BM25, quality and HTML extraction."""

from __future__ import annotations

from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.operators import dedup as D
from chesscom_etl_tableau_spark.operators import text as TX
from chesscom_etl_tableau_spark.operators import training as TR
from chesscom_etl_tableau_spark.registry.common import _NORM_FP, _WORD_TOKS, _t
from chesscom_etl_tableau_spark.registry.record import query


# Shared HTML fixture fragments (Spark query + DuckDB oracle splice the
# SAME constants, so the two engines parse byte-identical input).
_HTML_P1 = ('<html><head><title>t</title><style type="text/css">'
            'p { color: #fff; }  h1 { font: 12px; }</style></head> '
            '<body> <h1 class="hd">')

_HTML_P2 = '</h1> <div id="main"> <p>'

_HTML_P3 = ('</p> <a href="/x?a=1&amp;b=2">M&amp;A &lt;raw&gt; '
            '&quot;q&quot; &#39;s&nbsp;end</a> '
            '<script type="text/javascript">if (a < b) { emit("&amp;"); }'
            '</script> <!-- footer comment --> </div> </body></html>')


@query(headline="cpu_bound", oracle="""
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
                FROM h)
        SELECT doc_id, unnest(list_distinct(fps)) AS fingerprint FROM sel
    """)
def _q_text_winnow(spark, sf_dir):
    # Winnowing rolling-hash fingerprints (k=5-gram, window 4) with an
    # engine-portable polynomial hash so the oracle matches values.
    docs = _t(spark, sf_dir, "documents")
    return TX.winnow_fingerprints(docs, k=5, w=4)


email_re = TR.PII_EMAIL

phone_re = TR.PII_PHONE

digits_re = TR.PII_LONG_DIGITS


@query(oracle=f"""
        WITH s1 AS (SELECT doc_id,
                           CAST(len(regexp_extract_all(coalesce(text, ''), '({email_re})', 1)) AS INT) AS n_emails,
                           regexp_replace(coalesce(text, ''), '{email_re}', '<EMAIL>', 'g') AS t1
                    FROM documents),
        s2 AS (SELECT doc_id, n_emails,
                      CAST(len(regexp_extract_all(t1, '({phone_re})', 1)) AS INT) AS n_phones,
                      regexp_replace(t1, '{phone_re}', '<PHONE>', 'g') AS t2
               FROM s1)
        SELECT doc_id, n_emails, n_phones,
               CAST(len(regexp_extract_all(t2, '({digits_re})', 1)) AS INT) AS n_long_digit_runs,
               regexp_replace(t2, '{digits_re}', '<NUMBER>', 'g') AS redacted_text
        FROM s2
    """)
def _q_text_redact_pii(spark, sf_dir):
    # PII redaction: email -> phone -> long-digit masking with counts.
    docs = _t(spark, sf_dir, "documents")
    return TR.redact_pii(docs)


@query(headline="cpu_bound", oracle=f"""
        WITH toksrc AS (SELECT doc_id, unnest({_WORD_TOKS}) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toksrc GROUP BY 1, 2),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        scored AS (SELECT tf.doc_id, tf.term, tf.tf,
                          floor(tf.tf * (ln((nd.n + 1.0) / (df.df + 1.0)) + 1.0) * 1000000.0 + 0.5)
                              / 1000000.0 AS tfidf
                   FROM tf JOIN df ON tf.term = df.term CROSS JOIN nd),
        ranked AS (SELECT doc_id, term, tf, tfidf,
                          CAST(row_number() OVER (PARTITION BY doc_id
                                                  ORDER BY tfidf DESC, term ASC) AS INT) AS rank
                   FROM scored)
        SELECT doc_id, term, tf, tfidf, rank FROM ranked WHERE rank <= 5
    """)
def _q_text_tfidf_top5(spark, sf_dir):
    # Top-5 terms per document by smoothed tf-idf.
    docs = _t(spark, sf_dir, "documents")
    return TR.tfidf_top_terms(docs, top_n=5)


stop_list = ", ".join(f"'{w}'" for w in TX.STOPWORDS)


@query(headline="cpu_bound", oracle=f"""
        WITH base AS (
            SELECT doc_id, lang,
                   CAST(coalesce(len(regexp_extract_all(text, '\\S+')), 0) AS INT) AS n_tokens,
                   CAST(length(coalesce(text, '')) AS INT) AS n_chars,
                   CAST(coalesce(len(regexp_extract_all(text, '[!-/:-@\\[-`{{-~]')), 0) AS INT) AS n_punct,
                   CAST(coalesce(len(list_filter({_WORD_TOKS}, t -> t IN ({stop_list}))), 0) AS INT) AS n_stopwords,
                   {_WORD_TOKS} AS wt
            FROM documents),
        g AS (
            SELECT *, greatest(len(wt) - 2, 0) AS total,
                   list_transform(range(1, greatest(greatest(len(wt) - 2, 0), 1) + 1),
                                  i -> array_to_string(list_slice(wt, i, i + 2), ' ')) AS grams
            FROM base),
        m AS (
            SELECT doc_id, lang, n_tokens,
                   round(coalesce(CAST(n_punct AS DOUBLE) / nullif(n_chars, 0), CAST(0.0 AS DOUBLE)), 6) AS punct_ratio,
                   round(coalesce(CAST(n_stopwords AS DOUBLE) / nullif(n_tokens, 0), CAST(0.0 AS DOUBLE)), 6) AS stopword_ratio,
                   CASE WHEN total > 0
                        THEN floor((total - len(list_distinct(grams))) / CAST(total AS DOUBLE)
                                   * 1000000.0 + 0.5) / 1000000.0
                        ELSE 0.0 END AS rep_ratio
            FROM g),
        s AS (
            SELECT *, floor((least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / 200.0) * 0.5
                            + least(CAST(1.0 AS DOUBLE), stopword_ratio * 5.0) * 0.3
                            + (CAST(1.0 AS DOUBLE) - least(CAST(1.0 AS DOUBLE), punct_ratio * 10.0)) * 0.2)
                            * 1000000.0 + 0.5) / 1000000.0 AS quality_score
            FROM m),
        r AS (
            SELECT *, rtrim(concat(
                       CASE WHEN n_tokens < 50 THEN 'too_short;' ELSE '' END,
                       CASE WHEN n_tokens > 100000 THEN 'too_long;' ELSE '' END,
                       CASE WHEN stopword_ratio < 0.01 THEN 'low_stopword;' ELSE '' END,
                       CASE WHEN punct_ratio > 0.3 THEN 'high_punct;' ELSE '' END,
                       CASE WHEN rep_ratio > 0.3 THEN 'repetitious;' ELSE '' END,
                       CASE WHEN lang NOT IN ('en') THEN 'lang_blocked;' ELSE '' END), ';') AS reasons
            FROM s)
        SELECT doc_id, lang, n_tokens, punct_ratio, stopword_ratio, rep_ratio,
               quality_score, reasons, reasons = '' AS keep
        FROM r
    """)
def _q_text_quality_filter(spark, sf_dir):
    # Gopher/C4-style quality gate with auditable per-rule reasons.
    docs = _t(spark, sf_dir, "documents")
    return TX.quality_filter(docs)


@query(headline="cpu_bound", oracle=f"""
        WITH toks AS (SELECT doc_id, {_WORD_TOKS} AS t FROM documents),
        lens AS (SELECT doc_id, len(t) AS dl, t FROM toks),
        stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
        occ AS (SELECT doc_id, dl, unnest(t) AS term FROM lens),
        tf AS (
            SELECT doc_id, dl, term, count(*) AS tf FROM occ
            WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2, 3),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        scored AS (
            SELECT tf.doc_id,
                   ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl)) AS partial
            FROM tf JOIN df USING (term) CROSS JOIN stats s),
        agg AS (
            SELECT doc_id,
                   floor(sum(partial) * 1000000.0 + 0.5) / 1000000.0 AS score,
                   CAST(count(*) AS BIGINT) AS n_hits
            FROM scored GROUP BY 1)
        SELECT doc_id, score, n_hits FROM agg
        ORDER BY score DESC, doc_id ASC LIMIT 20
    """)
def _q_text_bm25_topk(spark, sf_dir):
    # BM25 retrieval (Lucene IDF) for a fixed query bag — the
    # curation/RAG ranking primitive. Top-20, 1e-6-rounded scores,
    # doc_id tiebreak.
    docs = _t(spark, sf_dir, "documents")
    return TX.bm25_topk(docs, ["spark", "join", "window"], top_k=20)


@query(oracle=f"""
        WITH toks AS (SELECT doc_id, {_WORD_TOKS} AS t FROM documents),
        g AS (SELECT doc_id, len(t) AS n,
                     greatest(len(t) - 2, 0) AS total,
                     list_transform(range(1, greatest(greatest(len(t) - 2, 0), 1) + 1),
                                    i -> array_to_string(list_slice(t, i, i + 2), ' ')) AS grams
              FROM toks)
        SELECT doc_id,
               CAST(n AS INT) AS n_tokens,
               CAST(total AS INT) AS n_kgrams,
               CAST(CASE WHEN total > 0 THEN len(list_distinct(grams)) ELSE 0 END AS INT) AS n_distinct_kgrams,
               CASE WHEN total > 0
                    THEN floor((total - len(list_distinct(grams))) / CAST(total AS DOUBLE)
                               * 1000000.0 + 0.5) / 1000000.0
                    ELSE 0.0 END AS rep_ratio
        FROM g
    """)
def _q_text_repetition(spark, sf_dir):
    # Gopher-style duplicate-3-gram repetition ratio per document.
    docs = _t(spark, sf_dir, "documents")
    return TX.repetition_score(docs, k=3)


@query(oracle=f"""
        WITH d AS (SELECT doc_id, {_WORD_TOKS} AS w FROM documents),
        bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
               FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM d)),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
        sc AS (SELECT doc_id, count(*) AS nb,
                      CAST(sum(CAST(floor(-log2(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))
                                          * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s
               FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) GROUP BY doc_id)
        SELECT d2.doc_id, CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
               coalesce(floor(CAST(s AS DOUBLE) / nb + 0.5) / 1000000.0, 0.0) AS bigram_bits
        FROM documents d2 LEFT JOIN sc USING (doc_id)
    """)
def _q_text_bigram_surprisal(spark, sf_dir):
    # Bigram LM perplexity-ish score (r5 cont.): corpus-MLE
    # P(w2|w1), per-bigram micro-bits summed exact per doc
    # (operators/text.py::bigram_surprisal).
    from chesscom_etl_tableau_spark.operators.text import bigram_surprisal

    return bigram_surprisal(_t(spark, sf_dir, "documents"))


@query(oracle=f"""
        WITH toks AS (SELECT doc_id, unnest({_WORD_TOKS}) AS token FROM documents),
        tf AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
        tot AS (SELECT count(*) AS n FROM toks),
        sc AS (SELECT t.doc_id, count(*) AS n_tokens,
                      CAST(sum(CAST(floor(-log2(CAST(c AS DOUBLE) / (SELECT n FROM tot))
                               * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s_micro
               FROM toks t JOIN tf USING (token) GROUP BY t.doc_id)
        SELECT d.doc_id,
               CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
               coalesce(floor(CAST(s_micro AS DOUBLE) / n_tokens + 0.5) / 1000000.0, 0.0)
                   AS surprisal_bits
        FROM documents d LEFT JOIN sc USING (doc_id)
    """)
def _q_text_surprisal(spark, sf_dir):
    # Corpus-trained unigram LM surprisal (new in r5) — the cheap
    # perplexity-ish outlier signal; oracle recomputes the unigram
    # distribution and per-doc mean -log2 p in DuckDB.
    docs = _t(spark, sf_dir, "documents")
    return TX.unigram_surprisal(docs)


@query(oracle=f"""
        WITH t AS (SELECT doc_id, source, {_WORD_TOKS} AS w FROM documents),
        b AS (SELECT doc_id, source, i AS pos,
                     array_to_string(w[((i-1)*4+1):(i*4)], ' ') AS span
              FROM (SELECT doc_id, source, w,
                           unnest(range(1, len(w)//4 + 1)) AS i FROM t)),
        tails AS (SELECT doc_id,
                         array_to_string(w[(len(w)//4)*4+1:len(w)], ' ') AS tail
                  FROM t),
        g AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        df AS (SELECT source, span, count(DISTINCT doc_id) AS df FROM b GROUP BY 1, 2),
        boiler AS (SELECT df.source, span FROM df JOIN g USING (source)
                   WHERE df >= greatest(2, ceil(0.05 * n))),
        fl AS (SELECT b.doc_id, b.source, b.pos, b.span,
                      (boiler.span IS NOT NULL) AS is_b
               FROM b LEFT JOIN boiler
                 ON b.source = boiler.source AND b.span = boiler.span),
        per AS (SELECT doc_id, count(*) AS n_spans,
                       sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS n_boiler,
                       string_agg(span, ' ' ORDER BY pos) FILTER (NOT is_b) AS body
                FROM fl GROUP BY doc_id)
        SELECT t.doc_id, t.source,
               CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
               CAST(coalesce(n_boiler, 0) AS BIGINT) AS n_boiler,
               concat_ws(' ', nullif(coalesce(body, ''), ''), nullif(tail, '')) AS clean_text
        FROM t LEFT JOIN per USING (doc_id) JOIN tails USING (doc_id)
    """)
def _q_text_boilerplate(spark, sf_dir):
    # Per-source boilerplate/template REMOVAL (r11): the cleaning twin
    # of dedup_spans — spans (4-token blocks) appearing in >=
    # max(2, 5% of the source's docs) distinct documents of a source
    # are dropped from every document; cleaned text reassembled in
    # block order + trailing partial (operators/dedup.py::
    # remove_boilerplate_spans). One df hash-agg + a broadcast group-
    # size join + one equi-join back — the C4-pipeline boilerplate
    # step, never a pair join. The DuckDB oracle replays block
    # slicing, the per-source df threshold, and the ordered reassembly.
    return D.remove_boilerplate_spans(_t(spark, sf_dir, "documents"))


@query(oracle=f"""
        WITH toks AS (SELECT doc_id, {_WORD_TOKS} AS t FROM documents),
        lens AS (SELECT doc_id, len(t) AS dl, t FROM toks),
        stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
        occ AS (SELECT doc_id, dl, unnest(t) AS term FROM lens),
        tf AS (
            SELECT doc_id, dl, term, count(*) AS tf FROM occ
            WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2, 3),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        bm_scored AS (
            SELECT tf.doc_id,
                   ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl)) AS partial
            FROM tf JOIN df USING (term) CROSS JOIN stats s),
        bm_agg AS (
            SELECT doc_id,
                   floor(sum(partial) * 1000000.0 + 0.5) / 1000000.0 AS score
            FROM bm_scored GROUP BY 1),
        bm AS (
            SELECT doc_id, CAST(row_number() OVER (
                       ORDER BY score DESC, doc_id ASC) AS INT) AS bm25_rank
            FROM (SELECT * FROM bm_agg
                  ORDER BY score DESC, doc_id ASC LIMIT 50)),
        q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id = 0),
        cos_scored AS (
            SELECT vec_id AS doc_id,
                   round(list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]), qv), 6) AS cosine_sim
            FROM embeddings CROSS JOIN q WHERE vec_id <> 0),
        cos AS (
            SELECT doc_id, CAST(rank AS INT) AS cos_rank FROM (
                SELECT doc_id, row_number() OVER (
                    ORDER BY cosine_sim DESC, doc_id ASC) AS rank
                FROM cos_scored) WHERE rank <= 50),
        fused AS (
            SELECT coalesce(bm.doc_id, cos.doc_id) AS doc_id,
                   coalesce(bm.bm25_rank, 0) AS bm25_rank,
                   coalesce(cos.cos_rank, 0) AS cos_rank,
                   floor((coalesce(1.0 / (60 + bm.bm25_rank), 0.0)
                          + coalesce(1.0 / (60 + cos.cos_rank), 0.0))
                         * 1000000.0 + 0.5) / 1000000.0 AS rrf_score
            FROM bm FULL OUTER JOIN cos ON bm.doc_id = cos.doc_id)
        SELECT doc_id, bm25_rank, cos_rank, rrf_score FROM fused
        ORDER BY rrf_score DESC, doc_id ASC LIMIT 10
    """)
def _q_text_hybrid_rrf(spark, sf_dir):
    # Hybrid retrieval (r5 final): BM25 lexical ranking + exact cosine
    # vector ranking over the aligned corpus (doc_id == vec_id), fused
    # by reciprocal-rank fusion (1/(60+rank), SIGIR'09) — the standard
    # production hybrid-search scorer. Both rankers reduce to <=50-row
    # candidate lists before the fusion join, so fusion cost is
    # corpus-size-independent; absent ranks surface as 0, score
    # rounded 1e-6, ties on doc_id.
    from chesscom_etl_tableau_spark.operators.retrieval import hybrid_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    return hybrid_topk(
        docs, emb, ["spark", "join", "window"], query_vec_id=0, top_k=10
    )


bpe_sql_pattern = TX.BPE_PATTERN.replace("'", "''")


@query(headline="cpu_bound", oracle=f"""
        SELECT doc_id,
               CAST(coalesce(len(regexp_extract_all(text, '{bpe_sql_pattern}', 1)), 0) AS INT) AS n_bpe_tokens
        FROM documents
    """)
def _q_text_bpe_tokens(spark, sf_dir):
    # BPE-ish pre-tokenizer counts (LLM token budgeting).
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.bpe_token_count(F.col("text")).alias("n_bpe_tokens"))


TEXT_TOKEN_STATS = f"""
        WITH base AS (
            SELECT doc_id,
                   CAST(length(coalesce(text, '')) AS INT) AS n_chars,
                   CAST(coalesce(len(regexp_extract_all(text, '\\S+')), 0) AS INT) AS n_tokens,
                   CAST(coalesce(len(regexp_extract_all(text, '[!-/:-@\\[-`{{-~]')), 0) AS INT) AS n_punct,
                   CAST(coalesce(len(list_filter({_WORD_TOKS}, t -> t IN ({stop_list}))), 0) AS INT) AS n_stopwords,
                   CAST(coalesce(list_sum(list_transform({_WORD_TOKS}, t -> length(t))), 0) AS BIGINT) AS sum_tok_chars
            FROM documents),
        ratios AS (
            SELECT doc_id, n_chars, n_tokens, n_punct, n_stopwords,
                   round(coalesce(CAST(n_punct AS DOUBLE) / nullif(n_chars, 0), CAST(0.0 AS DOUBLE)), 6) AS punct_ratio,
                   round(coalesce(CAST(n_stopwords AS DOUBLE) / nullif(n_tokens, 0), CAST(0.0 AS DOUBLE)), 6) AS stopword_ratio,
                   round(coalesce(CAST(sum_tok_chars AS DOUBLE) / nullif(n_tokens, 0), CAST(0.0 AS DOUBLE)), 6) AS mean_token_len
            FROM base)
        SELECT doc_id, n_chars, n_tokens, n_punct, n_stopwords,
               punct_ratio, stopword_ratio, mean_token_len,
               floor((least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / CAST(200.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE)
                     + least(CAST(1.0 AS DOUBLE), stopword_ratio * CAST(5.0 AS DOUBLE)) * CAST(0.3 AS DOUBLE)
                     + (CAST(1.0 AS DOUBLE) - least(CAST(1.0 AS DOUBLE), punct_ratio * CAST(10.0 AS DOUBLE))) * CAST(0.2 AS DOUBLE))
                     * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE) AS quality_score
        FROM ratios
    """


@query(headline="scan_bound", oracle=TEXT_TOKEN_STATS)
def _q_text_token_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return TX.quality_metrics(docs)


lang_score_cols = []

for lang in sorted(TX.LANG_MARKERS):
    markers = ", ".join(f"'{m}'" for m in TX.LANG_MARKERS[lang])
    lang_score_cols.append(
        f"coalesce(len(list_filter({_WORD_TOKS}, t -> t IN ({markers}))), 0) AS s_{lang}"
    )

langs_sorted = sorted(TX.LANG_MARKERS)

gmax = "greatest(" + ", ".join(f"s_{lang}" for lang in langs_sorted) + ")"

case_chain = " ".join(
    f"WHEN s_{lang} = {gmax} THEN '{lang}'" for lang in langs_sorted
)


@query(headline="cpu_bound", oracle=f"""
        WITH scores AS (SELECT doc_id, {', '.join(lang_score_cols)} FROM documents)
        SELECT doc_id,
               CASE WHEN {gmax} <= 0 THEN 'und' {case_chain} ELSE 'und' END AS lang_guess
        FROM scores
    """)
def _q_text_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", TX.word_tokens(F.col("text")).alias("toks"))
    return toks.select("doc_id", TX.lang_id_from_tokens(F.col("toks")).alias("lang_guess"))


@query(oracle=f"SELECT doc_id, {_NORM_FP} AS fingerprint FROM documents")
def _q_text_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.normalized_fingerprint(F.col("text")).alias("fingerprint"))


@query(oracle="""
        WITH n AS (
            SELECT doc_id,
                   trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g')) AS s
            FROM documents),
        ch AS (
            SELECT doc_id, unnest(regexp_extract_all(s, '.')) AS c
            FROM n WHERE length(s) > 0),
        counts AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2),
        agg AS (
            SELECT doc_id,
                   CAST(sum(cnt) AS BIGINT) AS n_chars_norm,
                   CAST(count(*) AS INT) AS distinct_chars,
                   sum(cnt * log2(cnt)) AS nlogn
            FROM counts GROUP BY doc_id)
        SELECT doc_id, n_chars_norm, distinct_chars,
               floor((log2(n_chars_norm) - nlogn / n_chars_norm) * 1000000.0 + 0.5)
                   / 1000000.0 AS entropy_bits
        FROM agg
    """)
def _q_text_char_entropy(spark, sf_dir):
    # Quality signal (r5): Shannon entropy of the normalized char
    # distribution per doc — gibberish/diversity gate next to
    # quality_metrics. Exact integer-count computation, full oracle.
    docs = _t(spark, sf_dir, "documents")
    return TX.char_entropy(docs)


@query(oracle=f"""
        WITH d AS (SELECT {_WORD_TOKS} AS w FROM documents),
        uni AS (SELECT t, count(*) AS c1
                FROM (SELECT unnest(w) AS t FROM d) GROUP BY 1),
        bi_all AS (SELECT w[i] AS w1, w[i + 1] AS w2, count(*) AS c2
                   FROM (SELECT w, unnest(range(1, len(w))) AS i FROM d)
                   GROUP BY 1, 2),
        n AS (SELECT CAST(sum(c1) AS DOUBLE) AS n FROM uni),
        b AS (SELECT CAST(sum(c2) AS DOUBLE) AS b FROM bi_all)
        SELECT w1, w2, c2 AS pair_count,
               floor((CAST(c2 AS DOUBLE) * n.n * n.n)
                     / (b.b * CAST(ua.c1 AS DOUBLE) * CAST(ub.c1 AS DOUBLE))
                     * 1000000.0 + 0.5) / 1000000.0 AS pmi_lift
        FROM bi_all
        JOIN uni ua ON ua.t = w1
        JOIN uni ub ON ub.t = w2
        CROSS JOIN n CROSS JOIN b
        WHERE c2 >= 5
        ORDER BY pmi_lift DESC, w1 ASC, w2 ASC
        LIMIT 20
    """)
def _q_text_pmi_collocations(spark, sf_dir):
    # Phrase mining by PMI lift (new in r5 sixth session,
    # operators/text.py::pmi_collocations) — reported as the ratio
    # p(xy)/(p(x)p(y)) (log-free: same ranking, pure IEEE over exact
    # counts), min_count=5 guards the hapax-pair PMI explosion.
    docs = _t(spark, sf_dir, "documents")
    return TX.pmi_collocations(docs, min_count=5, top_k=20)


@query(oracle="""
        -- interpolated Kneser-Ney bigram LM, D = 0.75, trained on the
        -- doc_id % 5 != 0 split; association order mirrors the Spark
        -- expression verbatim so the doubles are bit-identical before
        -- the micro-floor.
        WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
               FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM d)),
        tr AS (SELECT * FROM bg WHERE doc_id % 5 <> 0),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM tr GROUP BY 1, 2),
        ctx AS (SELECT w1, sum(c2) AS c1, count(*) AS n1r FROM c2 GROUP BY 1),
        cont AS (SELECT w2, count(*) AS n1l FROM c2 GROUP BY 1),
        nb AS (SELECT count(*) AS b FROM c2),
        p AS (SELECT bg.doc_id,
                     -- B = 0 guard mirrors the engine: empty training
                     -- split scores at the epsilon floor, no div-by-0
                     CASE WHEN ctx.c1 IS NOT NULL THEN
                         (greatest(CAST(coalesce(c2.c2, 0) AS DOUBLE) - 0.75, 0.0)
                              / CAST(ctx.c1 AS DOUBLE))
                         + ((0.75 * CAST(ctx.n1r AS DOUBLE)) / CAST(ctx.c1 AS DOUBLE))
                           * (CASE WHEN nb.b > 0 THEN CAST(coalesce(cont.n1l, 0) AS DOUBLE) / CAST(nb.b AS DOUBLE) ELSE 0.0 END)
                     ELSE CASE WHEN nb.b > 0 THEN CAST(coalesce(cont.n1l, 0) AS DOUBLE) / CAST(nb.b AS DOUBLE) ELSE 0.0 END
                     END AS pr
              FROM bg
              LEFT JOIN c2 USING (w1, w2)
              LEFT JOIN ctx USING (w1)
              LEFT JOIN cont USING (w2)
              CROSS JOIN nb),
        sc AS (SELECT doc_id, count(*) AS nbg,
                      CAST(sum(CAST(floor(-log2(greatest(pr, 1e-9))
                                          * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s
               FROM p GROUP BY doc_id)
        SELECT d2.doc_id,
               CAST(coalesce(nbg, 0) AS BIGINT) AS n_bigrams,
               coalesce(floor(CAST(s AS DOUBLE) / nbg + 0.5) / 1000000.0, 0.0) AS kn_bits,
               coalesce(nbg, 0) >= 1
                   AND coalesce(floor(CAST(s AS DOUBLE) / nbg + 0.5) / 1000000.0, 0.0) <= 12.0
                   AS pass_quality
        FROM documents d2 LEFT JOIN sc USING (doc_id)
    """)
def _q_text_kn_perplexity(spark, sf_dir):
    # Kneser-Ney-smoothed bigram LM quality filter (r6): train on the
    # doc_id % 5 != 0 split, score every document, flag under-threshold
    # docs (operators/text.py::kn_perplexity). The KenLM/CCNet
    # pretraining-pipeline shape with engine-exact micro-bit rounding.
    return TX.kn_perplexity(_t(spark, sf_dir, "documents"))


@query(oracle=f"""
        -- mode="range" grid: t_i = mn + (mx - mn) * (i / 19.0), the
        -- SAME three binary64 ops the Spark plan performs, so every
        -- threshold (and thus every score >= t count) is bit-identical.
        WITH scored AS (
            SELECT CAST(len({_WORD_TOKS}) AS DOUBLE) AS score,
                   n_chars >= 300 AS label
            FROM documents),
        ext AS (SELECT CAST(min(score) AS DOUBLE) AS mn,
                       CAST(max(score) AS DOUBLE) AS mx
                FROM scored),
        th AS (SELECT CAST(i AS BIGINT) AS t_idx,
                      mn + (mx - mn) * (CAST(i AS DOUBLE) / 19.0) AS threshold
               FROM ext, range(20) r(i)),
        agg AS (
            SELECT t_idx, threshold,
                   sum(CASE WHEN score >= threshold AND label THEN 1 ELSE 0 END) AS tp,
                   sum(CASE WHEN score >= threshold THEN 1 ELSE 0 END) AS kept,
                   sum(CASE WHEN label THEN 1 ELSE 0 END) AS pos,
                   count(*) AS n
            FROM scored, th GROUP BY 1, 2)
        SELECT t_idx,
               floor(threshold * 1000000.0 + 0.5) / 1000000.0 AS threshold,
               floor((CAST(tp AS DOUBLE) / kept) * 1000000.0 + 0.5) / 1000000.0
                   AS "precision",
               floor((CAST(tp AS DOUBLE) / pos) * 1000000.0 + 0.5) / 1000000.0
                   AS recall,
               floor((CAST(kept AS DOUBLE) / n) * 1000000.0 + 0.5) / 1000000.0
                   AS kept_frac
        FROM agg
    """)
def _q_text_pr_curve(spark, sf_dir):
    # Quality-filter calibration sweep (r7, verdict-r6 ask #1a):
    # precision/recall/kept-fraction of a token-count length filter
    # against a >=300-char ground truth, over a 20-point threshold
    # grid (operators/text.py::pr_curve). mode="range" pins every
    # threshold to the same three IEEE ops in both engines — exact
    # cross-engine quantile parity would hinge on interpolation op
    # order (see the operator docstring); the quantile mode's
    # semantics are pytest-pinned instead (tests/test_round6_ops.py).
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        F.size(TX.word_tokens(F.col("text"))).cast("double").alias("score"),
        (F.col("n_chars") >= 300).alias("label"),
    )
    return TX.pr_curve(scored, n_thresholds=20, mode="range")


# HTML extraction: the oracle replays the exact regexp/replace
# chain of operators/text.py::html_extract over the SAME
# deterministically built HTML shell (shared _HTML_P* constants).
# Every pattern is RE2-portable by construction (no backrefs, no
# engine-varying escape classes); entity decode order matters and
# is mirrored exactly (&amp; last).
_h_concat = (
    "concat('" + _HTML_P1 + "', lang, '" + _HTML_P2
    + "', replace(text, ' and ', ' &amp; '), '" + _HTML_P3 + "')"
)

_ent_chain = (
    "'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), "
    '\'&quot;\', \'"\'), '
    "'&#39;', '' || chr(39) || ''), '&amp;', '&'), "
)


@query(oracle="WITH h AS (SELECT doc_id, " + _h_concat + " AS s FROM documents) "
        "SELECT doc_id, trim(regexp_replace("
        "replace(replace(replace(replace(replace(replace("
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace(s, "
        "'(?is)<script[^>]*>.*?</script>', ' ', 'g'), "
        "'(?is)<style[^>]*>.*?</style>', ' ', 'g'), "
        "'(?s)<!--.*?-->', ' ', 'g'), "
        "'<[^>]*>', ' ', 'g'), "
        + _ent_chain +
        "'[ \\t\\n\\r\\f]+', ' ', 'g')) AS extracted FROM h")
def _q_text_html_extract(spark, sf_dir):
    # HTML/markup text extraction (r15, verdict ask #4): the real-
    # pipeline step upstream of the quality gate. Each document is
    # wrapped in a deterministic HTML shell (tags, a style block, a
    # script block with comparison operators, a comment, entity-encoded
    # punctuation including the double-encode trap "&amp;lt;") and
    # operators/text.py::html_extract recovers the text: script/style/
    # comment drop, tag strip, entity decode (&amp; LAST), whitespace
    # normalize — a single scan-local Catalyst chain, zero Exchange
    # (plan-pinned), every pattern RE2-portable so the DuckDB oracle
    # replays the chain byte-identically.
    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(_HTML_P1),
        F.col("lang"),
        F.lit(_HTML_P2),
        F.replace(F.col("text"), F.lit(" and "), F.lit(" &amp; ")),
        F.lit(_HTML_P3),
    )
    return docs.select(
        "doc_id", TX.html_extract(html).alias("extracted")
    )


# Model-based quality scoring: the held-out slice is the
# deterministic doc_id % 4 == 0 quarter; AUC/separation floors are
# real Spark-side checks (measured ~1.0 at all fixture SFs against
# floors 0.9/0.5) the oracle expects TRUE.
# Eager: spark.ml LogisticRegression fit (hashed ngrams).
@query(eager=True, oracle="""
        SELECT lang, CAST(count(*) AS BIGINT) AS n_test_docs,
               TRUE AS auc_ok, TRUE AS separation_ok
        FROM documents WHERE doc_id % 4 = 0 GROUP BY lang
    """)
def _q_text_quality_model(spark, sf_dir):
    # Model-based quality scoring (r15, verdict ask #3): the fasttext-
    # style hashed-ngram logistic classifier of the CCNet/C4 lineage
    # (operators/quality_model.py). Labeled slice: every document is a
    # positive; its deterministically corrupted twin (vowels stripped,
    # uppercased, junk-punctuation suffix) is a negative. Train on
    # base-id % 4 != 0 (capped at 4000 rows by the deterministic
    # hash-mod downsample — the KMeans train_cap discipline), score
    # the held-out quarter scan-side (JVM HashingTF + sigmoid, no
    # Python), and gate on ROC AUC >= 0.9 and a mean-probability
    # separation >= 0.5 — contract booleans the oracle expects TRUE
    # (the a14/LSH pattern: floors with wide margin, measured ~1.0 /
    # ~0.999 at all three fixture SFs). Held-out per-lang counts are
    # replayed closed-form by the oracle.
    from chesscom_etl_tableau_spark.operators import quality_model as QM

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    neg = docs.select(
        (F.col("doc_id") + F.lit(1000000000)).alias("doc_id"),
        F.concat(
            F.upper(F.regexp_replace("text", "[aeiou]", "")),
            F.lit(" ### $$$ @@@ !!!! ### $$$"),
        ).alias("text"),
        "lang",
    )
    labeled = docs.withColumn("label", F.lit(1.0)).unionByName(
        neg.withColumn("label", F.lit(0.0))
    )
    base = F.pmod(F.col("doc_id"), F.lit(1000000000))
    train = labeled.where(F.pmod(base, F.lit(4)) != 0)
    test = labeled.where(F.pmod(base, F.lit(4)) == 0).localCheckpoint()
    model = QM.fit_quality_classifier(train, train_cap=4000)
    auc_ok = QM.quality_model_auc(model, test) >= 0.9
    sep = {
        r["label"]: r["p"]
        for r in QM.score_quality(model, test)
        .groupBy("label")
        .agg(F.avg("quality_prob").alias("p"))
        .collect()
    }
    sep_ok = sep.get(1.0, 0.0) - sep.get(0.0, 1.0) >= 0.5
    counts = (
        test.where(F.col("label") == 1.0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_test_docs"))
        .collect()
    )
    return spark.createDataFrame(
        [(r["lang"], r["n_test_docs"], auc_ok, sep_ok) for r in counts],
        "lang string, n_test_docs long, auc_ok boolean, separation_ok boolean",
    )
