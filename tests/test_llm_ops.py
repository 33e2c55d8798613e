"""Dedup / similarity / text operators on small controlled corpora."""

from __future__ import annotations

import math
import re
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.operators import dedup as D
from chesscom_etl_tableau_spark.operators import similarity as SIM
from chesscom_etl_tableau_spark.operators import text as TX


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "The quick brown fox jumps over the lazy dog!"),  # normalized dup of 1
        (4, "the quick brown fox jumps over the sleepy dog"),  # near dup (1 token)
        (5, "completely different content about spark engines"),
        (6, ""),
        (7, None),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


class TestExactDedup:
    def test_groups_and_survivors(self, docs):
        groups = {r["fingerprint"]: r for r in D.exact_dup_groups(docs).collect()}
        dups = [g for g in groups.values() if g["dup_count"] > 1]
        # 1,2,3 share a normalized fingerprint; 6,7 both normalize to ''.
        assert sorted(g["dup_count"] for g in dups) == [2, 3]
        kept = D.exact_dedup(docs)
        assert kept.count() == 4
        assert {r["doc_id"] for r in kept.select("doc_id").collect()} == {1, 4, 5, 6}


class TestJaccard:
    def test_exact_pairs(self, docs):
        out = D.ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()
        pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out}
        assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
        assert (1, 3) in pairs and pairs[(1, 3)] == 1.0  # case/punct-insensitive
        assert (2, 3) in pairs
        # 4 differs by one token -> 2 of 7 shingles change; jaccard = 5/9
        assert pairs[(1, 4)] == round(5 / 9, 6)
        high = D.ngram_jaccard_pairs(docs, k=3, threshold=0.6).collect()
        assert not any({r["doc_a"], r["doc_b"]} == {1, 4} for r in high)

    def test_max_shingle_df_drops_common(self, spark):
        rows = [(i, "common shingle everywhere " + ("x" * 0 + f"unique{i} a b")) for i in range(5)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        all_pairs = D.ngram_jaccard_pairs(df, k=3, threshold=0.01)
        filtered = D.ngram_jaccard_pairs(df, k=3, threshold=0.01, max_shingle_df=1)
        assert filtered.count() < all_pairs.count()


class TestMinHashLsh:
    def test_finds_true_near_dups(self, docs):
        out = D.minhash_dedup_pairs(docs, k=3, num_hashes=16, bands=4, threshold=0.5).collect()
        pairs = {(r["doc_a"], r["doc_b"]) for r in out}
        # Identical shingle sets always collide in every band.
        assert {(1, 2), (1, 3), (2, 3)} <= pairs
        # Verified jaccard filter keeps precision exact (no false accepts).
        for r in out:
            assert r["jaccard"] >= 0.5

    def test_signature_deterministic(self, docs):
        s1 = {r["doc"]: r["signature"] for r in D.minhash_signatures(docs, k=3).collect()}
        s2 = {r["doc"]: r["signature"] for r in D.minhash_signatures(docs, k=3).collect()}
        assert s1 == s2
        assert s1[1] == s1[2]  # identical docs -> identical signatures


class TestSimHash:
    def test_identical_docs_same_hash(self, docs):
        sh = {r["doc"]: r["simhash"] for r in D.simhash(docs).collect()}
        assert sh[1] == sh[2] == sh[3]
        assert sh[1] != sh[5]
        cands = {(r["doc_a"], r["doc_b"]) for r in D.simhash_candidates(D.simhash(docs)).collect()}
        assert {(1, 2), (1, 3), (2, 3)} <= cands


# Edge inputs of the shingle-overlap family: NULL and empty text (no
# shingles), docs shorter than k (one whole-doc shingle), and a doc
# whose shingles repeat (sets, not bags).
_EDGE_ROWS = [
    (1, "a b c d e", "s1"),
    (2, "a b c d e f", "s2"),
    (3, "x y", "s1"),
    (4, "X, y!", "s3"),
    (5, "a b c a b c a b c", "s2"),
    (6, "", "s3"),
    (7, None, "s3"),
    (8, "c d e f g", "s1"),
]
_EDGE_BATCH = {1, 3, 5, 6}


def _shingle_set(text, k=3):
    toks = re.findall(r"[a-z0-9]+", (text or "").lower())
    if len(toks) < k:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def _r6(n, d):
    return float((Decimal(n) / Decimal(d)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _overlaps(left, right, keep):
    """{(a, b): (n_common, n_a, n_b)} over pairs sharing a shingle."""
    return {
        (a, b): (len(sa & sb), len(sa), len(sb))
        for a, sa in left.items()
        for b, sb in right.items()
        if keep(a, b) and sa & sb
    }


def _jac(c, na, nb):
    return _r6(c, na + nb - c)


class TestOverlapFamilyEdgeInputs:
    """Every routed shingle-overlap function against plain-Python sets."""

    @pytest.fixture(scope="class")
    def edge(self, spark):
        return spark.createDataFrame(_EDGE_ROWS, "doc_id bigint, text string, source string")

    @staticmethod
    def _sets(ids=None, cap=None):
        sets = {i: _shingle_set(t) for i, t, _ in _EDGE_ROWS if ids is None or i in ids}
        if cap is not None:
            df = {}
            for st in sets.values():
                for s in st:
                    df[s] = df.get(s, 0) + 1
            sets = {i: {s for s in st if df[s] <= cap} for i, st in sets.items()}
        return sets

    @pytest.mark.parametrize("cap", [None, 2])
    def test_containment(self, edge, cap):
        got = D.ngram_containment_pairs(edge, k=3, threshold=0.0, max_shingle_df=cap)
        assert got.columns == ["doc_a", "doc_b", "n_common", "n_a", "n_b", "containment"]
        sets = self._sets(cap=cap)
        want = {
            (a, b, c, na, nb, _r6(c, min(na, nb)))
            for (a, b), (c, na, nb) in _overlaps(sets, sets, lambda a, b: a < b).items()
        }
        assert {tuple(r) for r in got.collect()} == want
        if cap is None:  # the short docs match each other; repeats count once
            assert (3, 4, 1, 1, 1, 1.0) in want and (1, 5, 1, 3, 3, 0.333333) in want

    def test_jaccard(self, edge):
        got = D.ngram_jaccard_pairs(edge, k=3, threshold=0.0, max_shingle_df=None)
        sets = self._sets()
        want = {
            (a, b, c, na, nb, _jac(c, na, nb))
            for (a, b), (c, na, nb) in _overlaps(sets, sets, lambda a, b: a < b).items()
        }
        assert {tuple(r) for r in got.collect()} == want

    def test_source_overlap(self, edge):
        got = D.source_overlap(edge, k=3)
        assert got.columns == ["source_a", "source_b", "n_shared", "n_a", "n_b", "jaccard"]
        vocab = {}
        for _, text, src in _EDGE_ROWS:
            vocab.setdefault(src, set()).update(_shingle_set(text))
        want = {
            (a, b, c, na, nb, _jac(c, na, nb))
            for (a, b), (c, na, nb) in _overlaps(vocab, vocab, lambda a, b: a < b).items()
        }
        assert {tuple(r) for r in got.collect()} == want

    def test_batch_pairs_exclude_self(self, edge):
        batch = edge.where(F.col("doc_id").isin(*_EDGE_BATCH))
        got = D.exact_jaccard_batch_pairs(batch, edge, threshold=0.0)
        want = {
            (b, c, _jac(*v))
            for (b, c), v in _overlaps(
                self._sets(_EDGE_BATCH), self._sets(), lambda b, c: b != c
            ).items()
        }
        assert (1, 1) not in {w[:2] for w in want}
        assert {tuple(r) for r in got.collect()} == want

    def test_tagged_pairs(self, edge):
        batch = edge.where(F.col("doc_id").isin(*_EDGE_BATCH))
        prior = edge.where(~F.col("doc_id").isin(*_EDGE_BATCH))
        bsh = D._doc_shingles(batch, "text", "doc_id", 3)
        other = bsh.withColumn("__c", F.lit(False)).unionByName(
            D._doc_shingles(prior, "text", "doc_id", 3).withColumn("__c", F.lit(True))
        )
        got = D.exact_jaccard_tagged_pairs(bsh, other, threshold=0.0)
        want = set()
        for tag, ids in ((False, _EDGE_BATCH), (True, {i for i, _, _ in _EDGE_ROWS} - _EDGE_BATCH)):
            pairs = _overlaps(self._sets(_EDGE_BATCH), self._sets(ids), lambda b, c: b != c)
            want |= {(b, c, _jac(*v), tag) for (b, c), v in pairs.items()}
        assert {tuple(r) for r in got.collect()} == want

    def test_candidate_path(self, spark, edge):
        batch = edge.where(F.col("doc_id").isin(*_EDGE_BATCH))
        # (5, 8) share no shingle and doc 6 has none: both drop out
        cand_ids = [(1, 2), (1, 8), (3, 4), (5, 8), (6, 1)]
        cands = spark.createDataFrame(cand_ids, "batch_id bigint, corpus_id bigint")
        got = D._verify_candidates(cands, batch, edge, "text", "doc_id", 3, 0.0)
        allp = _overlaps(self._sets(), self._sets(), lambda a, b: a != b)
        want = {(b, c, _jac(*allp[(b, c)])) for b, c in cand_ids if (b, c) in allp}
        assert {tuple(r) for r in got.collect()} == want
        assert {w[:2] for w in want} == {(1, 2), (1, 8), (3, 4)}
        lsh = {tuple(r) for r in D.minhash_dedup_pairs(edge, threshold=0.0).collect()}
        assert (3, 4, 1.0) in lsh  # identical sets share every band
        assert all(j == _jac(*allp[(a, b)]) for a, b, j in lsh)


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.95, 0.05]),  # close to 2
        (4, [-1.0, 0.0, 0.0]),  # opposite of 0
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


class TestSimilarity:
    def test_cosine_topk_exact(self, vectors):
        queries = vectors.where(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = SIM.cosine_topk(vectors, queries, k=2).collect()
        assert [r["vec_id"] for r in out] == [1, 2]  # 1 closest, then orthogonal 2 (id tie-break beats 3? no: cos(0,2)=0, cos(0,3)=0 -> tie, id asc)
        assert out[0]["rank"] == 1
        assert math.isclose(out[0]["cosine_sim"], 0.9 / math.sqrt(0.81 + 0.01), rel_tol=1e-5)

    def test_ivf_probes_subset(self, vectors):
        centroids = vectors.where(F.col("vec_id").isin(0, 2)).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        queries = vectors.where(F.col("vec_id") == 1).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = SIM.ivf_topk(vectors, centroids, queries, k=2, nprobe=1)
        got = [r["vec_id"] for r in out.collect()]
        assert got[0] == 0  # nearest bucket contains vec 0


class TestText:
    def test_token_and_counts(self, spark):
        df = spark.createDataFrame(
            [(1, "The cat, and a dog!"), (2, ""), (3, None)],
            "doc_id bigint, text string",
        )
        out = {r["doc_id"]: r for r in TX.quality_metrics(df).collect()}
        assert out[1]["n_tokens"] == 5
        assert out[1]["n_punct"] == 2  # ',' '!'
        assert out[1]["n_stopwords"] == 3  # the, and, a
        assert out[2]["n_tokens"] == 0 and out[3]["n_tokens"] == 0
        assert out[3]["quality_score"] is not None

    def test_lang_id(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the cat is on the mat and the dog"),
                (2, "el gato que es de la casa"),
                (3, "der hund und die katze ist das"),
                (4, "xyzzy qwerty plugh"),
            ],
            "doc_id bigint, text string",
        )
        out = {r["doc_id"]: r["lang_guess"] for r in df.select("doc_id", TX.lang_id(F.col("text")).alias("lang_guess")).collect()}
        assert out[1] == "en"
        assert out[2] == "es"
        assert out[3] == "de"
        assert out[4] == "und"

    def test_fingerprint_normalization(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello,   World!"), (2, "hello world"), (3, "different")],
            "doc_id bigint, text string",
        )
        fps = [r[0] for r in df.select(TX.normalized_fingerprint(F.col("text"))).collect()]
        assert fps[0] == fps[1] != fps[2]

    def test_shingles_short_doc(self, spark):
        df = spark.createDataFrame([(1, "one two")], "doc_id bigint, text string")
        vals = df.select(TX.shingles(F.col("text"), 3).alias("s")).collect()[0]["s"]
        assert vals == ["one two"]


class TestEmbeddingDedup:
    pytestmark = pytest.mark.slow  # heavy suite, default-profile excluded (r16)
    def test_exact_pairs(self, vectors):
        out = {
            (r["id_a"], r["id_b"]): r["cosine_sim"]
            for r in SIM.embedding_cosine_pairs(vectors, threshold=0.9).collect()
        }
        # Only (0,1) and (2,3) are near-duplicate pairs at 0.9.
        assert set(out) == {(0, 1), (2, 3)}
        assert all(v >= 0.9 for v in out.values())

    def test_lsh_subset_of_exact(self, spark):
        import random

        rng = random.Random(7)
        base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(20)]
        rows = [(i, [float(v) for v in vec]) for i, vec in enumerate(base)]
        # Add 5 near-duplicates (tiny perturbations of the first 5).
        for j in range(5):
            rows.append((100 + j, [float(v + rng.gauss(0, 0.01)) for v in base[j]]))
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        exact = {
            (r["id_a"], r["id_b"])
            for r in SIM.embedding_cosine_pairs(df, threshold=0.8).collect()
        }
        approx = {
            (r["id_a"], r["id_b"])
            for r in SIM.embedding_lsh_pairs(df, threshold=0.8, n_planes=16, bands=8).collect()
        }
        assert approx <= exact  # precision 1 by construction
        planted = {(j, 100 + j) for j in range(5)}
        assert planted <= exact
        # Near-identical vectors agree on nearly all sign bits -> found.
        assert planted <= approx

    def test_signature_deterministic(self, vectors):
        s1 = SIM.embedding_lsh_pairs(vectors, threshold=0.9).collect()
        s2 = SIM.embedding_lsh_pairs(vectors, threshold=0.9).collect()
        assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))


class TestBpeTokens:
    def test_counts(self, spark):
        df = spark.createDataFrame(
            [
                (1, "Hello, world!"),       # Hello / , / space-world / !
                (2, "it's 2024"),           # it / 's / space-2024
                (3, None),
                (4, ""),
            ],
            "doc_id bigint, text string",
        )
        got = {
            r["doc_id"]: r["n"]
            for r in df.select(
                "doc_id", TX.bpe_token_count(F.col("text")).alias("n")
            ).collect()
        }
        assert got == {1: 4, 2: 3, 3: 0, 4: 0}


class TestIvfKmeans:
    def test_learned_centroids_drop_in(self, spark):
        import random

        rng = random.Random(3)
        # Two well-separated clusters in 8-d.
        rows = []
        for i in range(30):
            center = 5.0 if i % 2 else -5.0
            rows.append((i, [float(center + rng.gauss(0, 0.2)) for _ in range(8)]))
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        cents = SIM.ivf_build_centroids(df, nlist=2, seed=7)
        assert cents.count() == 2
        queries = df.where(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = SIM.ivf_topk(df, cents, queries, k=3, nprobe=1).collect()
        assert len(out) == 3
        # All neighbors come from vec 0's (even-id) cluster.
        assert all(r["vec_id"] % 2 == 0 for r in out)

    def test_deterministic(self, spark):
        rows = [(i, [float(i % 5), float(i % 3)]) for i in range(20)]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        c1 = sorted(map(tuple, SIM.ivf_build_centroids(df, nlist=3, seed=1).collect()))
        c2 = sorted(map(tuple, SIM.ivf_build_centroids(df, nlist=3, seed=1).collect()))
        assert c1 == c2


class TestIvfPersisted:
    def test_partition_pruned_probe_matches_inmemory(self, spark, tmp_path):
        import random

        rng = random.Random(11)
        rows = [
            (i, [float(rng.gauss(i % 4, 0.3)) for _ in range(8)]) for i in range(40)
        ]
        corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        centroids = SIM.ivf_build_centroids(corpus, nlist=4, seed=5)
        queries = corpus.where(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )

        path = str(tmp_path / "ivf_index")
        SIM.ivf_persist(corpus, centroids, path)

        out = SIM.ivf_topk_persisted(spark, path, centroids, queries, k=3, nprobe=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]

        mem = SIM.ivf_topk(corpus, centroids, queries, k=3, nprobe=2)
        got = sorted(map(tuple, out.collect()))
        want = sorted(map(tuple, mem.collect()))
        assert got == want


def _rows(df):
    return sorted(map(tuple, df.collect()))


class TestAnnSearchCoreParity:
    """Every IVF, PQ and IVF-PQ path against the exact scan, on a corpus
    with exact duplicate vectors (5 = 9 = 13, 18 = 22 = 26): queries 5
    and 18 each see two corpus rows at cosine 1.0, so the id tie-break
    decides the rank."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        import random

        rng = random.Random(29)
        vecs = {}
        for i in range(32):
            src = {9: 5, 13: 5, 22: 18, 26: 18}.get(i)
            vecs[i] = vecs[src] if src is not None else [
                float(rng.gauss(i % 4, 0.4)) for _ in range(8)
            ]
        return spark.createDataFrame(
            sorted(vecs.items()), "vec_id bigint, embedding array<float>"
        )

    @pytest.fixture(scope="class")
    def queries(self, corpus):
        return corpus.where(F.col("vec_id").isin(0, 3, 5, 18)).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )

    def test_full_probe_ivf_equals_exact(self, spark, tmp_path, corpus, queries):
        from chesscom_etl_tableau_spark.operators import index_log as IL

        exact = _rows(SIM.cosine_topk(corpus, queries, k=4))
        assert sorted((r[3], r[1], r[2]) for r in exact if r[0] == 5)[:2] == [
            (1, 9, 1.0), (2, 13, 1.0)
        ]
        cents = SIM.ivf_build_centroids(corpus, nlist=4, seed=5)
        path = str(tmp_path / "ivf")
        SIM.ivf_persist(corpus, cents, path)
        assert _rows(SIM.ivf_topk(corpus, cents, queries, k=4, nprobe=4)) == exact
        assert _rows(SIM.ivf_topk_persisted(
            spark, path, cents, queries, k=4, nprobe=4
        )) == exact
        IL.index_log_init(path, "bucket")
        assert _rows(IL.ivf_topk_generation(
            spark, path, cents, queries, k=4, nprobe=4
        )) == exact

    def test_full_refine_pq_equals_exact(self, spark, tmp_path, corpus, queries):
        # k * refine_factor = 32 >= corpus size: every row is refined
        exact = _rows(SIM.cosine_topk(corpus, queries, k=4))
        books = SIM.pq_train(corpus, m=4, k=8, seed=3, dim=8)
        assert _rows(SIM.pq_topk(
            corpus, books, queries, k=4, refine_factor=8
        )) == exact
        kw = dict(nlist=4, m=4, seed=3, dim=8, corpus_rows=32)
        assert _rows(SIM.ivfpq_topk(
            corpus, queries, k=4, nprobe=4, kcode=8, refine_factor=8, **kw
        )) == exact
        path = str(tmp_path / "ivfpq")
        cents, books = SIM.ivfpq_persist(corpus, path, k=8, **kw)
        assert _rows(SIM.ivfpq_topk_persisted(
            spark, path, cents, books, corpus, queries, k=4, nprobe=4,
            refine_factor=8,
        )) == exact

    def test_persisted_probe_with_wide_centroid_ids(
        self, spark, tmp_path, corpus, queries
    ):
        # centroids drawn from corpus rows carry corpus ids, which may not
        # fit an int: bucket = 3_000_000_000 + j
        from chesscom_etl_tableau_spark.operators import index_log as IL

        cents = SIM.ivf_build_centroids(corpus, nlist=4, seed=5).select(
            (F.col("centroid_id") + F.lit(3_000_000_000)).alias("centroid_id"),
            "embedding",
        )
        path = str(tmp_path / "ivf_wide")
        SIM.ivf_persist(corpus, cents, path)
        mem = _rows(SIM.ivf_topk(corpus, cents, queries, k=3, nprobe=2))
        assert len(mem) == 12
        assert _rows(SIM.ivf_topk_persisted(
            spark, path, cents, queries, k=3, nprobe=2
        )) == mem
        IL.index_log_init(path, "bucket")
        assert _rows(IL.ivf_topk_generation(
            spark, path, cents, queries, k=3, nprobe=2
        )) == mem


class TestRefitTwins:
    """`similarity.ivf_refit_drifted` (dynamic overwrite) and
    `index_log.ivf_refit_drifted_log` (additive append + generation)
    over two copies of one index, with one all-zero baseline."""

    @pytest.mark.parametrize("case", ["clusters", "emptied_bucket"])
    def test_raw_and_logged_refits_agree(self, spark, tmp_path, case):
        from chesscom_etl_tableau_spark.operators import index_log as IL

        if case == "clusters":
            import random

            rng = random.Random(7)
            corpus = spark.createDataFrame(
                [(i, [float(rng.gauss(i % 3, 0.5)) for _ in range(4)])
                 for i in range(24)],
                "vec_id bigint, embedding array<float>",
            )
            cents = SIM.ivf_build_centroids(corpus, nlist=3, seed=2)
            assigned = SIM.assign_buckets(corpus, cents)
        else:
            # both buckets hold the same vector: both refit centroids
            # coincide and every row moves to bucket 0
            cents = spark.createDataFrame(
                [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
                "centroid_id int, embedding array<double>",
            )
            assigned = spark.createDataFrame(
                [(10, [0.7, 0.7], 0), (11, [0.7, 0.7], 1)],
                "vec_id bigint, embedding array<double>, bucket int",
            )
        raw, logged = str(tmp_path / "raw"), str(tmp_path / "logged")
        for path in (raw, logged):
            assigned.write.partitionBy("bucket").parquet(path)
        IL.index_log_init(logged, "bucket")
        zero = spark.createDataFrame(
            [], "bucket int, n_vectors long, mean_resid_micro long"
        )

        upd_raw, drifted_raw = SIM.ivf_refit_drifted(spark, raw, cents, zero)
        upd_log, drifted_log, _ = IL.ivf_refit_drifted_log(
            spark, logged, cents, zero
        )
        assert drifted_raw and drifted_raw == drifted_log
        assert _rows(upd_raw) == _rows(upd_log)
        assert _rows(spark.read.parquet(raw).select("vec_id", "bucket")) == _rows(
            IL.index_log_read(spark, logged).select("vec_id", "bucket")
        )
        raw_buckets = {
            v for v, fs in SIM.index_partition_files(raw, "bucket").items() if fs
        }
        log_buckets = {int(v) for v in IL.index_log_doc(logged)["partitions"]}
        assert raw_buckets == log_buckets
        if case == "emptied_bucket":
            assert raw_buckets == {0}


class TestIncrementalDedup:
    """Batch-vs-persisted-corpus dedup (the at-scale ingest pattern)."""

    def _corpus(self, spark):
        rows = [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "spark catalyst optimizes declarative query plans"),
            (3, "the quick brown fox jumps over the lazy dog"),  # in-b1 dup of 1
            # --- batch 2 (ids >= 10) ---
            (10, "The quick brown fox jumps over the lazy dog."),  # cross-batch dup of 1
            (11, "entirely new content arriving in the second batch"),
            (12, "entirely new content arriving in the second batch"),  # in-b2 dup of 11
            (13, "spark catalyst optimizes declarative query plans"),  # cross-batch dup of 2
        ]
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_sequential_batches_equal_full_batch(self, spark, tmp_path):
        docs = self._corpus(spark)
        b1 = docs.where(F.col("doc_id") < 10)
        b2 = docs.where(F.col("doc_id") >= 10)
        path = str(tmp_path / "dedup_index")

        s1 = D.exact_dedup(b1)
        D.build_dedup_index(s1, path)
        s2 = D.incremental_exact_dedup(b2, spark.read.parquet(path))

        got = {r["doc_id"] for r in s1.select("doc_id").collect()} | {
            r["doc_id"] for r in s2.select("doc_id").collect()
        }
        want = {r["doc_id"] for r in D.exact_dedup(docs).select("doc_id").collect()}
        assert got == want == {1, 2, 11}

        # Appending batch-2 survivors extends the index: a third batch
        # re-sending batch-2 content dedups to nothing.
        D.build_dedup_index(s2, path, mode="append")
        b3 = b2.withColumn("doc_id", F.col("doc_id") + 100)
        assert D.incremental_exact_dedup(b3, spark.read.parquet(path)).count() == 0

    def test_exact_path_prunes_index_to_fingerprint_column(self, spark, tmp_path):
        docs = self._corpus(spark)
        path = str(tmp_path / "dedup_index")
        D.build_dedup_index(docs.where(F.col("doc_id") < 10), path)
        out = D.incremental_exact_dedup(
            docs.where(F.col("doc_id") >= 10), spark.read.parquet(path)
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        scans = [seg for seg in plan.split("ReadSchema: ")[1:] if "fingerprint" in seg.split("\n")[0]]
        # The index scan reads ONLY the fingerprint column — at 100 TB the
        # signature column's bytes never leave the parquet footer.
        assert any(seg.startswith("struct<fingerprint:string>") for seg in scans), plan

    def test_near_dup_batch_vs_corpus(self, spark):
        corpus = self._corpus(spark).where(F.col("doc_id") < 10)
        batch_rows = [
            (20, "the quick brown fox jumps over the sleepy dog"),  # near dup of 1
            (21, "spark catalyst optimizes declarative query plans"),  # exact dup of 2
            (22, "unrelated text about entirely other things here"),
        ]
        batch = spark.createDataFrame(batch_rows, "doc_id bigint, text string")
        index = D.dedup_index_frame(corpus)
        out = D.incremental_near_dup_pairs(batch, corpus, index, threshold=0.5)
        pairs = {(r["batch_id"], r["corpus_id"]): r["jaccard"] for r in out.collect()}
        assert pairs[(21, 2)] == 1.0
        assert (20, 1) in pairs and pairs[(20, 1)] == round(5 / 9, 6)
        assert not any(b == 22 for b, _ in pairs)
        assert all(j >= 0.5 for j in pairs.values())


class TestSourceOverlap:
    def test_matrix_matches_hand_computed(self, spark):
        rows = [
            (1, "a", "w x y z"),      # shingles {w x y, x y z}
            (2, "a", "w x y"),        # adds nothing new to a
            (3, "b", "w x y q"),      # shingles {w x y, x y q}
            (4, "c", "p q r s"),      # disjoint from a
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
        out = {
            (r["source_a"], r["source_b"]): r
            for r in D.source_overlap(docs, k=3).collect()
        }
        ab = out[("a", "b")]
        assert (ab["n_shared"], ab["n_a"], ab["n_b"]) == (1, 2, 2)
        assert ab["jaccard"] == round(1 / 3, 6)
        assert ("a", "c") not in out  # no shared shingles -> no row
        assert ("b", "c") not in out  # inner-join matrix: zero-overlap pairs absent
