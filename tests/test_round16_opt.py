"""Round-16 optimization equivalence guards.

The unrolled dot/cosine twins (`similarity.dot_u` / `cosine_u` /
`norm_u`) must be TOTAL-function equivalent to the interpreted HOF
forms (`dot` / `cosine` / `norm`): the unrolled branch fires only
behind a `when(size(a) == d AND size(b) == d)` guard whose `otherwise`
IS the original fold, so every null/ragged/NaN input must take a
byte-identical path and every width-d input must reproduce the fold's
IEEE operation order exactly.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.operators.similarity import (
    _UNROLL_DIM,
    cosine,
    cosine_u,
    dot,
    dot_u,
    norm,
    norm_u,
)


def _mismatches(spark, rows):
    edge = spark.createDataFrame(rows, "a array<double>, b array<double>")
    return (
        edge.select(
            dot(F.col("a"), F.col("b")).alias("de"),
            dot_u(F.col("a"), F.col("b")).alias("du"),
            cosine(F.col("a"), F.col("b")).alias("ce"),
            cosine_u(F.col("a"), F.col("b")).alias("cu"),
            norm(F.col("a")).alias("ne"),
            norm_u(F.col("a")).alias("nu"),
        )
        .where(
            ~F.col("de").eqNullSafe(F.col("du"))
            | ~F.col("ce").eqNullSafe(F.col("cu"))
            | ~F.col("ne").eqNullSafe(F.col("nu"))
        )
        .count()
    )


class TestUnrolledDotEquivalence:
    def test_edge_cases(self, spark):
        d = _UNROLL_DIM
        nan = float("nan")
        rows = [
            # non-d widths: must fall to the fold branch
            ([1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
            (None, [1.0, 2.0]),
            ([1.0, 2.0], None),
            (None, None),
            ([], []),
            ([1.0, 2.0], [1.0]),  # ragged
            ([0.0, 0.0], [1.0, 1.0]),  # zero norm -> cosine NULL
            # exactly d wide: the unrolled branch fires
            ([1.0] * d, [2.0] * d),
            ([0.0] * d, [1.0] * d),  # zero norm at width d
            ([-0.0] * d, [5.0] * d),
            ([nan] * d, [1.0] * d),  # NaN propagates identically
            ([1.0] * d, [None] * (d - 1) + [2.0]),  # null ELEMENT at width d
            ([1.0] * (d - 1) + [None], [2.0] * d),
            ([1e-300] * d, [1e300] * d),  # extreme magnitudes
            ([0.1, 0.2] * (d // 2), [1e-17, 0.123456785] * (d // 2)),
            # width d vs ragged partner: guard must reject the pair
            ([1.0] * d, [1.0] * (d - 1)),
        ]
        assert _mismatches(spark, rows) == 0

    def test_seeded_random_vectors(self, spark):
        import numpy as np

        rng = np.random.RandomState(7)
        d = _UNROLL_DIM
        # float32-quantized values like the real embedding surface
        mats = rng.standard_normal((60, d)).astype(np.float32).astype(float)
        rows = [
            (mats[i].tolist(), mats[j].tolist())
            for i in range(0, 60, 3)
            for j in range(1, 60, 7)
        ]
        assert _mismatches(spark, rows) == 0

    def test_unrolled_branch_actually_fires(self, spark):
        # sanity: at width d the two forms agree on a value the fold
        # computes left-to-right; a wrong-order implementation would
        # diverge on this ill-conditioned vector in the last ulp.
        d = _UNROLL_DIM
        a = [1e16, 1.0] + [-1e16] + [1.0] * (d - 3)
        b = [1.0] * d
        row = (
            spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
            .select(
                dot(F.col("a"), F.col("b")).alias("e"),
                dot_u(F.col("a"), F.col("b")).alias("u"),
            )
            .first()
        )
        # left-to-right: (1e16 + 1.0) absorbs the 1.0; a naive
        # math.fsum-style exact sum would yield d - 3 + 1 instead.
        assert row["e"] == row["u"]
        assert row["u"] == float(d - 3)


class TestCosineTopkUnrollParity:
    def test_same_results_both_forms(self, spark):
        import numpy as np

        from chesscom_etl_tableau_spark.operators.similarity import cosine_topk

        rng = np.random.RandomState(11)
        d = _UNROLL_DIM
        emb = spark.createDataFrame(
            [
                (i, rng.standard_normal(d).astype(np.float32).astype(float).tolist())
                for i in range(40)
            ],
            "vec_id long, embedding array<double>",
        )
        q = emb.select(F.col("vec_id").alias("query_id"), "embedding").limit(7)
        a = cosine_topk(emb, q, k=3, unroll=False).collect()
        b = cosine_topk(emb, q, k=3, unroll=True).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestTaggedJaccardEquivalence:
    """exact_jaccard_tagged_pairs (the shared-join form the corpus
    ingest uses) must equal one exact_jaccard_batch_pairs call per tag."""

    def test_matches_per_tag_calls(self, spark):
        from pyspark.sql import functions as F

        from chesscom_etl_tableau_spark.operators.dedup import (
            _doc_shingles,
            exact_jaccard_batch_pairs,
            exact_jaccard_tagged_pairs,
        )

        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy cat"),
                (3, "completely different text with other words here"),
                (4, "the quick brown fox jumps over the lazy dog"),
                (5, "another corpus document that shares nothing at all"),
            ],
            "doc_id long, text string",
        )
        batch = docs.where("doc_id <= 2")
        corpus = docs.where("doc_id >= 3")
        bsh = _doc_shingles(batch, "text", "doc_id", 3)
        csh = _doc_shingles(corpus, "text", "doc_id", 3)
        other = bsh.withColumn("__c", F.lit(False)).unionByName(
            csh.withColumn("__c", F.lit(True))
        )
        tagged = exact_jaccard_tagged_pairs(bsh, other, threshold=0.2)
        got_true = sorted(
            map(tuple, tagged.where("__c").drop("__c").collect())
        )
        got_false = sorted(
            map(tuple, tagged.where("NOT __c").drop("__c").collect())
        )
        want_true = sorted(
            map(
                tuple,
                exact_jaccard_batch_pairs(
                    batch, corpus, threshold=0.2,
                    batch_shingles=bsh, corpus_shingles=csh,
                ).collect(),
            )
        )
        want_false = sorted(
            map(
                tuple,
                exact_jaccard_batch_pairs(
                    batch, batch, threshold=0.2,
                    batch_shingles=bsh, corpus_shingles=bsh,
                ).collect(),
            )
        )
        assert got_true == want_true
        assert got_false == want_false
        assert len(got_true) > 0 and len(got_false) > 0


class TestMultisetMismatchGuard:
    def test_reserved_column_raises_value_error(self, spark):
        from chesscom_etl_tableau_spark.registry.common import _multiset_mismatch

        a = spark.createDataFrame([(1, 2)], "x long, __side long")
        with pytest.raises(ValueError, match="reserved column"):
            _multiset_mismatch(a, a)
        b = spark.createDataFrame([(1,), (1,), (2,)], "x long")
        assert _multiset_mismatch(b, b.limit(1)) == 2
