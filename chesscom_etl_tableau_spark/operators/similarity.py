"""Similarity search over embedding columns (BASELINE.json north star).

Four top-k paths over `embeddings(vec_id, embedding: array<float>, label)`:

- exact (`cosine_topk`, `hard_negatives`): the query set is small and
  broadcast; the corpus streams through one narrow stage computing the
  dot product with `aggregate(zip_with(...))` (JVM-side, no Python).
  Exact, and the baseline for recall measurement.
- IVF (`ivf_topk`, `ivf_topk_persisted`): a deterministic centroid set
  partitions the corpus into `nlist` buckets (argmax cosine, one
  broadcast join); a query probes only its `nprobe` nearest buckets —
  at 100 TB a ~nprobe/nlist fraction of the corpus, pruned by the
  persisted `bucket` partition column.
- PQ (`pq_topk`): ADC scoring of decoded product codes, then an exact
  re-rank of k * refine_factor candidates.
- IVF-PQ (`ivfpq_topk`, `ivfpq_topk_persisted`): IVF probing over
  residual PQ codes, then the same exact re-rank.

Every path shares one search core (REPOSE's shape: a partition-pruned
probe, then a local exact top-k): `_top_k` is the one per-group rank
(score descending, id ascending), `_probes` routes each query to its
`nprobe` buckets, `_pruned` turns that routing into a `bucket IN (...)`
scan of a persisted index, `_ivf_score` / `_adc_topk` score a probed
index and `_refine` is the exact stage 2. Index maintenance shares
`_residuals` (vector minus its bucket centroid), `_recenter` (partial
refit) and `_overwrite_partitions` (dynamic partition rewrite).

All arithmetic is done in float64 after an explicit cast (float32
accumulation drifts across engines; double accumulation left-to-right
is bit-stable and matches the DuckDB oracle exactly).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.util import ensure_parallelism, local_frame


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-to-right float64 dot product (order-stable)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return F.try_divide(dot(a, b), norm(a) * norm(b))


# ---------------------------------------------------------------------------
# Unrolled (codegen-friendly) twins of dot/cosine (optimization r16,
# guide §4.2 "per-task work" / §1.2 step 2).
#
# The expression forms above are interpreted Catalyst HOF lambdas: one
# zip_with allocation plus a per-element lambda fold PER PAIR. On the
# per-pair hot paths (cross/band/bucket joins: n^2-ish pair counts x
# dim-64 vectors) that interpreted loop dominates the stage. The twins
# below unroll the fold into a flat left-associative expression over
# getItem ordinals — identical IEEE operation order to the fold
# (0.0 + x0 + x1 + ...; element products of the double-cast values) —
# guarded by `when(size(a) == d AND size(b) == d)` with the ORIGINAL
# fold expression as the `otherwise` branch, so every input (NULL
# array, ragged length, NaN or NULL elements) takes a byte-identical
# code path and the twins are total-function equivalent to the HOF
# forms. `round(, 6)` / `try_divide` stay the same JVM expressions.
#
# Two alternatives were measured and REJECTED on the 2M-pair sf0.1
# cross join (interleaved in-process A/B, noop sink):
#   - pandas_udf numpy kernel: 2.8-5.6s vs 1.1-1.5s expr — the
#     Arrow->pandas conversion materializes one small ndarray PER ROW
#     for array columns;
#   - Spark 4 arrow_udf over the flat list buffers (zero per-row
#     objects): still 1.9-3.1s vs 1.5s expr — shipping 2 x 64 floats
#     per pair through the Python worker costs more than the fold
#     saves.
# The unrolled JVM form measured 0.61-0.73s vs 0.99-1.13s expr on the
# same A/B (raw-dot equality: 0 mismatches over the full pair set) —
# no Python boundary, no plan-shape change, nothing to transfer.
#
# _UNROLL_DIM is a PERFORMANCE HINT, not a correctness parameter: the
# size guard routes any other width to the original fold. 64 is this
# engine's embedding width on every surface (including reconstructed
# PQ vectors); at another width the unrolled branch simply never fires.
# ---------------------------------------------------------------------------

_UNROLL_DIM = 64


def _dot_unrolled(a: Column, b: Column, d: int) -> Column:
    acc: Column = F.lit(0.0)
    for j in range(d):
        acc = acc + a.getItem(j).cast("double") * b.getItem(j).cast("double")
    return acc


def _sq_sum_unrolled(a: Column, d: int) -> Column:
    acc: Column = F.lit(0.0)
    for j in range(d):
        x = a.getItem(j).cast("double")
        acc = acc + x * x
    return acc


def dot_u(a: Column, b: Column) -> Column:
    """`dot` with the fixed-width fold unrolled for codegen; falls back
    to the interpreted fold for any other/null/ragged width."""
    d = _UNROLL_DIM
    return F.when(
        (F.size(a) == d) & (F.size(b) == d), _dot_unrolled(a, b, d)
    ).otherwise(dot(a, b))


def norm_u(a: Column) -> Column:
    d = _UNROLL_DIM
    return F.sqrt(
        F.when(F.size(a) == d, _sq_sum_unrolled(a, d)).otherwise(
            F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
        )
    )


def cosine_u(a: Column, b: Column) -> Column:
    return F.try_divide(dot_u(a, b), norm_u(a) * norm_u(b))


def _dot_pairwise(a: Column, b: Column, unroll: bool) -> Column:
    """Per-pair dot with a caller-chosen form: the unrolled twin pays a
    fixed plan-analysis/expression-tree cost that only amortizes when
    the pair count is large (measured: ~4M pairs win ~1.7x, ~10k pairs
    LOSE ~0.5s per action), so callers with data-sized pair spaces pass
    unroll=True and small-query-set callers keep the fold."""
    return dot_u(a, b) if unroll else dot(a, b)


def _top_k(
    df: DataFrame, part: str, order, tie: str, k: int, rank: str = "rank"
) -> DataFrame:
    """The one per-group rank of every search here: rows of each `part`
    group ordered by `order` (a column name or expression) descending,
    ties by `tie` ascending, the first `k` kept with their 1-based
    `rank`. Scores are 6-decimal-rounded before they get here, so the
    order is engine-reproducible."""
    order = F.col(order) if isinstance(order, str) else order
    w = Window.partitionBy(part).orderBy(order.desc(), F.col(tie).asc())
    return df.withColumn(rank, F.row_number().over(w)).where(F.col(rank) <= k)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    unroll: bool = False,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    `queries` must be small (it is broadcast); `corpus` is never
    shuffled — the only exchange is the per-query window over candidate
    rows, and AQE handles the skew if k << candidates.
    Excludes self-matches when query ids coincide with corpus ids.
    Deterministic: ties break by corpus id ascending.
    """
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        norm(F.col(vec_col)).alias("__qnrm"),
    )
    # Dot products are the CPU-heavy stage: spread narrow sources first;
    # norms are computed once per vector, not once per pair.
    c = ensure_parallelism(
        corpus.select(F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("__cnrm"))
    )
    scored = c.crossJoin(F.broadcast(q)).where(F.col(id_col) != F.col(query_id_col))
    scored = scored.select(
        query_id_col,
        id_col,
        F.round(
            F.try_divide(_dot_pairwise(F.col(vec_col), F.col("__qvec"), unroll), F.col("__cnrm") * F.col("__qnrm")),
            6,
        ).alias("cosine_sim"),
    )
    return _top_k(scored, query_id_col, "cosine_sim", id_col, k).select(
        query_id_col, id_col, "cosine_sim", "rank"
    )


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-k most-similar corpus vectors with a DIFFERENT label — the
    negatives that actually move a contrastive loss (random negatives
    are trivially separable; the hard ones live at the decision
    boundary). Same plan shape as `cosine_topk` (anchors broadcast,
    corpus never shuffled, one per-anchor window), plus the label
    disagreement filter pushed below the window so excluded rows never
    rank. The IVF-bucketed path (`ivf_topk` + label filter) is the
    100 TB variant; this exact form is its recall yardstick.
    Deterministic: 6-decimal-rounded cosine, ties by corpus id.
    """
    q = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("__albl"),
        F.col(vec_col).alias("__qvec"),
        norm(F.col(vec_col)).alias("__qnrm"),
    )
    c = ensure_parallelism(
        corpus.select(
            F.col(id_col), F.col(label_col), F.col(vec_col),
            norm(F.col(vec_col)).alias("__cnrm"),
        )
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(
            (F.col(id_col) != F.col("anchor_id"))
            & (F.col(label_col) != F.col("__albl"))
        )
        .select(
            "anchor_id",
            id_col,
            F.col(label_col).alias("neg_label"),
            F.round(
                F.try_divide(
                    dot(F.col(vec_col), F.col("__qvec")),
                    F.col("__cnrm") * F.col("__qnrm"),
                ),
                6,
            ).alias("cosine_sim"),
        )
    )
    return _top_k(scored, "anchor_id", "cosine_sim", id_col, k).select(
        "anchor_id", id_col, "neg_label", "cosine_sim", "rank"
    )


def assign_buckets(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """IVF bucket assignment: nearest centroid by cosine (broadcast argmax)."""
    cent = centroids.select(
        F.col(centroid_id_col),
        F.col(vec_col).alias("__cvec"),
        norm(F.col(vec_col)).alias("__cnrm"),
    )
    base = ensure_parallelism(corpus).withColumn("__vnrm", norm(F.col(vec_col)))
    scored = base.crossJoin(F.broadcast(cent)).select(
        id_col,
        vec_col,
        centroid_id_col,
        F.try_divide(dot(F.col(vec_col), F.col("__cvec")), F.col("__vnrm") * F.col("__cnrm")).alias("__sim"),
    )
    # Rank on the 6-decimal-rounded similarity: the argmax is then
    # stable across engines (raw float64 cosines can differ in the last
    # ulp between implementations), which makes IVF bucket assignment —
    # and therefore recall measurements — oracle-reproducible.
    return _top_k(
        scored, id_col, F.round(F.col("__sim"), 6), centroid_id_col, 1, "__rn"
    ).select(id_col, vec_col, F.col(centroid_id_col).alias("bucket"))


def embedding_cosine_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding near-dup: all pairs (a < b) with cosine >= threshold.

    This is the O(n^2) exact baseline (a broadcast nested-loop self-join)
    — correct at any size but quadratic; it is the oracle/recall baseline
    for `embedding_lsh_pairs`, which is the 100 TB path.
    """
    a = ensure_parallelism(
        corpus.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("__va"),
            norm(F.col(vec_col)).alias("__na"),
        )
    )
    b = corpus.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        norm(F.col(vec_col)).alias("__nb"),
    )
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.try_divide(dot_u(F.col("__va"), F.col("__vb")), F.col("__na") * F.col("__nb")),
                6,
            ).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def semantic_dedup_pairs(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt_partitions: int = 32,
    bucketed: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al.,
    arXiv:2303.09540 — public paper): assign every vector to its
    nearest centroid (`assign_buckets`, broadcast argmax), then emit
    cosine pairs ONLY within a bucket.

    Scale shape: the quadratic all-pairs join becomes sum_b O(n_b^2) —
    n^2/nlist for balanced clusters. A plain join on `bucket` alone
    would cap parallelism at nlist tasks (measured 7x slower at
    nlist=4 on 32 cores), so the pair-gen is SALTED: the left side
    carries salt = hash(id) % S, the right side replicates to all S
    salts, and the join key is (bucket, salt) — nlist x S uniform
    partitions, each pair produced exactly once (at its left row's
    salt). The S-fold replication of one side is the standard price of
    parallelizing skewed pair generation; S is a knob independent of
    data size. The price of the design overall is recall: cross-bucket
    near-dup pairs are missed by construction; the registry entry
    fences that with a measured recall floor (BASELINE.md) exactly
    like the LSH paths.

    Pass `bucketed` (from `assign_buckets`, persisted — the same
    artifact `ivf_persist` writes) to skip the inline assignment: the
    self-join otherwise re-executes the assignment subtree once per
    side, which is noise here but a full corpus re-scan at 100 TB.
    """
    if bucketed is None:
        bucketed = assign_buckets(corpus, centroids, id_col, vec_col)
    a = bucketed.select(
        "bucket",
        F.pmod(F.hash(F.col(id_col)), F.lit(salt_partitions)).alias("__salt"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        norm(F.col(vec_col)).alias("__na"),
    )
    b = bucketed.select(
        "bucket",
        F.explode(F.sequence(F.lit(0), F.lit(salt_partitions - 1))).alias("__salt"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        norm(F.col(vec_col)).alias("__nb"),
    )
    return (
        a.join(b, ["bucket", "__salt"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            "bucket",
            F.round(
                F.try_divide(
                    dot_u(F.col("__va"), F.col("__vb")), F.col("__na") * F.col("__nb")
                ),
                6,
            ).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def random_hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for random-projection LSH."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return [[float(v) for v in row] for row in rng.standard_normal((n_planes, dim))]


def rp_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature: bit j = 1 iff dot(vec, plane_j) >= 0.

    The planes ship as a literal nested array, so the whole signature is
    one codegen expression per row — no shuffle, no Python. Plan size
    grows with dim x n_planes — use `with_rp_signature` (which falls
    back to a broadcast row above RP_LITERAL_LIMIT) rather than calling
    this directly on large plane sets.
    """
    planes_col = F.array(*[F.array(*[F.lit(v) for v in p]) for p in planes])
    return F.transform(planes_col, lambda p: (dot(vec, p) >= 0).cast("int"))


# Above this many scalar literals (dim x n_planes) the literal-array
# plan stops being free: Catalyst folds/serializes the constants into
# the plan, analysis time and plan-broadcast size grow linearly, and
# very large trees can hit codegen limits. The broadcast-row path below
# keeps the plan O(1) at identical per-row arithmetic (same transform
# expression, operand read from a joined column instead of a literal).
# 32768 ~= 64-dim x 512 planes — far above every current call site
# (measured 8x faster than broadcast at production sizes; NOTES.md).
RP_LITERAL_LIMIT = 32768


def with_rp_signature(
    df: DataFrame,
    vec_col: str,
    planes: list[list[float]],
    out_col: str = "bits",
    force_broadcast: bool = False,
) -> DataFrame:
    """Attach the hyperplane sign-bit signature as `out_col`, choosing
    the plan-size-safe encoding automatically (round-4 verdict ask #7):
    literal codegen under RP_LITERAL_LIMIT, broadcast single-row join
    above it. Both paths compute bit-identical signatures (pinned by
    tests/test_round5_guards.py::TestRpSignatureGuard)."""
    n_literals = len(planes) * (len(planes[0]) if planes else 0)
    if n_literals <= RP_LITERAL_LIMIT and not force_broadcast:
        return df.withColumn(out_col, rp_signature(F.col(vec_col), planes))
    prow = local_frame(df.sparkSession, [(planes,)], "__planes array<array<double>>")
    return (
        df.crossJoin(F.broadcast(prow))
        .withColumn(
            out_col,
            F.transform(
                F.col("__planes"),
                lambda p: (dot(F.col(vec_col), p) >= 0).cast("int"),
            ),
        )
        .drop("__planes")
    )


def nlist_for(n: int, target_cluster: int = 512) -> int:
    """SemDeDup/IVF cluster-count sizing rule as a pure function of
    corpus size `n`: nlist = max(4, n // target_cluster). Fixed nlist
    makes within-cluster pair generation quadratic (bucket size grows
    with n — measured, BASELINE.md scaling table); clusters
    proportional to the corpus keep expected bucket size — and so
    per-bucket pair work — constant. Like `lsh_planes_for`, take `n`
    from catalog row-count statistics, never a corpus scan."""
    return max(4, n // target_cluster)


def lsh_planes_for(n: int, bands: int = 8, target_bucket: int = 64) -> int:
    """Band-width sizing rule as a pure function of corpus size `n`:
    r = max(4, ceil(log2(n / target_bucket))), n_planes = r * bands.

    Callers should get `n` from catalog statistics (table row counts) —
    NOT from a corpus scan — so query builders stay lazy: building a
    plan must never run a job (asserted in tests for every `queries()`
    entry). Constant expected bucket occupancy ⇒ near-linear candidate
    volume at any n.
    """
    import math

    r = max(4, math.ceil(math.log2(max(n, 2) / target_bucket)))
    return r * bands


def embedding_lsh_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    n_planes: int | None = None,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    target_bucket: int = 64,
    dim: int | None = None,
) -> DataFrame:
    """Approximate embedding near-dup: random-hyperplane LSH candidates,
    then exact cosine verification.

    Scale path for 100 TB: the pair space is bucket-local — vectors only
    meet if they agree on all r = `n_planes/bands` sign bits of some
    band (one equi-join shuffle on the band key instead of an n^2 cross
    join). Candidates are verified with the exact cosine, so output
    pairs are a subset of `embedding_cosine_pairs` (precision 1,
    recall ~= 1-(1-p^r)^bands where p = 1 - angle/pi).

    Sizing: expected candidate volume is ~ bands * n^2 / 2^(r+1) on
    unclustered data, so r must grow with the corpus: by default r =
    max(4, ceil(log2(n / target_bucket))) — constant expected bucket
    occupancy at any n, hence near-linear candidate volume in n plus the
    true-pair count. Pass `n_planes` to pin r = n_planes/bands manually.
    The verification cosine is computed inside the band join (vectors
    ride along with the band key), so matched pairs never re-join the
    corpus; the dedup groupBy sees only pairs that already passed the
    threshold.
    """
    if n_planes is None:
        # Fallback auto-sizing: EAGER (runs a count job at plan-build
        # time). Hot paths and `queries()` builders must pass `n_planes`
        # (via `lsh_planes_for` over catalog stats) and `dim` so the
        # builder stays lazy.
        n_planes = lsh_planes_for(corpus.count(), bands, target_bucket)
    planes = random_hyperplanes(n_planes, dim if dim is not None else _dim_of(corpus, vec_col), seed)
    r = n_planes // bands
    # Norms are computed once per vector here; the per-pair verify below
    # is then a single dot product (the norms ride along with the vec).
    sig = with_rp_signature(
        ensure_parallelism(corpus).select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            norm(F.col(vec_col)).alias("nrm"),
        ),
        "vec",
        planes,
        out_col="bits",
    )
    banded = sig.select(
        "id",
        "vec",
        "nrm",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.array_join(
                    F.transform(F.slice(F.col("bits"), b * r + 1, r), lambda v: v.cast("string")),
                    "",
                ),
            )
        ).alias("band_id", "band_key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(
                F.try_divide(dot_u(F.col("a.vec"), F.col("b.vec")), F.col("a.nrm") * F.col("b.nrm")),
                6,
            ).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
        .groupBy("id_a", "id_b")
        .agg(F.first("cosine_sim").alias("cosine_sim"))
    )


def ivf_persist(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: corpus partitioned by bucket on disk.

    Probing then reads only `nprobe` partition directories — partition
    pruning turns a full corpus scan per query into ~nprobe/nlist of
    the data, which is the entire point of IVF at 100 TB.
    """
    from chesscom_etl_tableau_spark.util import cluster_for_partitioned_write

    # bucket-clustered parallel write (optimization r15, guide §6) —
    # see cluster_for_partitioned_write
    cluster_for_partitioned_write(
        assign_buckets(corpus, centroids, id_col, vec_col), "bucket"
    ).write.mode("overwrite").partitionBy("bucket").parquet(path)


def ivf_bucket_residuals(
    assigned: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-bucket quantization-residual statistics of an assigned frame
    (output of `assign_buckets` or a persisted-index read): how well
    the centroids still describe the vectors they index.

    resid_micro = floor((1 - round(cosine(vec, assigned centroid), 6))
    * 1e6 + 0.5) per row — integer micro-units so the per-bucket mean
    (an exact integer `div`) is engine-reproducible bit-for-bit; no
    float aggregation order-dependence. Output: (bucket, n_vectors,
    mean_resid_micro)."""
    cent = centroids.select(
        F.col("centroid_id").alias("bucket"), F.col(vec_col).alias("__cvec")
    )
    resid = assigned.join(F.broadcast(cent), "bucket").select(
        "bucket",
        F.floor(
            (F.lit(1.0) - F.round(cosine(F.col(vec_col), F.col("__cvec")), 6))
            * 1000000.0
            + 0.5
        )
        .cast("long")
        .alias("__rm"),
    )
    return resid.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.expr("sum(__rm) div count(1)").cast("long").alias("mean_resid_micro"),
    )


def ivf_append(
    spark,
    index_path: str,
    centroids: DataFrame,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental IVF index maintenance: append `batch` into the
    persisted index at `index_path` WITHOUT refitting.

    New vectors are assigned against the FROZEN centroids (the same
    rounded-cosine argmax `ivf_persist` ran at build time) and written
    with mode('append') + partitionBy('bucket'): only the touched
    bucket partitions receive NEW files, existing files are never
    rewritten or read, so append cost is O(|batch|) regardless of
    index size — the ANN twin of `incremental_near_dup_pairs` (the
    batch never rescans the corpus). Because assignment is a pure
    function of (vector, frozen centroids), the appended index is
    row-identical to a from-scratch rebuild on the same centroids —
    the `ann_ivf_append` oracle entry asserts exactly that.

    Returns the appended batch's per-bucket drift frame (`ivf_bucket_
    residuals`): compare `mean_resid_micro` against the same statistic
    over the index's build-time rows — a sustained appended-mean well
    above the build-time mean says the frozen centroids no longer
    describe the incoming distribution and a refit is due.

    localCheckpoint pins the assignment so the write and the returned
    statistics see the same rows at one compute (same durability
    caveat as ivf_topk_persisted's note: an executor loss during the
    call re-runs the deterministic assignment, it cannot diverge).
    """
    from chesscom_etl_tableau_spark.util import cluster_for_partitioned_write

    assigned = cluster_for_partitioned_write(
        assign_buckets(batch, centroids, id_col, vec_col), "bucket"
    ).localCheckpoint()
    assigned.write.mode("append").partitionBy("bucket").parquet(index_path)
    return ivf_bucket_residuals(assigned, centroids, vec_col)


def ivf_topk_persisted(
    spark,
    index_path: str,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Probe a persisted IVF index with partition pruning.

    The probe set (query -> nprobe bucket ids) is computed driver-side
    against the tiny centroid set; the scan then carries a `bucket IN
    (...)` predicate that lands in PartitionFilters (asserted in tests).
    """
    return _topk_over_scan(
        spark,
        lambda needed: spark.read.parquet(index_path).where(
            F.col("bucket").isin(needed)
        ),
        centroids, queries, k, nprobe, id_col, vec_col, query_id_col,
    )


def _topk_over_scan(
    spark,
    scan,
    centroids: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Shared IVF probe core: `scan(needed_buckets) -> DataFrame` is how
    the probed buckets reach the plan — directory partition pruning for
    the raw index (`ivf_topk_persisted`), manifest-side file selection
    for a pinned generation (`index_log.ivf_topk_generation`). Probe
    math is identical either way, and identical to `ivf_topk`'s."""
    probes = _probes(centroids, queries, nprobe, vec_col, query_id_col)
    return _ivf_score(
        _pruned(spark, probes, scan), k, id_col, vec_col, query_id_col
    )


def _probes(
    centroids: DataFrame,
    queries: DataFrame,
    nprobe: int,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Query -> bucket routing of every IVF and IVF-PQ probe: each
    query's `nprobe` nearest centroids by 6-decimal-rounded cosine, ties
    by centroid id. Rows (query_id, __qvec, bucket), |queries| x nprobe;
    `bucket` keeps the centroid-id type."""
    cent = centroids.select(F.col("centroid_id"), F.col(vec_col).alias("__cvec"))
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
    qc = q.crossJoin(F.broadcast(cent)).select(
        query_id_col,
        "__qvec",
        "centroid_id",
        cosine(F.col("__qvec"), F.col("__cvec")).alias("__sim"),
    )
    return _top_k(
        qc, query_id_col, F.round(F.col("__sim"), 6), "centroid_id", nprobe, "__rn"
    ).select(query_id_col, "__qvec", F.col("centroid_id").alias("bucket"))


def _pruned(spark, probes: DataFrame, scan) -> DataFrame:
    """A persisted index's probed rows joined to their queries. The
    routing is collected driver-side (tiny: |queries| x nprobe) so that
    `scan(needed_buckets)` can prune; it goes back into the plan as a
    broadcast frame with the routing's own schema, so ids and centroid
    ids of any integer width survive the round trip."""
    rows = probes.collect()
    index = scan(sorted({r["bucket"] for r in rows}))
    return index.join(
        F.broadcast(local_frame(spark, rows, probes.schema)), "bucket"
    )


def _ivf_score(
    probed: DataFrame, k: int, id_col: str, vec_col: str, query_id_col: str
) -> DataFrame:
    """Exact top-k over the rows an IVF probe reached (`probed`: index
    rows joined to their queries' `__qvec`), self-matches dropped."""
    scored = probed.where(F.col(id_col) != F.col(query_id_col)).select(
        query_id_col,
        id_col,
        F.round(cosine(F.col(vec_col), F.col("__qvec")), 6).alias("cosine_sim"),
    )
    return _top_k(scored, query_id_col, "cosine_sim", id_col, k).select(
        query_id_col, id_col, "cosine_sim", "rank"
    )


def index_partition_files(index_path: str, partition_col: str) -> dict:
    """Per-partition data-file inventory of a hive-partitioned index
    directory: {partition value -> sorted parquet file names}. A pure
    filesystem listing — no data read, no Spark job. Local-FS walk here
    (the fixture/bench scope); a cluster deployment swaps in the Hadoop
    FileSystem listing, the interface is the same.

    A view over `index_log._raw_listing`, the one hive-partition walk:
    non-integer partition values (a null bucket's
    __HIVE_DEFAULT_PARTITION__, a string partition column) are skipped,
    so those partitions are simply never compacted or refit."""
    from chesscom_etl_tableau_spark.operators.index_log import _raw_listing

    return {
        v: [os.path.basename(f) for f in fs]
        for v, fs in _raw_listing(index_path, partition_col).items()
    }


def compact_partitioned_index(
    spark,
    index_path: str,
    partition_col: str = "bucket",
    max_files: int = 1,
    values=None,
) -> int:
    """Partition-LOCAL small-file compaction of an appended index — the
    missing piece of the ivf_append/ivfpq_append/lsh_index_append
    lifecycle: every append adds new files to the touched partitions,
    so a daily-append corpus accumulates thousands of small files per
    partition and probe latency decays into open/footer overhead.

    Only partitions holding MORE than `max_files` data files (optionally
    intersected with `values`) are rewritten; untouched partitions keep
    their files byte-identical — compaction cost is bounded by the
    fragmented subset, never the index size. The rewrite is ONE Spark
    job using dynamic partition overwrite (only partitions present in
    the written data are replaced, swap is per-partition via the
    commit protocol); rows are pinned with localCheckpoint first so the
    job never reads the files it is replacing. Same rows, fewer files
    — content equality, not file equality, is the contract (the
    `commit_compact_manifest` discipline applied to a raw index dir;
    unlike the manifest sink there is no generation log here, so the
    caller must be the EXCLUSIVE writer during the call — concurrent
    appends belong to the manifest-sink variant).

    Returns the number of data files retired (0 when already compact).

    100 TB shape: the localCheckpoint bounds executor storage by the
    fragmented-partition subset — a production compactor runs per
    partition-range batches (`values`) to keep that bound small.
    """
    files = index_partition_files(index_path, partition_col)
    cand = sorted(
        v
        for v, fs in files.items()
        if len(fs) > max_files and (values is None or v in set(values))
    )
    if not cand:
        return 0
    retired = sum(len(files[v]) for v in cand)
    rows = (
        spark.read.parquet(index_path)
        .where(F.col(partition_col).isin(cand))
        .localCheckpoint()
    )
    _overwrite_partitions(
        spark, rows.repartition(len(cand), F.col(partition_col)), index_path,
        partition_col,
    )
    return retired


def _overwrite_partitions(
    spark, df: DataFrame, path: str, partition_col: str, emptied=()
) -> None:
    """Rewrite in place only the partitions `df` holds (dynamic partition
    overwrite: each is swapped per partition by the commit protocol),
    then drop the directory of every `emptied` value `df` no longer
    holds — dynamic overwrite leaves partitions absent from the data
    as they were. `df` must not read the files it replaces: pin it
    first. Exclusive-writer contract (`compact_partitioned_index`)."""
    import shutil

    mode = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(mode, "static")
    spark.conf.set(mode, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        spark.conf.set(mode, prev)
    if not emptied:
        return
    written = {int(r[0]) for r in df.select(partition_col).distinct().collect()}
    for v in emptied:
        if v not in written:
            shutil.rmtree(
                os.path.join(path, f"{partition_col}={v}"), ignore_errors=True
            )


def micro_mean_centroids(
    assigned: DataFrame,
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """One Lloyd UPDATE step (per-bucket mean vector) in exact integer
    micro-units: component j of bucket b's new centroid is
    CAST(sum_i floor(v_ij * 1e6 + 0.5) AS DOUBLE) / n / 1e6. Integer
    sums are associative — the mean is independent of partitioning and
    aggregation order, so the refit centroids are bit-identical across
    engines (a raw float64 sum would drift with Spark's partition order
    and never match the DuckDB oracle).

    Output: (centroid_id = bucket, vec_col array<double>, n_vectors).

    Scale: one posexplode (|rows| x dim), one (bucket, dim) hash agg
    with map-side combine, one |buckets| x dim reassembly — linear,
    no window over data-sized frames."""
    micro = assigned.select(
        bucket_col,
        F.transform(
            _as_double(F.col(vec_col)),
            lambda x: F.floor(x * 1000000.0 + 0.5).cast("long"),
        ).alias("__mv"),
    )
    ex = micro.select(bucket_col, F.posexplode("__mv").alias("__d", "__m"))
    agg = ex.groupBy(bucket_col, "__d").agg(
        F.sum("__m").alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    comp = agg.select(
        bucket_col,
        "__d",
        (F.col("__s").cast("double") / F.col("__n") / F.lit(1000000.0)).alias(
            "__c"
        ),
        "__n",
    )
    return (
        comp.groupBy(bucket_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("__d", "__c"))).alias("__a"),
            F.max("__n").alias("n_vectors"),
        )
        .select(
            F.col(bucket_col).alias("centroid_id"),
            F.transform("__a", lambda s: s["__c"]).alias(vec_col),
            "n_vectors",
        )
    )


def _drifted_buckets(
    cur_resid: DataFrame,
    baseline_resid: DataFrame,
    threshold_num: int,
    threshold_den: int,
) -> list:
    """Exact-integer drift test shared by the IVF and IVF-PQ refits:
    bucket b drifts iff cur_mean(b) * den > baseline_mean(b) * num.
    Buckets with no baseline row use baseline 0 (any residual drifts
    them). Both collects are bounded by the bucket count."""
    base = {
        int(r["bucket"]): int(r["mean_resid_micro"])
        for r in baseline_resid.collect()
    }
    return sorted(
        int(r["bucket"])
        for r in cur_resid.collect()
        if int(r["mean_resid_micro"]) * threshold_den
        > base.get(int(r["bucket"]), 0) * threshold_num
    )


def ivf_refit_drifted(
    spark,
    index_path: str,
    centroids: DataFrame,
    baseline_resid: DataFrame,
    threshold_num: int = 3,
    threshold_den: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Drift-triggered PARTIAL refit — the consumer of the drift
    statistic `ivf_append` emits: buckets whose CURRENT mean residual
    exceeds their build-time baseline by threshold_num/threshold_den
    are re-centered (one exact micro-integer Lloyd update over their
    current members) and ONLY their vectors are reassigned, among ONLY
    the refitted centroids; every other bucket keeps its frozen
    centroid and its rows untouched. The partition count is stable and
    the rewrite touches only drifted partitions (dynamic partition
    overwrite) — a full refit would re-cluster and re-shuffle the
    whole 100 TB index to chase drift that is local to a few lists.

    Drift test is exact integer math (`cur_mean * den > base_mean *
    num`), so the drifted set is engine-reproducible. Buckets with no
    baseline row (empty at build time) use baseline 0 — any residual
    drifts them.

    Returns (updated_centroids, drifted_bucket_ids): the new centroid
    set (frozen rows + refitted rows, same ids) and the sorted drifted
    ids. The index at `index_path` is rewritten in place; same
    exclusive-writer contract as `compact_partitioned_index`. A
    reassignment can empty a drifted bucket — its stale partition
    directory is dropped explicitly (dynamic overwrite only replaces
    partitions present in the written data).
    """
    from chesscom_etl_tableau_spark.util import cluster_for_partitioned_write

    current = spark.read.parquet(index_path)
    cur_resid = ivf_bucket_residuals(current, centroids, vec_col)
    drifted = _drifted_buckets(
        cur_resid, baseline_resid, threshold_num, threshold_den
    )
    if not drifted:
        return centroids, []
    reassigned, updated = _recenter(
        current.where(F.col("bucket").isin(drifted)), centroids, drifted,
        id_col, vec_col,
    )
    _overwrite_partitions(
        spark,
        cluster_for_partitioned_write(reassigned.localCheckpoint(), "bucket"),
        index_path, "bucket", drifted,
    )
    return updated, drifted


def _recenter(
    members: DataFrame,
    centroids: DataFrame,
    drifted: list,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame]:
    """The partial refit of every drift-triggered refit (IVF, IVF-PQ and
    the generation-logged one): one exact micro-integer Lloyd update
    re-centers the drifted buckets over their current `members` (rows
    with bucket, id and vector), ONLY those members are reassigned
    among ONLY the refitted centroids, and every other bucket keeps its
    frozen centroid. Members and refit centroids are pinned
    (localCheckpoint): their lineage reads the index files the caller's
    rewrite replaces. Returns (reassigned (id, vec, bucket), updated
    centroids = frozen rows + refit rows, same ids)."""
    members = members.select("bucket", id_col, vec_col).localCheckpoint()
    refit = (
        micro_mean_centroids(members, vec_col)
        .select("centroid_id", vec_col)
        .localCheckpoint()
    )
    reassigned = assign_buckets(
        members.select(id_col, vec_col), refit, id_col, vec_col
    )
    frozen = centroids.where(~F.col("centroid_id").isin(drifted))
    return reassigned, frozen.select("centroid_id", vec_col).unionByName(refit)


def _dim_of(df: DataFrame, vec_col: str) -> int:
    """FALLBACK embedding dimensionality probe: first non-null row via a
    driver-side single-row job. Spark's ArrayType carries no length, so
    the schema alone cannot answer this — hot paths and `queries()`
    builders must pass `dim` explicitly from catalog/dataset metadata
    (the `lsh_planes_for` pattern) so plan-build runs zero jobs; this
    probe exists only for ad-hoc exploration."""
    row = df.select(F.size(vec_col).alias("d")).where(F.col("d") > 0).first()
    if row is None:
        raise ValueError(f"no non-empty vectors in column {vec_col!r}")
    return row["d"]


def train_sample(
    corpus: DataFrame,
    cap: int = 100_000,
    corpus_rows: int | None = None,
    key_col: str | None = None,
) -> DataFrame:
    """Deterministic hash-sample bounding a training input to ~`cap` rows.

    Codebook/centroid fitting (KMeans for IVF lists or PQ subspaces) does
    not need the full corpus: the standard FAISS practice trains on a
    bounded sample (~tens of k vectors per centroid budget) because the
    estimator converges long before the data runs out. At 100 TB an
    unbounded `KMeans.fit` over the corpus is the scale wall; this makes
    the training input O(cap) regardless of corpus size.

    Selection is content-deterministic, not rng-based: keep a row iff
    `pmod(xxhash64(key), s) == 0` with s = ceil(n/cap), so the same
    corpus yields the same sample on any cluster layout, reruns are
    reproducible, and the filter pushes down to the scan (no shuffle,
    no sort, no sample() rng dependent on partition order). `key_col`
    defaults to hashing the vector itself, so no id column is required.
    `corpus_rows` should come from catalog stats; left None it costs one
    count job. cap<=0 disables sampling; n<=cap returns the corpus as-is.
    """
    n = corpus_rows if corpus_rows is not None else corpus.count()
    if cap <= 0 or n <= cap:
        return corpus
    stride = -(-n // cap)
    key = F.col(key_col) if key_col is not None else F.col(_first_vec_col(corpus))
    return corpus.where(F.pmod(F.xxhash64(key), F.lit(stride)) == 0)


def _first_vec_col(df: DataFrame) -> str:
    for f in df.schema.fields:
        if f.dataType.typeName() == "array":
            return f.name
    return df.columns[0]


def ivf_build_centroids(
    corpus: DataFrame,
    nlist: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 10,
    train_cap: int = 100_000,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Learn `nlist` IVF centroids with spark.ml KMeans (seeded).

    Returns (centroid_id, embedding: array<double>) — the same shape
    `ivf_topk` takes, so learned centroids drop in for ad-hoc ones.
    Centers are tiny and come back via the driver.

    The fit reads at most ~`train_cap` vectors (deterministic
    hash-sample on `id_col`, see `train_sample`): each KMeans iteration
    is then a bounded scan instead of a full-corpus pass, which is what
    keeps index builds feasible at 100 TB. Pass `corpus_rows` from
    catalog stats to avoid the sizing count job. Corpora at or under
    the cap train on every vector, so small-SF results are unchanged.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = train_sample(corpus, cap=train_cap, corpus_rows=corpus_rows, key_col=id_col)
    feats = train.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    sampled = train is not corpus
    if sampled:
        # Materialize the <=cap-row, single-column sample once: without
        # this every KMeans iteration re-scans the full corpus just to
        # re-apply the sampling filter — the scan cost the cap exists to
        # remove. Cached footprint is bounded by cap * dim doubles.
        feats = feats.persist()
    try:
        model = KMeans(k=nlist, seed=seed, maxIter=max_iter).fit(feats)
    finally:
        if sampled:
            feats.unpersist()
    centers = [
        (i, [float(v) for v in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return local_frame(
        corpus.sparkSession, centers, "centroid_id int, embedding array<double>"
    )


def ivf_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: probe only the query's `nprobe` nearest buckets.

    At scale the bucketed corpus is persisted partitioned by `bucket`,
    so each query reads ~nprobe/nlist of the data (partition pruning).
    """
    bucketed = assign_buckets(corpus, centroids, id_col, vec_col)
    probes = _probes(centroids, queries, nprobe, vec_col, query_id_col)
    return _ivf_score(
        bucketed.join(F.broadcast(probes), "bucket"), k, id_col, vec_col,
        query_id_col,
    )


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label mean embedding, exploded to (label, pos, centroid_val)
    rows — the feature-aggregation step of class prototypes / IVF
    seeding / cluster profiling.

    `posexplode` + groupBy(label, pos): one shuffle of |rows|·dim
    scalar values with map-side partial aggregation, instead of
    collecting vectors anywhere. Sums go through exact decimals so the
    mean is independent of aggregation order (float addition is not
    associative; engines disagree in the last ulp otherwise).
    """
    exploded = emb.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "__v")
    )
    mean = (
        F.sum(F.col("__v").cast("double").cast("decimal(30,15)")).cast("double")
        / F.count(F.lit(1))
    )
    # floor-based half-up rounding, not round(): embeddings are signed,
    # and engines' round() midpoint rules differ for negatives.
    rounded = F.floor(mean * F.lit(1000000.0) + F.lit(0.5)).cast("double") / F.lit(
        1000000.0
    )
    return exploded.groupBy(label_col, "pos").agg(rounded.alias("centroid_val"))


def quantize_int8(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 quantization per vector, exploded to
    (id, pos, qval) rows + the per-vector scale — the storage/transfer
    compression step of large ANN corpora (4x smaller than float32,
    8x smaller than the float64 Spark would otherwise shuffle).

    scale = max(|v|)/127 (epsilon-floored for zero vectors);
    qval = floor(v/scale + 0.5) — explicit half-up rounding so every
    engine agrees on negative midpoints. Pure HOF projection: no
    shuffle, scales with scan throughput.
    """
    bound = emb.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    v = F.col("__v")
    scaled = bound.select(
        F.col(id_col),
        v,
        (
            F.greatest(F.array_max(F.transform(v, F.abs)), F.lit(1e-12)) / F.lit(127.0)
        ).alias("__scale"),
    )
    sc = F.col("__scale")
    q = F.transform(v, lambda x: F.floor(x / sc + F.lit(0.5)).cast("int"))
    return scaled.select(
        F.col(id_col),
        (F.floor(sc * F.lit(1000000000.0) + F.lit(0.5)).cast("double") / F.lit(1000000000.0)).alias(
            "scale"
        ),
        F.posexplode(q).alias("pos", "qval"),
    ).select(id_col, "pos", "qval", "scale")


# ---------------------------------------------------------------------------
# Product quantization (PQ): m-subspace codebook compression
# ---------------------------------------------------------------------------
def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    max_iter: int = 10,
    dim: int | None = None,
    train_cap: int = 100_000,
    corpus_rows: int | None = None,
) -> list[list[list[float]]]:
    """Train PQ codebooks: split each d-dim vector into `m` contiguous
    subvectors and KMeans each subspace into `k` codes (seeded —
    deterministic rebuilds). Returns codebooks[m][k][d/m] as plain
    Python lists, the shape `pq_encode` ships into codegen as LITERAL
    arrays (the NOTES.md lesson: literal planes beat broadcast data
    columns ~8x for per-row geometry).

    Storage math: float32 d=64 is 256 bytes/vector; PQ(m=8, k=16) is
    m * ceil(log2 k)/8 = 4 bytes — 64x smaller, and ADC scoring reads
    only code bytes + one tiny distance table per query.

    Training reads at most ~`train_cap` vectors per subspace fit
    (deterministic hash-sample, `train_sample`) — the m KMeans fits are
    bounded regardless of corpus size, which is what makes codebook
    training feasible at 100 TB (FAISS trains PQ on a capped sample for
    the same reason). Pass `dim` from catalog/dataset metadata to skip
    the driver-side first-row probe and `corpus_rows` to skip the sizing
    count. Corpora at or under the cap train on every vector, so
    small-SF codebooks are unchanged.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    d = dim if dim is not None else _dim_of(corpus, vec_col)
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    dsub = d // m
    books: list[list[list[float]]] = []
    train = train_sample(corpus, cap=train_cap, corpus_rows=corpus_rows, key_col=vec_col)
    base = train.select(F.col(vec_col).cast("array<double>").alias("__v"))
    # One scan materializes the <=cap-row single column; the m KMeans
    # fits then each read the cache instead of re-running the corpus
    # scan + cast per fit. Persisted UNCONDITIONALLY since r15: a
    # corpus at/below the cap previously re-scanned the source once per
    # subspace fit (m extra scans); footprint stays bounded by
    # min(cap, corpus) * d doubles either way.
    base = base.persist()
    try:
        for j in range(m):
            sub = base.select(
                array_to_vector(F.slice(F.col("__v"), j * dsub + 1, dsub)).alias("features")
            )
            model = KMeans(k=k, seed=seed + j, maxIter=max_iter).fit(sub)
            books.append([[float(x) for x in c] for c in model.clusterCenters()])
    finally:
        base.unpersist()
    return books


def _lit_matrix(rows: list[list[float]]) -> Column:
    return F.array(*[F.array(*[F.lit(float(x)) for x in r]) for r in rows])


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [keep...,] codes array<int>): nearest code per subspace,
    squared-L2, first-min tiebreak. Codebooks are literal arrays -> the
    whole assignment stays in whole-stage codegen; no join, no shuffle,
    no Python. Scales with scan throughput like quantize_int8. `keep`
    carries passenger columns (e.g. the IVF bucket) through the encode
    so callers need no post-hoc self-join to re-attach them."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    bound = emb.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    v = F.col("__v")

    def code_for(j: int) -> Column:
        sub = F.slice(v, j * dsub + 1, dsub)
        dists = F.transform(
            _lit_matrix(codebooks[j]),
            lambda c: F.aggregate(
                F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    return bound.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.array(*[code_for(j) for j in range(m)]).alias("codes"),
    )


def pq_decode_expr(codes: Column, codebooks: list[list[list[float]]]) -> Column:
    """Reconstructed vector (array<double>) from a codes column —
    concatenation of the selected literal centers."""
    m = len(codebooks)
    parts = [
        F.element_at(_lit_matrix(codebooks[j]), F.element_at(codes, j + 1) + 1)
        for j in range(m)
    ]
    return F.concat(*parts)


def pq_reconstruction_error(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector squared reconstruction error — the PQ quality metric
    (decreases with k; property-tested against a degenerate k=1 book)."""
    enc = pq_encode(emb, codebooks, id_col, vec_col)
    joined = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).join(enc, id_col)
    rec = pq_decode_expr(F.col("codes"), codebooks)
    err = F.aggregate(
        F.zip_with(F.col("__v"), rec, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return joined.select(F.col(id_col), F.round(err, 6).alias("sq_error"))


def pq_topk(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    k: int = 5,
    refine_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ candidate generation + exact refine — the standard two-stage
    ANN (FAISS's IndexPQ + refine).

    Stage 1 (ADC): float queries scored against the RECONSTRUCTED
    corpus (codes -> centers); take k * refine_factor candidates. The
    corpus side touches only the m-byte codes — at 100 TB that is the
    difference between scanning 256 B and 4 B per vector. PQ collapses
    a tight cluster onto one code word, so WITHIN-cluster order is
    unresolvable at this stage — which is exactly why stage 2 exists.

    Stage 2 (refine): join the k*rf candidates back to their float
    vectors (k*rf rows per query, not the corpus) and re-rank by exact
    cosine. refine_factor=0 skips refinement (raw ADC ranking).
    """
    enc = pq_encode(corpus, codebooks, id_col, vec_col)
    rec = enc.select(
        F.col(id_col), pq_decode_expr(F.col("codes"), codebooks).alias("__rvec")
    )
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
    scored = rec.crossJoin(F.broadcast(q)).where(
        F.col(id_col) != F.col(query_id_col)
    ).select(
        query_id_col,
        id_col,
        F.round(cosine(F.col("__rvec"), F.col("__qvec")), 6).alias("approx_sim"),
    )
    if not refine_factor:
        return _top_k(scored, query_id_col, "approx_sim", id_col, k).select(
            query_id_col, id_col, "approx_sim", "rank"
        )
    cand = _top_k(
        scored, query_id_col, "approx_sim", id_col, k * refine_factor, "__rn"
    ).select(query_id_col, id_col)
    return _refine(
        cand, corpus, queries, k, id_col, vec_col, query_id_col, "approx_sim"
    )


def _refine(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    sim: str = "cosine_sim",
) -> DataFrame:
    """Exact stage 2 of every two-stage search (PQ, IVF-PQ): join the
    (query, id) candidates back to their float vectors — k * rf rows
    per query, never a corpus scan — and re-rank by exact cosine,
    reported as `sim`."""
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
    refined = (
        cand.join(corpus.select(F.col(id_col), F.col(vec_col).alias("__fvec")), id_col)
        .join(F.broadcast(q), query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(cosine(F.col("__fvec"), F.col("__qvec")), 6).alias(sim),
        )
    )
    return _top_k(refined, query_id_col, sim, id_col, k).select(
        query_id_col, id_col, sim, "rank"
    )


def _bucket_vecs(centroids: DataFrame, vec_col: str) -> DataFrame:
    """Broadcast side of every residual and ADC join: each centroid
    keyed as the bucket it defines, its vector cast to double."""
    return F.broadcast(
        centroids.select(
            F.col("centroid_id").alias("bucket"),
            _as_double(F.col(vec_col)).alias("__cvec"),
        )
    )


def _residuals(
    assigned: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, bucket, __res): each assigned vector minus its bucket's
    centroid — what IVF-PQ encodes, at build, append and refit alike."""
    return assigned.join(_bucket_vecs(centroids, vec_col), "bucket").select(
        id_col,
        "bucket",
        F.zip_with(
            _as_double(F.col(vec_col)), F.col("__cvec"), lambda x, c: x - c
        ).alias("__res"),
    )


def _adc_topk(
    probed: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    refine_factor: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """IVF-PQ search over a probed code table (`probed`: code rows
    joined to their queries' `__qvec`). ADC stage: decode codes ->
    residual, add the bucket centroid back, score against the probing
    query; codebooks and centroids are both literal/broadcast planes,
    so the only shuffle is the rank. The k * refine_factor best
    candidates per query then go through `_refine`."""
    approx_vec = F.zip_with(
        pq_decode_expr(F.col("codes"), codebooks), F.col("__cvec"), lambda r, c: r + c
    )
    scored = (
        probed.join(_bucket_vecs(centroids, vec_col), "bucket")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(cosine(approx_vec, F.col("__qvec")), 6).alias("approx_sim"),
        )
    )
    cand = _top_k(
        scored, query_id_col, "approx_sim", id_col, k * max(refine_factor, 1), "__rn"
    ).select(query_id_col, id_col)
    return _refine(cand, corpus, queries, k, id_col, vec_col, query_id_col)


# ---------------------------------------------------------------------------
# IVF-PQ: coarse quantizer + residual product codes (FAISS IndexIVFPQ)
# ---------------------------------------------------------------------------
def ivfpq_build(
    corpus: DataFrame,
    nlist: int = 8,
    m: int = 4,
    k: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    train_cap: int = 100_000,
    corpus_rows: int | None = None,
    ivf_max_iter: int = 10,
    pq_max_iter: int = 10,
) -> tuple[DataFrame, list[list[list[float]]], DataFrame]:
    """Build the composite ANN index the FAISS IndexIVFPQ layout uses:
    a coarse IVF quantizer (`nlist` centroids) plus PQ codebooks trained
    on RESIDUALS (vector - assigned centroid), so the fine quantizer
    spends its k^m cells on the within-bucket geometry instead of
    re-encoding the coarse structure — the reason IVFPQ beats flat PQ at
    the same code budget.

    Returns (centroids, codebooks, index) where index is
    (id, bucket, codes array<int>) — m small ints per vector. At 100 TB
    the probe path reads ~nprobe/nlist of the code table (partition
    pruning on `bucket`) and each row it touches is m bytes of codes,
    not d floats: both reductions compose.

    Durability caveat: the returned index is localCheckpoint'ed — it
    lives in executor block storage only (lineage is severed, so a lost
    executor under dynamic allocation makes later reads fail
    unrecoverably rather than recompute). That is the right trade for
    the build-then-query-in-session flow (no extra parquet write, and
    the corpus-sized residual cache can be released immediately); a
    caller that needs the index to OUTLIVE executor churn should write
    it durably right away — `ivfpq_persist` does exactly that (its
    parquet layout is the durable copy; the block-store copy is just
    the staging view it reads once while writing).

    Training inputs are capped
    (`train_sample`) and the residual join broadcasts the tiny centroid
    set, so index build is one corpus scan + bounded KMeans fits.
    """
    cents = ivf_build_centroids(
        corpus, nlist=nlist, seed=seed, id_col=id_col, vec_col=vec_col,
        max_iter=ivf_max_iter, train_cap=train_cap, corpus_rows=corpus_rows,
    )
    res = _residuals(
        assign_buckets(corpus, cents, id_col, vec_col), cents, id_col, vec_col
    )
    # The residual frame feeds the m codebook fits AND the encode pass;
    # left lazy, each consumer would recompute assign_buckets' shuffle.
    # Persist it for the build (this is the index-build materialization
    # step — FAISS materializes codes the same way; at scale the capped
    # pq_train additionally persists its own <=cap-row sample), encode
    # with the bucket riding along (no post-hoc self-join), materialize
    # the CODES table (m small ints per row — the index, tiny next to
    # the float corpus) via localCheckpoint to sever its lineage from
    # the cached residuals, then release the corpus-sized cache — a
    # bare persist here would pin d-float residuals for the whole
    # session (CacheManager holds the plan) long after the build.
    res = res.persist()
    try:
        books = pq_train(
            res, m=m, k=k, seed=seed, vec_col="__res", max_iter=pq_max_iter,
            dim=dim, train_cap=train_cap, corpus_rows=corpus_rows,
        )
        index = pq_encode(
            res, books, id_col=id_col, vec_col="__res", keep=("bucket",)
        ).select(id_col, "bucket", "codes").localCheckpoint(eager=True)
    finally:
        res.unpersist(blocking=False)
    return cents, books, index


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    nlist: int = 8,
    m: int = 4,
    kcode: int = 16,
    refine_factor: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
    train_cap: int = 100_000,
    corpus_rows: int | None = None,
    ivf_max_iter: int = 10,
    pq_max_iter: int = 10,
) -> DataFrame:
    """IVF-PQ search: probe `nprobe` coarse buckets, ADC-score their
    PQ codes (approx vector = centroid + decoded residual), then refine
    the k*refine_factor candidates with exact cosine against the float
    corpus — the standard two-stage FAISS query with both the IVF scan
    reduction and the PQ byte reduction in stage 1.

    `pq_max_iter`/`ivf_max_iter` bound the KMeans fits: on capped
    training samples the codebooks converge in a handful of iterations
    (FAISS defaults to 25 on SAMPLED data for the same reason bounded
    iteration is safe here), and the exact-refine stage absorbs small
    codebook quality differences — cutting iterations trades a little
    stage-1 candidate quality for m x (iterations saved) fewer bounded
    scans per build.
    """
    cents, books, index = ivfpq_build(
        corpus, nlist=nlist, m=m, k=kcode, seed=seed, id_col=id_col,
        vec_col=vec_col, dim=dim, train_cap=train_cap, corpus_rows=corpus_rows,
        ivf_max_iter=ivf_max_iter, pq_max_iter=pq_max_iter,
    )
    probes = _probes(cents, queries, nprobe, vec_col, query_id_col)
    return _adc_topk(
        index.join(F.broadcast(probes), "bucket"), cents, books, corpus,
        queries, k, refine_factor, id_col, vec_col, query_id_col,
    )


def ivfpq_persist(
    corpus: DataFrame,
    path: str,
    nlist: int = 8,
    m: int = 4,
    k: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    train_cap: int = 100_000,
    corpus_rows: int | None = None,
    ivf_max_iter: int = 10,
    pq_max_iter: int = 10,
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Materialize the IVF-PQ index: the (id, codes) table partitioned
    by `bucket` on disk. Probing then reads only `nprobe` partition
    directories AND only m bytes of codes per row it touches — the two
    reductions that make IVF-PQ the standard billion-vector layout.
    Returns (centroids, codebooks); both are tiny and the caller
    persists them however it likes (the index table is the only
    data-sized artifact). max_iter passthroughs expose ivfpq_build's
    bounded-iteration knob (the r10 A/B'd cost/quality trade)."""
    cents, books, index = ivfpq_build(
        corpus, nlist=nlist, m=m, k=k, seed=seed, id_col=id_col,
        vec_col=vec_col, dim=dim, train_cap=train_cap, corpus_rows=corpus_rows,
        ivf_max_iter=ivf_max_iter, pq_max_iter=pq_max_iter,
    )
    from chesscom_etl_tableau_spark.util import cluster_for_partitioned_write

    cluster_for_partitioned_write(index, "bucket").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(path)
    return cents, books


def ivfpq_append(
    spark,
    index_path: str,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental IVF-PQ index maintenance — the PQ flavor of
    `ivf_append`: assign the batch against the FROZEN coarse centroids,
    PQ-encode its residuals with the FROZEN codebooks (literal-array
    codegen, no join, no Python), and mode-append only the new code
    rows into the touched bucket partitions. Existing files are never
    read or rewritten; append cost is O(|batch| * m).

    Because both quantizers are frozen, the appended code table is
    row-identical to re-encoding the full corpus from scratch with the
    same (centroids, codebooks) — the `ann_ivfpq_append` entry asserts
    exactly that with a both-ways exceptAll.

    Returns the appended batch's per-bucket drift frame (bucket,
    n_appended, mean_sqerr_micro): the PQ reconstruction error of the
    RESIDUALS in integer micro-units (round-6 then micro-floor, exact
    integer mean). Compare against the build-time rows' statistic — a
    sustained appended-error well above it says the frozen codebooks
    no longer fit the incoming residual distribution and a refit is
    due (the coarse-drift twin signal is ivf_append's)."""
    res = _residuals(
        assign_buckets(batch, centroids, id_col, vec_col), centroids, id_col,
        vec_col,
    )
    enc = pq_encode(res, codebooks, id_col=id_col, vec_col="__res", keep=("bucket", "__res"))
    err = F.aggregate(
        F.zip_with(
            F.col("__res"),
            pq_decode_expr(F.col("codes"), codebooks),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    staged = enc.select(
        F.col(id_col),
        "bucket",
        "codes",
        F.floor(F.round(err, 6) * 1000000.0 + 0.5).cast("long").alias("__err_micro"),
    ).localCheckpoint()
    from chesscom_etl_tableau_spark.util import cluster_for_partitioned_write

    cluster_for_partitioned_write(
        staged.select(id_col, "bucket", "codes"), "bucket"
    ).write.mode("append").partitionBy("bucket").parquet(index_path)
    return staged.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_appended"),
        F.expr("sum(__err_micro) div count(1)").cast("long").alias("mean_sqerr_micro"),
    )


def ivfpq_refit_drifted(
    spark,
    index_path: str,
    centroids: DataFrame,
    codebooks,
    corpus: DataFrame,
    baseline_resid: DataFrame,
    threshold_num: int = 3,
    threshold_den: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Drift-triggered partial refit of a persisted IVF-PQ CODE table —
    the PQ twin of `ivf_refit_drifted`. The code table stores only
    (id, bucket, codes); raw vectors come from `corpus` (the float
    table the index was encoded from), joined by id for exactly the
    drifted buckets' members.

    Drift is tested on the COARSE residual statistic (the same exact
    integer rule as the IVF refit — engine-reproducible), because
    recentering the coarse lists is what a local refit can do cheaply:
    drifted buckets are re-centered with one micro-integer Lloyd
    update, ONLY their vectors reassigned among ONLY the refitted
    centroids, and their residuals RE-ENCODED against the FROZEN
    codebooks (deterministic literal-array encode — the appended table
    stays re-encode-identical to a from-scratch build on the updated
    centroid set, which the `ann_ivfpq_refit` entry asserts). The
    per-bucket PQ squared-error statistic `ivfpq_append` emits remains
    the CODEBOOK-refit cue; codebook retraining is a global, trained
    operation and deliberately out of scope for a partition-local
    refit (documented trade — same reasoning as frozen-codebook
    appends).

    Returns (updated_centroids, drifted_bucket_ids); rewrites only the
    drifted partitions (dynamic partition overwrite, emptied dirs
    dropped). Exclusive-writer contract as `compact_partitioned_index`.
    """
    from chesscom_etl_tableau_spark.util import cluster_for_partitioned_write

    idx = spark.read.parquet(index_path).select(id_col, "bucket")
    vecs = corpus.select(id_col, vec_col)
    current = idx.join(vecs, id_col)
    cur_resid = ivf_bucket_residuals(current, centroids, vec_col)
    drifted = _drifted_buckets(
        cur_resid, baseline_resid, threshold_num, threshold_den
    )
    if not drifted:
        return centroids, []
    # Coverage guard (advice r13): the id join above is INNER — an
    # indexed id missing from `corpus` would silently skew the drift
    # statistic and, worse, vanish from the rewritten drifted
    # partitions (permanent row loss in the index). A stale/incomplete
    # corpus must abort, not shrink the index. Bounded cost: the
    # anti-join reads only the drifted partitions (partition-pruned)
    # against the corpus id column.
    n_missing = (
        idx.where(F.col("bucket").isin(drifted))
        .join(vecs.select(id_col), id_col, "left_anti")
        .count()
    )
    if n_missing:
        raise ValueError(
            f"ivfpq_refit_drifted: {n_missing} indexed id(s) in drifted "
            f"buckets {drifted} have no row in `corpus` — refusing to "
            "rewrite (would drop them from the index). Pass the corpus "
            "the index was encoded from."
        )
    reassigned, updated = _recenter(
        current.where(F.col("bucket").isin(drifted)), centroids, drifted,
        id_col, vec_col,
    )
    # reassigned rows carry refit ids only, so joining them to `updated`
    # picks exactly the refit centroids
    enc = (
        pq_encode(
            _residuals(reassigned, updated, id_col, vec_col), codebooks,
            id_col=id_col, vec_col="__res", keep=("bucket",),
        )
        .select(id_col, "bucket", "codes")
        .localCheckpoint()
    )
    _overwrite_partitions(
        spark, cluster_for_partitioned_write(enc, "bucket"), index_path,
        "bucket", drifted,
    )
    return updated, drifted


def ivfpq_topk_persisted(
    spark,
    index_path: str,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    refine_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Probe a persisted IVF-PQ index with partition pruning: the
    query->bucket probe set is computed driver-side against the tiny
    centroid set, the code-table scan carries a `bucket IN (...)`
    predicate that lands in PartitionFilters (asserted in tests), ADC
    scores the reconstructed (centroid + decoded residual) vectors,
    and the k*refine_factor candidates re-rank by exact cosine against
    the float corpus — candidates-only, never a corpus scan. The IVF-PQ
    twin of `ivf_topk_persisted`: the same routing and pruned scan,
    then `ivfpq_topk`'s ADC and refine stages."""
    probes = _probes(centroids, queries, nprobe, vec_col, query_id_col)
    probed = _pruned(
        spark,
        probes,
        lambda needed: spark.read.parquet(index_path).where(
            F.col("bucket").isin(needed)
        ),
    )
    return _adc_topk(
        probed, centroids, codebooks, corpus, queries, k, refine_factor,
        id_col, vec_col, query_id_col,
    )


def mmr_rerank(
    candidates: DataFrame,
    embeddings: DataFrame,
    k: int = 5,
    lam_pct: int = 70,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_col: str = "cosine_sim",
) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98): greedily pick `k` results that balance relevance against
    redundancy with what's already picked —

        mmr(d) = lam*rel(d) - (1-lam)*max_{s in selected} sim(d, s)

    — the diversification pass RAG pipelines run on a retriever's
    candidate list so the context window isn't five near-copies of the
    same paragraph. Completes this engine's retrieval suite
    (BM25 -> cosine -> hybrid RRF -> hard negatives -> MMR).

    Scale shape: the EXPENSIVE work — scoring the corpus — already
    happened in the retriever; MMR's input is the candidate list
    (tens of rows, bounded by the retriever's k). The pairwise
    similarity matrix is computed distributed (one broadcast cross
    join over |candidates| rows), then the inherently-sequential
    k-step greedy runs driver-side over the collected
    |candidates|^2 floats — the same bounded-materialization pattern
    as the IVF probe list (`ivf_topk_persisted`): a chained-argmax
    lazy plan was measured 10x slower purely on stage-scheduling
    overhead for the same 5-row answer.

    Determinism: rel arrives 6-dp-rounded from the retriever, pairwise
    sims are 6-dp-rounded, scores use the floor(x*1e6+0.5)/1e6 pattern
    (identical IEEE arithmetic in Python and both SQL engines), ties
    break by id — the greedy trace is engine-exact and a DuckDB oracle
    replays all k steps via chained CTEs. Returns (id, rank 1..k,
    mmr_score).
    """
    import math

    spark = candidates.sparkSession
    cand = candidates.select(F.col(id_col), F.col(rel_col).alias("__rel"))
    v = embeddings.select(
        F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("__n")
    ).join(cand.select(id_col), id_col, "semi")
    a = v.select(
        F.col(id_col).alias("__a"),
        F.col(vec_col).alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = v.select(
        F.col(id_col).alias("__b"),
        F.col(vec_col).alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    sim_rows = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("__a") != F.col("__b"))
        .select(
            "__a",
            "__b",
            F.round(
                F.try_divide(
                    dot(F.col("__va"), F.col("__vb")),
                    F.col("__na") * F.col("__nb"),
                ),
                6,
            ).alias("__sim"),
        )
        .collect()
    )
    rels = {r[0]: r[1] for r in cand.collect()}
    sims: dict = {}
    for r in sim_rows:
        sims.setdefault(r["__a"], {})[r["__b"]] = r["__sim"]

    def _r6(x: float) -> float:
        return math.floor(x * 1000000.0 + 0.5) / 1000000.0

    lam, inv = lam_pct, 100 - lam_pct
    selected: list = []
    chosen: set = set()
    for rank in range(1, min(k, len(rels)) + 1):
        best = None
        for cid, rel in rels.items():
            if cid in chosen:
                continue
            ms = max((sims.get(cid, {}).get(s, 0.0) for s in chosen), default=0.0)
            score = _r6((lam * rel - inv * ms) / 100)
            key = (-score, cid)
            if best is None or key < best[0]:
                best = (key, cid, score)
        chosen.add(best[1])
        selected.append((best[1], rank, best[2]))
    return local_frame(spark, selected, f"{id_col} bigint, rank int, mmr_score double")


def cosine_range_search(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Radius query — the range twin of `cosine_topk`: ALL corpus
    vectors within cosine >= threshold of each query ("find everything
    this similar"), the retrieval shape behind dedup-by-example and
    policy screens where a fixed k under- or over-collects.

    Same plan discipline as top-k: queries broadcast, corpus scanned
    once and never shuffled; with a selective threshold the filter
    drops pairs scan-side so the output (not the pair space) bounds the
    exchange. The scale path composes: gate with `assign_buckets` LSH
    first, exactly as dedup_embed_lsh does for pairs. Score is rounded
    HALF_UP to 6 before the threshold compare so the kept SET is
    engine-exact.

    Self-exclusion convention (shared with `cosine_topk`): queries are
    assumed drawn from the corpus id space, so a corpus row whose
    `id_col` equals the query's `query_id_col` is dropped (a vector is
    trivially within any radius of itself). If your queries are
    EXTERNAL — their ids are a different namespace — remap one side's
    ids (e.g. prefix them) before calling, or a corpus vector that
    coincidentally shares an id with a query is silently excluded.
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec")
    )
    c = ensure_parallelism(corpus.select(id_col, vec_col))
    cos = F.floor(
        cosine(F.col(vec_col), F.col("__qvec")) * F.lit(1000000.0) + F.lit(0.5)
    ).cast("double") / F.lit(1000000.0)
    return (
        c.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, cos.alias("cosine"))
        .where(F.col("cosine") >= F.lit(threshold))
    )


# --- ZCA whitening: embedding post-processing --------------------------


def _cov_partials(df: DataFrame, vec_col: str, dim: int):
    """(n, sum_vec, gram) accumulated distributedly: each Arrow batch
    contributes one partial row (count, d sums, d*d gram), the driver
    sums |partials| rows — bounded metadata, never data rows. This is
    the standard one-pass distributed covariance (the same shape
    spark.ml's Summarizer uses), kept here as mapInPandas so the
    whole path stays on the public DataFrame API."""
    import numpy as np

    def partials(batches):
        import pandas as pd

        for b in batches:
            x = np.stack(b[vec_col].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [x.shape[0]],
                    "s": [x.sum(axis=0).tolist()],
                    "g": [(x.T @ x).ravel().tolist()],
                }
            )

    rows = df.select(vec_col).mapInPandas(
        partials, f"n long, s array<double>, g array<double>"
    ).collect()
    import numpy as np

    n = sum(r["n"] for r in rows)
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    g = np.sum([np.asarray(r["g"]).reshape(dim, dim) for r in rows], axis=0)
    return n, s, g


def whiten_embeddings(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    eps: float = 1e-6,
    dim: int | None = None,
) -> DataFrame:
    """ZCA-whiten an embedding column: output vectors have ~zero mean
    and ~identity covariance. Standard retrieval post-processing
    (whitening redistributes variance off the dominant directions,
    which measurably improves cosine ANN recall on anisotropic
    embedding spaces — the observation behind the public
    "whitening-BERT" line of work).

    Plan: one distributed pass accumulates (n, sum, gram) partials
    (Arrow-batched, d*d scalars per batch); the driver eigendecomposes
    the d x d covariance (d is the embedding width — bounded, never
    data-sized) and builds W = E diag(1/sqrt(l+eps)) E^T; a second
    Arrow pass projects (x - mean) @ W. Two scans, no shuffle at all
    — `.explain` shows two mapInPandas stages straight over the scan.
    """
    import numpy as np

    if dim is None:
        dim = _dim_of(emb, vec_col)
    n, s, g = _cov_partials(emb, vec_col, dim)
    if n < 2:
        raise ValueError("whitening needs >= 2 vectors")
    if n <= dim:
        # rank(cov) <= n-1 < dim: the null directions would map to
        # variance ~0, so the output covariance CANNOT be identity and
        # whitening_contract's cov_is_identity is false by construction
        # — fail loudly instead of shipping a silently-broken transform.
        raise ValueError(
            f"whitening needs more vectors than dimensions (n={n}, dim={dim}): "
            "the sample covariance is rank-deficient"
        )
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    lam, e = np.linalg.eigh(cov)
    if float(lam.min()) <= eps:
        # collinear embeddings: same rank-deficiency failure mode as
        # n <= dim, just data-induced rather than shape-induced.
        raise ValueError(
            f"whitening: covariance is (near-)singular (min eigenvalue "
            f"{float(lam.min()):.3e} <= eps={eps}); collinear embeddings "
            "cannot be whitened to identity covariance"
        )
    w = (e * (1.0 / np.sqrt(np.maximum(lam, 0.0) + eps))) @ e.T

    def project(batches):
        import pandas as pd

        for b in batches:
            x = np.stack(b[vec_col].to_numpy()).astype(np.float64)
            y = (x - mean) @ w
            yield pd.DataFrame({id_col: b[id_col], "whitened": list(map(list, y))})

    return emb.select(id_col, vec_col).mapInPandas(
        project, f"{id_col} long, whitened array<double>"
    )


def whitening_contract(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mean_tol: float = 1e-6,
    cov_tol: float = 1e-3,
    dim: int | None = None,
) -> DataFrame:
    """Contract surface for `whiten_embeddings` (the recall-floor
    pattern): whiten, then MEASURE the output's mean and covariance
    with a third pass and report the contract booleans the oracle
    asserts — max |mean| under `mean_tol`, max |cov - I| under
    `cov_tol`. Booleans (not raw maxima) because partial-sum order is
    partition-dependent; the tolerances absorb that jitter while still
    failing loudly on a wrong projection (an unwhitened cov is O(1)
    off identity, 3 orders past the tolerance)."""
    import numpy as np

    out = whiten_embeddings(emb, vec_col=vec_col, id_col=id_col, dim=dim)
    if dim is None:
        dim = _dim_of(emb, vec_col)
    n, s, g = _cov_partials(out, "whitened", dim)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    return local_frame(
        emb.sparkSession,
        [
            (
                int(n),
                int(dim),
                bool(np.abs(mean).max() <= mean_tol),
                bool(np.abs(cov - np.eye(dim)).max() <= cov_tol),
            )
        ],
        "n_vecs bigint, dim bigint, mean_is_zero boolean, cov_is_identity boolean",
    )


def knn_label_consistency(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Label-noise detection by neighborhood consistency: for every
    vector, the fraction of its k nearest cosine neighbors that share
    its label (one row per vector: id, label, n_same, agreement). Low
    agreement flags probable mislabels / boundary points — the
    "confident learning" data-cleaning signal computed geometrically.

    This exact form reuses `cosine_topk` (queries broadcast, corpus
    never shuffled, per-query window) and is the documented O(n^2)
    recall anchor; at corpus scale the candidate stage swaps to
    `ivf_topk` exactly as dedup_semantic's bucketed path does.
    agreement = n_same / k is a single integer division — engine-exact
    with no float accumulation.
    """
    q = emb.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias(vec_col)
    )
    # queries == the whole corpus here: an n^2 pair space, where the
    # unrolled dot amortizes (see _dot_pairwise).
    nbrs = cosine_topk(emb, q, k=k, id_col=id_col, vec_col=vec_col, unroll=True)
    labels = emb.select(F.col(id_col), F.col(label_col))
    joined = (
        nbrs.join(
            F.broadcast(labels.withColumnRenamed(label_col, "__qlbl")).withColumnRenamed(
                id_col, "query_id"
            ),
            "query_id",
        )
        .join(
            F.broadcast(labels.withColumnRenamed(label_col, "__nlbl")),
            id_col,
        )
    )
    return (
        joined.groupBy("query_id", "__qlbl")
        .agg(
            F.sum(
                F.when(F.col("__nlbl") == F.col("__qlbl"), 1).otherwise(0)
            ).alias("n_same"),
            F.count(F.lit(1)).alias("__k"),
        )
        .select(
            F.col("query_id").alias(id_col),
            F.col("__qlbl").alias(label_col),
            F.col("n_same").cast("long").alias("n_same"),
            F.floor(
                F.col("n_same") / F.col("__k") * F.lit(1000000.0) + F.lit(0.5)
            ).cast("double").alias("__agr_mu"),
        )
        .select(
            id_col,
            label_col,
            "n_same",
            (F.col("__agr_mu") / F.lit(1000000.0)).alias("agreement"),
        )
    )


def psi_drift(
    emb_a: DataFrame,
    emb_b: DataFrame,
    n_bins: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """Population Stability Index per embedding DIMENSION between two
    snapshots (train-time vs serve-time, last month vs this month) —
    the standard drift monitor, applied coordinate-wise:
    PSI_d = sum_bins (pa - pb) * ln(pa / pb), Laplace-smoothed
    fractions over `n_bins` equal-width bins spanning the UNION's
    [min, max] of that dimension. PSI < 0.1 stable / > 0.25 drifted
    (the conventional bands) — `psi` is reported per dimension so the
    drifted coordinates are identifiable.

    Scale shape: posexplode to (dim, value) — linear, no data is ever
    collected; per-dim extents are a 64-row broadcast; the bin
    histogram is one groupBy(dim, side, bin) partial-agg whose result
    is |dims| x 2 x n_bins rows. Engine-exact: bin edges are the
    range-grid three-op form, counts exact ints, each bin's PSI term
    floor-rounded to 6dp in micro-units and integer-summed (the
    char_entropy convention), one final /1e6.
    """
    a = emb_a.select(F.posexplode(vec_col).alias("dim", "v")).withColumn(
        "side", F.lit("a")
    )
    b = emb_b.select(F.posexplode(vec_col).alias("dim", "v")).withColumn(
        "side", F.lit("b")
    )
    both = a.unionByName(b).select("dim", "side", F.col("v").cast("double").alias("v"))
    ext = both.groupBy("dim").agg(
        F.min("v").alias("__mn"), F.max("v").alias("__mx")
    )
    nb = F.lit(float(n_bins))
    binned = both.join(F.broadcast(ext), "dim").select(
        "dim",
        "side",
        F.when(F.col("__mx") == F.col("__mn"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(n_bins - 1),
                F.floor(
                    (F.col("v") - F.col("__mn")) * nb / (F.col("__mx") - F.col("__mn"))
                ),
            )
        )
        .cast("int")
        .alias("bin"),
    )
    counts = binned.groupBy("dim", "bin").agg(
        F.sum(F.when(F.col("side") == "a", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("side") == "b", 1).otherwise(0)).alias("cb"),
    )
    totals = counts.groupBy("dim").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb_")
    )
    sm = F.lit(float(n_bins))
    pa = (F.col("ca") + F.lit(1.0)) / (F.col("na") + sm)
    pb = (F.col("cb") + F.lit(1.0)) / (F.col("nb_") + sm)
    term_mu = F.floor((pa - pb) * F.log(pa / pb) * F.lit(1000000.0) + F.lit(0.5))
    return (
        counts.join(F.broadcast(totals), "dim")
        .groupBy("dim")
        .agg(F.sum(term_mu).cast("long").alias("__psi_mu"))
        .select(
            F.col("dim").cast("int").alias("dim"),
            (F.col("__psi_mu") / F.lit(1000000.0)).alias("psi"),
        )
    )
