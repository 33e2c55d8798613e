"""Record linkage (entity resolution) over structured records:
blocked candidate generation + Fellegi-Sunter agreement scoring.

The missing sibling of the dedup family: `dedup_*` asks "is this TEXT a
near-copy?", linkage asks "are these two STRUCTURED RECORDS the same
real-world entity?" (customers across CRM exports, suppliers across
regions) — the master-data-management primitive every warehouse
eventually needs.

Method (Fellegi & Sunter, JASA 1969): for each compared field i with
match/non-match agreement probabilities (m_i, u_i), an agreeing pair
contributes log2(m_i/u_i) (positive evidence), a disagreeing pair
log2((1-m_i)/(1-u_i)) (negative evidence); the pair's score is the sum
and thresholds split match / possible / non-match.

Engine-exactness: the log-weights are computed in PYTHON from the
caller's (m, u) parameters and embedded as double literals — the plan
contains no transcendental call, so the score is a fixed-order chain of
IEEE additions of shared literals, bit-identical on any engine (the
EWMA literal-sharing pattern). `linkage_weights` exposes the literals
so the DuckDB oracle can splice the exact same repr() strings.

Scale shape: candidate pairs come ONLY from equality on the blocking
key (one hash-partitioned equi-join — never a cross join); block sizes
bound the pair count, exactly like the LSH band buckets in dedup. Field
comparisons and the score are scan-local codegen over the joined rows.
Skewed blocks are the known hot spot — cap or salt hot blocks the same
way dedup.py df-caps hot shingles.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def linkage_weights(
    params: dict[str, tuple[float, float]],
) -> dict[str, tuple[float, float]]:
    """(m, u) per field -> (agree_weight, disagree_weight) in log2 space,
    as Python doubles. Shared verbatim (repr) with the SQL oracle."""
    out = {}
    for field, (m, u) in params.items():
        if not (0.0 < u < m < 1.0):
            raise ValueError(f"{field}: need 0 < u < m < 1, got m={m} u={u}")
        out[field] = (math.log2(m / u), math.log2((1.0 - m) / (1.0 - u)))
    return out


def record_linkage(
    left: DataFrame,
    right: DataFrame,
    block_cols: list[str],
    compare_cols: list[str],
    params: dict[str, tuple[float, float]],
    id_col: str = "id",
    match_threshold: float = 4.0,
    possible_threshold: float = 0.0,
) -> DataFrame:
    """Score blocked candidate pairs; emit pairs at or above
    `possible_threshold` with their per-field agreement vector, total
    score, and class ('match' / 'possible').

    Output: (id_l, id_r, agree_<field>..., score, link_class), total
    order (score desc, id_l, id_r) left to the caller — the result is a
    set, not a ranking.
    """
    weights = linkage_weights({f: params[f] for f in compare_cols})
    # first-seen order, not set order: the projection (and so the plan)
    # must not depend on the process's string-hash seed
    cols = list(dict.fromkeys([*block_cols, *compare_cols]))
    l = left.select(F.col(id_col).alias("id_l"), *[F.col(c).alias(f"__l_{c}") for c in cols])
    r = right.select(F.col(id_col).alias("id_r"), *[F.col(c).alias(f"__r_{c}") for c in cols])
    cond = [l[f"__l_{c}"] == r[f"__r_{c}"] for c in block_cols]
    pairs = l.join(r, cond, "inner")

    agrees = {
        c: F.col(f"__l_{c}").eqNullSafe(F.col(f"__r_{c}")) for c in compare_cols
    }
    # Fixed-order literal-weight sum: fold in compare_cols order so the
    # oracle's CASE-sum associates identically.
    score = F.lit(0.0)
    for c in compare_cols:
        aw, dw = weights[c]
        score = score + F.when(agrees[c], F.lit(aw)).otherwise(F.lit(dw))
    return (
        pairs.select(
            "id_l",
            "id_r",
            *[agrees[c].alias(f"agree_{c}") for c in compare_cols],
            score.alias("__score"),
        )
        .where(F.col("__score") >= F.lit(possible_threshold))
        .select(
            "id_l",
            "id_r",
            *[f"agree_{c}" for c in compare_cols],
            F.col("__score").alias("score"),
            F.when(F.col("__score") >= F.lit(match_threshold), "match")
            .otherwise("possible")
            .alias("link_class"),
        )
    )
