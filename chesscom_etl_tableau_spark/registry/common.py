"""Builder and oracle helpers shared by more than one registry family."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dec(col, p=12, s=2):
    return F.col(col).cast(f"decimal({p},{s})") if isinstance(col, str) else col.cast(f"decimal({p},{s})")


def _multiset_mismatch(a: DataFrame, b: DataFrame) -> int:
    """|a∖b| + |b∖a| as multisets — numerically identical to the
    two-job ``a.exceptAll(b).count() + b.exceptAll(a).count()``
    probe/content-equality pattern, computed as ONE job (optimization
    r15, guide §1.2/§2.4: tagged union + one groupBy + one global sum
    instead of two except-plans that each shuffle both inputs).
    groupBy shares exceptAll's NULL/NaN/-0.0 key semantics, so the
    count is the same number."""
    cols = list(a.columns)
    # withColumn would silently REPLACE a data column of either name and
    # corrupt the count (advice r15).
    if "__side" in cols or "__d" in cols:
        raise ValueError(f"_multiset_mismatch: reserved column name in {cols}")
    tagged = a.withColumn("__side", F.lit(1)).unionByName(
        b.select(*cols).withColumn("__side", F.lit(-1))
    )
    d = tagged.groupBy(*cols).agg(F.sum("__side").alias("__d"))
    out = d.agg(F.sum(F.abs(F.col("__d")))).first()[0]
    return int(out or 0)


# Embeddings-table row counts per scale factor — the stand-in for catalog
# statistics (at real scale: the table's rowCount stat). Used to size LSH
# band width WITHOUT scanning the corpus at plan-build time.
_EMB_ROWS = {"sf0.001": 500, "sf0.01": 500, "sf0.1": 2000}

_EMB_DIM = 64


def _emb_stats(sf_dir: str) -> tuple[int, int]:
    key = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return _EMB_ROWS.get(key, 2000), _EMB_DIM


_WORD_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"

_NORM_FP = (
    "md5(trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g')))"
)
