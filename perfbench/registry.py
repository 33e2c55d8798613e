"""Workload `llm_registry`: cold build plus full run of registry entries.

Set-up writes seeded `documents` and `embeddings` tables (the only two
tables these entries read) with the make-up of the repository's test
data, and computes each entry's `oracle_sql()` on DuckDB over the same
parquet. A timed operation then calls the entry's `queries()` builder
(the build: Python plan construction, py4j calls, no Spark job) and
materializes every row with `toPandas()` (the run). Rows are compared
with the DuckDB result as `scripts/check_oracle.py` does: row count,
column names and an order-insensitive multiset of stringified values.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from meter import Meter

# One entry per operator family, chosen to fit the run-time budget
# (README, "Left out"): dedup, similarity, text and multimodal.
ENTRIES = ("dedup_minhash_lsh", "dedup_embed_cosine", "text_bm25_topk", "mm_decode_features")
SIZES = {  # (entries, documents, embeddings)
    "full": (ENTRIES, 400, 400),
    "tiny": (("dedup_embed_cosine", "text_bm25_topk", "mm_decode_features"), 60, 60),
}
VOCAB = ("join hash row batch scan column customer filter small slow merge order vector line "
         "table data agg value key stream window a spark part group big sort query fast the").split()
LANGS = (("en", 0.44), ("zh", 0.14), ("es", 0.14), ("de", 0.14), ("fr", 0.14))


def write_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """Seeded `documents` and `embeddings` parquet: 10-99 words from a
    30-word vocabulary, ~5% near-duplicates (an earlier text plus " dup"),
    and unit-norm 64-d float vectors with 10 labels."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, size=int(rng.integers(10, 100)))))
    langs = rng.choice([lang for lang, _ in LANGS], size=n_docs, p=[p for _, p in LANGS])
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


def normalize(df) -> list[str]:
    """pandas frame -> sorted stringified rows (scripts/check_oracle.py)."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if str(col.dtype).startswith("datetime"):
            df[c] = col.astype("string")
        elif col.dtype == object:
            df[c] = col.map(lambda v: str(v) if v is not None else "<NULL>")
        elif str(col.dtype).startswith("float"):
            df[c] = col.map(lambda v: "<NULL>" if pd.isna(v) else repr(float(v)))
        else:
            df[c] = col.astype("string")
    df = df.fillna("<NULL>")
    return sorted("|".join(map(str, r)) for r in df.itertuples(index=False, name=None))


class LlmRegistry:
    round_s = 25  # nominal wall time of one round on the reference VM

    def __init__(self, size: str):
        self.entries, self.n_docs, self.n_vecs = SIZES[size]

    def setup(self, spark, seed: int, workdir: str) -> None:
        import duckdb

        import __spark_entry__ as registry

        shutil.rmtree(workdir, ignore_errors=True)
        self.sf_dir = os.path.join(workdir, "tables")
        write_tables(self.sf_dir, seed, self.n_docs, self.n_vecs)
        oracles = registry.oracle_sql()
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        self.expected = {}
        for name in self.entries:
            df = con.sql(oracles[name]).df()
            self.expected[name] = (len(df), sorted(c.lower() for c in df.columns), normalize(df))
        con.close()
        self.builders = registry.queries()

    def round(self, spark, tracer) -> list[dict]:
        records = []
        for name in self.entries:
            with tracer.scope(name), Meter() as m:
                with tracer.py4j_window() as calls:
                    t0 = time.perf_counter()
                    df = self.builders[name](spark, self.sf_dir)
                    t1 = time.perf_counter()
                pdf = df.toPandas()
                t2 = time.perf_counter()
            tracer.add(f"build_s.{name}", t1 - t0)
            tracer.add(f"run_s.{name}", t2 - t1)
            tracer.add(f"py4j.{name}", calls[0])
            records.append({"entry": name, "cpu_s": m.cpu, "failed": False,
                            "problems": self._check(name, pdf)})
        return records

    def _check(self, name: str, pdf) -> list[str]:
        rows, cols, values = self.expected[name]
        if len(pdf) != rows:
            return [f"{name}: {len(pdf)} rows, oracle has {rows}"]
        if sorted(c.lower() for c in pdf.columns) != cols:
            return [f"{name}: columns differ from the oracle"]
        if normalize(pdf) != values:
            return [f"{name}: values differ from the oracle"]
        return []
