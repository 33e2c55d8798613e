"""Cross-surface right-to-be-forgotten — one removal request applied
to EVERY surface a training-data pipeline serves a document from: the
corpus manifest sink (`plans/ingest.py::commit_delete_manifest`), the
banded LSH text index, and the IVF vector index (both generation-logged,
`operators/index_log.py::index_log_delete_ids`).

A multi-store delete cannot be one CAS (three stores, three manifest
roots), so atomicity is the write-ahead-intent discipline the repo's
`commit_tables` uses for the warehouse, adapted to heterogeneous
surfaces:

1. The doomed id set is STAGED as an immutable parquet file set under
   `<root>/_forget/ids-<txn>/` — the audit copy of exactly what was
   asked to be forgotten, and the replay input (a resume must delete
   the same set its first run saw, not whatever the caller re-passes).
2. An INTENT doc `forget-<n>.json` is published by exclusive create
   (one forget wins a number; a concurrent forget retries with the
   next), pinning the PRE-DELETE generation of every surface —
   corpus manifest generation, LSH log generation, IVF log generation.
   Those pinned generations are the audit surface: "what did each
   store serve before the removal?" stays answerable (time travel)
   until expiry/gc.
3. The surfaces are deleted IN ORDER (corpus, LSH, IVF). Each
   per-surface delete is internally atomic (one generation publish)
   and idempotent (deleting absent ids publishes nothing) — the two
   properties that make a crash anywhere heal on resume.
4. A DONE doc `forget-<n>-done.json` records the post-delete
   generation of every surface plus per-surface deleted-row counts.
   An intent without its done doc is PENDING: `forget_resume` re-runs
   step 3 from the staged ids (surfaces already deleted no-op) and
   publishes the done doc.

Consistency contract: a reader that resolves all three surfaces
through one forget doc — all at `pre` or all at `post` — never
observes a partially-forgotten id. Surfaces advance independently
between forgets (appends, compactions), so the fence is per-forget,
not a global clock: `pre` is consistent *for the doomed ids* (all
present), `post` is consistent *for the doomed ids* (all absent), and
that is the invariant compliance needs. Completion is
crash-monotonic: once any surface has deleted, the only forward path
is finishing the rest — there is no rollback, because "forget" has no
legal rollback.

Single-maintainer contract per surface (the index_log norm): forgets
serialize against compaction/refit of the same index by operational
exclusion; concurrent READERS at any pinned generation are safe.

No reference analog (the reference never deletes;
`fetch_and_post.py:252-256` only appends to its sheet) — this is the
north-star training-data surface, following the public Iceberg/Delta
multi-table-transaction + GDPR-delete designs.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.plans import genlog
from chesscom_etl_tableau_spark.plans import ingest as ING

PROTOCOL = genlog.PROTOCOL


def forget_intents(root: str) -> list[int]:
    """All published intent numbers, ascending."""
    return genlog.intent_log(root).generations()


def forget_doc(root: str, n: int) -> dict:
    return genlog.intent_log(root).doc(n)


def forget_done_doc(root: str, n: int) -> dict | None:
    """The done doc of intent n, or None while it is pending."""
    try:
        return genlog.done_log(root).doc(n)
    except FileNotFoundError:
        return None


def _surface_gens(
    corpus_path: str, lsh_path: str | None, ivf_path: str | None
) -> dict:
    from chesscom_etl_tableau_spark.operators import index_log as IL

    gens: dict = {"corpus": genlog.manifest_log(corpus_path).current()[0]}
    if lsh_path is not None:
        gens["lsh"] = IL.index_log_current(lsh_path)[0]
    if ivf_path is not None:
        gens["ivf"] = IL.index_log_current(ivf_path)[0]
    return gens


def _apply_surfaces(
    spark: SparkSession,
    doc: dict,
    corpus_path: str,
    lsh_path: str | None,
    ivf_path: str | None,
) -> tuple[dict, dict]:
    """Delete the staged ids from every surface, in order. Returns
    (per-surface deleted counts, post-delete generations). Idempotent:
    a surface that already forgot these ids publishes nothing and
    keeps its generation."""
    from chesscom_etl_tableau_spark.operators import index_log as IL

    ids = spark.read.parquet(doc["ids_dir"]).localCheckpoint()
    id_col = doc["id_col"]
    counts: dict = {}
    counts["corpus"] = ING.commit_delete_manifest(
        ids, corpus_path, key_col=id_col
    )
    if lsh_path is not None:
        counts["lsh"], _ = IL.index_log_delete_ids(
            spark,
            lsh_path,
            ids.select(F.col(id_col).alias(doc["lsh_id_col"])),
            id_col=doc["lsh_id_col"],
        )
    if ivf_path is not None:
        counts["ivf"], _ = IL.index_log_delete_ids(
            spark,
            ivf_path,
            ids.select(F.col(id_col).alias(doc["ivf_id_col"])),
            id_col=doc["ivf_id_col"],
        )
    return counts, _surface_gens(corpus_path, lsh_path, ivf_path)


def forget_ids(
    ids: DataFrame,
    corpus_path: str,
    lsh_path: str | None = None,
    ivf_path: str | None = None,
    id_col: str = "doc_id",
    lsh_id_col: str = "doc",
    ivf_id_col: str = "vec_id",
    root: str | None = None,
    max_retries: int = 20,
) -> dict:
    """Forget `ids` across the corpus sink and the given indexes (see
    module docstring for the intent/apply/done discipline). Returns
    {"intent": n, "deleted": {surface: rows}, "pre": {surface: gen},
    "post": {surface: gen}}. A replay with ids already forgotten
    everywhere publishes NOTHING on any surface (deleted counts all 0,
    post == pre) — it still records its own intent/done pair, the
    audit trail of the request having been made."""
    spark = ids.sparkSession
    root = root or corpus_path
    intents = genlog.intent_log(root)
    txn = uuid.uuid4().hex
    ids_dir = os.path.join(intents.dir, f"ids-{txn}")
    n_ids = ING._stage_batch(ids.select(id_col).distinct(), [], ids_dir).rows
    doc = {
        "protocol": PROTOCOL,
        "txn": txn,
        "ids_dir": ids_dir,
        "n_ids": n_ids,
        "id_col": id_col,
        "lsh_id_col": lsh_id_col,
        "ivf_id_col": ivf_id_col,
        "surfaces": {
            "corpus": corpus_path,
            **({"lsh": lsh_path} if lsh_path is not None else {}),
            **({"ivf": ivf_path} if ivf_path is not None else {}),
        },
        "pre": _surface_gens(corpus_path, lsh_path, ivf_path),
    }
    # a lost intent race moves on to the number after the winner's
    n = intents.commit(lambda last, _doc, _i: (doc, last + 1), max_retries, "forget_ids")
    counts, post = _apply_surfaces(spark, doc, corpus_path, lsh_path, ivf_path)
    done = {"protocol": PROTOCOL, "txn": txn, "deleted": counts, "post": post}
    genlog.done_log(root).publish(n, done)
    return {"intent": n, "deleted": counts, "pre": doc["pre"], "post": post}


def forget_pending(root: str) -> list[int]:
    """Intents whose apply never finished (no done doc) — the recovery
    work list."""
    return [n for n in forget_intents(root) if forget_done_doc(root, n) is None]


def forget_resume(spark: SparkSession, root: str) -> list[int]:
    """Complete every pending intent under `root`: re-apply the staged
    ids to each surface (already-deleted surfaces no-op) and publish
    the missing done docs. Crash-safe to re-run any number of times;
    returns the intents completed now."""
    completed: list[int] = []
    for n in forget_pending(root):
        doc = forget_doc(root, n)
        s = doc["surfaces"]
        counts, post = _apply_surfaces(
            spark, doc, s["corpus"], s.get("lsh"), s.get("ivf")
        )
        done = {
            "protocol": PROTOCOL,
            "txn": doc["txn"],
            "deleted": counts,
            "post": post,
            "resumed": True,
        }
        try:
            genlog.done_log(root).publish(n, done)
        except genlog.GenerationConflict:
            continue  # a concurrent resume finished it first
        completed.append(n)
    return completed


def forget_audit_ids(spark: SparkSession, root: str, n: int) -> DataFrame:
    """The staged id set of intent n — the immutable record of what
    was asked to be forgotten (readable after the data itself is
    gone from every current generation)."""
    return spark.read.parquet(forget_doc(root, n)["ids_dir"])
