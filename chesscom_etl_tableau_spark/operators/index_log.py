"""Generation log for hive-partitioned ANN/LSH indexes — snapshot
isolation for index maintenance (r13 verdict ask #2).

The raw persisted-index surfaces (`ivf_persist`/`ivf_append`/
`compact_partitioned_index`/`ivf_refit_drifted` and the LSH twins)
rewrite the live directory with dynamic partition overwrite, which
DELETES the files they replace — correct under their documented
exclusive-writer contract, but a concurrent probe mid-rewrite reads
partial state. This module puts the generation log the ingest sink's
manifests use (`plans/genlog.py`) on top of the SAME hive layout:

    index_path/
      <part_col>=<v>/part-*.parquet          immutable data files
      _generations/gen-000000000012.json     per-partition LIVE file lists

- Every maintenance commit (append / compact / refit / delete) only
  ever ADDS data files — `_write_files`, the one clustered
  ``mode("append")`` write, returns the files it added per partition
  (Spark part-file names are unique) — and then publishes generation
  N+1 listing the new live set. Nothing
  is deleted at commit time, so a reader that pinned generation N keeps
  a consistent, immutable view for as long as its files survive gc.
- Readers resolve the newest generation (or pin one explicitly) and
  read exactly its listed files; partition pruning happens manifest-
  side (only the requested partitions' files are handed to the scan),
  which is file-granular — strictly finer than directory pruning.
- Publication is the generation-log protocol of `plans/genlog.py`
  (exclusive create of gen N+1, protocol fence on every read). A lost
  append re-reads the winner's doc and retries with its lists carried.
  Concurrent APPENDS serialize safely this way; concurrent
  compact/refit remain a single-maintainer-at-a-time contract (two
  simultaneous rewrites of the same partition would both be "live" —
  the exclusive create serializes the publishes but not the intent),
  so they raise `GenerationConflict` on a lost race instead of
  retrying. That is the operational norm for index maintenance.
- `index_log_gc` deletes data files unreferenced by the retained
  generations — the only deletion on this path, run with a retention
  horizon longer than any reader pin.

A raw index migrates in place via `index_log_init` (snapshot the
current listing as generation 1); the raw probe functions keep working
against the directory until the first generation-logged rewrite, after
which manifest-reading probes are required (the directory now holds
retired files too).

No reference analog (the reference has no persisted indexes); this is
the north-star training-data surface. Cites the public designs it
follows: Iceberg/Delta snapshot isolation via manifest generations.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.operators.similarity import (
    _drifted_buckets,
    _recenter,
    _topk_over_scan,
    ivf_bucket_residuals,
)
from chesscom_etl_tableau_spark.plans import genlog
# re-exported: compact/refit/delete raise it on a lost race
from chesscom_etl_tableau_spark.plans.genlog import GenerationConflict  # noqa: F401
from chesscom_etl_tableau_spark.util import cluster_for_partitioned_write

PROTOCOL = genlog.PROTOCOL


def index_log_current(index_path: str) -> tuple[int, dict]:
    """(generation, doc) of the newest published generation; (0, {})
    for an unlogged index. LIST + GET only, no Spark job."""
    return genlog.index_log(index_path).current()


def index_log_doc(index_path: str, generation: int | None = None) -> dict:
    """Doc of a specific generation (newest when None). Raises
    FileNotFoundError for a generation that was never published — a
    pinned generation is immutable once written, so this read is
    repeatable for the life of the pin (until gc)."""
    if generation is None:
        gen, doc = index_log_current(index_path)
        if gen == 0:
            raise FileNotFoundError(f"{index_path}: no generation published")
        return doc
    return genlog.index_log(index_path).doc(generation)


def _raw_listing(index_path: str, partition_col: str) -> dict[int, list[str]]:
    """Relative data-file paths per integer partition value, from the
    directory itself (not the log) — the one hive-partition walk
    (`similarity.index_partition_files` is a view over it). Non-integer
    partition dirs (a null bucket's __HIVE_DEFAULT_PARTITION__, a string
    partition column) are skipped, so they are never rewritten."""
    out: dict[int, list[str]] = {}
    prefix = f"{partition_col}="
    if not os.path.isdir(index_path):
        return out
    for d in sorted(os.listdir(index_path)):
        if not d.startswith(prefix) or not os.path.isdir(
            os.path.join(index_path, d)
        ):
            continue
        try:
            key = int(d[len(prefix):])
        except ValueError:
            continue
        out[key] = sorted(
            f"{d}/{f}"
            for f in os.listdir(os.path.join(index_path, d))
            if f.endswith(".parquet")
        )
    return out


def _write_files(
    df: DataFrame, index_path: str, partition_col: str
) -> dict[int, list[str]]:
    """Write `df` as an additive hive append (clustered by the partition
    column, optimization r15, guide §6) and return the data files it
    added, per partition value — the before/after listing diff. The
    diff can also hold a concurrent append's files, not yet published:
    listing them is harmless (a file listed twice is one live file),
    deleting them is not, so a commit that loses its race leaves its
    files to `index_log_gc`'s orphan horizon."""
    before = _raw_listing(index_path, partition_col)
    cluster_for_partitioned_write(df, partition_col).write.mode(
        "append"
    ).partitionBy(partition_col).parquet(index_path)
    added = {}
    for v, fs in _raw_listing(index_path, partition_col).items():
        new = sorted(set(fs) - set(before.get(v, ())))
        if new:
            added[v] = new
    return added


def _doc(partition_col: str, partitions: dict[int, list[str]]) -> dict:
    """A generation doc. Empty partitions are dropped (an absent key IS
    the empty list)."""
    return {
        "protocol": PROTOCOL,
        "partition_col": partition_col,
        "partitions": {
            str(v): sorted(fs) for v, fs in sorted(partitions.items()) if fs
        },
    }


def _publish(
    index_path: str, partition_col: str, partitions: dict[int, list[str]],
    base_gen: int,
) -> int:
    """Publish generation base_gen+1; raises GenerationConflict when
    another writer won it."""
    genlog.index_log(index_path).publish(base_gen + 1, _doc(partition_col, partitions))
    return base_gen + 1


def index_log_init(index_path: str, partition_col: str) -> int:
    """Snapshot a raw hive-partitioned index as generation 1. Raises if
    a log already exists (init is not an upsert)."""
    gen, _ = index_log_current(index_path)
    if gen:
        raise RuntimeError(f"{index_path}: generation log already at {gen}")
    return _publish(index_path, partition_col, _raw_listing(index_path, partition_col), 0)


def _live(doc: dict) -> dict[int, list[str]]:
    return {int(v): list(fs) for v, fs in doc.get("partitions", {}).items()}


def index_log_files(
    index_path: str,
    generation: int | None = None,
    values=None,
) -> list[str]:
    """Absolute live data-file paths of a generation, optionally
    restricted to a partition-value subset (the manifest-side partition
    pruning probes use)."""
    doc = index_log_doc(index_path, generation)
    live = _live(doc)
    vals = set(values) if values is not None else None
    return [
        os.path.join(index_path, f)
        for v, fs in sorted(live.items())
        if vals is None or v in vals
        for f in fs
    ]


def index_log_read(
    spark,
    index_path: str,
    generation: int | None = None,
    values=None,
) -> DataFrame:
    """DataFrame over exactly one generation's live files (newest when
    None), pruned manifest-side to `values`. The hive partition column
    is recovered via basePath. An empty selection still returns the
    right schema (read-all + WHERE FALSE, metadata-only)."""
    files = index_log_files(index_path, generation, values)
    reader = spark.read.option("basePath", index_path)
    if not files:
        return reader.parquet(index_path).where(F.lit(False))
    return reader.parquet(*files)


def index_log_append(
    spark,
    index_path: str,
    df: DataFrame,
    partition_col: str,
    max_retries: int = 5,
) -> int:
    """Commit an append as a new generation: write the rows (additive
    hive append — never deletes), then publish gen+1 carrying every
    prior live file plus the new ones. Lost CAS races re-read the
    winner's doc and retry; the file-set union makes a retry that
    accidentally lists a concurrent appender's files harmless (both
    docs listing a file is one live file). Returns the generation
    published."""
    new_files = _write_files(df, index_path, partition_col)

    def attempt(gen: int, doc: dict, _):
        live = _live(doc)
        for v, fs in new_files.items():
            live[v] = sorted(set(live.get(v, [])) | set(fs))
        return _doc(partition_col, live), gen + 1

    return genlog.index_log(index_path).commit(attempt, max_retries, "index_log_append")


def compact_index_log(
    spark,
    index_path: str,
    partition_col: str = "bucket",
    max_files: int = 1,
    values=None,
) -> tuple[int, int]:
    """Snapshot-isolated partition-local compaction: partitions of the
    CURRENT generation holding more than `max_files` live files are
    read (pinned), rewritten as one additive append, and generation
    N+1 published with those partitions' lists swapped to the new
    files. The retired files stay on disk — a reader pinned at N is
    untouched; `index_log_gc` reaps them once no retained generation
    references them. Returns (files_retired, generation_published);
    (0, current) when already compact. Single-maintainer contract (see
    module docstring); concurrent READERS at any generation are safe.
    """
    gen, doc = index_log_current(index_path)
    if not gen:
        raise RuntimeError(f"{index_path}: not generation-logged (init first)")
    live = _live(doc)
    vals = set(values) if values is not None else None
    cand = sorted(
        v
        for v, fs in live.items()
        if len(fs) > max_files and (vals is None or v in vals)
    )
    if not cand:
        return 0, gen
    rows = index_log_read(spark, index_path, gen, cand).localCheckpoint()
    added = _write_files(rows, index_path, partition_col)
    retired = 0
    for v in cand:
        retired += len(live[v])
        live[v] = added.get(v, [])
    new_gen = _publish(index_path, partition_col, live, gen)
    return retired, new_gen


def ivf_refit_drifted_log(
    spark,
    index_path: str,
    centroids: DataFrame,
    baseline_resid: DataFrame,
    threshold_num: int = 3,
    threshold_den: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cur_resid: DataFrame | None = None,
):
    """Generation-logged twin of `similarity.ivf_refit_drifted`: same
    exact-integer drift rule, same micro-integer Lloyd re-centering of
    ONLY the drifted buckets, same reassignment of only their vectors
    among only the refitted centroids — but the rewrite is an additive
    append plus a generation publish instead of a dynamic partition
    overwrite, so no file is deleted, no partition directory is
    rmtree'd (the emptied-bucket case is just an absent key in the new
    doc), and a concurrent probe pinned at the pre-refit generation
    reads exactly the pre-refit index. Returns
    (updated_centroids, drifted_bucket_ids, generation_published)."""
    gen, doc = index_log_current(index_path)
    if not gen:
        raise RuntimeError(f"{index_path}: not generation-logged (init first)")
    if doc.get("partition_col", "bucket") != "bucket":
        # The IVF machinery below (_recenter / ivf_bucket_residuals)
        # emits and reads a literal `bucket` column; a log under any other partition column would append
        # into a bucket=... layout the before/after listing never sees,
        # silently dropping the drifted partitions (advice r14).
        raise ValueError(
            f"{index_path}: ivf_refit_drifted_log requires partition_col "
            f"'bucket', log has {doc['partition_col']!r}"
        )
    if cur_resid is None:
        # Full-index residual scan: O(corpus). A production loop
        # passes `cur_resid` accumulated from the per-append drift
        # statistics (`ivf_append`'s emitted deltas merged into the
        # baseline ledger), which makes the WHOLE refit bounded by the
        # drifted partitions — the scan here is the self-contained
        # fallback (see the r14 refit scale probe in BASELINE.md).
        cur_resid = ivf_bucket_residuals(
            index_log_read(spark, index_path, gen), centroids, vec_col
        )
    drifted = _drifted_buckets(
        cur_resid, baseline_resid, threshold_num, threshold_den
    )
    if not drifted:
        return centroids, [], gen
    reassigned, updated = _recenter(
        index_log_read(spark, index_path, gen, drifted), centroids, drifted,
        id_col, vec_col,
    )
    live = _live(doc)
    for b in drifted:
        live[b] = []  # replaced wholesale below (possibly emptied)
    for v, new in _write_files(reassigned, index_path, "bucket").items():
        live[v] = sorted(set(live.get(v, [])) | set(new))
    new_gen = _publish(index_path, "bucket", live, gen)
    return updated, sorted(drifted), new_gen


def index_log_delete_ids(
    spark,
    index_path: str,
    ids: DataFrame,
    id_col: str = "vec_id",
) -> tuple[int, int]:
    """Delete rows by id from a generation-logged index — the
    right-to-be-forgotten path a training-data index needs: a removal
    request must actually leave the ANN/LSH index, not just the
    corpus. Same commit shape as compact/refit: the touched partitions
    are rewritten WITHOUT the deleted ids as an additive append, and
    generation N+1 publishes the swap — no tombstones to merge at read
    time (a probe of generation N+1 never sees the rows), no file
    deleted until `index_log_gc`, and a reader pinned at N still sees
    the pre-delete index (time travel is the audit surface: "what did
    the index serve before the removal?").

    Touched partitions are found with one column-pruned id scan of the
    current generation (`ids` is broadcast — removal batches are small
    by nature); only those partitions are read in full and rewritten.
    Returns (n_deleted, generation) — a no-op delete (no id present)
    publishes nothing and returns the current generation unchanged.
    Single-maintainer contract, as all index maintenance here."""
    gen, doc = index_log_current(index_path)
    if not gen:
        raise RuntimeError(f"{index_path}: not generation-logged (init first)")
    partition_col = doc.get("partition_col", "bucket")
    live = _live(doc)
    current = index_log_read(spark, index_path, gen)
    hits = (
        current.select(id_col, partition_col)
        .join(F.broadcast(ids.select(id_col)), id_col, "left_semi")
        .localCheckpoint()
    )
    n_deleted = hits.count()
    if n_deleted == 0:
        return 0, gen
    touched = sorted(
        r[partition_col]
        for r in hits.select(partition_col).distinct().collect()
    )
    keep = index_log_read(spark, index_path, gen, touched).join(
        F.broadcast(ids.select(id_col)), id_col, "left_anti"
    ).localCheckpoint()
    added = _write_files(keep, index_path, partition_col)
    for v in touched:
        live[v] = added.get(v, [])
    new_gen = _publish(index_path, partition_col, live, gen)
    return n_deleted, new_gen


def index_log_gc(
    index_path: str, keep_last: int = 1, min_age_sec: float = 86400.0
) -> int:
    """Delete data files not referenced by the newest `keep_last`
    generations, and drop the older generation docs — the ONLY
    deletion on the generation-logged path. Run with a retention
    horizon longer than any reader pin (the Iceberg/Delta vacuum
    contract). Returns the number of data files deleted.

    `min_age_sec` is the ORPHAN-file horizon (advice r14): an
    unreferenced file younger than it is skipped, because the module
    explicitly allows `index_log_append` to run concurrently with
    maintenance — an append writes its data files BEFORE publishing
    the generation that references them, so a gc racing that window
    would delete files the winner's new generation is about to list.
    The default (24h, the Iceberg orphan-file rule scaled down) is far
    longer than any append's write-to-publish gap; pass 0 only when
    appends are provably quiesced (tests / single-process lifecycles).
    """
    import time

    log = genlog.index_log(index_path)
    gen, doc = log.current()
    if not gen:
        return 0
    partition_col = doc.get("partition_col", "bucket")
    log.expire(keep_last)
    referenced = log.referenced()
    deleted = 0
    horizon = time.time() - min_age_sec
    for v, fs in _raw_listing(index_path, partition_col).items():
        for f in fs:
            if f not in referenced:
                full = os.path.join(index_path, f)
                try:
                    if os.path.getmtime(full) > horizon:
                        continue  # possibly an in-flight append's file
                except FileNotFoundError:
                    continue
                os.remove(full)
                deleted += 1
    return deleted


def lsh_candidates_generation(
    spark,
    index_path: str,
    batch,
    generation: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    key_buckets: int = 64,
):
    """`dedup.lsh_candidates_persisted` over a PINNED generation of a
    generation-logged banded LSH index — the text twin of
    `ivf_topk_generation`: same band math, but the touched pb
    partitions are resolved manifest-side from the pinned generation's
    live files, so a concurrent compaction publishing N+1 cannot
    change the candidate set until gc reaps generation N's files."""
    from chesscom_etl_tableau_spark.operators.dedup import (
        lsh_candidates_persisted,
    )

    return lsh_candidates_persisted(
        spark, index_path, batch, text_col, id_col, k, num_hashes, bands,
        key_buckets,
        scan=lambda needed: index_log_read(spark, index_path, generation, needed),
    )


def ivf_topk_generation(
    spark,
    index_path: str,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    generation: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """`ivf_topk_persisted` over a PINNED generation: identical probe
    math (driver-side query->nprobe bucket routing against the tiny
    centroid set), but the scan reads exactly the pinned generation's
    live files for the probed buckets (manifest-side pruning — file-
    granular, finer than the directory pruning the raw probe relies
    on). A concurrent compact/refit publishing N+1 cannot change this
    result until gc reaps generation N's files."""
    return _topk_over_scan(
        spark,
        lambda needed: index_log_read(spark, index_path, generation, needed),
        centroids, queries, k, nprobe, id_col, vec_col, query_id_col,
    )
