"""Idempotent incremental batch ingest (SURVEY.md §2.3 J1/J2, §2.7, §3.1).

Re-expresses the reference's per-user sequential loop
(fetch_and_post.py:312-415) as one declarative Spark job:

    archives -> anti-join(processed)          # J2 partition pruning
             -> explode/flatten               # T1-T5
             -> dropDuplicates(game_url)      # J1 within-batch dedup
             -> anti-join(existing game_url)  # J1 cross-batch dedup
             -> append parquet + audit + state # S5/S6/S9, I1 watermark

Idempotency contract (fetch_and_post.py:4-8): re-running over the same
archives — including the deliberately re-fetched open month (I3,
fetch.yml:93-129) — appends zero duplicate games.

Scale notes:
- The existing-keys anti-join reads ONLY the `game_url` column of the
  sink (column pruning; the reference does the same single-column scan,
  fetch_and_post.py:230-249). At 100 TB the sink should be partitioned
  by month (`archive_month`) so the anti-join build side prunes to the
  months present in the incoming batch — implemented below by deriving
  the month partition and pre-filtering existing keys to those months.
- No collect() of fact data; only the tiny audit/state aggregates hit
  the driver.
- Single-writer assumption, like the reference's concurrency group
  (fetch.yml:16-18). Parquet append + anti-join is safe under it; on a
  platform with Delta/Iceberg, swap the sink write for MERGE.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass
from typing import NamedTuple
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from chesscom_etl_tableau_spark.plans import genlog
from chesscom_etl_tableau_spark.plans.genlog import data_files, manifest_log, warehouse_log
from chesscom_etl_tableau_spark.schemas import GAMES_SCHEMA, PROCESSED_ARCHIVES_SCHEMA, enforce_schema
from chesscom_etl_tableau_spark.sources.archives import flatten_archives
from chesscom_etl_tableau_spark.util import _append_rows, local_frame


@dataclass
class IngestResult:
    appended_games: int
    processed_archives: int
    watermarks: dict[str, int]  # username -> max end_time epoch seconds


def load_state(path: str) -> dict:
    """Tolerant checkpoint read (missing/corrupt -> empty), mirroring
    fetch_and_post.py:275-284."""
    try:
        with open(path) as f:
            state = json.load(f)
        return state if isinstance(state, dict) else {}
    except (OSError, json.JSONDecodeError):
        return {}


def save_state(path: str, state: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f, indent=2, sort_keys=True)
    os.replace(tmp, path)


def unmark_last_archive(state: dict) -> dict:
    """I3 late-data reprocessing: drop each user's latest processed
    archive so the still-growing month is re-fetched (fetch.yml:93-129).
    Latest by URL, not by list position: archive URLs end in
    `/games/YYYY/MM`, so they sort by month, which also reopens the
    right month in a state file whose list was written out of order.
    Idempotent dedup makes the re-append safe."""
    out = {}
    for user, entry in state.items():
        pa = list(entry.get("processed_archives", []))
        if pa:
            pa.remove(max(pa))
        out[user] = {**entry, "processed_archives": pa}
    return out


def prune_processed(archives: DataFrame, state: dict) -> DataFrame:
    """J2: skip archives already marked processed (set-difference).

    The processed set is tiny (months x users), so it goes into the
    plan as one literal (a JSON array the optimizer parses once), not as
    a frame to join: over a local archives frame (what `fetch_archives`
    returns) the filter folds into the relation and evaluating the
    result runs no job. The plan stays a few nodes however many
    archives are processed. An archive with a NULL username or URL
    never matches and stays, as under an anti-join.
    """
    processed = [
        {"username": user, "archive_url": url}
        for user, entry in state.items()
        for url in entry.get("processed_archives", [])
    ]
    if not processed:
        return archives
    known = F.from_json(
        F.lit(json.dumps(processed)), "array<struct<username: string, archive_url: string>>"
    )
    return archives.where(
        F.col("username").isNull()
        | F.col("archive_url").isNull()
        | ~F.array_contains(known, F.struct("username", "archive_url"))
    )


def first_seen_wins(df: DataFrame, key_cols: list[str], order_cols: list) -> DataFrame:
    """F6: keep the first row per key in the source processing order —
    the reference's within-batch dedup semantics (games sorted by
    end_time within an archive, first occurrence of a game_url kept,
    fetch_and_post.py:352-370). One window shuffle on the key."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def dedup_against_sink(
    flat: DataFrame, sink_path: str, existing: DataFrame | None = None
) -> DataFrame:
    """J1: drop rows whose game_url already exists in the sink.

    Within-batch dedup is first-seen-wins in the reference's processing
    order (archives ascending, games by end_time within an archive,
    fetch_and_post.py:352-370) — which also makes a batch run over N
    archives produce exactly what N incremental runs would.

    Pass `existing` to dedup against a given snapshot of the sink's
    keys (`ingest_archives` passes the one it records, for either
    commit protocol).
    """
    spark = flat.sparkSession
    in_batch = first_seen_wins(
        flat,
        ["game_url"],
        [F.col("archive_url").asc(), F.col("end_time_utc").asc_nulls_last()],
    )
    if existing is None:
        if not os.path.isdir(sink_path):
            return in_batch  # first run: sink does not exist yet
        # Full single-column key scan — the same O(total keys) read the
        # reference does (fetch_and_post.py:230-249), but columnar and
        # distributed. NOT month-pruned: a game_url can resurface under
        # a different archive than the one that first delivered it (the
        # I3 re-fetch), so the build side must be the complete key set.
        # At 100 TB scale this anti-join shuffles only the key column;
        # with a sink bucketed by game_url it becomes co-located. A read
        # failure on an EXISTING sink propagates — swallowing it would
        # skip the dedup and append duplicates.
        existing = spark.read.parquet(sink_path)
    return in_batch.join(existing.select("game_url"), "game_url", "left_anti")


def commit_append(
    new_rows: DataFrame,
    sink_path: str,
    key_col: str = "game_url",
    lock_timeout_s: float = 120.0,
    stale_lock_s: float = 600.0,
) -> int:
    """Race-safe parquet append: write-audit-publish, which closes the
    concurrent-writer window without a table format (Delta/Iceberg).

    Protocol:
      1. STAGE   — write `new_rows` to a private staging dir (no lock
                   held during the expensive write); the staged row
                   count comes from the files' parquet footers;
      2. LOCK    — take the sink's commit lock via atomic `mkdir`;
      3. AUDIT   — fence the staged schema against the sink's, then
                   anti-join the STAGED keys against the sink files the
                   caller's dedup did not read. This public entry has
                   no dedup snapshot, so it audits every sink file;
                   `ingest_archives` audits only the files published
                   since its dedup listed the sink, and runs no audit
                   job when there are none. Sink files are immutable
                   and only ever added, so both are the same check;
      4. PUBLISH — fast path: if nothing got duplicated underneath us,
                   `rename` the staged part-files into the sink
                   (Spark part names embed a UUID, so no collisions);
                   slow path: rewrite the surviving subset, then rename;
      5. UNLOCK  + clean staging.

    Correctness: duplicates require two writers appending the same key
    concurrently; the audit under the lock sees every row PUBLISHED
    since the caller's snapshot, so the second writer filters the
    overlap. A crash mid-publish leaves a PREFIX of unique staged files
    in the sink — never a duplicate — and the job is idempotent to
    re-run.

    FS constraints (documented, not assumed silently): needs atomic
    `mkdir` (lock) and same-filesystem `rename` (publish) — true for
    POSIX and HDFS. On S3-like stores use `commit_append_manifest`
    (below), which publishes via an exclusive-create manifest swap and
    needs no rename at all.

    Liveness contract: `stale_lock_s` bounds the gap between two lock
    HEARTBEATS, not the whole commit — the holder re-touches the lock
    before each potentially-long step (audit scan, survivor rewrite),
    so it only needs to exceed the worst-case duration of a SINGLE
    Spark job over the staged batch, not the sum of all of them.

    Returns the number of rows actually published.
    """
    return _append_renamed(
        new_rows, sink_path, key_col, frozenset(), None, lock_timeout_s, stale_lock_s
    )[0]


def _take_lock(lock_dir: str, timeout_s: float, stale_s: float) -> None:
    """Take a commit lock by atomic `mkdir`; TimeoutError after
    `timeout_s` of a live holder."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            os.mkdir(lock_dir)
            return
        except FileExistsError:
            # Break a stale lock (crashed holder) after stale_s. Reap
            # via an atomic rename to a unique reaper-owned name:
            # exactly ONE competing reaper's rename succeeds, so two
            # waiters can never both observe-stale-then-remove (the
            # plain stat+rmdir TOCTOU where the second rmdir deletes a
            # lock a new holder just re-created). After winning the
            # rename, re-verify staleness on the reaped dir: if a fresh
            # lock slid under the rename we restore it and back off.
            try:
                if time.time() - os.stat(lock_dir).st_mtime > stale_s:
                    reaped = f"{lock_dir}.reaped-{uuid.uuid4().hex}"
                    os.rename(lock_dir, reaped)
                    if time.time() - os.stat(reaped).st_mtime > stale_s:
                        os.rmdir(reaped)
                    else:
                        # raced a live holder between stat and rename —
                        # give the lock back (path is free: mkdir racers
                        # lose to an existing dir, and rename onto an
                        # empty dir only re-installs the same lock)
                        os.rename(reaped, lock_dir)
                    continue
            except OSError:
                continue  # lock released/reaped between stat and rename
            if time.monotonic() > deadline:
                raise TimeoutError(f"commit lock busy: {lock_dir}")
            time.sleep(0.2)


def _append_renamed(
    new_rows: DataFrame,
    sink_path: str,
    key_col: str,
    seen: frozenset[str],
    tally: Callable[[DataFrame], object] | None = None,
    lock_timeout_s: float = 120.0,
    stale_lock_s: float = 600.0,
) -> tuple[int, object]:
    """The `commit_append` protocol. `seen` names the sink files (by
    file name) the caller's dedup already read; the audit skips them.
    `tally(staged)` runs once over the staged rows, before the lock,
    and its result is returned with the published count (None when
    nothing was staged)."""
    stage_dir = f"{sink_path}.staging-{uuid.uuid4().hex}"
    rewrite_dir = f"{stage_dir}-audited"
    lock_dir = f"{sink_path}.commitlock"
    try:
        batch = _stage_batch(new_rows, [], stage_dir)
        if batch.rows == 0:
            return 0, None
        tallied = tally(batch.df) if tally else None
        _take_lock(lock_dir, lock_timeout_s, stale_lock_s)
        try:
            files = data_files(sink_path)
            landed = [f for f in files if os.path.basename(f) not in seen]
            publish, n_publish = _audit(
                batch, files, landed, key_col, {}, "commit_append", [], rewrite_dir,
                lambda: _heartbeat(lock_dir),
            )
            if n_publish == 0:
                return 0, tallied
            os.makedirs(sink_path, exist_ok=True)
            for f in publish:
                os.rename(f, os.path.join(sink_path, os.path.basename(f)))
            return n_publish, tallied
        finally:
            # tolerant unlock: a failure here must not mask the real
            # error (the stale-mtime breaker will reap a leaked lock)
            with contextlib.suppress(OSError):
                os.rmdir(lock_dir)
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
        shutil.rmtree(rewrite_dir, ignore_errors=True)


def _heartbeat(lock_dir: str) -> None:
    """Refresh the lock mtime so a long-running (but live) audit or
    rewrite is never mistaken for a crashed holder by a reaper."""
    with contextlib.suppress(OSError):
        os.utime(lock_dir)


def _keys_in(spark: SparkSession, files: list[str], staged: DataFrame, key_col: str) -> DataFrame:
    """The `key_col` column of `files`, read with the staged key's type
    (a known schema: no footer job)."""
    return spark.read.schema(StructType([staged.schema[key_col]])).parquet(*files)


# ---------------------------------------------------------------------------
# Object-store-safe commit: manifest-swap publish
# ---------------------------------------------------------------------------
# `commit_append` above needs POSIX/HDFS atomic mkdir + same-FS rename.
# On S3-like object stores neither exists, but conditional PUT plus
# strongly-consistent LIST does — the primitive set of the generation
# log (`plans/genlog.py`), which this sink's manifests are:
#
#   sink/
#     data/txn-<uuid>/part-*.parquet     immutable data files (PUT once)
#     _manifests/manifest-<gen 12d>.json every live data file
#
# Readers resolve the newest manifest and read only the files it lists;
# data files no manifest references are invisible (a crashed writer
# leaks invisible garbage, reaped by `manifest_gc`). Writers stage data,
# audit it against the current manifest's files, and publish gen+1; a
# writer that loses the generation race re-reads the new manifest and
# re-audits its keys against it — so two writers appending the same key
# can never both publish it.

MANIFEST_PROTOCOL = genlog.PROTOCOL
ManifestProtocolError = genlog.ProtocolError


def _current_manifest_doc(sink_path: str) -> tuple[int, dict]:
    """(generation, manifest doc) of the newest manifest; (0, {}) for an
    empty/absent sink. LIST + GET only. The doc may carry, besides
    "files": per-file column "stats" (min/max for file skipping),
    "blooms" (point-lookup bitsets), "delete_files"/"delete_key"
    (merge-on-read delete vectors), "protocol" (version fence)."""
    return manifest_log(sink_path).current()


def _manifest_doc(sink_path: str, generation: int | None = None) -> dict:
    """Doc of a specific published generation (raises FileNotFoundError
    if never published), or the newest ({} when empty)."""
    return manifest_log(sink_path).at(generation)


def _json_stat(v):
    """JSON-safe min/max cell. datetime/date serialize as isoformat
    strings — lexicographic order on isoformat IS chronological order,
    so pruning compares stay correct when callers pass the same
    format."""
    import datetime
    from decimal import Decimal

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v)
    return v


def _file_column_stats(spark: SparkSession, files: list[str], cols: list[str]) -> dict:
    """Per-file min/max of `cols` — ONE distributed aggregate at file
    grain (`input_file_name()` groupBy); the collected result is
    |files| x |cols| scalars, never data rows. This is the stats write
    path a table format (Delta/Iceberg) bakes into its commit."""
    if not files or not cols:
        return {}
    df = spark.read.parquet(*files).withColumn("__f", F.input_file_name())
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
    out: dict = {}
    for r in df.groupBy("__f").agg(*aggs).collect():
        path = unquote(urlparse(r["__f"]).path)
        out[path] = {
            c: [_json_stat(r[f"__mn_{c}"]), _json_stat(r[f"__mx_{c}"])] for c in cols
        }
    return out


def _stats_cols_of(doc: dict) -> list[str]:
    return sorted({c for st in doc.get("stats", {}).values() for c in st})


def _carry_stats(doc: dict, kept_files: list[str]) -> dict:
    """Stats rows for files carried into the next generation — valid
    forever because published data files are immutable."""
    stats = doc.get("stats", {})
    return {f: stats[f] for f in kept_files if f in stats}


# --- per-file bloom filters: point-lookup file skipping -------------------
#
# Min/max stats prune RANGE predicates, but on a high-cardinality key
# whose values scatter across files (ingest order != key order) every
# file's [min, max] covers every probe — stats skip nothing. A per-file
# bloom filter answers "might this file contain key = v?" instead, the
# same role Parquet bloom filters / Delta's bloom index play. The hash
# family is ENGINE-PORTABLE on purpose (md5 -> two 32-bit words ->
# Kirsch-Mitzenmacher double hashing), so the driver-side membership
# probe in Python reproduces the executor-side bit positions exactly;
# values are hashed via their canonical string form (int/string columns
# — document keys, event ids — are the supported bloom column types).

BLOOM_BITS_DEFAULT = 4096
BLOOM_HASHES_DEFAULT = 5


def _bloom_positions(value, m: int, k: int) -> list[int]:
    """Driver-side mirror of the executor hash: k bit positions for a
    probe value. Must stay bit-identical to `_file_bloom_filters`."""
    import hashlib

    h = hashlib.md5(str(value).encode("utf-8")).hexdigest()
    h1, h2 = int(h[:8], 16), int(h[8:16], 16)
    return [(h1 + i * h2) % m for i in range(k)]


def _pack_bits(positions, m: int) -> str:
    """Bit positions -> hex string of the m-bit set (LSB-first bytes)."""
    buf = bytearray(m // 8)
    for p in positions:
        buf[p >> 3] |= 1 << (p & 7)
    return buf.hex()


def _bit_set(hexbits: str, pos: int) -> bool:
    byte = int(hexbits[(pos >> 3) * 2 : (pos >> 3) * 2 + 2], 16)
    return bool(byte >> (pos & 7) & 1)


def _file_bloom_filters(
    spark: SparkSession, files: list[str], cols: list[str], m: int, k: int
) -> dict:
    """Per-file bloom bitsets for `cols` — one distributed pass per
    column: hash every value to its k positions JVM-side (md5 stays in
    codegen), dedupe (file, position) pairs, collect |files| x <=m
    positions to the driver, pack to hex there. Data rows never reach
    the driver. A file with NO non-null values for a column keeps the
    all-zeros bitset — every probe misses it, which is exactly right."""
    if not files or not cols:
        return {}
    out: dict = {f: {c: set() for c in cols} for f in files}
    df = spark.read.parquet(*files)
    for c in cols:
        s = F.md5(F.col(c).cast("string"))
        h1 = F.conv(F.substring(s, 1, 8), 16, 10).cast("long")
        h2 = F.conv(F.substring(s, 9, 8), 16, 10).cast("long")
        pos = F.array(*[F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(k)])
        rows = (
            df.where(F.col(c).isNotNull())
            .select(F.input_file_name().alias("__f"), F.explode(pos).alias("__p"))
            .distinct()
            .groupBy("__f")
            .agg(F.collect_set("__p").alias("__ps"))
            .collect()
        )
        for r in rows:
            path = unquote(urlparse(r["__f"]).path)
            if path in out:
                out[path][c].update(int(p) for p in r["__ps"])
    return {
        f: {c: _pack_bits(ps, m) for c, ps in per_col.items()}
        for f, per_col in out.items()
    }


def _bloom_cols_of(doc: dict) -> list[str]:
    return sorted(
        {c for per in doc.get("blooms", {}).get("files", {}).values() for c in per}
    )


def _bloom_params_of(doc: dict) -> tuple[int, int]:
    bl = doc.get("blooms", {})
    return bl.get("m", BLOOM_BITS_DEFAULT), bl.get("k", BLOOM_HASHES_DEFAULT)


def _carry_blooms(doc: dict, kept_files: list[str]) -> dict:
    per_file = doc.get("blooms", {}).get("files", {})
    return {f: per_file[f] for f in kept_files if f in per_file}


def _manifest_blooms(
    spark: SparkSession,
    doc: dict,
    carried_files: list[str],
    new_files: list[str],
    requested_cols: list[str] | None = None,
    m: int | None = None,
    k: int | None = None,
) -> dict | None:
    """The `blooms` manifest section for the next generation: carried
    files keep their bitsets (immutability), new files get fresh ones.
    Once a sink tracks bloom columns, every later commit keeps tracking
    them (same stickiness contract as stats) with the sink's OWN (m, k)
    — carried bitsets stay readable; requested parameters only apply to
    the commit that first introduces blooms."""
    eff = sorted(set(requested_cols or []) | set(_bloom_cols_of(doc)))
    if not eff:
        return None
    if "blooms" in doc:
        m, k = _bloom_params_of(doc)
    else:
        m = m or BLOOM_BITS_DEFAULT
        k = k or BLOOM_HASHES_DEFAULT
    return {
        "m": m,
        "k": k,
        "files": {
            **_carry_blooms(doc, carried_files),
            **_file_bloom_filters(spark, new_files, eff, m, k),
        },
    }


def _apply_delete_vectors(spark: SparkSession, df, doc: dict, keep_file_col: str | None = None):
    """Mask rows tombstoned by the generation's delete vectors
    (merge-on-read DELETE): one broadcast-sized anti-join on
    (key, source file). Vectors are FILE-scoped — each tombstone is the
    exact (key, data file) pair captured at delete time — so a later
    re-insert of the same key (new file) is visible while the old row
    stays masked, with no vector rewrite on the append path.

    `keep_file_col` retains the per-row source-file column under that
    name for callers that need it (COW rewrite planning); `df` must be
    a raw file scan in that case so `input_file_name()` is well-defined.
    """
    f_col = keep_file_col or "__dv_file"
    del_files = doc.get("delete_files", [])
    if not del_files:
        return df.withColumn(f_col, F.input_file_name()) if keep_file_col else df
    key = doc["delete_key"]
    pairs = (
        spark.read.parquet(*del_files)
        .select(F.col(key), F.col("__dv_file").alias(f_col))
        .distinct()
    )
    out = df.withColumn(f_col, F.input_file_name()).join(
        pairs, [key, f_col], "left_anti"
    )
    return out if keep_file_col else out.drop(f_col)


def read_manifest_sink(
    spark: SparkSession,
    sink_path: str,
    generation: int | None = None,
    merge_schema: bool = False,
) -> DataFrame | None:
    """Snapshot-consistent read of a manifest sink: the file list of one
    manifest generation (concurrent commits never mutate visible files).
    Returns None when no generation has been published yet.

    `generation` time-travels to a specific published generation — the
    manifest design makes every historical snapshot a first-class read,
    because a generation's file list is immutable once written and gc
    only reaps files referenced by NO manifest. Raises FileNotFoundError
    for a generation that was never published.

    `merge_schema=True` unions file schemas by name (schema EVOLUTION:
    columns added by later appends read as NULL in pre-evolution
    files). Off by default — it footer-reads every file, which the
    common fixed-schema scan shouldn't pay.

    If the generation carries delete vectors (merge-on-read DELETE via
    `commit_delete_vector`), the masked keys are anti-joined out — each
    generation's mask is part of its snapshot, so time travel to a
    pre-delete generation still shows the rows.
    """
    doc = _manifest_doc(sink_path, generation)
    files = doc.get("files", [])
    if not files:
        return None
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return _apply_delete_vectors(spark, reader.parquet(*files), doc)


def prune_file_list(
    sink_path: str,
    col: str,
    lo=None,
    hi=None,
    generation: int | None = None,
) -> tuple[list[str], list[str]]:
    """(kept, skipped) data files for a range predicate `lo <= col <=
    hi`, decided from the manifest's per-file min/max stats WITHOUT
    touching any data file — the driver-side file skipping a table
    format does before handing Spark the scan list. Files with no
    recorded stats (or an all-NULL min/max) are conservatively kept;
    pruning only ever REMOVES provably-disjoint files, so the reader's
    own filter remains the correctness boundary. Timestamps compare as
    isoformat strings (order-preserving)."""
    doc = _manifest_doc(sink_path, generation)
    stats = doc.get("stats", {})
    kept: list[str] = []
    skipped: list[str] = []
    for f in doc.get("files", []):
        rng = stats.get(f, {}).get(col)
        if not rng or rng[0] is None or rng[1] is None:
            kept.append(f)
            continue
        mn, mx = rng
        if (lo is not None and mx < lo) or (hi is not None and mn > hi):
            skipped.append(f)
        else:
            kept.append(f)
    return kept, skipped


def read_manifest_pruned(
    spark: SparkSession,
    sink_path: str,
    col: str,
    lo=None,
    hi=None,
    generation: int | None = None,
) -> DataFrame | None:
    """Stats-pruned range read: skip every data file whose [min, max]
    for `col` is disjoint from [lo, hi], then apply the predicate as a
    normal pushed filter over the surviving files. With data CLUSTERED
    on `col` (e.g. `commit_append_manifest(..., stats_cols=[col])`
    after a `repartitionByRange(col)`), a narrow range reads O(range)
    files instead of O(table) — the manifest-level complement of
    parquet row-group pruning. Returns None when nothing survives."""
    kept, _ = prune_file_list(sink_path, col, lo, hi, generation)
    if not kept:
        return None
    doc = _manifest_doc(sink_path, generation)
    df = spark.read.parquet(*kept)
    if lo is not None:
        df = df.where(F.col(col) >= F.lit(lo))
    if hi is not None:
        df = df.where(F.col(col) <= F.lit(hi))
    return _apply_delete_vectors(spark, df, doc)


def _assert_compatible_schema(files: list[str], staged, where: str) -> None:
    """Commit-time schema fence: a staged column that REUSES an existing
    column's name with a different type would publish a table whose
    reads flake on parquet file order (schema inference samples one
    footer; the vectorized reader then throws on the other physical
    type). Table formats reject this at commit; so do we. New columns
    are fine — that's union-by-name evolution, which reads handle via
    merge_schema. The stored schema comes from one file's footer, read
    driver-side without a Spark job: the Spark schema a Spark writer
    records there, else the footer's Arrow schema. Types compare
    without nullability, as a read (which makes every field nullable)
    sees them."""
    if not files:
        return
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    footer = pq.read_schema(files[0])
    written = (footer.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    stored = StructType.fromJson(json.loads(written)) if written else from_arrow_schema(footer)
    existing = {f.name: f.dataType.simpleString() for f in stored.fields}
    for f in staged.schema.fields:
        have = existing.get(f.name)
        if have is not None and have != f.dataType.simpleString():
            raise ValueError(
                f"{where}: staged column {f.name!r} is {f.dataType.simpleString()} "
                f"but the table stores {have} — cast before "
                "committing (same-name type conflicts break parquet reads)"
            )


def prune_file_list_eq(
    sink_path: str,
    col: str,
    value,
    generation: int | None = None,
) -> tuple[list[str], list[str]]:
    """(kept, skipped) data files for the POINT predicate `col = value`,
    decided driver-side from the manifest. Two independent skips
    compose: min/max stats (when tracked) discard files whose range
    excludes the value; bloom bitsets (when tracked) discard files
    where any of the value's k bit positions is unset — the skip that
    still works when every file's [min, max] spans the whole key space.
    Files with neither structure are conservatively kept, and the
    reader's own filter stays the correctness boundary (bloom false
    positives only cost I/O, never rows)."""
    doc = _manifest_doc(sink_path, generation)
    stats = doc.get("stats", {})
    bl = doc.get("blooms", {})
    per_file = bl.get("files", {})
    m, k = bl.get("m"), bl.get("k")
    probe = _bloom_positions(value, m, k) if per_file and m else None
    sv = _json_stat(value)
    kept: list[str] = []
    skipped: list[str] = []
    for f in doc.get("files", []):
        rng = stats.get(f, {}).get(col)
        if rng and rng[0] is not None and rng[1] is not None and not (
            rng[0] <= sv <= rng[1]
        ):
            skipped.append(f)
            continue
        bits = per_file.get(f, {}).get(col)
        if bits is not None and probe is not None and not all(
            _bit_set(bits, p) for p in probe
        ):
            skipped.append(f)
            continue
        kept.append(f)
    return kept, skipped


def read_manifest_point(
    spark: SparkSession,
    sink_path: str,
    col: str,
    value,
    generation: int | None = None,
) -> DataFrame | None:
    """Bloom/stats-pruned point lookup `col = value`: Spark receives
    only the files that might contain the key, then applies the
    equality as a normal pushed filter (parquet row-group stats and
    dictionary filters take over below file grain). Delete vectors of
    the generation are honored. Returns None when no file can match."""
    kept, _ = prune_file_list_eq(sink_path, col, value, generation)
    if not kept:
        return None
    doc = _manifest_doc(sink_path, generation)
    df = spark.read.parquet(*kept).where(F.col(col) == F.lit(value))
    return _apply_delete_vectors(spark, df, doc)


def _check_delete_key(doc: dict, key_col: str, verb: str) -> None:
    del_key = doc.get("delete_key", key_col)
    if doc.get("delete_files") and del_key != key_col:
        raise ValueError(
            f"sink delete vectors are keyed by {del_key!r}, {verb} by {key_col!r}"
        )


def _next_manifest(
    spark: SparkSession,
    gen: int,
    doc: dict,
    txn: str,
    carried: list[str],
    new_files: list[str],
    keep_deletes: bool = True,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int | None = None,
    bloom_hashes: int | None = None,
) -> dict:
    """Manifest gen+1 over `carried` (files kept from `doc`) then
    `new_files`, with doc's per-file sections carried forward. Carried
    files keep their stats and bloom bitsets (published files are
    immutable); new files get fresh ones for every column the sink
    tracks plus any requested. File-scoped delete vectors carry
    verbatim — they tombstone (key, old file) pairs, so new files,
    re-inserts of deleted keys included, are untouched by them — unless
    the rewrite materialized them (`keep_deletes=False`)."""
    manifest = _next_doc(gen, txn, files=carried + new_files)
    if keep_deletes and doc.get("delete_files"):
        manifest["delete_files"] = doc["delete_files"]
        manifest["delete_key"] = doc["delete_key"]
    cols = sorted(set(stats_cols or []) | set(_stats_cols_of(doc)))
    if cols:
        manifest["stats"] = {
            **_carry_stats(doc, carried),
            **_file_column_stats(spark, new_files, cols),
        }
    blooms = _manifest_blooms(
        spark, doc, carried, new_files, bloom_cols, bloom_bits, bloom_hashes
    )
    if blooms is not None:
        manifest["blooms"] = blooms
    return manifest


def _stage(df: DataFrame, staging: list[str], d: str) -> list[str]:
    """Write `df` to staging dir `d`, registered for reaping first so a
    failed write is reaped too. Returns the staged data files whose
    footer has rows (Spark writes a file for partition 0 even when it
    is empty); if every file is empty the first one stays, so a commit
    never lists no file (`read_manifest_sink` reads [] as no sink)."""
    staging.append(d)
    df.write.parquet(d)
    files = data_files(d)
    return [f for f in files if _footer_rows([f])] or files[:1]


def _footer_rows(files: list[str]) -> int:
    """Rows in parquet `files`, from their footers (no Spark job)."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in files)


# --- the staged-commit core -------------------------------------------------
#
# Every commit of this module is built from the same four decisions, one
# helper each: stage a batch (`_stage_batch`), audit it against the
# table under the commit (`_audit`), rewrite files copy-on-write
# (`_cow_rewrite`), and head the next doc (`_next_doc`).


class _Batch(NamedTuple):
    """A staged batch: its data files, their rows (from the footers)
    and a frame over them read with the staged schema (no footer job)."""

    files: list[str]
    rows: int
    df: DataFrame


def _stage_batch(df: DataFrame, staging: list[str], d: str) -> _Batch:
    files = _stage(df, staging, d)
    return _Batch(files, _footer_rows(files), df.sparkSession.read.schema(df.schema).parquet(*files))


def _audit(
    batch: _Batch,
    files: list[str],
    landed: list[str],
    key_col: str | None,
    doc: dict,
    where: str,
    staging: list[str],
    restage_dir: str,
    before_job: Callable[[], None] = lambda: None,
) -> tuple[list[str], int]:
    """The keyed audit of `batch` under a commit: fence its schema
    against the table's `files`, then drop the staged keys found in
    `landed`, read through `doc`'s delete vectors (a deleted key is
    gone, so re-appending it is an insert). Returns the files to
    publish and their rows: the staged files when every row survives, a
    restage of the survivors into `restage_dir` when fewer do, none
    when no row does. `before_job` runs before each Spark job (the
    rename path's lock heartbeat). A read failure of a landed file
    propagates and aborts the commit: skipping it would publish
    unaudited duplicates."""
    _assert_compatible_schema(files, batch.df, where)
    if not landed or not batch.rows:
        return (batch.files if batch.rows else []), batch.rows
    spark = batch.df.sparkSession
    before_job()
    existing = _apply_delete_vectors(spark, _keys_in(spark, landed, batch.df, key_col), doc)
    survivors = batch.df.join(existing, key_col, "left_anti")
    n = survivors.count()
    if n == 0:
        return [], 0
    if n == batch.rows:
        return batch.files, n
    before_job()
    return _stage(survivors, staging, restage_dir), n


def _cow_rewrite(
    spark: SparkSession,
    doc: dict,
    keys: DataFrame,
    key_col: str,
    staging: list[str],
    d: str,
    also: list[str],
) -> tuple[int, list[str], list[str]]:
    """Copy-on-write of `doc`'s files against `keys`: the unit of
    rewrite is the file. The live rows (delete vectors applied: a
    tombstoned row is not matched) carry their file; one job counts the
    rows whose key is in `keys` per file, which names the affected
    files. Those are rewritten into `d` masked (a tombstoned row must
    not resurrect under the new path) and minus the keys; the others
    carry over by reference. Returns (rows matched, carried files, the
    rewrite's files then `also`). An all-empty rewrite is dropped unless
    the next doc would list no file at all (`read_manifest_sink` reads
    [] as no sink)."""
    files = list(doc.get("files", []))
    live = _apply_delete_vectors(spark, spark.read.parquet(*files), doc, keep_file_col="__f")
    per_file = live.join(keys, key_col, "left_semi").groupBy("__f").count().collect()
    affected = {urlparse(r["__f"]).path for r in per_file}
    carried = [f for f in files if f not in affected]
    rewrite: list[str] = []
    if affected:
        rewrite = _stage(
            _apply_delete_vectors(spark, spark.read.parquet(*sorted(affected)), doc).join(
                keys, key_col, "left_anti"
            ),
            staging,
            d,
        )
        if not _footer_rows(rewrite) and (carried or also):
            rewrite = []
    return sum(r["count"] for r in per_file), carried, rewrite + also


def _next_doc(gen: int, txn: str, base: dict | None = None, **fields) -> dict:
    """Doc gen+1 of a log: `base`'s fields, the generation, protocol and
    txn header, then `fields`."""
    return {**(base or {}), "generation": gen + 1, "protocol": MANIFEST_PROTOCOL, "txn": txn, **fields}


def commit_append_manifest(
    new_rows: DataFrame,
    sink_path: str,
    key_col: str = "game_url",
    max_retries: int = 20,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = BLOOM_BITS_DEFAULT,
    bloom_hashes: int = BLOOM_HASHES_DEFAULT,
) -> int:
    """Exactly-once keyed append for object stores: stage, audit against
    the current manifest, publish the next manifest by exclusive create.
    This public entry audits every file the manifest lists;
    `ingest_archives` audits only the files listed since the generation
    its dedup read (the same check: listed files are immutable, and a
    rewrite lists new files).

    `stats_cols` records per-file min/max for those columns in the
    manifest (enabling `read_manifest_pruned` file skipping); once a
    sink has stats, later appends keep computing the same columns even
    without the argument, so pruning never silently degrades.
    `bloom_cols` records per-file bloom filters for point-lookup
    skipping on high-cardinality int/string columns
    (`read_manifest_point`), with the same stickiness contract;
    `bloom_bits`/`bloom_hashes` size the filter on the commit that
    introduces it (later commits reuse the sink's parameters). The audit
    reads THROUGH delete vectors, and staged keys drop any tombstone
    they carry (re-inserting a deleted key works; the delete set is
    consolidated in the same generation swap).

    Returns the number of rows actually published. Raises RuntimeError
    after `max_retries` lost generation races (pathological contention).
    """
    return _append_manifest(
        new_rows, sink_path, key_col, frozenset(), None, max_retries,
        stats_cols, bloom_cols, bloom_bits, bloom_hashes,
    )[0]


def _append_manifest(
    new_rows: DataFrame,
    sink_path: str,
    key_col: str,
    seen: frozenset[str],
    tally: Callable[[DataFrame], object] | None = None,
    max_retries: int = 20,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = BLOOM_BITS_DEFAULT,
    bloom_hashes: int = BLOOM_HASHES_DEFAULT,
) -> tuple[int, object]:
    """The `commit_append_manifest` protocol. `seen` names the manifest
    files the caller's dedup already read; the audit skips them.
    `tally` as in `_append_renamed`."""
    spark = new_rows.sparkSession
    txn = uuid.uuid4().hex
    stage_dir = os.path.join(sink_path, "data", f"txn-{txn}")
    log = manifest_log(sink_path)
    with log.reaping([]) as staging:
        batch = _stage_batch(new_rows, staging, stage_dir)
        if batch.rows == 0:
            return 0, None
        tallied = tally(batch.df) if tally else None

        def attempt(gen: int, doc: dict, _):
            _check_delete_key(doc, key_col, "append")
            files = list(doc.get("files", []))
            new_files, n_publish = _audit(
                batch, files, [f for f in files if f not in seen], key_col, doc,
                "commit_append_manifest", staging,
                os.path.join(sink_path, "data", f"txn-{txn}-a{gen}"),
            )
            if n_publish == 0:
                return None, (0, tallied)
            return _next_manifest(
                spark, gen, doc, txn, files, new_files,
                stats_cols=stats_cols, bloom_cols=bloom_cols,
                bloom_bits=bloom_bits, bloom_hashes=bloom_hashes,
            ), (n_publish, tallied)

        return log.commit(attempt, max_retries, "commit_append_manifest")


class MergeResult(NamedTuple):
    inserted: int
    updated: int


def commit_merge_manifest(
    new_rows: DataFrame,
    sink_path: str,
    key_col: str = "game_url",
    max_retries: int = 20,
) -> "MergeResult":
    """Copy-on-write MERGE (upsert) for the manifest sink: batch rows
    whose key already exists REPLACE the stored row, new keys append —
    in one atomic generation swap. The unit of rewrite is the FILE
    (standard COW): only files containing a matched key are rewritten
    (minus the matched rows); untouched files carry over by reference.
    Readers of the previous generation keep a consistent pre-merge
    snapshot; `manifest_expire` + `manifest_gc` retire replaced files
    when history is no longer needed.

    The batch must be unique per key (raises ValueError otherwise —
    "which duplicate wins" is not a merge semantics this sink will
    guess at). Object-store primitives only: PUT, exclusive create,
    LIST, GET — no rename. Returns (inserted, updated).
    """
    spark = new_rows.sparkSession
    txn = uuid.uuid4().hex
    stage_dir = os.path.join(sink_path, "data", f"txn-{txn}")
    log = manifest_log(sink_path)
    with log.reaping([]) as staging:
        batch = _stage_batch(new_rows, staging, stage_dir)
        if batch.rows == 0:
            return MergeResult(0, 0)
        if not batch.df.groupBy(key_col).count().where(F.col("count") > 1).isEmpty():
            raise ValueError(f"merge batch has duplicate {key_col} values")

        def attempt(gen: int, doc: dict, i: int):
            _check_delete_key(doc, key_col, "merge")
            files = list(doc.get("files", []))
            _assert_compatible_schema(files, batch.df, "commit_merge_manifest")
            n_upd, carried, new_files = 0, [], batch.files
            if files:
                # an upsert of a tombstoned key is an INSERT
                n_upd, carried, new_files = _cow_rewrite(
                    spark, doc, batch.df.select(key_col), key_col, staging,
                    os.path.join(sink_path, "data", f"txn-{txn}-rw{gen}-{i}"), batch.files,
                )
            return _next_manifest(
                spark, gen, doc, txn, carried, new_files
            ), MergeResult(batch.rows - n_upd, n_upd)

        return log.commit(attempt, max_retries, "commit_merge_manifest")


def commit_delete_manifest(
    keys: DataFrame,
    sink_path: str,
    key_col: str = "game_url",
    max_retries: int = 20,
) -> int:
    """Copy-on-write DELETE by key — the GDPR/"forget these ids" path,
    completing CRUD on the manifest sink. Only files containing a
    doomed key are rewritten (minus those rows); the swap is one
    exclusive-create generation publish, and prior snapshots retain
    the deleted rows until `manifest_expire` + `manifest_gc` (run them
    promptly when deletion is a compliance requirement, not a
    convenience). Returns the number of rows deleted.
    """
    spark = keys.sparkSession
    doomed = keys.select(key_col).distinct()
    txn = uuid.uuid4().hex
    log = manifest_log(sink_path)

    def attempt(gen: int, doc: dict, i: int):
        if not doc.get("files"):
            return None, 0
        _check_delete_key(doc, key_col, "delete")
        # only LIVE rows count (a key already tombstoned by a delete
        # vector needs no rewrite)
        n_del, carried, new_files = _cow_rewrite(
            spark, doc, doomed, key_col, staging,
            os.path.join(sink_path, "data", f"txn-{txn}-del{gen}-{i}"), [],
        )
        if n_del == 0:
            return None, 0
        return _next_manifest(spark, gen, doc, txn, carried, new_files), n_del

    with log.reaping([]) as staging:
        return log.commit(attempt, max_retries, "commit_delete_manifest")


def commit_delete_vector(
    keys: DataFrame,
    sink_path: str,
    key_col: str = "game_url",
    max_retries: int = 20,
) -> int:
    """Merge-on-read DELETE: publish a delete VECTOR instead of
    rewriting any data file. The vector holds the exact (key, data
    file) pairs of the rows being masked — file-scoped like
    Delta/Iceberg deletion vectors — so deletes are O(|deleted rows|)
    writes regardless of table size (the low-latency complement to
    `commit_delete_manifest`'s copy-on-write path), and a later
    re-insert of the same key lands in a NEW file the vector never
    touches. Readers pay one broadcast-sized (key, file) anti-join
    until `commit_compact_manifest` materializes the mask into
    rewritten files. The swap is the same exclusive-create generation
    publish; prior generations keep their own (smaller) mask, so time
    travel still shows pre-delete rows. Returns the number of live
    rows the new mask removes (0 publishes nothing)."""
    spark = keys.sparkSession
    doomed = keys.select(key_col).distinct()
    txn = uuid.uuid4().hex
    log = manifest_log(sink_path)

    def attempt(gen: int, doc: dict, i: int):
        files = list(doc.get("files", []))
        if not files:
            return None, 0
        _check_delete_key(doc, key_col, "delete")
        live = _apply_delete_vectors(
            spark, spark.read.parquet(*files), doc, keep_file_col="__dv_file"
        )
        pairs = live.join(doomed, key_col, "left_semi").select(key_col, "__dv_file")
        # the staged vector IS the matched (key, file) pair set —
        # recomputed per attempt because a lost race may have moved
        # rows into new files
        batch = _stage_batch(pairs, staging, os.path.join(sink_path, "deletes", f"txn-{txn}-{i}"))
        if batch.rows == 0:
            return None, 0
        return _next_doc(
            gen, txn, doc, delete_files=doc.get("delete_files", []) + batch.files, delete_key=key_col
        ), batch.rows

    with log.reaping([]) as staging:
        return log.commit(attempt, max_retries, "commit_delete_vector")


def commit_compact_manifest(
    spark: SparkSession,
    sink_path: str,
    target_files: int = 8,
    max_retries: int = 20,
) -> int:
    """Compaction TRANSACTION for the manifest sink (the small-file
    OPTIMIZE): rewrite the current generation's data into
    `target_files` files and publish them as the next generation —
    same rows, fewer files, atomic swap. Readers never see a partial
    compaction; a concurrent append/merge that wins the generation
    race simply makes this compactor recompute against the new state
    and retry (content equality, not file equality, is the contract).
    Returns the number of files retired (0 when already compact or
    empty). Replaced files stay readable through older generations
    until `manifest_expire` + `manifest_gc`.

    Compaction also MATERIALIZES delete vectors (the rewrite applies
    the mask, the new manifest carries none) and recomputes per-file
    column stats for whatever columns the sink tracks — so a compacted
    sink reads with zero anti-joins and full file skipping.
    """
    log = manifest_log(sink_path)

    def attempt(gen: int, doc: dict, _):
        files = list(doc.get("files", []))
        if not files or (len(files) <= target_files and not doc.get("delete_files")):
            return None, 0
        txn = uuid.uuid4().hex
        new_files = _stage(
            _apply_delete_vectors(spark, spark.read.parquet(*files), doc).repartition(
                target_files
            ),
            staging,
            os.path.join(sink_path, "data", f"txn-{txn}-compact{gen}"),
        )
        return _next_manifest(
            spark, gen, doc, txn, [], new_files, keep_deletes=False
        ), len(files)

    with log.reaping([]) as staging:
        return log.commit(attempt, max_retries, "commit_compact_manifest")


def manifest_expire(sink_path: str, keep_last: int = 1) -> int:
    """Iceberg-style snapshot expiry: delete all but the newest
    `keep_last` manifest generations (their exclusive data files become
    gc-reapable). Bounds time-travel history — and therefore storage —
    after copy-on-write merges. Returns manifests removed."""
    return manifest_log(sink_path).expire(keep_last)


def manifest_gc(sink_path: str) -> int:
    """Reap data files invisible to EVERY published manifest generation
    (crashed or superseded stagings). Files referenced only by old
    generations are kept — historical snapshots stay readable until
    `manifest_expire` retires them. Returns the number of files
    removed. Safe to run concurrently with writers only if
    staged-but-unpublished txns are older than the writers' staging
    window — production deployments should add an age threshold; kept
    minimal here."""
    return manifest_log(sink_path).gc(
        [os.path.join(sink_path, "data"), os.path.join(sink_path, "deletes")]
    )


def _dv_pairs_for_files(spark, doc: dict, files: set[str]):
    """The (key, file) delete-vector pairs of `doc` that target `files`,
    with the stored `input_file_name()` URI normalized to the plain
    path the manifest's file list uses. None when the doc has no
    vectors."""
    del_files = doc.get("delete_files", [])
    if not del_files:
        return None
    key = doc["delete_key"]
    pairs = spark.read.parquet(*del_files).select(
        F.col(key),
        F.regexp_replace(F.col("__dv_file"), "^file:/{2}", "").alias("__dv_path"),
    )
    return pairs.where(F.col("__dv_path").isin(*sorted(files))) if files else pairs


def manifest_change_feed(
    spark: SparkSession,
    sink_path: str,
    from_generation: int,
    to_generation: int | None = None,
    key_col: str = "game_url",
) -> DataFrame:
    """Row-level CHANGES between two manifest generations — the change
    data feed (Delta CDF / Iceberg changelog analog) computed from
    snapshots, so it works for any writer (append, COW merge/delete,
    delete vectors, compaction) without the writer recording anything.

    Emits the sink's columns plus `change_type` in
    ('insert', 'delete', 'update_preimage', 'update_postimage'):
    a key only in the newer snapshot is an insert, only in the older a
    delete, in both with different non-key content an update (both
    images emitted). A compaction between the generations produces
    ZERO changes — rewritten-but-identical rows cancel in the key join.

    Scale shape: the naive diff reads both full snapshots; this one
    FILE-PRUNES first — data files present in both generations carry
    identical rows (files are immutable), so they can only contribute
    changes through delete-vector masks. Files common to both
    generations whose applicable mask pairs are identical are dropped
    from BOTH sides before the join; after a plain append the diff
    therefore reads only the appended files. The remaining diff is one
    full-outer key join; update detection compares a canonical JSON
    hash of the non-key columns.
    """
    doc_a = _manifest_doc(sink_path, from_generation)
    doc_b = _manifest_doc(sink_path, to_generation)
    files_a, files_b = set(doc_a.get("files", [])), set(doc_b.get("files", []))
    common = files_a & files_b
    keep_common: set[str] = set()
    if common:
        pa = _dv_pairs_for_files(spark, doc_a, common)
        pb = _dv_pairs_for_files(spark, doc_b, common)
        if pa is None and pb is None:
            pass  # no masks anywhere: common files cancel exactly
        elif pa is None or pb is None:
            # masks on one side only: every masked common file differs
            masked = pa if pb is None else pb
            keep_common = {
                r["__dv_path"] for r in masked.select("__dv_path").distinct().collect()
            }
        else:
            # masks on both sides: a file differs iff its pair sets
            # differ (symmetric difference non-empty)
            sym = pa.exceptAll(pb).union(pb.exceptAll(pa))
            keep_common = {
                r["__dv_path"] for r in sym.select("__dv_path").distinct().collect()
            }
    side_files_a = sorted((files_a - files_b) | keep_common)
    side_files_b = sorted((files_b - files_a) | keep_common)

    def _side(doc, files):
        if not files:
            return None
        df = spark.read.parquet(*files)
        return _apply_delete_vectors(spark, df, doc)

    a = _side(doc_a, side_files_a)
    b = _side(doc_b, side_files_b)
    if a is None and b is None:
        return local_frame(spark, [], f"change_type string, `{key_col}` string")
    out_cols = [f.name for f in (b.schema if b is not None else a.schema).fields]
    data_cols = [c for c in out_cols if c != key_col]

    def _tagged(df, tag):
        h = F.md5(F.to_json(F.struct(*[F.col(c) for c in sorted(data_cols)])))
        return df.select(
            F.col(key_col),
            F.struct(*[F.col(c) for c in data_cols]).alias(f"__row_{tag}"),
            h.alias(f"__h_{tag}"),
        )

    if a is None:
        return b.select(F.lit("insert").alias("change_type"), *out_cols)
    if b is None:
        return a.select(F.lit("delete").alias("change_type"), *out_cols)
    j = _tagged(a, "a").join(_tagged(b, "b"), key_col, "full_outer")
    ins = j.where(F.col("__h_a").isNull()).select(
        F.lit("insert").alias("change_type"),
        F.col(key_col),
        F.col("__row_b").alias("__row"),
    )
    dele = j.where(F.col("__h_b").isNull()).select(
        F.lit("delete").alias("change_type"),
        F.col(key_col),
        F.col("__row_a").alias("__row"),
    )
    upd = j.where(
        F.col("__h_a").isNotNull()
        & F.col("__h_b").isNotNull()
        & (F.col("__h_a") != F.col("__h_b"))
    )
    pre = upd.select(
        F.lit("update_preimage").alias("change_type"),
        F.col(key_col),
        F.col("__row_a").alias("__row"),
    )
    post = upd.select(
        F.lit("update_postimage").alias("change_type"),
        F.col(key_col),
        F.col("__row_b").alias("__row"),
    )
    flat = ins.unionByName(dele).unionByName(pre).unionByName(post)
    return flat.select(
        "change_type",
        F.col(key_col),
        *[F.col("__row").getField(c).alias(c) for c in data_cols],
    )


def refresh_incremental_agg(
    spark: SparkSession,
    sink_path: str,
    view_path: str,
    group_col: str,
    sum_col: str,
    key_col: str = "game_url",
) -> dict:
    """Incremental MATERIALIZED-VIEW maintenance: keep a grouped
    aggregate (count + sum per `group_col`) of a manifest sink current
    WITHOUT rescanning the fact data. The view is itself a manifest
    sink whose docs record the fact generation they reflect
    (`source_generation`), so refreshes are themselves atomic,
    time-travelable snapshots.

    Refresh decision per call (all driver-side manifest math):
    - fact generation unchanged -> no-op;
    - fact advanced by pure APPENDS (old file list is a subset of the
      new one, delete-vector state unchanged) -> read ONLY the new
      files, aggregate them, and fold into the current view rows
      (sum/count are self-mergeable; the fold is group-grain, i.e.
      dimension-sized);
    - anything else (COW merge/delete, delete vectors) -> consume the
      CHANGE DATA FEED between the view's generation and the head and
      apply signed deltas (+row for insert/update_postimage, -row for
      delete/update_preimage) — count/sum are self-inverting, so CDC
      maintenance is exact, reads only the files the feed's pruner
      keeps, and groups whose count reaches zero drop out;
    - no prior view -> full build from the snapshot.

    A refresh that loses the view's generation race to a concurrent
    refresher raises RuntimeError (its staging is reaped).

    Returns {"mode": "noop"|"incremental"|"cdc"|"full",
    "source_generation"}.
    """
    log = manifest_log(view_path)

    def _agg(df):
        return df.groupBy(group_col).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(sum_col).cast("long").alias("total"),
        )

    def attempt(vgen: int, vdoc: dict, _):
        last_src = vdoc.get("source_generation", 0)
        sgen, sdoc = _current_manifest_doc(sink_path)
        if sgen == last_src:
            return None, {"mode": "noop", "source_generation": sgen}
        new_files = list(sdoc.get("files", []))
        mode = "full"
        delta_files: list[str] = []
        if last_src and vdoc.get("files"):
            old_doc = _manifest_doc(sink_path, last_src)
            old_files = old_doc.get("files", [])
            same_dvs = old_doc.get("delete_files", []) == sdoc.get("delete_files", [])
            if same_dvs and set(old_files) <= set(new_files):
                mode = "incremental"
                delta_files = [f for f in new_files if f not in set(old_files)]
            else:
                mode = "cdc"

        if mode == "incremental":
            if delta_files:
                delta = _agg(spark.read.parquet(*delta_files))
                current = spark.read.parquet(*vdoc["files"])
                fresh = (
                    current.unionByName(delta)
                    .groupBy(group_col)
                    .agg(
                        F.sum("n_rows").alias("n_rows"),
                        F.sum("total").cast("long").alias("total"),
                    )
                )
            else:
                fresh = spark.read.parquet(*vdoc["files"])
        elif mode == "cdc":
            feed = manifest_change_feed(spark, sink_path, last_src, sgen, key_col)
            sign = F.when(
                F.col("change_type").isin("insert", "update_postimage"), F.lit(1)
            ).otherwise(F.lit(-1))
            deltas = feed.groupBy(group_col).agg(
                F.sum(sign).alias("n_rows"),
                F.sum(sign * F.col(sum_col)).cast("long").alias("total"),
            )
            current = spark.read.parquet(*vdoc["files"])
            fresh = (
                current.unionByName(deltas)
                .groupBy(group_col)
                .agg(
                    F.sum("n_rows").alias("n_rows"),
                    F.sum("total").cast("long").alias("total"),
                )
                .where(F.col("n_rows") > 0)
            )
        else:
            snap = read_manifest_sink(spark, sink_path)
            fresh = _agg(snap)

        txn = uuid.uuid4().hex
        files = _stage(
            fresh.coalesce(1), staging, os.path.join(view_path, "data", f"txn-{txn}")
        )
        return _next_doc(vgen, txn, files=files, source_generation=sgen), {
            "mode": mode,
            "source_generation": sgen,
        }

    with log.reaping([]) as staging:
        return log.commit(attempt, 1, "refresh_incremental_agg")


# --- cross-table transactions: the warehouse manifest ---------------------
#
# A single-table manifest sink makes one table's commits atomic; a
# WAREHOUSE manifest extends that to N tables in one transaction — one
# JSON doc pins every table's file list, and publishing the next doc by
# exclusive create flips all tables at once. Readers that resolve
# through the same generation get a cross-table-consistent snapshot
# (facts never reference dimension rows the snapshot doesn't contain),
# which per-table manifests cannot promise. Same object-store
# primitives only: PUT, exclusive create, LIST, GET — no rename.


def commit_tables(
    tables: dict[str, DataFrame],
    warehouse_path: str,
    key_cols: dict[str, str] | None = None,
    max_retries: int = 20,
) -> dict[str, int]:
    """Atomically append to N tables in ONE transaction: stage every
    table's rows, audit each against the warehouse's current snapshot
    (per-table keyed dedup where `key_cols` names a key), then publish
    a single warehouse txn doc by exclusive create. A crash anywhere
    before the publish leaves EVERY table unchanged — there is no
    partially-visible state, because visibility is one file's
    existence. Returns rows published per table.

    `key_cols` maps table name -> dedup key (tables absent from the
    map append without a key audit). Lost generation races re-audit
    and retry, like the single-table commits."""
    if not tables:
        return {}
    key_cols = key_cols or {}
    txn = uuid.uuid4().hex
    log = warehouse_log(warehouse_path)

    def _data_dir(name: str) -> str:
        return os.path.join(warehouse_path, "tables", name, "data")

    def attempt(gen: int, doc: dict, i: int):
        prior = doc.get("tables", {})
        new_tables: dict[str, dict] = {n: dict(t) for n, t in prior.items()}
        published: dict[str, int] = {}
        for name, batch in batches.items():
            old_files = prior.get(name, {}).get("files", [])
            key = key_cols.get(name)
            new_files, published[name] = _audit(
                batch, old_files, old_files if key else [], key, {}, f"commit_tables[{name}]",
                staging, os.path.join(_data_dir(name), f"txn-{txn}-a{gen}-{i}"),
            )
            new_tables[name] = {"files": old_files + new_files}
        return _next_doc(gen, txn, tables=new_tables), published

    with log.reaping([]) as staging:
        batches = {
            name: _stage_batch(df, staging, os.path.join(_data_dir(name), f"txn-{txn}"))
            for name, df in tables.items()
        }
        return log.commit(attempt, max_retries, "commit_tables")


def read_warehouse_table(
    spark: SparkSession,
    warehouse_path: str,
    table: str,
    generation: int | None = None,
) -> DataFrame | None:
    """Read one table at a warehouse generation (newest by default).
    All tables read at the SAME generation form a consistent cross-table
    snapshot — the whole point of the shared txn doc. Returns None for
    a table with no files at that generation; raises FileNotFoundError
    for a generation never published."""
    doc = warehouse_log(warehouse_path).at(generation)
    files = doc.get("tables", {}).get(table, {}).get("files", [])
    if not files:
        return None
    return spark.read.parquet(*files)


def warehouse_tables(warehouse_path: str, generation: int | None = None) -> list[str]:
    return sorted(warehouse_log(warehouse_path).at(generation).get("tables", {}))


def warehouse_expire(warehouse_path: str, keep_last: int = 1) -> int:
    """Snapshot expiry for the warehouse: drop all but the newest
    `keep_last` txn docs (their exclusive data files become
    gc-reapable). The warehouse twin of `manifest_expire`."""
    return warehouse_log(warehouse_path).expire(keep_last)


def warehouse_gc(warehouse_path: str) -> int:
    """Reap data files referenced by NO remaining warehouse txn doc
    (crashed stagings and expired snapshots). File-grain, like
    `manifest_gc`; returns files removed."""
    tables_root = os.path.join(warehouse_path, "tables")
    if not os.path.isdir(tables_root):
        return 0
    return warehouse_log(warehouse_path).gc(
        os.path.join(tables_root, t, "data") for t in os.listdir(tables_root)
    )


_GAME_KEY = StructType([GAMES_SCHEMA["game_url"]])


def _renamed_snapshot(spark: SparkSession, sink_path: str) -> tuple[DataFrame, frozenset[str]]:
    """(game keys, names of the files they come from) of a rename sink.
    The names are Spark's own listing of the scan, so exactly the files
    the dedup reads."""
    if not os.path.isdir(sink_path):
        return local_frame(spark, [], _GAME_KEY), frozenset()
    keys = spark.read.schema(_GAME_KEY).parquet(sink_path)
    return keys, frozenset(
        os.path.basename(unquote(urlparse(u).path)) for u in keys.inputFiles()
    )


def _manifest_snapshot(spark: SparkSession, sink_path: str) -> tuple[DataFrame, frozenset[str]]:
    """(live game keys, listed files) of a manifest sink's newest
    generation. A manifest sink's root dir is never readable as bare
    parquet."""
    _, doc = _current_manifest_doc(sink_path)
    files = doc.get("files", [])
    if not files:
        return local_frame(spark, [], _GAME_KEY), frozenset()
    _check_delete_key(doc, "game_url", "append")
    keys = _apply_delete_vectors(spark, spark.read.schema(_GAME_KEY).parquet(*files), doc)
    return keys, frozenset(files)


# commit_protocol -> (dedup snapshot, append core)
_PROTOCOLS = {
    "rename": (_renamed_snapshot, _append_renamed),
    "manifest": (_manifest_snapshot, _append_manifest),
}


def _tally_archives(staged: DataFrame) -> dict[tuple[str, str], tuple[int, int | None]]:
    """(username, archive_url) -> (staged games, max end_time epoch s),
    in one aggregate over the staged rows."""
    rows = staged.groupBy("username", "archive_url").agg(
        F.count(F.lit(1)), F.max(F.unix_timestamp("end_time_utc"))
    )
    return {(u, a): (n, t) for u, a, n, t in rows.collect()}


def ingest_archives(
    spark: SparkSession,
    archives: DataFrame,
    sink_path: str,
    audit_path: str | None = None,
    state_path: str | None = None,
    reprocess_last: bool = True,
    commit_protocol: str = "rename",
) -> IngestResult:
    """Full incremental ingest run. Returns counts + per-user watermarks.

    `commit_protocol`: "rename" (POSIX/HDFS write-audit-publish, the
    `commit_append` protocol) or "manifest" (object-store-safe
    generation swap, the `commit_append_manifest` protocol; the sink is
    then manifest-structured and must be read back with
    `read_manifest_sink`).

    One flow for both, and the dedup plan runs once: its result is
    staged straight from the plan (with a `rebalance` hint, so AQE
    sizes the files: one for a daily delta, several for a backfill),
    and every count comes from the staged files — the staged total
    from their footers, the per-archive counts and watermarks from one
    aggregate over them. The sink files the dedup read are recorded;
    under the commit the staged keys are audited only against files
    published since then (none, under the single-writer discipline, so
    no audit job runs).
    """
    try:
        snapshot, append = _PROTOCOLS[commit_protocol]
    except KeyError:
        raise ValueError(f"unknown commit_protocol: {commit_protocol!r}") from None
    state = load_state(state_path) if state_path else {}
    if reprocess_last:
        state = unmark_last_archive(state)

    fresh = prune_processed(archives, state)
    existing, seen = snapshot(spark, sink_path)
    new_rows = dedup_against_sink(flatten_archives(fresh), sink_path, existing=existing)
    # Write-audit-publish instead of a raw append: under the
    # single-writer discipline the audit has nothing to read, under a
    # concurrent writer it closes the lost-update window (see
    # commit_append / commit_append_manifest).
    appended, tallied = append(
        enforce_schema(new_rows, GAMES_SCHEMA).hint("rebalance"),
        sink_path,
        "game_url",
        seen,
        _tally_archives,
    )

    # S6 audit records + I1 watermark. The archive keys come from
    # `fresh` itself (not the flatten), so an archive with ZERO games
    # still gets an audit row and is marked processed — the reference
    # explicitly records empty archives with game_count=0
    # (fetch_and_post.py:345-350); a plain explode would drop them and
    # they would be re-fetched forever. game_count counts STAGED
    # (post-dedup) rows, matching the reference's audit semantics
    # (fetch_and_post.py:390-394 records len(appended rows)), and the
    # watermark is the max end_time over them (:399-407).
    keys = dict.fromkeys(map(tuple, fresh.select("username", "archive_url").collect()))
    stats = [(u, a, *(tallied or {}).get((u, a), (0, None))) for u, a in keys]
    if audit_path:
        # processed_at is the client-observed commit wall clock, as in
        # the reference (fetch_and_post.py:345-350), not a data-derived
        # value; tz-aware, so the instant does not depend on the host's
        # zone.
        from datetime import datetime, timezone

        now = datetime.now(timezone.utc)
        _append_rows(
            spark, [(u, a, now, n) for u, a, n, _ in stats], PROCESSED_ARCHIVES_SCHEMA, audit_path
        )

    watermarks: dict[str, int] = {}
    # URL order is month order (see unmark_last_archive)
    for user, url, _, max_end in sorted(stats, key=lambda r: r[1]):
        entry = state.setdefault(user, {"last_end_time": 0, "processed_archives": []})
        if url not in entry["processed_archives"]:
            entry["processed_archives"].append(url)
        if max_end and max_end > entry.get("last_end_time", 0):
            entry["last_end_time"] = int(max_end)
        watermarks[user] = entry.get("last_end_time", 0)
    if state_path:
        save_state(state_path, state)

    return IngestResult(
        appended_games=appended,
        processed_archives=len(stats),
        watermarks=watermarks,
    )
