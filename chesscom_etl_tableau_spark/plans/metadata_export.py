"""Ecosystem-readable metadata export for the native manifest sink.

The manifest sink (``plans/ingest.py``, the object-store commit
protocol) keeps its own metadata layout: one
``_manifests/manifest-<gen>.json`` per published generation. That is
complete for THIS engine but opaque to others. This module exports a
read-only, Iceberg-style view of the same state (verdict-r5 ask #8):

- ``snapshot_log`` — a DataFrame with one row per published snapshot
  carrying the summary fields an Iceberg snapshot list carries
  (snapshot id, data/delete file counts, total data records, protocol
  version, current flag). ``total_records`` comes from parquet FOOTER
  metadata only — the export never reads data pages, exactly like a
  real table format's commit-time summary. Footer reads are
  DISTRIBUTED (``mapInPandas`` over the file list), so a snapshot with
  100k files costs one short Spark stage, not 100k driver round trips.
- ``export_metadata_json`` — writes ``_metadata/v<gen>.metadata.json``
  next to the sink: a versioned, engine-neutral JSON document
  (format marker, current snapshot id, snapshot list with manifest
  paths) that an external tool can parse to enumerate snapshots and
  their file lists without understanding this engine. The file is
  derived state: rebuilding it is always safe, and the exclusive-create
  publish means concurrent exporters of the same generation cannot
  interleave partial writes (first writer wins; the content is a pure
  function of the generation, so losing the race loses nothing).

Reference parity: the reference pipeline has no table format at all
(fetch_and_post.py appends bare parquet); this is part of the
beyond-reference manifest surface (S11..S21) and follows the metadata
layout conventions of the Apache Iceberg spec (public) without
depending on an Iceberg runtime.

IO: by default the exports run on the LOCAL filesystem (plain os
calls, matching the manifest commit protocol — see README "Scale
design"); pass ``hadoop=True`` to route every metadata read/write
through the Hadoop FileSystem API instead, which lifts the scheme
restriction to whatever the session's Hadoop conf resolves (tested
via ``file:`` + RawLocalFileSystem; ``hdfs:``/``s3a:`` need the usual
connector jars + credentials). The commit protocol itself remains
local-only: its O_EXCL atomicity has no portable object-store
equivalent without a conditional-put or lock service.
"""

from __future__ import annotations

import json
import os
from typing import Iterator
from urllib.parse import unquote, urlparse

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.plans import genlog
from chesscom_etl_tableau_spark.util import local_frame

METADATA_FORMAT = "spark-graft-manifest/1"


def _is_uri(p: str) -> bool:
    return "://" in p or p.startswith("file:/")


class _OsIO:
    """Local-filesystem metadata IO (the default fast path): plain os
    calls, including the O_EXCL exclusive create the commit protocol
    itself uses."""

    @staticmethod
    def listdir(d: str) -> list[str]:
        return os.listdir(d)

    @staticmethod
    def read_text(p: str) -> str:
        with open(p) as f:
            return f.read()

    @staticmethod
    def read_bytes(p: str) -> bytes:
        with open(p, "rb") as f:
            return f.read()

    @staticmethod
    def write_text_exclusive(p: str, body: str) -> None:
        with open(p, "x") as f:
            f.write(body)

    @staticmethod
    def exists(p: str) -> bool:
        return os.path.exists(p)

    @staticmethod
    def getmtime(p: str) -> float:
        return os.path.getmtime(p)

    @staticmethod
    def getsize(p: str) -> int:
        return os.path.getsize(p)

    @staticmethod
    def makedirs(p: str) -> None:
        os.makedirs(p, exist_ok=True)


class _HadoopIO:
    """Metadata IO through the Hadoop FileSystem API (the "single
    switch" the local-only contract documented): every call resolves
    the path's scheme to its Hadoop FileSystem, so `file:`, `hdfs:`,
    `s3a:` etc. all work wherever the session's Hadoop conf can reach.
    Exclusive create maps to `FileSystem.create(path, overwrite=false)`
    — atomic on HDFS and local; NOT atomic on S3A, whose exists+create
    is a non-atomic check-then-act unless the bucket has conditional
    writes (If-None-Match) enabled — two racing committers can both
    "win". On such stores the exporters' content-verify-on-collision
    keeps lost races harmless for these DERIVED, deterministic
    documents (same generation => byte-identical content, so the race
    is benign); a store-native commit protocol (S3 conditional PUT,
    DynamoDB-style log store) would be required before pointing the
    PRIMARY commit path at S3A. Bytes move through py4j, which is fine
    for metadata-sized documents and footer reads (the only payloads
    this module touches)."""

    def __init__(self, spark: SparkSession):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()

    def _p(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p: str):
        fs = self._p(p).getFileSystem(self._conf)
        # ChecksumFileSystem wrappers (file: resolves to one) shadow
        # every write with a .crc sidecar and fail reads of externally
        # modified files with a ChecksumException — wrong for a
        # metadata dir other tools read and write. Unwrap to the raw
        # filesystem when the wrapper exposes one (HDFS/S3A do not and
        # keep their native semantics).
        try:
            return fs.getRawFileSystem()
        except Exception:
            return fs

    def listdir(self, d: str) -> list[str]:
        fs = self._fs(d)
        if not fs.exists(self._p(d)):
            raise FileNotFoundError(d)
        return [s.getPath().getName() for s in fs.listStatus(self._p(d))]

    def read_bytes(self, p: str) -> bytes:
        fs = self._fs(p)
        stream = fs.open(self._p(p))
        try:
            data = self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        finally:
            stream.close()
        return bytes(data)

    def read_text(self, p: str) -> str:
        return self.read_bytes(p).decode("utf-8")

    def write_text_exclusive(self, p: str, body: str) -> None:
        fs = self._fs(p)
        if fs.exists(self._p(p)):
            raise FileExistsError(p)
        try:
            out = fs.create(self._p(p), False)
        except Exception as ex:  # raced: surface as the os-path error
            raise FileExistsError(p) from ex
        try:
            out.write(bytearray(body.encode("utf-8")))
        finally:
            out.close()

    def exists(self, p: str) -> bool:
        return self._fs(p).exists(self._p(p))

    def getmtime(self, p: str) -> float:
        return self._fs(p).getFileStatus(self._p(p)).getModificationTime() / 1000.0

    def getsize(self, p: str) -> int:
        return int(self._fs(p).getFileStatus(self._p(p)).getLen())

    def makedirs(self, p: str) -> None:
        self._fs(p).mkdirs(self._p(p))


def _resolve_io(spark: SparkSession, sink_path: str, hadoop: bool):
    """(io, normalized sink path). hadoop=False keeps the documented
    local-only contract (file: URIs stripped, other schemes rejected
    loudly); hadoop=True routes EVERY call through the Hadoop
    FileSystem API and accepts any scheme the session's Hadoop conf
    can resolve."""
    if hadoop:
        return _HadoopIO(spark), sink_path.rstrip("/") or sink_path
    return _OsIO, _require_local(sink_path)


def _log(io, sink_path: str) -> genlog.GenLog:
    """The sink's manifest log, listed and read through `io`."""
    return genlog.manifest_log(sink_path, listdir=io.listdir, read_text=io.read_text)


def _require_local(sink_path: str) -> str:
    """The export walks manifests with os.listdir/open — LOCAL paths
    only, matching the manifest commit protocol itself (os.open with
    O_EXCL; plans/ingest.py). A remote URI would silently report "no
    published snapshots", so fail loudly instead; a ``file://`` URI is
    STRIPPED to the plain path os.* can resolve (previously it was
    waved through and hit the exact silent-empty failure the guard
    exists to prevent). Returns the normalized local path. The Hadoop
    FileSystem port EXISTS (`_HadoopIO`, the `hadoop=True` parameter on
    every exporter) — this guard only protects the default os path
    from URIs it cannot serve."""
    if sink_path.startswith("file:/"):
        rest = sink_path[len("file:"):]
        # file:/abs/path (the single-slash form Spark/Hadoop emit),
        # file:///abs/path and file://localhost/abs/path are all local;
        # any other authority is a remote host.
        if rest.startswith("///"):
            return rest[2:]
        if rest.startswith("//localhost/"):
            return rest[len("//localhost"):]
        if rest.startswith("//"):
            raise ValueError(
                f"{sink_path}: file:// URI with a non-local authority"
            )
        return rest
    if "://" in sink_path:
        raise ValueError(
            f"{sink_path}: metadata export supports local-filesystem "
            "sinks only (the manifest commit protocol is os-based); "
            "got a remote URI"
        )
    return sink_path


# Below this many files a Spark stage costs more than it saves: footer
# reads are ~ms each, and a mapInPandas round trip is ~1s of fixed
# scheduling/Arrow overhead. 64 keeps the driver's share trivially
# bounded (64 footer GETs) while large sinks go distributed.
_DRIVER_FOOTER_MAX = 64


def _footer_rows(spark: SparkSession, files: list[str], io=None) -> dict[str, int]:
    """{file path: row count} from parquet footers only — no data pages.

    Small lists read on the driver (|files| bounded GETs); past
    ``_DRIVER_FOOTER_MAX`` the file list becomes a 1-column DataFrame
    and each executor slice reads its footers with pyarrow. Either way
    the result is |files| scalars (bounded metadata, not data rows).
    URI-schemed files (the Hadoop-IO path) read driver-side through the
    adapter — pyarrow cannot open them directly, and the whole-file
    read is bounded by the same |files| metadata budget."""
    if not files:
        return {}
    if io is not None and any(_is_uri(f) for f in files):
        import pyarrow as pa
        import pyarrow.parquet as pq

        return {
            f: int(
                pq.ParquetFile(pa.BufferReader(io.read_bytes(f))).metadata.num_rows
            )
            for f in files
        }
    if len(files) <= _DRIVER_FOOTER_MAX:
        import pyarrow.parquet as pq

        return {f: int(pq.ParquetFile(f).metadata.num_rows) for f in files}

    def read_footers(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for b in batches:
            yield pd.DataFrame(
                {
                    "path": b["path"],
                    "n_rows": [
                        pq.ParquetFile(p).metadata.num_rows for p in b["path"]
                    ],
                }
            )

    # repartition so footer I/O spreads across executors instead of
    # serializing through one task (matters at 10^5 files / object
    # store latency; harmless locally).
    nparts = min(len(files), spark.sparkContext.defaultParallelism)
    fdf = local_frame(spark, [(f,) for f in files], "path string").repartition(nparts)
    out = fdf.mapInPandas(read_footers, "path string, n_rows long").collect()
    return {r["path"]: int(r["n_rows"]) for r in out}


def snapshot_summaries(
    spark: SparkSession, sink_path: str, hadoop: bool = False
) -> list[dict]:
    """One summary dict per published generation (ascending).

    ``total_records`` counts rows in the snapshot's DATA files (footer
    metadata), with merge-on-read deletes reported separately via
    ``n_delete_files`` — the same split Iceberg's snapshot summary
    makes (``total-records`` vs ``total-delete-files``).
    ``hadoop=True`` routes all metadata IO through the Hadoop
    FileSystem API (any scheme the session's Hadoop conf resolves)."""
    io, sink_path = _resolve_io(spark, sink_path, hadoop)
    log = _log(io, sink_path)
    gens = log.generations()
    if not gens:
        return []
    docs = {g: log.doc(g) for g in gens}
    all_files = sorted({f for d in docs.values() for f in d.get("files", [])})
    rows_by_file = _footer_rows(spark, all_files, io if hadoop else None)
    current = gens[-1]
    out = []
    for g in gens:
        doc = docs[g]
        files = list(doc.get("files", []))
        out.append(
            {
                "snapshot_id": g,
                "manifest": log.path(g),
                "n_data_files": len(files),
                "n_delete_files": len(doc.get("delete_files", [])),
                "total_records": sum(rows_by_file[f] for f in files),
                "protocol": int(doc.get("protocol", 1)),
                "is_current": g == current,
            }
        )
    return out


def snapshot_log(
    spark: SparkSession,
    sink_path: str,
    summaries: list[dict] | None = None,
    hadoop: bool = False,
) -> DataFrame:
    """The snapshot list as a DataFrame (ascending snapshot_id).

    The manifest PATH is deliberately absent: it embeds the sink's
    filesystem location, which is run-dependent; the registry query
    built on this frame must stay value-deterministic. Pass
    ``summaries`` to reuse an already-computed ``snapshot_summaries``
    result (the footer scan is the expensive part — callers doing
    export + log should run it once)."""
    if summaries is None:
        summaries = snapshot_summaries(spark, sink_path, hadoop=hadoop)
    schema = (
        "snapshot_id bigint, n_data_files bigint, n_delete_files bigint, "
        "total_records bigint, protocol bigint, is_current boolean"
    )
    return local_frame(
        spark,
        [
            (
                s["snapshot_id"],
                s["n_data_files"],
                s["n_delete_files"],
                s["total_records"],
                s["protocol"],
                s["is_current"],
            )
            for s in summaries
        ],
        schema,
    )


def export_metadata_json(
    spark: SparkSession,
    sink_path: str,
    summaries: list[dict] | None = None,
    hadoop: bool = False,
) -> str:
    """Write ``_metadata/v<current_gen>.metadata.json`` and return its
    path. Exclusive create: the content is a pure function of the
    generation, so a lost race means the file already holds exactly
    what we were about to write. Returns the existing path in that
    case. Raises ValueError on an empty sink (no snapshot to export).
    ``summaries`` reuses a precomputed ``snapshot_summaries`` result;
    ``hadoop=True`` routes metadata IO through the Hadoop FileSystem
    API."""
    io, sink_path = _resolve_io(spark, sink_path, hadoop)
    if summaries is None:
        summaries = snapshot_summaries(spark, sink_path, hadoop=hadoop)
    if not summaries:
        raise ValueError(f"{sink_path}: no published snapshots to export")
    current = summaries[-1]["snapshot_id"]
    doc = {
        "format": METADATA_FORMAT,
        "protocol": genlog.PROTOCOL,
        "location": sink_path,
        "current_snapshot_id": current,
        "snapshots": summaries,
    }
    mdir = os.path.join(sink_path, "_metadata")
    io.makedirs(mdir)
    path = os.path.join(mdir, f"v{current:012d}.metadata.json")
    body = json.dumps(doc, indent=1, sort_keys=True)
    try:
        io.write_text_exclusive(path, body)
    except FileExistsError:
        # Same divergence check the Delta exporter does: the content is
        # a pure function of the generation, so a lost race must find
        # byte-identical content — anything else means the metadata dir
        # has drifted from the manifests it claims to describe.
        existing = io.read_text(path)
        if existing != body:
            raise RuntimeError(
                f"{path}: existing metadata file does not match the "
                "manifest-derived content — the export has diverged "
                "from the sink (was it edited, or written against "
                "since-expired manifests?)"
            ) from None
    return path


def _uri_path(p: str) -> str:
    """Filesystem-path component of a URI spelling (scheme/authority
    stripped, percent-decoding applied); '' when there is none."""
    return unquote(urlparse(p).path)


def _same_store(root: str, f: str) -> bool:
    """True when ``f`` addresses the same filesystem/bucket as ``root``,
    so a PATH-COMPONENT prefix match between them is meaningful.

    A plain (schemeless) path and a ``file:`` URI with empty/localhost
    authority are the same local store; anything else must agree on
    BOTH scheme and authority — ``s3a://bucketA/data`` vs
    ``s3a://bucketB/data/f.parquet`` (different bucket) and
    ``hdfs://nn/...`` vs ``file:/...`` (different filesystem) are
    distinct stores even when their path components collide, and
    relativizing across them would point Delta readers at a
    nonexistent file under the wrong store."""
    def key(p: str):
        if not _is_uri(p):
            return ("file", "")
        u = urlparse(p)
        scheme = u.scheme.lower()
        netloc = u.netloc.lower()
        if scheme == "file" and netloc in ("", "localhost"):
            return ("file", "")
        return (scheme, netloc)

    return key(root) == key(f)


def _rel_path(sink_path: str, f: str) -> str:
    """Delta `path` fields are table-root-relative when possible;
    files living outside the sink keep their absolute path/URI (the
    Delta protocol allows either).

    Manifests store whatever spelling the COMMITTER passed — typically
    plain local absolute paths even when the exporter addresses the
    sink as a ``file:`` URI (hadoop=True). Canonicalization therefore
    prefix-matches against BOTH the root's given spelling and its URI
    path component, so the os and Hadoop adapters emit identical
    root-relative paths for the same file; anything else makes a
    replayed prev (relative) and cur (absolute) textually disjoint and
    re-creates add+remove churn on every mixed-adapter export.

    The path-component match only applies when ``f`` lives on the SAME
    store as the root (same scheme+authority, or a plain local path):
    a file on a different bucket/filesystem whose path component
    happens to collide with the sink root keeps its absolute URI, per
    the docstring contract (see ``_same_store``)."""
    if _is_uri(sink_path):
        root = sink_path.rstrip("/")
        if f.startswith(root + "/"):
            return f[len(root) + 1:]
        proot = _uri_path(root).rstrip("/")
        if proot and _same_store(sink_path, f):
            pf = _uri_path(f) if _is_uri(f) else os.path.abspath(f)
            if pf.startswith(proot + "/"):
                return pf[len(proot) + 1:]
        return f
    root = os.path.abspath(sink_path)
    if not _same_store(sink_path, f):
        return f
    pf = _uri_path(f) if _is_uri(f) else os.path.abspath(f)
    if pf.startswith(root + os.sep):
        return os.path.relpath(pf, root)
    return f if _is_uri(f) else pf


def export_delta_log(
    spark: SparkSession, sink_path: str, hadoop: bool = False
) -> str:
    """Write a minimal Delta-protocol transaction log (`_delta_log/
    <version>.json`, one newline-delimited JSON action per line) next
    to the native manifest sink, so Delta-ecosystem readers can
    enumerate the table without understanding this engine — the
    sibling of the Iceberg-style ``export_metadata_json`` (both are
    derived, read-only views of the same manifest state; the JSON
    action format is the public Delta protocol spec, no library
    involved).

    Mapping: published generation g -> Delta version g-1, derived from
    the GENERATION NUMBER (generations are 1-based and monotonic), not
    from the position of g in the currently-surviving manifest list —
    after ``manifest_expire`` retires old generations the list index
    shifts, and an index-based mapping would re-write old version
    numbers with new content while new generations collide with
    existing files. Version 0 carries ``protocol`` + ``metaData``
    (deterministic uuid5 table id; ``schemaString`` is the Spark
    schema JSON of the first data file's footer — the same
    representation Delta uses); every version carries ``add`` actions
    for files new to that generation and ``remove`` actions for files
    a COW rewrite dropped. Timestamps are file mtimes, so the content
    is a pure function of the on-disk state.

    Incremental re-export: version files that already exist are the
    durable anchor — their bodies are NEVER rebuilt (so data files a
    later ``manifest_gc`` deleted are never stat'ed), and the previous
    generation's file set for the first NEW version is reconstructed
    by replaying the existing log when its manifest has been expired.
    A lost exclusive-create race verifies the existing content matches
    what we were about to write and raises on divergence instead of
    silently keeping a stale log.

    Refuses sinks whose current generation carries merge-on-read
    delete vectors: a minimal log cannot express them, and exporting
    the raw file list would resurrect deleted rows for foreign
    readers. Compact or COW-merge first. Refuses a FIRST export whose
    generation-1 manifest has already been expired: the Delta log must
    start at version 0, and that history is gone.
    """
    import uuid

    io, sink_path = _resolve_io(spark, sink_path, hadoop)
    log = _log(io, sink_path)
    gens = log.generations()
    if not gens:
        raise ValueError(f"{sink_path}: no published snapshots to export")
    docs = {g: log.doc(g) for g in gens}
    for g in gens:
        if docs[g].get("delete_files"):
            raise ValueError(
                f"{sink_path}: generation {g} carries merge-on-read delete "
                "vectors, which a minimal Delta log cannot express — "
                "compact (commit_compact_manifest) before exporting"
            )
    ldir = os.path.join(sink_path, "_delta_log")
    io.makedirs(ldir)

    def _vpath(version: int) -> str:
        return os.path.join(ldir, f"{version:020d}.json")

    # Generations whose version file is missing are the ones to export.
    todo = [g for g in gens if not io.exists(_vpath(g - 1))]
    if not todo:
        return ldir
    first_new = todo[0]

    # File set of the generation PRECEDING the first new version: from
    # its surviving manifest if we have it, else replayed from the
    # already-exported log (the anchor). ALL set arithmetic happens in
    # the log's own canonical path form (`_rel_path`: root-relative
    # when under the sink, absolute otherwise) — manifest `files`
    # entries store whatever spelling the committer passed, so
    # normalizing only one side would make prev and cur textually
    # disjoint (every live file emitting add+remove in one version and
    # foreign readers replaying to an empty table).
    root = sink_path.rstrip("/") if _is_uri(sink_path) else os.path.abspath(sink_path)

    def _canon(f: str) -> str:
        return _rel_path(sink_path, f)

    def _resolve(p: str) -> str:
        return p if (os.path.isabs(p) or _is_uri(p)) else os.path.join(root, p)

    if first_new == 1:
        prev: set[str] = set()
    elif (first_new - 1) in docs:
        prev = {_canon(f) for f in docs[first_new - 1].get("files", [])}
    else:
        # Replay needs the log to be whole: a hole anywhere below the
        # anchor (an externally deleted version file) silently drops
        # that version's adds, so check the full range up front and
        # raise the anchoring diagnostic instead of an open() error
        # mid-replay.
        missing = [v for v in range(first_new - 1) if not io.exists(_vpath(v))]
        if missing:
            raise ValueError(
                f"{sink_path}: generation {first_new - 1} has been expired "
                f"and the exported log is missing version(s) "
                f"{missing} — the Delta log cannot be anchored at "
                "version 0; export before expiring history"
            )
        prev = set()
        for v in range(first_new - 1):
            for line in io.read_text(_vpath(v)).splitlines():
                a = json.loads(line)
                if "add" in a:
                    prev.add(a["add"]["path"])
                elif "remove" in a:
                    prev.discard(a["remove"]["path"])

    schema_json = None
    table_id = str(uuid.uuid5(uuid.NAMESPACE_URL, root))
    # From the first missing version onward, walk EVERY surviving
    # generation (not just the missing ones) so `prev` tracks the
    # true predecessor even across a non-contiguous gap. Bodies are
    # computed for the WHOLE range first and existing files verified
    # before anything is created: a diverged log is rejected with zero
    # side effects instead of gaining fresh early versions next to the
    # stale late ones it keeps.
    bodies: list[tuple[int, str]] = []
    for g in gens[gens.index(first_new):]:
        cur = {_canon(f) for f in docs[g].get("files", [])}
        actions: list[dict] = []
        if g == 1:
            if schema_json is None:
                first_files = sorted(cur)
                schema_json = spark.read.parquet(
                    _resolve(first_files[0])
                ).schema.json()
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
            actions.append(
                {
                    "metaData": {
                        "id": table_id,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_json,
                        "partitionColumns": [],
                        "configuration": {},
                        "createdTime": int(io.getmtime(log.path(1)) * 1000),
                    }
                }
            )
        for f in sorted(cur - prev):
            actions.append(
                {
                    "add": {
                        "path": f,
                        "partitionValues": {},
                        "size": io.getsize(_resolve(f)),
                        "modificationTime": int(
                            io.getmtime(_resolve(f)) * 1000
                        ),
                        "dataChange": True,
                    }
                }
            )
        for f in sorted(prev - cur):
            actions.append(
                {
                    "remove": {
                        "path": f,
                        # the rewrite's commit time = its manifest mtime
                        "deletionTimestamp": int(io.getmtime(log.path(g)) * 1000),
                        "dataChange": True,
                    }
                }
            )
        body = "\n".join(json.dumps(a, sort_keys=True) for a in actions) + "\n"
        bodies.append((g, body))
        prev = cur

    # Verify pass: every version file that already exists in the range
    # must match its recomputed body BEFORE any new file is created.
    for g, body in bodies:
        vp = _vpath(g - 1)
        if io.exists(vp):
            existing = io.read_text(vp)
            if existing != body:
                raise RuntimeError(
                    f"{vp}: existing Delta version file does not "
                    "match the manifest-derived content — the log has "
                    "diverged from the sink (was it exported with a "
                    "pre-generation-anchored exporter, or edited?)"
                )
    # Write pass: exclusive create; a race lost between the passes
    # still content-verifies (the body is a pure function of the
    # manifest state, so a concurrent exporter wrote the same bytes).
    for g, body in bodies:
        vp = _vpath(g - 1)
        try:
            io.write_text_exclusive(vp, body)
        except FileExistsError:
            existing = io.read_text(vp)
            if existing != body:
                raise RuntimeError(
                    f"{vp}: existing Delta version file does not "
                    "match the manifest-derived content — the log has "
                    "diverged from the sink (concurrent writer raced "
                    "with different content?)"
                ) from None
    return ldir
