"""Generation log: the one commit protocol behind every atomic publish.

A generation log is a directory of numbered JSON docs,
``<root>/<dir>/<prefix><12-digit n><suffix>``. The newest doc is found
by LIST (zero-padded numbers, so the listing parses and sorts), and the
next doc is published by EXCLUSIVE CREATE (locally ``open(.., "x")``;
on an object store a conditional PUT, If-None-Match). Exactly one writer
wins a number, so a commit is "read the newest doc n, build doc n+1 from
it, create doc n+1"; a writer that loses the create re-reads and
rebuilds against the winner's state. No rename, no mkdir lock, no mtime
heuristic anywhere on this path.

The five logs of this engine, as (dir, doc file) under their root:

- manifest sink or incremental view: ``_manifests/manifest-<n>.json``
- warehouse: ``_txns/txn-<n>.json``
- generation-logged ANN/LSH index: ``_generations/gen-<n>.json``
- forget intent: ``_forget/forget-<n>.json``
- forget done: ``_forget/forget-<n>-done.json``

Protocol fence (the Delta/Iceberg forward-compat rule): every doc
records the protocol version it was written under, and every read
refuses a doc stamped above ``PROTOCOL`` — failing loudly beats
silently ignoring table features the doc's writer relied on. Docs with
no stamp are version 1.

Data files a commit stages are invisible until a published doc lists
them. ``GenLog.reap`` removes staged files that no published doc
references: `GenLog.reaping` runs it on a commit's own staging when the
commit returns or raises, and gc runs it on every staging dir of a
table.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
from collections.abc import Callable, Iterable

PROTOCOL = 1


class GenerationConflict(RuntimeError):
    """Another writer published this generation first."""


class ProtocolError(RuntimeError):
    """A doc was written under a newer protocol than this reader's."""


def data_files(d: str) -> list[str]:
    """Sorted parquet data files directly under `d` ([] when absent)."""
    try:
        return sorted(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    except FileNotFoundError:
        return []


def _read_text(p: str) -> str:
    with open(p) as f:
        return f.read()


class GenLog:
    """One generation log under `root`. `files_of(doc)` names the data
    files a doc references (what `reap` must keep); `listdir`/`read_text`
    let a reader route the log's LIST and GET through another filesystem
    API (writes are always local: exclusive create needs O_EXCL)."""

    def __init__(
        self,
        root: str,
        subdir: str,
        prefix: str,
        suffix: str = ".json",
        files_of: Callable[[dict], Iterable[str]] = lambda doc: (),
        listdir: Callable[[str], list[str]] = os.listdir,
        read_text: Callable[[str], str] = _read_text,
    ):
        self.root = root
        self.dir = os.path.join(root, subdir)
        self.prefix, self.suffix = prefix, suffix
        self.files_of = files_of
        self._listdir, self._read_text = listdir, read_text

    def path(self, n: int) -> str:
        return os.path.join(self.dir, f"{self.prefix}{n:012d}{self.suffix}")

    def parse(self, name: str) -> int | None:
        """The generation number of a doc file name, None for any other
        name (another log sharing the dir, a stray file)."""
        if not (name.startswith(self.prefix) and name.endswith(self.suffix)):
            return None
        digits = name[len(self.prefix) : len(name) - len(self.suffix)]
        return int(digits) if digits.isdigit() else None

    def generations(self) -> list[int]:
        """Every published generation, ascending; [] for an absent log."""
        try:
            names = self._listdir(self.dir)
        except FileNotFoundError:
            return []
        return sorted(g for g in map(self.parse, names) if g is not None)

    def doc(self, n: int) -> dict:
        """Doc n, protocol-checked. Raises FileNotFoundError for a
        generation never published (or expired)."""
        doc = json.loads(self._read_text(self.path(n)))
        v = doc.get("protocol", 1)
        if v > PROTOCOL:
            raise ProtocolError(
                f"{self.root}: generation log protocol {v} > supported "
                f"{PROTOCOL}; upgrade the reader before touching it"
            )
        return doc

    def current(self) -> tuple[int, dict]:
        """(n, doc) of the newest published doc; (0, {}) when none."""
        gens = self.generations()
        return (gens[-1], self.doc(gens[-1])) if gens else (0, {})

    def at(self, generation: int | None = None) -> dict:
        """Doc `generation`, or the newest ({} when none) for None."""
        return self.current()[1] if generation is None else self.doc(generation)

    def publish(self, n: int, doc: dict) -> None:
        """Publish doc n by exclusive create; GenerationConflict when
        another writer already published n."""
        os.makedirs(self.dir, exist_ok=True)
        try:
            with open(self.path(n), "x") as f:
                json.dump(doc, f)
        except FileExistsError as e:
            raise GenerationConflict(self.path(n)) from e

    def expire(self, keep_last: int) -> int:
        """Delete all but the newest `keep_last` docs (their exclusive
        data files become reapable). Returns docs removed."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        doomed = self.generations()[:-keep_last]
        for g in doomed:
            os.remove(self.path(g))
        return len(doomed)

    def referenced(self) -> set[str]:
        """Data files referenced by any published generation; docs that
        vanish mid-walk (a concurrent expire) are skipped."""
        out: set[str] = set()
        for g in self.generations():
            try:
                out.update(self.files_of(self.doc(g)))
            except FileNotFoundError:
                continue
        return out

    def reap(self, dirs: Iterable[str]) -> int:
        """Remove staged data that no published doc references: a dir
        none of whose files is live goes whole, and a dir whose files
        were partly retired (a copy-on-write rewrite) loses just the
        dead files. Returns data files removed."""
        live = self.referenced()
        removed = 0
        for d in dirs:
            files = data_files(d)
            if not any(f in live for f in files):
                shutil.rmtree(d, ignore_errors=True)
                removed += len(files)
                continue
            for f in files:
                if f not in live:
                    os.remove(f)
                    removed += 1
        return removed

    def gc(self, data_roots: Iterable[str]) -> int:
        """`reap` over every staging dir under `data_roots`. Dirs without
        data files yet (a write still in flight) are left alone."""
        dirs = [
            os.path.join(r, n)
            for r in data_roots
            if os.path.isdir(r)
            for n in os.listdir(r)
        ]
        return self.reap(d for d in dirs if data_files(d))

    @contextlib.contextmanager
    def reaping(self, staging: list[str]):
        """Reap the dirs a commit registers in `staging` however the
        block ends, keeping any a published doc references."""
        try:
            yield staging
        finally:
            self.reap(staging)

    def commit(
        self,
        attempt: Callable[[int, dict, int], tuple[dict | None, object]],
        max_retries: int,
        fn: str,
    ):
        """The retry loop: `attempt(n, doc, i)` builds the next doc
        from the newest (n, doc) on try i and returns (next_doc, result);
        a None next_doc returns `result` without publishing. A lost
        publish re-reads and rebuilds; `max_retries` losses raise
        RuntimeError."""
        for i in range(max_retries):
            n, doc = self.current()
            nxt, result = attempt(n, doc, i)
            if nxt is None:
                return result
            try:
                self.publish(n + 1, nxt)
                return result
            except GenerationConflict:
                continue
        raise RuntimeError(f"{fn}: lost {max_retries} generation races on {self.root}")


def manifest_log(root: str, listdir=os.listdir, read_text=_read_text) -> GenLog:
    """A manifest sink's (or incremental view's) log: live data files
    plus the delete-vector files of each generation."""
    return GenLog(
        root, "_manifests", "manifest-",
        files_of=lambda doc: [*doc.get("files", []), *doc.get("delete_files", [])],
        listdir=listdir, read_text=read_text,
    )


def warehouse_log(root: str) -> GenLog:
    """A warehouse's cross-table txn log: every table's file list."""
    return GenLog(
        root, "_txns", "txn-",
        files_of=lambda doc: [
            f for t in doc.get("tables", {}).values() for f in t.get("files", [])
        ],
    )


def index_log(root: str) -> GenLog:
    """A generation-logged hive index: per-partition live files, stored
    relative to the index root."""
    return GenLog(
        root, "_generations", "gen-",
        files_of=lambda doc: [f for fs in doc.get("partitions", {}).values() for f in fs],
    )


def intent_log(root: str) -> GenLog:
    return GenLog(root, "_forget", "forget-")


def done_log(root: str) -> GenLog:
    return GenLog(root, "_forget", "forget-", suffix="-done.json")
