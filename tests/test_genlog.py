"""The generation log (plans/genlog.py): naming, the protocol fence on
every read, the retry loop, every commit kind's lost-race path, and the
published doc format.

The lost-race tests let a rival win generation g+1 BETWEEN a commit's
read of generation g and its exclusive create, through the module's one
`publish` seam — the only interleaving that reaches a commit's retry
branch (a rival published before the commit starts is simply read as
current and never conflicts).
"""

from __future__ import annotations

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOC_GOLDEN = os.path.join(ROOT, "tests", "golden", "doc_format.json")
sys.path.insert(0, ROOT)

import pytest  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from chesscom_etl_tableau_spark.operators import index_log as IL  # noqa: E402
from chesscom_etl_tableau_spark.plans import forget as FG  # noqa: E402
from chesscom_etl_tableau_spark.plans import genlog  # noqa: E402
from chesscom_etl_tableau_spark.plans import ingest as ING  # noqa: E402
from chesscom_etl_tableau_spark.util import local_frame  # noqa: E402


class TestLogFormat:
    def test_names_parse_and_sort_numerically(self, tmp_path):
        log = genlog.manifest_log(str(tmp_path))
        assert log.path(7) == str(tmp_path / "_manifests" / "manifest-000000000007.json")
        for n in (2, 10, 1):
            log.publish(n, {"files": []})
        (tmp_path / "_manifests" / "manifest-junk.json").write_text("{}")
        assert log.generations() == [1, 2, 10]
        assert log.current()[0] == 10

    def test_intent_and_done_logs_share_a_dir_but_not_numbers(self, tmp_path):
        intents, done = genlog.intent_log(str(tmp_path)), genlog.done_log(str(tmp_path))
        intents.publish(1, {})
        intents.publish(2, {})
        done.publish(1, {})
        assert intents.generations() == [1, 2]
        assert done.generations() == [1]
        assert os.path.basename(done.path(1)) == "forget-000000000001-done.json"

    def test_publish_conflict_and_absent_log(self, tmp_path):
        log = genlog.warehouse_log(str(tmp_path))
        assert log.current() == (0, {})
        assert log.at() == {}
        log.publish(1, {"tables": {}})
        with pytest.raises(genlog.GenerationConflict):
            log.publish(1, {"tables": {}})
        with pytest.raises(FileNotFoundError):
            log.at(2)

    def test_every_read_applies_the_protocol_fence(self, tmp_path):
        log = genlog.index_log(str(tmp_path))
        log.publish(1, {"protocol": 1, "partitions": {}})
        log.publish(2, {"protocol": 99, "partitions": {}})
        with pytest.raises(genlog.ProtocolError, match="protocol 99"):
            IL.index_log_current(str(tmp_path))
        # a pinned read of the future doc is fenced too, and the
        # supported generation still reads
        with pytest.raises(genlog.ProtocolError, match="protocol 99"):
            IL.index_log_doc(str(tmp_path), generation=2)
        assert IL.index_log_doc(str(tmp_path), generation=1)["partitions"] == {}

    def test_expire_keeps_newest(self, tmp_path):
        log = genlog.manifest_log(str(tmp_path))
        for n in (1, 2, 3):
            log.publish(n, {"files": []})
        with pytest.raises(ValueError):
            log.expire(0)
        assert log.expire(2) == 1
        assert log.generations() == [2, 3]

    def test_reap_keeps_referenced_files(self, tmp_path):
        log = genlog.manifest_log(str(tmp_path))
        live, dead, mixed = (tmp_path / n for n in ("live", "dead", "mixed"))
        for d in (live, dead, mixed):
            d.mkdir()
            (d / "a.parquet").write_bytes(b"")
        (mixed / "b.parquet").write_bytes(b"")
        log.publish(1, {"files": [str(live / "a.parquet"), str(mixed / "a.parquet")]})
        assert log.reap([str(live), str(dead), str(mixed)]) == 2
        assert (live / "a.parquet").exists() and (mixed / "a.parquet").exists()
        assert not dead.exists() and not (mixed / "b.parquet").exists()


class TestCommitRetry:
    def test_lost_publish_rebuilds_from_the_winner(self, tmp_path, monkeypatch):
        log = genlog.intent_log(str(tmp_path))
        log.publish(1, {"seen": 0})
        orig = genlog.GenLog.publish
        rivals = iter([True])

        def racing(self, n, doc):
            if next(rivals, False):
                orig(self, n, {"seen": -1})
            return orig(self, n, doc)

        monkeypatch.setattr(genlog.GenLog, "publish", racing)
        seen = []

        def attempt(n, doc, i):
            seen.append((n, doc["seen"], i))
            return {"seen": n}, n + 1

        assert log.commit(attempt, 3, "t") == 3
        assert seen == [(1, 0, 0), (2, -1, 1)]
        assert log.doc(3) == {"seen": 2}

    def test_no_doc_returns_without_publishing(self, tmp_path):
        log = genlog.intent_log(str(tmp_path))
        assert log.commit(lambda n, doc, i: (None, "noop"), 3, "t") == "noop"
        assert log.generations() == []

    def test_max_losses_raise(self, tmp_path, monkeypatch):
        log = genlog.intent_log(str(tmp_path))
        orig = genlog.GenLog.publish

        def always_lose(self, n, doc):
            orig(self, n, {})
            return orig(self, n, doc)

        monkeypatch.setattr(genlog.GenLog, "publish", always_lose)
        with pytest.raises(RuntimeError, match=r"^t: lost 2 generation races on "):
            log.commit(lambda n, doc, i: ({}, None), 2, "t")
        assert log.generations() == [1, 2]


# --- every commit kind against a rival that wins generation g+1 ------------


def _keys(spark, lo, hi, payload=0):
    return spark.range(lo, hi, numPartitions=2).select(
        F.col("id").alias("game_url"), F.lit(payload).cast("long").alias("payload")
    ).localCheckpoint()


def _sorted_keys(df, col="game_url"):
    return sorted(r[0] for r in df.select(col).collect())


class _Case:
    """One commit kind over a table built by its factory: `log` is the
    table's log, `commit(max_retries)` runs the commit under test,
    `rival()` is a real concurrent commit, `check(result)` asserts the
    commit re-audited against the rival's state, and `clean()` counts
    the unreferenced staged files left (None: not checked)."""


def _manifest_case(spark, tmp_path, kind):
    sink = str(tmp_path / "sink")
    c = _Case()
    c.log = genlog.manifest_log(sink)
    c.clean = lambda: ING.manifest_gc(sink)
    ING.commit_append_manifest(_keys(spark, 0, 10), sink)
    if kind == "append":
        c.commit = lambda r: ING.commit_append_manifest(_keys(spark, 5, 20), sink, max_retries=r)
        c.rival = lambda: ING.commit_append_manifest(_keys(spark, 15, 25), sink)

        def check(n):
            # the rival's 15..24 is audited away: only 10..14 is new
            assert n == 5
            assert _sorted_keys(ING.read_manifest_sink(spark, sink)) == list(range(25))
    elif kind == "merge":
        c.commit = lambda r: ING.commit_merge_manifest(_keys(spark, 8, 12, 1), sink, max_retries=r)
        c.rival = lambda: ING.commit_append_manifest(_keys(spark, 10, 12, 2), sink)

        def check(res):
            # 10 and 11 arrived with the rival: updates, not inserts
            assert res == ING.MergeResult(inserted=0, updated=4)
            rows = ING.read_manifest_sink(spark, sink).collect()
            assert sorted(r["game_url"] for r in rows) == list(range(12))
            assert {r["game_url"] for r in rows if r["payload"] == 1} == {8, 9, 10, 11}
    elif kind in ("cow_delete", "delete_vector"):
        fn = ING.commit_delete_manifest if kind == "cow_delete" else ING.commit_delete_vector
        doomed = spark.createDataFrame([(3,), (12,)], "game_url long")
        c.commit = lambda r: fn(doomed, sink, max_retries=r)
        c.rival = lambda: ING.commit_append_manifest(_keys(spark, 10, 14), sink)

        def check(n):
            # key 12 arrived with the rival and is deleted too
            assert n == 2
            got = _sorted_keys(ING.read_manifest_sink(spark, sink))
            assert got == [k for k in range(14) if k not in (3, 12)]
    elif kind == "compact":
        ING.commit_append_manifest(_keys(spark, 10, 20), sink)
        c.commit = lambda r: ING.commit_compact_manifest(spark, sink, target_files=1, max_retries=r)
        c.rival = lambda: ING.commit_append_manifest(_keys(spark, 20, 30), sink)

        def check(n):
            # the compaction covers the rival's files: 3 commits x 2 files
            assert n == 6
            assert len(ING._manifest_doc(sink)["files"]) == 1
            assert _sorted_keys(ING.read_manifest_sink(spark, sink)) == list(range(30))
    c.check = check
    return c


def _view_case(spark, tmp_path):
    sink, view = str(tmp_path / "sink"), str(tmp_path / "view")
    rows = lambda lo, hi: spark.range(lo, hi, numPartitions=2).select(  # noqa: E731
        F.col("id").alias("game_url"), (F.col("id") % 3).alias("g"), F.col("id").alias("v")
    ).localCheckpoint()
    ING.commit_append_manifest(rows(0, 10), sink)
    ING.refresh_incremental_agg(spark, sink, view, "g", "v")
    ING.commit_append_manifest(rows(10, 20), sink)
    c = _Case()
    c.log = genlog.manifest_log(view)
    c.commit = lambda r: ING.refresh_incremental_agg(spark, sink, view, "g", "v")
    c.rival = lambda: ING.refresh_incremental_agg(spark, sink, view, "g", "v")
    c.clean = lambda: ING.manifest_gc(view)
    c.raises = RuntimeError

    def check(_):
        # the rival's refresh is the head, and it is right
        got = {r["g"]: r["n_rows"] for r in ING.read_manifest_sink(spark, view).collect()}
        assert got == {0: 7, 1: 7, 2: 6}
        assert ING._current_manifest_doc(view)[0] == 2

    c.check = check
    return c


def _warehouse_case(spark, tmp_path):
    wh = str(tmp_path / "wh")
    keys = {"facts": "game_url"}
    ING.commit_tables({"facts": _keys(spark, 0, 10)}, wh, key_cols=keys)
    c = _Case()
    c.log = genlog.warehouse_log(wh)
    c.commit = lambda r: ING.commit_tables({"facts": _keys(spark, 5, 20)}, wh, key_cols=keys, max_retries=r)
    c.rival = lambda: ING.commit_tables({"facts": _keys(spark, 15, 25)}, wh, key_cols=keys)
    c.clean = lambda: ING.warehouse_gc(wh)

    def check(out):
        assert out == {"facts": 5}
        assert _sorted_keys(ING.read_warehouse_table(spark, wh, "facts")) == list(range(25))

    c.check = check
    return c


def _index_rows(spark, lo, hi):
    return spark.range(lo, hi, numPartitions=2).select(
        F.col("id").alias("vec_id"), (F.col("id") % 3).alias("bucket")
    )


def _index_case(spark, tmp_path, kind):
    idx = str(tmp_path / "idx")
    _index_rows(spark, 0, 12).write.partitionBy("bucket").parquet(idx)
    IL.index_log_init(idx, "bucket")
    IL.index_log_append(spark, idx, _index_rows(spark, 12, 20), "bucket")
    c = _Case()
    c.log = genlog.index_log(idx)
    c.rival = lambda: IL.index_log_append(spark, idx, _index_rows(spark, 200, 210), "bucket")
    c.clean = lambda: IL.index_log_gc(idx, keep_last=100, min_age_sec=0)
    if kind == "index_append":
        c.commit = lambda r: IL.index_log_append(
            spark, idx, _index_rows(spark, 100, 110), "bucket", max_retries=r
        )

        def check(gen):
            # the retry carries the rival's files
            expect = [*range(20), *range(100, 110), *range(200, 210)]
            assert _sorted_keys(IL.index_log_read(spark, idx, gen), "vec_id") == expect
    else:  # compaction is single-maintainer: a lost race raises
        c.commit = lambda r: IL.compact_index_log(spark, idx, "bucket")
        c.raises = genlog.GenerationConflict
        c.clean = None  # its rewrite stays in the live layout until gc

        def check(_):
            got = _sorted_keys(IL.index_log_read(spark, idx), "vec_id")
            assert got == [*range(20), *range(200, 210)]
    c.check = check
    return c


def _forget_case(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    ING.commit_append_manifest(
        spark.range(10).select(F.col("id").alias("doc_id")).localCheckpoint(),
        corpus, key_col="doc_id",
    )
    ids = lambda *v: spark.createDataFrame([(x,) for x in v], "doc_id long")  # noqa: E731
    FG.forget_ids(ids(0), corpus)
    c = _Case()
    c.log = genlog.intent_log(corpus)
    c.commit = lambda r: FG.forget_ids(ids(1, 2), corpus, max_retries=r)
    c.rival = lambda: FG.forget_ids(ids(3), corpus)
    c.clean = lambda: ING.manifest_gc(corpus)

    def check(out):
        # the rival took intent 2; this forget bumped to 3 and finished
        assert out["intent"] == 3 and out["deleted"] == {"corpus": 2}
        assert FG.forget_pending(corpus) == []
        assert _sorted_keys(ING.read_manifest_sink(spark, corpus), "doc_id") == list(range(4, 10))

    c.check = check
    return c


KINDS = [
    "append", "merge", "cow_delete", "delete_vector", "compact", "view_refresh",
    "warehouse", "index_append", "index_compact", "forget",
]


def _case(spark, tmp_path, kind):
    if kind == "view_refresh":
        return _view_case(spark, tmp_path)
    if kind == "warehouse":
        return _warehouse_case(spark, tmp_path)
    if kind.startswith("index_"):
        return _index_case(spark, tmp_path, kind)
    if kind == "forget":
        return _forget_case(spark, tmp_path)
    return _manifest_case(spark, tmp_path, kind)


def _race(monkeypatch, rival, times):
    """Make `rival(log, n)` run inside the next `times` publishes of the
    commit under test, just before its exclusive create of n."""
    orig = genlog.GenLog.publish
    state = {"left": times, "inside": False}

    def publish(self, n, doc):
        if state["left"] and not state["inside"]:
            state["left"] -= 1
            state["inside"] = True
            try:
                rival(self, n)
            finally:
                state["inside"] = False
        return orig(self, n, doc)

    monkeypatch.setattr(genlog.GenLog, "publish", publish)
    return orig


@pytest.mark.parametrize("kind", KINDS)
def test_rival_wins_between_read_and_create(spark, tmp_path, monkeypatch, kind):
    c = _case(spark, tmp_path, kind)
    g = c.log.current()[0]
    published = []

    def rival(log, n):
        assert log.dir == c.log.dir and n == g + 1
        c.rival()
        published.append(log.current()[0])

    _race(monkeypatch, rival, times=1)
    raises = getattr(c, "raises", None)
    if raises:
        with pytest.raises(raises):
            c.commit(20)
        assert c.log.current()[0] == g + 1
        c.check(None)
    else:
        c.check(c.commit(20))
        assert c.log.current()[0] == g + 2
    assert published == [g + 1]
    if c.clean:
        assert c.clean() == 0


@pytest.mark.parametrize(
    "kind", [k for k in KINDS if k not in ("view_refresh", "index_compact")]
)
def test_max_retries_lost_races_raise(spark, tmp_path, monkeypatch, kind):
    c = _case(spark, tmp_path, kind)
    g = c.log.current()[0]
    orig = genlog.GenLog.publish

    def rival(log, n):  # a no-op commit: the previous doc again
        orig(log, n, log.doc(n - 1))

    _race(monkeypatch, rival, times=-1)
    with pytest.raises(RuntimeError, match="lost 2 generation races on "):
        c.commit(2)
    assert c.log.current()[0] == g + 2
    if kind != "index_append":  # index appends write into the live layout
        assert c.clean() == 0


def doc_format_snapshot(spark, root: str) -> dict:
    """Every doc one scripted sequence publishes, per log: an append
    with stats and blooms, a merge, a delete vector, two view refreshes,
    a copy-on-write delete, a compaction, two warehouse txns and a
    forget. Key frames are local relations and every rewrite touches
    one file, so file layouts do not depend on runtime join choices."""
    sink, view, wh, corpus = (os.path.join(root, n) for n in ("sink", "view", "wh", "corpus"))

    def rows(lo, hi, parts=2, payload=0):
        return spark.range(lo, hi, numPartitions=parts).select(
            F.col("id").alias("game_url"),
            (F.col("id") % 3).alias("grp"),
            (F.col("id") + payload).alias("payload"),
        ).localCheckpoint()

    def keys(*ids, col="game_url"):
        return local_frame(spark, [(i,) for i in ids], f"{col} long")

    ING.commit_append_manifest(rows(0, 20), sink, stats_cols=["payload"], bloom_cols=["game_url"])
    ING.refresh_incremental_agg(spark, sink, view, "grp", "payload")
    ING.commit_merge_manifest(rows(5, 8, 1, 100).union(rows(25, 26, 1)).coalesce(1), sink)
    ING.commit_delete_vector(keys(12), sink)
    ING.refresh_incremental_agg(spark, sink, view, "grp", "payload")
    ING.commit_delete_manifest(keys(15), sink)
    ING.commit_compact_manifest(spark, sink, target_files=1)
    facts = {"facts": "game_url"}
    dim = local_frame(spark, [(0, "a"), (1, "b")], "grp long, name string")
    ING.commit_tables({"facts": rows(0, 10, 1), "dim": dim}, wh, key_cols=facts)
    ING.commit_tables({"facts": rows(5, 15, 1)}, wh, key_cols=facts)
    ING.commit_append_manifest(
        spark.range(10, numPartitions=1).select(F.col("id").alias("doc_id")).localCheckpoint(),
        corpus, key_col="doc_id",
    )
    FG.forget_ids(keys(3, col="doc_id"), corpus)
    logs = {
        "sink": genlog.manifest_log(sink), "view": genlog.manifest_log(view),
        "warehouse": genlog.warehouse_log(wh), "corpus": genlog.manifest_log(corpus),
        "forget": genlog.intent_log(corpus), "forget_done": genlog.done_log(corpus),
    }
    return {name: [log.doc(n) for n in log.generations()] for name, log in logs.items()}


def mask_docs(docs: dict, root: str) -> dict:
    """`docs` with the root, txn ids (32-hex tokens, numbered by first
    appearance in key-sorted JSON; bloom bitsets are longer hex runs and
    stay) and Spark's part-file ids masked."""
    text = json.dumps(docs, sort_keys=True).replace(root, "<root>")
    text = re.sub(r"(part-\d{5})-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", r"\1-<id>", text)
    txns: dict[str, str] = {}
    text = re.sub(r"(?<![0-9a-f])[0-9a-f]{32}(?![0-9a-f])", lambda m: txns.setdefault(m[0], f"<txn{len(txns)}>"), text)
    return json.loads(text)


def test_published_docs_match_the_golden(spark, tmp_path):
    """Every doc the commits publish, compared as parsed JSON with
    `tests/golden/doc_format.json`. Regenerate with
    `python tests/test_genlog.py` and say why in CHANGES.md."""
    root = str(tmp_path)
    got = mask_docs(doc_format_snapshot(spark, root), root)
    with open(DOC_GOLDEN) as f:
        want = json.load(f)
    assert sorted(got) == sorted(want)
    for name in want:
        assert got[name] == want[name], name


if __name__ == "__main__":
    import tempfile

    from chesscom_etl_tableau_spark.session import get_spark

    with tempfile.TemporaryDirectory() as d:
        docs = mask_docs(doc_format_snapshot(get_spark("tests", shuffle_partitions=4), d), d)
    with open(DOC_GOLDEN, "w") as f:
        json.dump(docs, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {DOC_GOLDEN}")
