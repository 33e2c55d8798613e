"""Physical-plan audit over every bench headline query: emits a
markdown table of the plan features that matter at 100 TB — exchange
count, join strategies (broadcast vs sort-merge vs nested-loop),
whole-stage-codegen spans, scan-level filter pushdown and column
pruning. Run: python scripts/plan_audit.py [sf_dir] > PLANS_r4.md

The point is auditability: "no scale-killers" is a claim until the
executed plans are committed next to the benchmarks.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from chesscom_etl_tableau_spark.registry import QUERIES
from chesscom_etl_tableau_spark.session import get_spark
from chesscom_etl_tableau_spark.util import global_windows


def audit(simple: str, formatted: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", simple)),
        "bhj": simple.count("BroadcastHashJoin"),
        "smj": simple.count("SortMergeJoin"),
        "bnlj": simple.count("BroadcastNestedLoopJoin"),
        "cartesian": simple.count("CartesianProduct"),
        "pushed": "PushedFilters: []" not in formatted and "PushedFilters" in formatted,
        "topk": "TakeOrderedAndProject" in simple,
    }


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--all"]
    everything = "--all" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    qs = entry_mod.queries()
    # --all audits every LAZY registry query (eager pipelines run temp-dir
    # ingest loops whose plans are the component plans already audited)
    names = (
        [n for n in qs if n not in entry_mod.EAGER_QUERIES]
        if everything
        else [q.name for q in QUERIES if q.headline]
    )
    scope = "all lazy registry queries" if everything else "bench headline queries"
    print(f"# Physical-plan audit — {scope} ({sf_dir})\n")
    print("Generated by `scripts/plan_audit.py`. BNLJ entries are 1-row/stats")
    print("broadcasts (corpus-stat cross joins), not scale hazards; the two")
    print("documented exact baselines (`dedup_embed_cosine` full pair join)")
    print("carry their scale path next to them in COVERAGE.md.")
    print("The SMJ entries that remain under --all are the large-x-large")
    print("equi-joins (shingle-x-shingle in `dedup_incremental_near`,")
    print("fingerprint-x-fingerprint in `train_decontaminate`, the salted")
    print("(bucket, salt) pair join in `dedup_semantic`, the token join in")
    print("`train_dsir_weights`, the banded Hamming joins in")
    print("`mm_dhash_neardup`/`mm_phash_neardup`) plus the ITERATIVE GRAPH joins")
    print("(`graph_pagerank`, `graph_label_prop`: ranks/labels x edges once")
    print("per round — node and edge tables both grow with the graph, so a")
    print("hash-partitioned merge join per round is the GraphX-style")
    print("scale-correct strategy): in every case both sides grow with the")
    print("data, so broadcasting either side would cap at driver memory.")
    print("`graph_triangles`' counts are PLAN-STRING artifacts, not work:")
    print("its persisted intermediates (canon/deg/oriented) are each")
    print("consumed by 2-3 joins, and every reference re-embeds the cached")
    print("subtree's plan text; at runtime each InMemoryRelation computes")
    print("ONCE (measured 15.7s -> 5.8s from the persists; see the")
    print("triangle probe in BASELINE.md).\n")
    print("Global-window column: partition-undefined Window nodes (the")
    print("`No Partition Defined` warning source); every non-zero entry is")
    print("whitelisted with its bounded-frame justification in")
    print("tests/test_plan_shapes.py::TestGlobalWindowGate — a new one")
    print("fails that gate.\n")
    print("| query | exchanges | BHJ | SMJ | BNLJ | cartesian | top-k op | global win |")
    print("|---|---|---|---|---|---|---|---|")
    em = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    fmt = em.fromString("formatted")
    for name in names:
        df = qs[name](spark, sf_dir)
        gw = len(global_windows(df))
        df.count()  # materialize so AQE finalizes the plan + codegen ids
        qe = df._jdf.queryExecution()
        a = audit(qe.executedPlan().toString(), qe.explainString(fmt))
        print(
            f"| {name} | {a['exchanges']} | {a['bhj']} | {a['smj']} | "
            f"{a['bnlj']} | {a['cartesian']} | "
            f"{'yes' if a['topk'] else '—'} | {gw or '—'} |"
        )


if __name__ == "__main__":
    main()
