"""Benchmark harness: runs the registry queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": headline_total_sec, "unit":
"sec", "queries": {name: sec}, "sf": ...}.

Default mode times EVERY registry query in driver order: the 36
headline queries with median-of-5 (comparable to BASELINE.md and every
prior BENCH_r{N}.json — "value" stays the headline subtotal), the rest
with median-of-3 — for eager pipelines each of the three runs rebuilds
its own temp-dir pipeline (single-run eager rows drew bimodal slow
modes that false-flagged the drift gate). `--headline` runs only the
headline queries, also in driver order.

Headline membership, the scan_bound/cpu_bound group and the family of
each query come from its registry record
(chesscom_etl_tableau_spark/registry/). Per-family subtotals in
"families" attribute a drift to the ingest path / dedup / ANN / text /
streaming / visual slice without a profile run.

Each lazy query is executed once as warm-up (JIT/codegen/page cache,
not counted) then timed; the timed action is a full materialization
(count) so every exchange and sink-side stage runs.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from chesscom_etl_tableau_spark.registry import QUERIES
from chesscom_etl_tableau_spark.registry.record import HEADLINE_GROUPS
from chesscom_etl_tableau_spark.session import get_spark

HEADLINE = [q.name for q in QUERIES if q.headline]

# Group subtotals make a drift attributable from BENCH_r{N}.json alone,
# without a profile run (what each group implicates: registry.record.Query).
GROUPS = {g: [q.name for q in QUERIES if q.headline == g] for g in HEADLINE_GROUPS}

FAMILY = {q.name: q.family for q in QUERIES}


def _median_timing(spark, fn, sf_dir: str, repeats: int, eager: bool) -> float:
    runs = []
    if eager:
        # the pipeline runs at build time (temp-dir writes + reads):
        # time build+materialize together, no meaningful warm/cold split
        for _ in range(repeats):
            t0 = time.time()
            fn(spark, sf_dir).count()
            runs.append(time.time() - t0)
    else:
        df = fn(spark, sf_dir)
        df.count()  # warm-up (not timed)
        for _ in range(repeats):
            t0 = time.time()
            df.count()
            runs.append(time.time() - t0)
    return round(sorted(runs)[len(runs) // 2], 3)


def _calibration(spark) -> float:
    """Host-speed yardstick: a fixed, data-independent CPU workload
    (hash + sum over 50M generated rows, all codegen). Identical code
    has measured 13-31s headline totals across rounds purely from host
    variance; dividing a query time by this number gives a
    host-normalized figure comparable across BENCH_r{N}.json files."""
    from pyspark.sql import functions as F

    # modded so the 50M-row sum stays far from long overflow (ANSI on)
    df = spark.range(0, 50_000_000).select((F.xxhash64("id") % 1_000_000).alias("h"))
    df.agg(F.sum("h")).collect()  # warm
    runs = []
    for _ in range(3):
        t0 = time.time()
        df.agg(F.sum("h")).collect()
        runs.append(time.time() - t0)
    return round(sorted(runs)[1], 3)


# Canonical calibration reading of the recorded-baseline run (r15 run
# run-1787009389 — the post-optimization full-registry run — MUST match
# the "calibration" value in BASELINE.md's "Recorded full-registry
# baseline" header, which drift_check.py parses as its source of truth;
# the recorded rows and this calibration come from ONE run so they
# carry the same host condition). host_factor = this run's
# calibration_sec / REF_CALIBRATION_SEC: divide a query reading by
# host_factor before comparing it to a recorded row — the documented
# r5/r7/r9/r11 signature is UNIFORM host inflation (every round since
# r7 spent a session re-adjudicating it), which this scalar removes.
# scripts/drift_check.py gates on min(raw, normalized).
REF_CALIBRATION_SEC = 0.095


def main() -> None:
    headline_only = "--headline" in sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    spark = get_spark("bench")
    qs = entry_mod.queries()
    names = HEADLINE if headline_only else list(qs)
    timings: dict[str, float] = {}
    # First-position warmup (r11 verdict #3): one untimed throwaway
    # query before the loop, so the first TIMED query doesn't absorb
    # cold-JVM/page-cache/JIT residue (q1_pricing_summary read 3.2x its
    # recorded row in the r11 judge run purely from running first).
    # j3_star_join touches the same lineitem/orders scan path as the
    # early headline entries; its own per-query warm-up still runs.
    # Fall back to the first registry entry if it's ever renamed —
    # a missing warmup must not abort the whole bench (advice r12).
    warmup = qs.get("j3_star_join") or next(iter(qs.values()))
    warmup(spark, sf_dir).count()
    import gc

    for name in names:
        eager = name in entry_mod.EAGER_QUERIES
        # Headline queries keep median-of-5 (observed box noise spans
        # 13-31s for identical code — the wider sample keeps one
        # contended run from moving the recorded number). The long tail
        # gets median-of-3 for BOTH lazy queries (sub-second, cheap)
        # and eager pipelines (r13 verdict ask #1b: eager rows drew
        # BIMODAL single-run slow modes — ann_ivfpq_refit 37.6s vs a
        # 16.9s recorded row, 2.5x, purely from one draw; the median
        # over three per-run temp-dir executions makes a single slow
        # draw unable to flag the drift gate).
        repeats = 5 if name in HEADLINE else 3
        timings[name] = _median_timing(spark, qs[name], sf_dir, repeats, eager)
        # Release the py4j refs each query pinned (localCheckpoint RDD
        # blocks survive until Python GC lets Spark's ContextCleaner
        # unpersist them) — accumulated blocks are the prime suspect
        # for the eager slow mode's GC churn.
        gc.collect()
    headline_total = round(sum(timings[q] for q in HEADLINE if q in timings), 3)
    groups = {
        g: round(sum(timings[q] for q in qnames if q in timings), 3)
        for g, qnames in GROUPS.items()
    }
    out = {
        # "value" stays the headline subtotal in every mode so the
        # series BENCH_r01..r05 and BASELINE.md stay comparable.
        "metric": "headline_queries_total",
        "value": headline_total,
        "unit": "sec",
        # run_id stamps ONE canonical run (r6 verdict #4: the committed
        # JSON and any prose quoting totals must cite the same id; a
        # number without this id is a different run).
        "run_id": f"run-{int(time.time())}",
        "queries": timings,
        # eager pipelines re-run a temp-dir ingest per timing (cold
        # runs, no warm-up; recorded value = median of 3 such runs
        # since r14) — the documented 1.4-1.9x variance band applies
        # to THESE names only (r6 verdict #7; band recorded in
        # BASELINE.md). Drift scans read this list instead of
        # hand-classifying.
        "eager_queries": sorted(n for n in timings if n in entry_mod.EAGER_QUERIES),
        "groups": groups,
        "calibration_sec": _calibration(spark),
        "sf": sf,
    }
    # host-normalization scalar (r11 verdict #1): readings divided by
    # this factor are comparable to the recorded baseline regardless of
    # box contention; the drift gate (scripts/drift_check.py) compares
    # normalized values, ending the per-round host-noise adjudication.
    out["host_factor"] = round(out["calibration_sec"] / REF_CALIBRATION_SEC, 3)
    if not headline_only:
        out["full_total"] = round(sum(timings.values()), 3)
        fams: dict[str, float] = {}
        for q, t in timings.items():
            fams[FAMILY[q]] = round(fams.get(FAMILY[q], 0.0) + t, 3)
        out["families"] = fams
    # The driver captures only the LAST 2000 chars of stdout and parses
    # the JSON it finds there (BENCH_r05 failed with "parsed": null
    # because the 192-query dict is ~5KB and front-truncated the line).
    # Contract: the FULL per-query dict goes to a committed file
    # (BENCH_full.json next to this script); the single final stdout
    # line carries the headline per-query timings (the BASELINE.md
    # comparison set, as in r1-r4) + family/group subtotals and a
    # pointer to the full file, and is kept under the 2000-char capture.
    # Headline-only invocations (quick verify runs, often at sf0.001)
    # must NOT clobber the committed full-registry artifact — only a
    # full run is the artifact.
    if not headline_only:
        full_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_full.json"
        )
        try:
            with open(full_path, "w") as f:
                json.dump(out, f, indent=1, sort_keys=True)
        except OSError:
            pass  # read-only checkout: the stdout line still carries the headline set
    line_out = dict(out)
    line_out["queries"] = {q: t for q, t in timings.items() if q in HEADLINE}
    # the full eager list lives in BENCH_full.json; the capped stdout
    # line carries only its size (headline queries are never eager)
    line_out["n_eager"] = len(line_out.pop("eager_queries"))
    line_out["queries_file"] = "BENCH_full.json"
    line_out["n_queries_timed"] = len(timings)
    line = json.dumps(line_out, separators=(",", ":"))
    if len(line) > 1900:  # belt-and-braces: never emit an uncapturable line
        line_out.pop("groups", None)
        line_out["queries"] = {}
        line = json.dumps(line_out, separators=(",", ":"))
    sys.stdout.flush()
    print(line)


if __name__ == "__main__":
    main()
