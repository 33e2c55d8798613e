"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_daily --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --size tiny

Runs one workload (or `all` of them, one after the other in this
process) on `local[N]`, N = min(4, nproc), against the program in the
checkout this file sits in. Inputs come from `--seed`; nothing touches
the network. Set-up starts Spark through the program's `session.py` and
makes the workload's inputs. The run then makes as many whole rounds of
the workload's operations as fit in `--seconds` at the reference pace
(the workload's `round_s`), at least one, so every run does the same
work on a busy host as on an idle one. It checks every output against a
computation made apart from the program and prints one JSON object as
the last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, in CPU seconds
(meter.py): `setup_s` and `round_cpu_s`, the median over rounds. With
`--trace 1` they are the per-layer ones (tracing.py). A line before it
gives the wall times. Scratch files go under `.perfbench_work/` in the
checkout and are removed on exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_daily", "llm_registry")
BENCHMARK_FILE = os.path.join(ROOT, "BENCHMARK.json")


def _configure_env(workdir: str) -> None:
    """Keep Spark, its Python workers and temp files inside the checkout."""
    cpus = min(4, os.cpu_count() or 1)
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        # -XX:-UsePerfData: the JVM would otherwise keep a counters file in /tmp
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' --conf spark.local.dir={tmp} pyspark-shell"
    )
    sys.path[:0] = [ROOT, HERE]


def _make(name: str, size: str):
    if name == "ingest_daily":
        from ingest_daily import IngestDaily

        return IngestDaily(size)
    from registry import LlmRegistry

    return LlmRegistry(size)


def _start_spark():
    from chesscom_etl_tableau_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_workload(name: str, seed: int, seconds: float, trace: bool, size: str, workdir: str) -> dict:
    """Set up (starting Spark unless this process already has it), run
    the rounds and check them."""
    from meter import Meter
    from tracing import NullTracer, Tracer

    wl = _make(name, size)
    with Meter() as setup:
        spark = _start_spark()
        wl.setup(spark, seed, os.path.join(workdir, name))
    tracer = Tracer(spark) if trace else NullTracer()
    rounds = []
    for _ in range(max(1, round(seconds / wl.round_s))):
        with Meter() as m:
            ops = wl.round(spark, tracer)
        rounds.append((ops, m.wall, sum(op["cpu_s"] for op in ops)))
    ops = [op for r, _, _ in rounds for op in r]
    problems = sorted({p for op in ops for p in op["problems"]})
    result = {
        "correct": not problems,
        "attempted": len(ops),
        "failed": sum(1 for op in ops if op["failed"]),
        "problems": problems,
        "wall": {"setup_s": setup.wall, "round_s": statistics.median(w for _, w, _ in rounds)},
    }
    if trace:
        result["metrics"] = _layer_metrics(tracer, rounds)
    else:
        metrics = {"setup_s": setup.cpu, "round_cpu_s": statistics.median(c for _, _, c in rounds)}
        result["metrics"] = {k: {"value": v, "unit": "s"} for k, v in metrics.items()}
    return result


def _layer_metrics(tracer, rounds) -> dict:
    from tracing import LAYER_UNITS

    with open(BENCHMARK_FILE) as f:
        values = {m["name"]: 0.0 for m in json.load(f)["per_layer"]}
    values.update({k: v / len(rounds) for k, v in tracer.totals.items()})
    values.update(tracer.last)
    values["trace.round_s"] = statistics.median(w for _, w, _ in rounds)
    values["trace.round_cpu_s"] = statistics.median(c for _, _, c in rounds)
    return {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in values.items()}


def _stop() -> None:
    """Stop Spark, if this process started it, and wait for its JVM (and
    with it the Python workers) to exit: the gateway JVM ends when its
    stdin pipe closes."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "chesscom_etl_tableau_spark", "cli.py")):
        print("perfbench: the program (chesscom_etl_tableau_spark/) is not in this checkout", file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    _configure_env(workdir)
    try:
        names = WORKLOADS if args.workload == "all" else (args.workload,)
        results = {}
        for name in names:
            res = run_workload(name, args.seed, args.seconds, bool(args.trace), args.size, workdir)
            results[name] = res
            for p in res["problems"]:
                print(f"perfbench: {name}: {p}", file=sys.stderr)
            print(f"{name}: attempted={res['attempted']} failed={res['failed']} correct={res['correct']} "
                  + " ".join(f"wall.{k}={v:.3f}s" for k, v in res["wall"].items()) + " "
                  + " ".join(f"{k}={m['value']:.6g}{m['unit']}" for k, m in res["metrics"].items()
                             if not args.trace))
    finally:
        _stop()
        shutil.rmtree(workdir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(workdir))  # only if no other run is using it
    if args.workload == "all":
        metrics = {f"{n}/{k}": m for n, r in results.items() for k, m in r["metrics"].items()}
    else:
        metrics = results[args.workload]["metrics"]
    out = {
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": metrics,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
