"""The benchmark's own tests: every workload at its smallest size, end to
end with every check on, and the refusal to run without the program.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_workload_tiny_end_to_end():
    p = _bench("--workload", "all", "--size", "tiny", "--seconds", "0", "--seed", "7")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] is True, p.stderr[-3000:]
    assert out["attempted"] > out["failed"] >= 0
    spec = _spec()
    for w in spec["workloads"]:
        got = {k.split("/", 1)[1]: v for k, v in out["metrics"].items() if k.startswith(w["name"] + "/")}
        assert set(got) == {m["name"] for m in spec["end_to_end"]}, w["name"]
        for m in spec["end_to_end"]:
            assert got[m["name"]]["unit"] == m["unit"] and got[m["name"]]["value"] > 0, (w["name"], m["name"])


def test_traced_run_reports_every_layer():
    p = _bench("--workload", "all", "--size", "tiny", "--seconds", "0", "--trace", "1")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] is True
    m = {k: v["value"] for k, v in out["metrics"].items()}
    for w in _spec()["workloads"]:
        assert {f"{w['name']}/{x['name']}" for x in _spec()["per_layer"]} <= set(m)
    for name in ("rest.requests", "ingest.run_s", "ingest.commit_s", "status.events", "spark.jobs",
                 "visual.card_s", "visual.openings_s", "visual.rows_read", "spark.executor_cpu_s"):
        assert m[f"ingest_daily/{name}"] > 0, name
    for name in ("build_s.text_bm25_topk", "run_s.text_bm25_topk", "py4j.text_bm25_topk"):
        assert m[f"llm_registry/{name}"] > 0, name


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench("--workload", "ingest_daily", "--seed", "1", cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
