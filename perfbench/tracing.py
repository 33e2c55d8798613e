"""Per-layer tracing from outside the program.

With `--trace 1` the benchmark wraps the public functions of the layers
it measures (module attributes are replaced for the process's lifetime;
no program file changes), tags each operation's Spark jobs with a job
group, and after the operation reads jobs, stages and task metrics from
Spark's in-process status store (the UI stays disabled). py4j round
trips are counted by wrapping the gateway connection's `send_command`.

With `--trace 0` the workloads get `NullTracer`, which does nothing, so
the end-to-end figures carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import time
from collections import defaultdict

from registry import ENTRIES

SPARK_METRICS = ("spark.jobs", "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
                 "spark.gc_s", "spark.shuffle_bytes", "spark.spill_bytes")
# Every per-layer metric the benchmark can report, with its unit.
LAYER_UNITS = {
    "rest.fetch_s": "s", "rest.requests": "count", "rest.refused": "count",
    "ingest.run_s": "s", "ingest.commit_s": "s", "ingest.missed_games": "count",
    "ingest.sink_files": "count", "ingest.sink_bytes_per_game": "B",
    "status.log_s": "s", "status.events": "count",
    **{f"visual.{v}_s": "s" for v in ("card", "line", "pivot", "donut", "bucket", "openings")},
    "visual.rows_read": "count",
    **{f"build_s.{e}": "s" for e in ENTRIES},
    **{f"run_s.{e}": "s" for e in ENTRIES},
    **{f"py4j.{e}": "count" for e in ENTRIES},
    "spark.jobs": "count", "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B", "trace.round_s": "s", "trace.round_cpu_s": "s",
}


class NullTracer:
    @contextlib.contextmanager
    def scope(self, name: str):
        yield {}

    @contextlib.contextmanager
    def py4j_window(self):
        yield [0]

    def add(self, name: str, value: float) -> None:
        pass

    def state(self, name: str, value: float) -> None:
        pass

    def record_sink(self, path: str, games: int) -> None:
        pass


class Tracer(NullTracer):
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.totals: dict[str, float] = defaultdict(float)  # reported per round
        self.last: dict[str, float] = {}
        self._ids = itertools.count()
        self._py4j_calls = 0
        self._install()

    # -- wrappers around the program's public functions ----------------------
    def _timed(self, owner, attr: str, metric: str, count: str | None = None) -> None:
        fn = getattr(owner, attr)
        totals = self.totals

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                totals[metric] += time.perf_counter() - t0
                if count:
                    totals[count] += 1

        setattr(owner, attr, wrapper)

    def _install(self) -> None:
        from py4j import clientserver, java_gateway

        from chesscom_etl_tableau_spark import cli
        from chesscom_etl_tableau_spark.plans import ingest, status

        # cli imported these names directly, so wrap them where cli looks
        self._timed(cli, "fetch_archive_lists", "rest.fetch_s")
        self._timed(cli, "fetch_archives", "rest.fetch_s")
        self._timed(cli, "ingest_archives", "ingest.run_s")
        self._timed(ingest, "commit_append", "ingest.commit_s")
        self._timed(status.StatusLogger, "log", "status.log_s", count="status.events")

        tracer = self
        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            send = cls.send_command

            def counted(conn, command, *a, _send=send, **k):
                tracer._py4j_calls += 1
                return _send(conn, command, *a, **k)

            cls.send_command = counted

    @contextlib.contextmanager
    def py4j_window(self):
        """Counts py4j round trips made inside the block: out[0]."""
        out = [0]
        start = self._py4j_calls
        try:
            yield out
        finally:
            out[0] = self._py4j_calls - start

    # -- Spark status store ------------------------------------------------
    @contextlib.contextmanager
    def scope(self, name: str):
        """Tag the block's Spark jobs; afterwards `out` holds their stage
        metrics and the run totals include them."""
        group = f"perfbench-{name}-{next(self._ids)}"
        out: dict[str, float] = {}
        self.sc.setJobGroup(group, name)
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            out.update(self._read_jobs(group))
            for k in SPARK_METRICS:
                self.totals[k] += out[k]

    def _read_jobs(self, group: str) -> dict[str, float]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        m = dict.fromkeys(SPARK_METRICS, 0.0)
        m["rows_read"] = 0.0
        stages = set()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            m["spark.jobs"] += 1
            if info is not None:
                stages.update(info.stageIds)
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # stage never ran (skipped) or evicted
                continue
            m["spark.tasks"] += sd.numCompleteTasks()
            m["spark.executor_run_s"] += sd.executorRunTime() / 1e3
            m["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
            m["spark.gc_s"] += sd.jvmGcTime() / 1e3
            m["spark.shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
            m["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            m["rows_read"] += sd.inputRecords()
        return m

    def add(self, name: str, value: float) -> None:
        self.totals[name] += value

    def state(self, name: str, value: float) -> None:
        self.last[name] = value

    def record_sink(self, path: str, games: int) -> None:
        files = [f for f in os.listdir(path) if f.endswith(".parquet")] if os.path.isdir(path) else []
        size = sum(os.path.getsize(os.path.join(path, f)) for f in files)
        self.last["ingest.sink_files"] = len(files)
        self.last["ingest.sink_bytes_per_game"] = size / games if games else 0.0
