"""Workload `ingest_daily`: the paper's daily cadence, fetch then
dashboard refresh, through `cli.run_pipeline` and `plans/visuals.py`.

One round starts from an empty output directory. Day 0 backfills every
tracked player's monthly archives (in-process transport, default
driver-side fetch, `rename` commit). Day 1 is the 1st of a new month:
games that ended since day 0's run land half in the old, still-open
month and half in a new monthly archive, and archives refused on day 0
must land. After the last day a dashboard session reads the `Games`
sink, applies `enrich_games` and all three slicers, and collects the
six visuals. Each day and the session is one operation.

After each day the benchmark reads the sink, the audit table and the
state file (pyarrow and json, not Spark) and checks them against the
generator:

- the sink's `game_url` set equals every published game, less archives
  whose only download so far was refused, with no URL twice and each
  game under its own player;
- each player's watermark equals the max `end_time` of their landed games;
- the audit holds one row per archive download that succeeded.

A day whose sink misses late games counts as a failed operation, and
the round carries on. A late game is one published after its archive's
first download, so only a re-fetch of that archive lands it: these are
the games the open-month fault loses (`plans/ingest.py`, see README).
Any other missing game is a wrong output, as are the checks above.
Each session's visuals are compared with `dashboard.expected_visuals`
over the generator's records of the games the sink holds.

Set-up starts Spark and generates the archives.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq

from chessgen import ChessWorld, Shape, WorldTransport, month_of
from dashboard import ALL_THREE, compare, expected_visuals, fact_rows, render
from meter import Meter


SHAPES = {
    "full": Shape(players=8, months=4, games_per_month=30, open_games=10, games_per_day=4,
                  days=1, rollover_day=1, refuse_every=32),
    "tiny": Shape(players=4, months=2, games_per_month=6, open_games=3, games_per_day=2,
                  days=1, rollover_day=1, refuse_every=5),
}


def _read(path: str, cols: list[str]) -> list[tuple]:
    """Parquet rows read with pyarrow, apart from Spark."""
    if not os.path.isdir(path):
        return []
    return list(zip(*pq.read_table(path, columns=cols).to_pydict().values()))


class IngestDaily:
    round_s = 30  # nominal wall time of one round on the reference VM

    def __init__(self, size: str):
        self.shape = SHAPES[size]

    def setup(self, spark, seed: int, workdir: str) -> None:
        """Generate the seeded archives; the program sees only these."""
        self.world = ChessWorld(self.shape, seed)
        self.by_url = {g.url: g for g in self.world.games}
        self.workdir = workdir

    def round(self, spark, tracer) -> list[dict]:
        from chesscom_etl_tableau_spark import cli

        out_dir = os.path.join(self.workdir, "out")
        shutil.rmtree(out_dir, ignore_errors=True)
        sink = os.path.join(out_dir, "games")
        transport = WorldTransport(self.world)
        users = self.world.users
        records = []
        downloads = 0
        for day in range(self.shape.days + 1):
            transport.day = day
            before = transport.requests - transport.refusals
            with tracer.scope(f"day{day}"), Meter() as m:
                cli.run_pipeline(spark, users, out_dir, transport=transport, delay_s=0.0)
            # archive downloads that succeeded today (list requests excluded)
            downloads += transport.requests - transport.refusals - before - len(users)
            rec = self._check_day(out_dir, day, downloads, transport)
            landed = rec.pop("landed")
            rec["cpu_s"] = m.cpu
            records.append(rec)
            tracer.record_sink(sink, len(landed))
        records.append(self._session(spark, sink, landed, tracer))
        tracer.add("rest.requests", transport.requests)
        tracer.add("rest.refused", transport.refusals)
        tracer.state("ingest.missed_games", rec["missed"])
        return records

    def _session(self, spark, sink: str, landed: set[str], tracer) -> dict:
        """The dashboard over the sink as the last day left it."""
        with Meter() as m:
            got = render(spark, sink, ALL_THREE, tracer)
        want = expected_visuals(fact_rows([self.by_url[u] for u in landed]), ALL_THREE)
        problems = [f"session: {p}" for p in compare(got, want)]
        return {"session": "all_three", "cpu_s": m.cpu, "failed": False, "problems": problems}

    def _check_day(self, out_dir: str, day: int, downloads: int, transport: WorldTransport) -> dict:
        w = self.world
        rows = _read(os.path.join(out_dir, "games"), ["username", "game_url"])
        urls = {u for _, u in rows}
        expected = w.expected_urls(day)
        problems = []
        if len(rows) != len(urls):
            problems.append(f"{len(rows) - len(urls)} duplicate game_url rows")
        if urls - expected:
            problems.append(f"{len(urls - expected)} game_urls the generator never published")
        if any(url in self.by_url and self.by_url[url].username != user for user, url in rows):
            problems.append("games under the wrong player")
        want: dict[str, int] = {}
        for url in urls & expected:
            g = self.by_url[url]
            want[g.username] = max(want.get(g.username, 0), g.end_time)
        with open(os.path.join(out_dir, "state.json")) as f:
            state = json.load(f)
        got = {u: e["last_end_time"] for u, e in state.items() if e.get("last_end_time")}
        if got != want:
            problems.append("player watermarks differ from the max end_time of their landed games")
        audit = _read(os.path.join(out_dir, "audit"), ["username", "archive_url"])
        if set(audit) != w.served_archives(day):
            problems.append("audit archive set differs from the downloaded archives")
        if len(audit) != downloads:
            problems.append(f"{len(audit)} audit rows for {downloads} archive downloads")
        missed = expected - urls
        late = {u for u in missed if self._late(self.by_url[u], transport)}
        if missed - late:
            problems.append(f"{len(missed - late)} published games missing that were not late")
        return {"day": day, "games": len(urls), "missed": len(missed), "failed": bool(late),
                "problems": [f"day {day}: {p}" for p in problems], "landed": urls & expected}

    @staticmethod
    def _late(g, transport: WorldTransport) -> bool:
        """Published after its archive was first downloaded."""
        first = transport.first_served.get((g.username, month_of(g.end_time)))
        return first is not None and first < g.day
