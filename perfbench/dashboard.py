"""The dashboard session of `ingest_daily` and its independent model.

A session reads the `Games` sink, applies `enrich_games` and one slicer
state, and renders the six `plans/visuals.py` visuals, collecting each.
Every visual is compared with `expected_visuals`, a plain-Python model
over the generator's records, with the result and ECO taken from the
values the generator wrote into the PGN.
"""

from __future__ import annotations

import datetime as dt
import time
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

from chessgen import Game

RATINGS = ["1300-1399", "1400-1499", "1500-1599", "1600-1699"]
DATES = ("2024-02-01", "2024-03-15")
# a slicer state: (time_control_buckets, date range, opponent_rating_buckets)
ALL_THREE = (["blitz", "rapid"], DATES, RATINGS)
VISUALS = ("card", "line", "pivot", "donut", "bucket", "openings")


# -- plain-Python model of the visuals --------------------------------------
def _bucket(tc: str | None) -> str:
    if tc is None:
        return "unknown"
    if "/" in tc:
        return "daily"
    try:
        base = int(tc.split("+")[0])
    except ValueError:
        return "unknown"
    return "bullet" if base < 180 else "blitz" if base < 600 else "rapid" if base < 1800 else "classical"


def _round6(num: int, den: int):
    if den == 0:
        return None
    return float(Decimal(num / den).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def fact_rows(games: list[Game]) -> list[dict]:
    """The enriched columns the visuals read, one dict per landed game."""
    rows = []
    for g in games:
        white_is_user = g.white.lower() == g.username.lower()
        opp_rating = g.black_rating if white_is_user else g.white_rating
        lo = None if opp_rating is None else opp_rating // 100 * 100
        rows.append({
            "date": dt.datetime.fromtimestamp(g.end_time, dt.timezone.utc).date(),
            "color": "white" if white_is_user else "black",
            "opponent": g.black if white_is_user else g.white,
            "rating_bucket": "unrated" if lo is None else f"{lo}-{lo + 99}",
            "tc_bucket": _bucket(g.time_control),
            "result": g.result,
            "eco": g.eco,
        })
    return rows


def _outcome(r: dict) -> str:
    if (r["result"], r["color"]) in (("1-0", "white"), ("0-1", "black")):
        return "win"
    if (r["result"], r["color"]) in (("0-1", "white"), ("1-0", "black")):
        return "loss"
    return "draw" if r["result"] == "1/2-1/2" else "other"


def expected_visuals(rows: list[dict], state) -> dict[str, list[tuple]]:
    tcs, dates, ratings = state
    lo, hi = (dt.date.fromisoformat(d) for d in dates) if dates else (None, None)
    rows = [
        r for r in rows
        if (not tcs or r["tc_bucket"] in tcs)
        and (not dates or lo <= r["date"] <= hi)
        and (not ratings or r["rating_bucket"] in ratings)
    ]
    out = Counter(_outcome(r) for r in rows)
    card = [(len(rows), out["win"], out["loss"], out["draw"], _round6(out["win"], len(rows)))]

    per_day: dict[dt.date, list[int]] = {}
    for r in rows:
        d = per_day.setdefault(r["date"], [0, 0])
        d[0] += _outcome(r) == "win"
        d[1] += 1
    line = []
    for day in sorted(per_day):
        win = [per_day[d] for d in per_day if 0 <= (day - d).days <= 11]
        num, den = sum(w[0] for w in win), sum(w[1] for w in win)
        line.append((day, num, den, _round6(num, den)))

    by_opp = Counter(r["opponent"] for r in rows)
    top = {k for k, _ in sorted(by_opp.items(), key=lambda kv: (-kv[1], kv[0]))[:10]}
    wld: dict[str, Counter] = {o: Counter() for o in top}
    for r in rows:
        if r["opponent"] in top:
            wld[r["opponent"]][_outcome(r)] += 1
    pivot = sorted(
        ((o, by_opp[o], c["win"], c["loss"], c["draw"]) for o, c in wld.items()),
        key=lambda t: (-t[3], t[0]),
    )

    donut = sorted(out.items(), key=lambda kv: (-kv[1], kv[0]))

    cells: dict[tuple, list[int]] = {}
    for r in rows:
        c = cells.setdefault((r["tc_bucket"], r["color"]), [0, 0])
        c[0] += 1
        c[1] += _outcome(r) == "win"
    bucket = sorted(
        ((b, col, n, w, _round6(w, n)) for (b, col), (n, w) in cells.items()),
        key=lambda t: (-t[4], t[0], t[1]),
    )

    by_eco = Counter(r["eco"] for r in rows if r["eco"] is not None)
    top_eco = [k for k, _ in sorted(by_eco.items(), key=lambda kv: (-kv[1], kv[0]))[:5]]
    eco_wins = Counter(r["eco"] for r in rows if r["eco"] in top_eco and _outcome(r) == "win")
    openings = sorted(
        ((e, by_eco[e], _round6(eco_wins[e], by_eco[e])) for e in top_eco),
        key=lambda t: (-t[2], t[0]),
    )
    return {"card": card, "line": line, "pivot": pivot, "donut": donut, "bucket": bucket, "openings": openings}


def _same(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    for a, b in zip(got, want):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or abs(x - y) > 1e-6:
                    return False
            elif x != y:
                return False
    return True


def render(spark, sink_path: str, state, tracer) -> dict[str, list[tuple]]:
    """One session: every visual under `state`, collected."""
    from chesscom_etl_tableau_spark.plans import visuals as V

    tcs, dates, ratings = state
    slicers = V.Slicers(
        time_control_buckets=tcs,
        date_start=dates[0] if dates else None,
        date_end=dates[1] if dates else None,
        opponent_rating_buckets=ratings,
    )
    builders = {
        "card": lambda f: V.summary_card(f, slicers=slicers),
        "line": lambda f: V.rolling_winrate_line(f, slicers=slicers),
        "pivot": lambda f: V.top_opponents_pivot(f, slicers=slicers),
        "donut": lambda f: V.result_donut(f, slicers=slicers),
        "bucket": lambda f: V.winrate_by_bucket_color(f, slicers=slicers),
        "openings": lambda f: V.top_openings_bar(f, slicers=slicers),
    }
    got = {}
    fact = V.enrich_games(spark.read.parquet(sink_path))
    for name, build in builders.items():
        with tracer.scope(f"visual.{name}") as jobs:
            t1 = time.perf_counter()
            got[name] = [tuple(r) for r in build(fact).collect()]
            tracer.add(f"visual.{name}_s", time.perf_counter() - t1)
        tracer.add("visual.rows_read", jobs.get("rows_read", 0))
    return got


def compare(got: dict, want: dict) -> list[str]:
    return [f"visual {v} differs from the recomputation" for v in VISUALS if not _same(got[v], want[v])]
