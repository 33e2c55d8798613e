"""Seeded synthetic Chess.com archives and an in-process transport.

The generator decides everything the program will be served: players,
monthly archives, the games in each archive (with the PGN text), the
day on which each game becomes visible, which downloads are refused and
which game URLs are served twice. It also keeps, per game, the facts it
wrote into the PGN (result, ECO), so the benchmark can check the
program's outputs without running the program's own code.

The *shape* of the inputs (player names, months, games per archive,
refusals, duplicates, the month rollover) depends only on the size
settings; the seed changes the game contents (players' colours,
opponents, ratings, time controls, results, openings, timestamps, move
text and game ids).
"""

from __future__ import annotations

import calendar
import datetime as dt
import json
import random
from dataclasses import dataclass, field

TIME_CONTROLS = (  # (time_control, weight)
    ("60", 8), ("120+1", 4), ("180", 10), ("180+2", 10), ("300", 14),
    ("300+5", 6), ("600", 18), ("600+5", 6), ("900+10", 8), ("1800", 6),
    ("3600+30", 2), ("1/86400", 6), ("1/259200", 2),
)
ECO_CODES = tuple(f"{c}{n:02d}" for c in "ABCDE" for n in range(0, 100, 7))
SAN = ("e4", "e5", "d4", "d5", "Nf3", "Nc6", "c4", "c5", "Bb5", "a6", "Bc4",
       "Nf6", "O-O", "Be7", "Re1", "b5", "h3", "g6", "Qd2", "Kh8", "exd5",
       "Nxe4", "Bxf7+", "Qxd8", "Rad1", "f4", "g5", "O-O-O", "Kb1", "h5")
OPPONENTS = 40  # per player, drawn with Zipf-like weights
WIN_REASONS = ("checkmated", "resigned", "timeout", "abandoned")
DRAW_REASONS = ("agreed", "repetition", "stalemate", "insufficient", "timevsinsufficient")


@dataclass(frozen=True)
class Shape:
    """Seed-independent make-up of the ingest inputs."""

    players: int
    months: int  # archives per player at day 0; the last one is still open
    games_per_month: int  # games in each closed month
    open_games: int  # games already in the open month at day 0
    games_per_day: int  # games each player ends between two daily runs
    days: int  # daily runs after the day-0 backfill
    rollover_day: int  # first day whose games go to a new monthly archive
    refuse_every: int  # every n-th archive is refused (404) on its first day


@dataclass
class Game:
    url: str
    username: str  # tracked player whose archive serves the game
    day: int  # first benchmark day on which the game is published
    end_time: int
    time_control: str
    white: str
    black: str
    white_rating: int | None
    black_rating: int | None
    result: str  # the result the PGN (or the seat fallback) carries
    eco: str | None
    doc: dict = field(repr=False)


def archive_url(user: str, month: tuple[int, int]) -> str:
    return f"https://api.chess.com/pub/player/{user}/games/{month[0]}/{month[1]:02d}"


def list_url(user: str) -> str:
    return f"https://api.chess.com/pub/player/{user}/games/archives"


def month_of(end_time: int) -> tuple[int, int]:
    stamp = dt.datetime.fromtimestamp(end_time, dt.timezone.utc)
    return stamp.year, stamp.month


def _add_months(month: tuple[int, int], n: int) -> tuple[int, int]:
    k = month[0] * 12 + month[1] - 1 + n
    return k // 12, k % 12 + 1


class ChessWorld:
    """All archives of all tracked players over the benchmark's days."""

    def __init__(self, shape: Shape, seed: int):
        self.shape = shape
        self.seed = seed
        s = shape
        # Each day's run happens at noon UTC. Day `rollover_day` is the
        # 1st of a month; day 0 lies in the month before it (the open
        # month at backfill time).
        first_new = dt.date(2024, 4, 1)
        self.dates = [first_new + dt.timedelta(days=d - s.rollover_day) for d in range(s.days + 1)]
        open_month = (self.dates[0].year, self.dates[0].month)
        if s.rollover_day <= 0 or s.rollover_day > s.days or self.dates[0].day <= 1:
            raise ValueError("shape must start mid-month and roll over on a later day")
        self.months = [_add_months(open_month, i - s.months + 1) for i in range(s.months)]
        self.new_month = _add_months(open_month, 1)
        self.users = [f"player{i:03d}" for i in range(s.players)]
        self.games: list[Game] = []
        # archive key -> ordered list of game docs in the served archive
        self._archive_games: dict[tuple[str, tuple[int, int]], list[Game]] = {}
        self._refused: set[tuple[str, tuple[int, int], int]] = set()
        self._next_id = 0
        for pi, user in enumerate(self.users):
            self._build_player(pi, user)

    # -- generation ---------------------------------------------------------
    def _build_player(self, pi: int, user: str) -> None:
        s = self.shape
        rng = random.Random(f"{self.seed}:{user}")
        base = rng.randint(1000, 2000)
        pool = [f"opp{pi:03d}_{j:02d}" for j in range(OPPONENTS)]
        weights = [1.0 / (j + 1) ** 0.8 for j in range(OPPONENTS)]
        ctx = (rng, user, base, pool, weights)
        noon = [calendar.timegm(d.timetuple()) + 43200 for d in self.dates]
        archives: dict[tuple[int, int], list[Game]] = {m: [] for m in self.months + [self.new_month]}
        for mi, month in enumerate(self.months):
            lo = calendar.timegm(dt.date(month[0], month[1], 1).timetuple())
            if mi == s.months - 1:  # the open month, up to the day-0 run
                stamps = sorted(rng.randrange(lo, noon[0]) for _ in range(s.open_games))
            else:
                hi = lo + 86400 * calendar.monthrange(*month)[1]
                stamps = sorted(rng.randrange(lo, hi) for _ in range(s.games_per_month))
            archives[month] += [self._game(ctx, 0, t) for t in stamps]
        # Later days: games that ended since the previous run (noon to
        # noon), half before and half after midnight, so the rollover day
        # adds late games to the old month and opens the new one.
        for d in range(1, s.days + 1):
            for i in range(s.games_per_day):
                midnight = noon[d] - 43200
                t = rng.randrange(noon[d - 1], midnight) if i % 2 == 0 else rng.randrange(midnight, noon[d])
                archives[month_of(t)].append(self._game(ctx, d, t))
        for mi, month in enumerate(self.months):
            served = archives[month]
            # a game listed twice inside one archive
            if (pi + mi) % 3 == 0 and len(served) > 1:
                served.insert(len(served) // 2, served[1])
            # the previous month's last game listed again in this archive
            if mi and (pi + mi) % 4 == 1 and archives[self.months[mi - 1]]:
                served.insert(0, archives[self.months[mi - 1]][-1])
            if (pi * s.months + mi) % s.refuse_every == s.refuse_every - 1:
                self._refused.add((user, month, 0))
        for month, served in archives.items():
            self._archive_games[(user, month)] = served
        if pi % 7 == 3:
            self._refused.add((user, self.new_month, s.rollover_day))

    def _game(self, ctx, day: int, end_time: int) -> Game:
        rng, user, base, pool, weights = ctx
        self._next_id += 1
        gid = (self.seed % 100_000) * 10_000_000 + self._next_id
        url = f"https://www.chess.com/game/live/{gid}"
        tc = rng.choices([t for t, _ in TIME_CONTROLS], [w for _, w in TIME_CONTROLS])[0]
        opp = rng.choices(pool, weights)[0]
        # Chess.com usernames are case-insensitive; the seat name may
        # differ in case from the tracked name.
        me = user.capitalize() if rng.random() < 0.3 else user
        my_rating = base + rng.randint(-60, 60)
        opp_rating = None if rng.random() < 0.02 else my_rating + rng.randint(-350, 350)
        white_side = rng.random() < 0.5
        white, black = (me, opp) if white_side else (opp, me)
        wr, br = (my_rating, opp_rating) if white_side else (opp_rating, my_rating)
        r = rng.random()
        outcome = "1-0" if r < 0.46 else "0-1" if r < 0.92 else "1/2-1/2"
        if outcome == "1-0":
            w_res, b_res = "win", rng.choice(WIN_REASONS)
        elif outcome == "0-1":
            w_res, b_res = rng.choice(WIN_REASONS), "win"
        else:
            w_res = b_res = rng.choice(DRAW_REASONS)
        eco = rng.choice(ECO_CODES) if rng.random() < 0.9 else None
        form = rng.random()  # 90% header+token, 7% token only, 3% no result
        moves = []
        for n in range(1, rng.randint(18, 60)):
            moves.append(f"{n}. {rng.choice(SAN)} {rng.choice(SAN)}")
        headers = [
            '[Event "Live Chess"]',
            '[Site "Chess.com"]',
            f'[Date "{dt.datetime.fromtimestamp(end_time, dt.timezone.utc):%Y.%m.%d}"]',
            f'[White "{white}"]',
            f'[Black "{black}"]',
        ]
        if form < 0.90:
            headers.append(f'[Result "{outcome}"]')
        if eco:
            headers.append(f'[ECO "{eco}"]')
        headers.append(f'[TimeControl "{tc}"]')
        movetext = " ".join(moves) + (f" {outcome}" if form < 0.97 else "")
        result = outcome if form < 0.97 else f"{w_res} / {b_res}"
        white_seat = {"username": white, "result": w_res}
        black_seat = {"username": black, "result": b_res}
        if wr is not None:
            white_seat["rating"] = wr
        if br is not None:
            black_seat["rating"] = br
        doc = {
            "url": url,
            "pgn": "\n".join(headers) + "\n\n" + movetext,
            "time_control": tc,
            "end_time": end_time,
            "rated": True,
            "white": white_seat,
            "black": black_seat,
        }
        g = Game(url, user, day, end_time, tc, white, black, wr, br, result, eco, doc)
        self.games.append(g)
        return g

    # -- what exists on a given day -----------------------------------------
    def months_on(self, day: int) -> list[tuple[int, int]]:
        return self.months + ([self.new_month] if day >= self.shape.rollover_day else [])

    def refused(self, user: str, month: tuple[int, int], day: int) -> bool:
        return (user, month, day) in self._refused

    def archive_games(self, user: str, month: tuple[int, int], day: int) -> list[Game]:
        return [g for g in self._archive_games[(user, month)] if g.day <= day]

    def _downloadable(self, day: int):
        """(user, month) archives downloadable by `day`. An archive refused
        on its first day lands on the next run."""
        for user in self.users:
            for month in self.months_on(day):
                first = self.shape.rollover_day if month == self.new_month else 0
                if not (day == first and self.refused(user, month, day)):
                    yield user, month

    def expected_urls(self, day: int) -> set[str]:
        """Game URLs a correct incremental run holds after `day`."""
        return {g.url for user, month in self._downloadable(day) for g in self.archive_games(user, month, day)}

    def served_archives(self, day: int) -> set[tuple[str, str]]:
        return {(user, archive_url(user, month)) for user, month in self._downloadable(day)}


class WorldTransport:
    """In-process `Transport` (url -> (status, body)) serving `world` as
    of `day`. Counts requests and refusals, and keeps the day on which
    each (user, month) archive was first served."""

    def __init__(self, world: ChessWorld):
        self.world = world
        self.day = 0
        self.requests = 0
        self.refusals = 0
        self.first_served: dict[tuple[str, tuple[int, int]], int] = {}
        self._by_url = {
            archive_url(u, m): (u, m) for u in world.users for m in world.months + [world.new_month]
        }
        self._lists = {list_url(u): u for u in world.users}

    def __call__(self, url: str) -> tuple[int, str]:
        self.requests += 1
        w, day = self.world, self.day
        if url in self._lists:
            user = self._lists[url]
            return 200, json.dumps({"archives": [archive_url(user, m) for m in w.months_on(day)]})
        key = self._by_url.get(url)
        if key is None or key[1] not in w.months_on(day):
            return 404, ""
        user, month = key
        if w.refused(user, month, day):
            self.refusals += 1
            return 404, ""
        self.first_served.setdefault(key, day)
        return 200, json.dumps({"games": [g.doc for g in w.archive_games(user, month, day)]})
