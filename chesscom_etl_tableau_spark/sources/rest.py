"""REST archive source with retry/backoff/rate-limit (SURVEY.md §2.1 S1-S3).

The reference fetches `https://api.chess.com/pub/player/{u}/games/
archives` then each monthly archive, with 3 retries, exponential x2
backoff from 2.0s, retry statuses {429,500,502,503,504}, a 30s timeout
and a courtesy delay between requests (fetch_and_post.py:57-87,
319-344). This module re-expresses that as:

- `RetryingFetcher`: transport-agnostic retry/backoff wrapper. The
  transport is injected (a callable url -> (status, body)), so tests
  run hermetically and production can plug urllib/requests.
- `fetch_archive_lists` / `fetch_archives`: driver-side fetch for a
  small user set.
- `distributed_fetch_archives`: the scale path — archive URLs become a
  DataFrame and each *partition* fetches its URLs inside
  `mapInPandas` (Arrow-batched), so 1000 executors fetch in parallel
  while per-task rate limiting keeps any one host polite. Use
  `repartition(n)` on the URL list to set fetch parallelism.

Both paths run one per-URL loop (`_fetch_records`) that emits
(username, archive_url, games_json, error) records, and both parse
them with one `parse_fetched`: `from_json` lands every game of an
archive, with NULL in a field whose value does not fit the schema (a
string `end_time` or rating), so one malformed game cannot fail the
run — the reference likewise keeps a game whose `end_time` does not
parse (fetch_and_post.py:119-129).

Failure isolation (I7): a URL that exhausts retries yields an error
record instead of failing the job; errors land in the status log and
the archive is NOT marked processed, so the next run retries it —
exactly the reference's continue-and-log contract
(fetch_and_post.py:322-325, 339-342).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from chesscom_etl_tableau_spark.schemas import ARCHIVE_SCHEMA
from chesscom_etl_tableau_spark.util import local_frame

RETRY_STATUSES = frozenset({429, 500, 502, 503, 504})
DEFAULT_MAX_RETRIES = 3
DEFAULT_BACKOFF_S = 2.0
DEFAULT_DELAY_S = 1.0

# transport: url -> (http_status, body_text). Exceptions count as retryable.
Transport = Callable[[str], tuple[int, str]]


class FetchError(Exception):
    def __init__(self, url: str, status: int | None, message: str):
        super().__init__(f"{url}: status={status} {message}")
        self.url = url
        self.status = status


def urllib_transport(timeout_s: float = 30.0, user_agent: str = "spark-graft-engine/0.1") -> Transport:
    """Production transport (stdlib only; no extra deps)."""

    def fetch(url: str) -> tuple[int, str]:
        import urllib.error
        import urllib.request

        req = urllib.request.Request(url, headers={"User-Agent": user_agent})
        try:
            with urllib.request.urlopen(req, timeout=timeout_s) as resp:
                return resp.status, resp.read().decode("utf-8")
        except urllib.error.HTTPError as e:  # has a status -> retry decision
            return e.code, ""

    return fetch


@dataclass
class RetryingFetcher:
    """S3: bounded retries with exponential backoff + inter-request delay."""

    transport: Transport
    max_retries: int = DEFAULT_MAX_RETRIES
    backoff_s: float = DEFAULT_BACKOFF_S
    delay_s: float = DEFAULT_DELAY_S
    sleep: Callable[[float], None] = time.sleep  # injectable for tests
    attempts: int = field(default=0, init=False)

    def fetch_json(self, url: str):
        backoff = self.backoff_s
        last_status: int | None = None
        for attempt in range(1, self.max_retries + 1):
            self.attempts += 1
            try:
                status, body = self.transport(url)
            except Exception as e:  # network-level error: retryable
                status, body = None, str(e)
            last_status = status
            if status == 200:
                return json.loads(body)
            if status is not None and status not in RETRY_STATUSES:
                raise FetchError(url, status, "non-retryable")
            if attempt < self.max_retries:
                self.sleep(backoff)
                backoff *= 2.0
        raise FetchError(url, last_status, f"exhausted {self.max_retries} retries")

    def paced(self) -> None:
        """I6 rate limit: courtesy delay between consecutive requests."""
        if self.delay_s > 0:
            self.sleep(self.delay_s)


def archives_list_url(username: str) -> str:
    return f"https://api.chess.com/pub/player/{username}/games/archives"


class ArchiveList(list):
    """(username, archive_url) pairs, plus `failed`: one
    (username, http_status) per user whose archive list could not be
    fetched (status None for a network-level error)."""

    def __init__(self, pairs=(), failed=()):
        super().__init__(pairs)
        self.failed: list[tuple[str, int | None]] = list(failed)


def fetch_archive_lists(fetcher: RetryingFetcher, usernames: list[str]) -> ArchiveList:
    """S1: (username, archive_url) pairs; failed users are skipped and
    reported in `.failed` for the caller to log (I7)."""
    out = ArchiveList()
    for user in usernames:
        try:
            payload = fetcher.fetch_json(archives_list_url(user))
        except FetchError as e:
            out.failed.append((user, e.status))  # user retried next run
            continue
        for url in payload.get("archives", []):
            if url:
                out.append((user, url))
        fetcher.paced()
    return out


_FETCHED_SCHEMA = "username string, archive_url string, games_json string, error string"


def _fetch_records(
    fetcher: RetryingFetcher, user_archives
) -> Iterator[tuple[str, str, str | None, str | None]]:
    """The per-URL loop of both fetch paths: one (username, archive_url,
    games_json, error) record per archive, exactly one of games_json /
    error set; paced after every request, failed or not."""
    for user, url in user_archives:
        try:
            payload = fetcher.fetch_json(url)
            yield user, url, json.dumps(payload.get("games", [])), None
        except FetchError as e:
            yield user, url, None, str(e)
        fetcher.paced()


def fetch_archives(
    spark: SparkSession,
    fetcher: RetryingFetcher,
    user_archives: list[tuple[str, str]],
) -> tuple[DataFrame, list[tuple[str, str, str]]]:
    """S2 driver-side: fetch each archive's games JSON -> archives frame.

    Returns (archives_df, errors) where errors = (user, url, message).
    The fetched records reach the JVM as one Arrow batch (`local_frame`),
    so the frame is a local relation: no job over it starts a Python
    worker, and a filter over it folds into the relation. Suitable for
    small fetch sets; use `distributed_fetch_archives` for wide fan-out.
    """
    records = list(_fetch_records(fetcher, user_archives))
    archives_df, _ = parse_fetched(local_frame(spark, records, _FETCHED_SCHEMA))
    errors = [(user, url, err) for user, url, _, err in records if err is not None]
    return archives_df, errors


def distributed_fetch_archives(
    url_df: DataFrame,
    transport_factory: Callable[[], Transport],
    max_retries: int = DEFAULT_MAX_RETRIES,
    backoff_s: float = DEFAULT_BACKOFF_S,
    delay_s: float = DEFAULT_DELAY_S,
) -> DataFrame:
    """S1/S2 scale path: fetch per partition inside mapInPandas.

    `url_df` has columns (username, archive_url); each task builds its
    own transport (connections are not serializable) and rate-limits
    its own request stream. Output rows carry either the games JSON
    string or an error message — downstream splits on `error IS NULL`
    (I7), parses with `from_json(ARCHIVE_SCHEMA.games)`.
    """
    import pandas as pd

    def fetch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fetcher = RetryingFetcher(
            transport_factory(), max_retries=max_retries, backoff_s=backoff_s, delay_s=delay_s
        )
        for pdf in batches:
            yield pd.DataFrame.from_records(
                list(_fetch_records(fetcher, zip(pdf["username"], pdf["archive_url"]))),
                columns=["username", "archive_url", "games_json", "error"],
            )

    return url_df.mapInPandas(fetch_partition, schema=_FETCHED_SCHEMA)


def parse_fetched(fetched: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split fetch records (`_FETCHED_SCHEMA`) into (archives_df, errors_df)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType

    games_type = ArrayType(ARCHIVE_SCHEMA["games"].dataType.elementType)
    ok = fetched.where(F.col("error").isNull()).select(
        "username",
        "archive_url",
        F.from_json("games_json", games_type).alias("games"),
    )
    errors = fetched.where(F.col("error").isNotNull()).select("username", "archive_url", "error")
    return ok, errors
