"""CLI entry point — the reference's `python fetch_and_post.py "<users>"`
re-expressed over the Spark engine (SURVEY.md §3.1).

Flow (reference step -> here):
  1. arg/env resolution (CLI arg or CHESS_USERNAMES,
     fetch_and_post.py:421-429) -> `parse_usernames` / `main`
  2. session + DDL -> SparkSession factory (schemas are asserted at
     write time by the ingest plan)
  3. state load + I3 unmark of the open month (fetch.yml:93-129)
  4. fetch archive lists, prune already-processed BEFORE any HTTP
     (J2, fetch_and_post.py:331-333)
  5. fetch new archives with retry/backoff (S1-S3)
  6. declarative ingest: explode/flatten/dedup/append + audit + state
     (plans/ingest.py)
  7. status log rows per stage, best-effort (S7/I7), buffered and
     written once when the run ends, failed or not

Run: `python -m chesscom_etl_tableau_spark "user1,user2" /out/dir`
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass

from pyspark.sql import SparkSession

from chesscom_etl_tableau_spark.plans.ingest import (
    ingest_archives,
    load_state,
    unmark_last_archive,
)
from chesscom_etl_tableau_spark.plans.status import StatusLogger
from chesscom_etl_tableau_spark.sources.rest import (
    RetryingFetcher,
    Transport,
    distributed_fetch_archives,
    fetch_archive_lists,
    fetch_archives,
    parse_fetched,
    urllib_transport,
)


def parse_usernames(raw: str | None) -> list[str]:
    """T6: CSV split + trim + drop-empty (fetch_and_post.py:296)."""
    if not raw:
        return []
    return [u.strip() for u in raw.split(",") if u.strip()]


@dataclass
class RunSummary:
    usernames: list[str]
    fetched_archives: int
    appended_games: int
    errors: int


def run_pipeline(
    spark: SparkSession,
    usernames: list[str],
    out_dir: str,
    transport: Transport | None = None,
    delay_s: float = 1.0,
    reprocess_last: bool = True,
    distributed: bool = False,
    transport_factory=None,
    fetch_partitions: int = 8,
    commit_protocol: str = "rename",
) -> RunSummary:
    """One full incremental run for `usernames` into `out_dir`.

    `distributed=True` fans the per-archive fetch out across executor
    tasks via mapInPandas (each task builds its own transport from
    `transport_factory` and rate-limits its own request stream) — the
    path for wide user sets; the archive *list* fetch stays driver-side
    (one request per user).

    `commit_protocol="manifest"` publishes the games sink via the
    object-store-safe manifest swap (read it back with
    `plans.ingest.read_manifest_sink`); default "rename" is the
    POSIX/HDFS write-audit-publish commit.
    """
    sink = os.path.join(out_dir, "games")
    audit = os.path.join(out_dir, "audit")
    status_path = os.path.join(out_dir, "status")
    state_path = os.path.join(out_dir, "state.json")

    fetcher = RetryingFetcher(transport or urllib_transport(), delay_s=delay_s)

    # One status write per run, in the block's exit: a failed run still logs.
    with StatusLogger(spark, status_path) as log:
        state = load_state(state_path)
        if reprocess_last:
            state = unmark_last_archive(state)
        processed = {
            (user, url)
            for user, entry in state.items()
            for url in entry.get("processed_archives", [])
        }

        pairs = fetch_archive_lists(fetcher, usernames)
        for user, status in pairs.failed:
            log.log(
                "error_fetch_archives",
                username=user,
                http_status=None if status is None else str(status),
            )
        fresh = [(u, a) for u, a in pairs if (u, a) not in processed]

        if distributed:
            factory = transport_factory or (lambda: urllib_transport())
            url_df = (
                spark.createDataFrame(fresh, "username string, archive_url string")
                .repartition(fetch_partitions)
                if fresh
                else spark.createDataFrame([], "username string, archive_url string")
            )
            fetched = distributed_fetch_archives(url_df, factory, delay_s=delay_s)
            archives_df, errors_df = parse_fetched(fetched)
            errors = [
                (r["username"], r["archive_url"], r["error"]) for r in errors_df.collect()
            ]
        else:
            archives_df, errors = fetch_archives(spark, fetcher, fresh)
        for user, url, msg in errors:
            log.log("error_archive_download", username=user, message=f"{url}: {msg}")

        result = ingest_archives(
            spark,
            archives_df,
            sink_path=sink,
            audit_path=audit,
            state_path=state_path,
            # The fetch list is already state-pruned; ingest re-prunes
            # idempotently from the state file it owns.
            reprocess_last=reprocess_last,
            commit_protocol=commit_protocol,
        )
        if result.appended_games:
            log.log("games_appended", message=str(result.appended_games))
        else:
            log.log("no_new_unique_games")

    return RunSummary(
        usernames=usernames,
        fetched_archives=len(fresh),
        appended_games=result.appended_games,
        errors=len(pairs.failed) + len(errors),
    )


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    raw_users = argv[0] if argv else os.environ.get("CHESS_USERNAMES", "")
    usernames = parse_usernames(raw_users)
    if not usernames:
        print("usage: python -m chesscom_etl_tableau_spark '<user1,user2>' [out_dir]", file=sys.stderr)
        return 2
    out_dir = argv[1] if len(argv) > 1 else os.environ.get("CHESS_OUT_DIR", "./chess_out")

    from chesscom_etl_tableau_spark.session import get_spark

    spark = get_spark("chess-ingest")
    summary = run_pipeline(spark, usernames, out_dir)
    print(
        f"users={len(summary.usernames)} archives={summary.fetched_archives} "
        f"appended={summary.appended_games} errors={summary.errors}"
    )
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
