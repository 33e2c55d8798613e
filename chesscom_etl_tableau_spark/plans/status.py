"""Status-log sink (SURVEY.md §2.1 S7, §2.7 I7).

The reference appends a best-effort telemetry row per pipeline stage to
the StatusLog sheet and swallows logging failures so telemetry can
never break the pipeline (fetch_and_post.py:265-271). Stage names are
kept verbatim from the reference so dashboards port 1:1
(fetch_and_post.py:324,341,349,376,382,386,394,397).
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone

from pyspark.sql import SparkSession
from pyspark.sql.types import StructField, StructType

from chesscom_etl_tableau_spark.schemas import STATUS_LOG_SCHEMA
from chesscom_etl_tableau_spark.util import _append_rows

# STATUS_LOG_SCHEMA's columns, all nullable: one malformed row must not
# cost the run's other rows their write.
_ROW_SCHEMA = StructType([StructField(f.name, f.dataType) for f in STATUS_LOG_SCHEMA.fields])

# The 8 reference stages (SURVEY.md §5).
STAGES = (
    "error_fetch_archives",
    "error_archive_download",
    "archive_no_games",
    "no_new_unique_games",
    "games_appended",
    "error_append_games",
    "archive_processed",
    "error_append_processed",
)


class StatusLogger:
    """Append-only, best-effort log writer over parquet.

    Inside `with StatusLogger(...) as log:` (one pipeline run) `log()`
    only buffers its row; the block's exit writes every buffered row
    as one file, also when the block raises, so a failed run still
    logs. Outside a `with` block each `log()` lands at once. Each row's
    `timestamp_utc` is the time of its `log()` call."""

    def __init__(self, spark: SparkSession, path: str | None, run_id: str | None = None):
        self.spark = spark
        self.path = path
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self._buffer: list[tuple] | None = None

    def __enter__(self) -> StatusLogger:
        self._buffer = []
        return self

    def __exit__(self, *exc) -> None:
        rows, self._buffer = self._buffer, None
        self._write(rows)

    def log(self, stage: str, username: str | None = None, message: str | None = None, http_status: str | None = None) -> None:
        if not self.path:
            return
        row = (self.run_id, username, stage, message, http_status, datetime.now(timezone.utc))
        if self._buffer is None:
            self._write([row])
        else:
            self._buffer.append(row)

    def _write(self, rows: list[tuple]) -> None:
        if not rows:
            return
        try:
            _append_rows(self.spark, rows, _ROW_SCHEMA, self.path)
        except Exception:
            # Best-effort by contract: a telemetry failure must never
            # fail the pipeline (fetch_and_post.py:270-271).
            pass
