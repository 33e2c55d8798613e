"""CEP ordered-pattern matching: batch (applyInPandas) + streaming
(applyInPandasWithState) share one greedy matcher; these tests pin the
matcher semantics, batch/stream parity across microbatches with late
data, candidate expiry, and the same-instant tiebreak."""

from __future__ import annotations

import json as _json

import pytest
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.operators.analytics import (
    _advance_pattern,
    pattern_matches,
)

STEPS = ("signup", "view", "purchase")


def _batch_df(spark, rows):
    # rows: (event_id, user, iso_ts, type)
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")


class TestMatcherSemantics:
    def test_greedy_non_overlapping_and_expiry(self):
        us = lambda s: s * 1_000_000
        seq = [
            (us(0), "signup"),
            (us(10), "view"),
            (us(5000), "purchase"),  # > 3600s budget: candidate expired
            (us(6000), "signup"),
            (us(6010), "view"),
            (us(6020), "purchase"),  # completes
            (us(6030), "signup"),    # starts the NEXT candidate only
        ]
        matches, state = _advance_pattern(seq, STEPS, us(3600), None)
        assert matches == [(us(6000), us(6020))]
        assert state == (1, us(6030))

    def test_expiring_event_can_start_step_zero(self):
        us = lambda s: s * 1_000_000
        seq = [(us(0), "signup"), (us(5000), "signup"), (us(5010), "view"), (us(5020), "purchase")]
        matches, _ = _advance_pattern(seq, STEPS, us(3600), None)
        assert matches == [(us(5000), us(5020))]

    def test_state_carries_across_calls(self):
        us = lambda s: s * 1_000_000
        m1, st = _advance_pattern([(us(0), "signup")], STEPS, us(3600), None)
        m2, st = _advance_pattern([(us(1), "view"), (us(2), "purchase")], STEPS, us(3600), st)
        assert m1 == [] and m2 == [(us(0), us(2))]


class TestBatchPatternMatches:
    def test_matches_and_tiebreak(self, spark):
        rows = [
            # user 1: one complete match; same-instant signup/view pair
            # ordered by event_id (1 then 2)
            (2, 1, "2024-01-01T10:00:00", "view"),
            (1, 1, "2024-01-01T10:00:00", "signup"),
            (3, 1, "2024-01-01T10:05:00", "purchase"),
            # user 2: never completes (no purchase inside the budget)
            (4, 2, "2024-01-01T10:00:00", "signup"),
            (5, 2, "2024-01-01T10:01:00", "view"),
            (6, 2, "2024-01-01T12:00:00", "purchase"),
        ]
        out = pattern_matches(_batch_df(spark, rows), STEPS, within_minutes=60)
        got = {r["user_id"]: r for r in out.collect()}
        assert set(got) == {1}
        assert got[1]["match_start"].isoformat() == "2024-01-01T10:00:00"
        assert got[1]["match_end"].isoformat() == "2024-01-01T10:05:00"
        assert got[1]["duration_s"] == 300.0

    def test_rejects_short_pattern(self, spark):
        with pytest.raises(ValueError):
            pattern_matches(_batch_df(spark, []), ("one",))


class TestStreamingParity:
    pytestmark = pytest.mark.slow  # heavy suite, default-profile excluded (r16)
    OUT = (
        "user_id long, match_start timestamp, match_end timestamp, "
        "duration_s double"
    )

    def _write(self, path, rows):
        path.write_text(
            "\n".join(
                _json.dumps({"event_id": i, "user_id": u, "ts": ts, "event_type": et})
                for i, u, ts, et in rows
            )
            + "\n"
        )

    def _run(self, spark, drop, out, ckpt):
        from chesscom_etl_tableau_spark.streaming.pattern_stream import (
            streaming_pattern_matches,
        )

        stream = spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, event_type string"
        ).json(str(drop))
        q = (
            streaming_pattern_matches(
                stream, STEPS, within_minutes=60, watermark_delay="10 minutes"
            )
            .writeStream.outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", str(out))
            .start()
        )
        q.awaitTermination()

    def test_multibatch_with_late_event_matches_batch(self, spark, tmp_path):
        drop, out, ckpt = tmp_path / "d", tmp_path / "o", tmp_path / "c"
        drop.mkdir()
        b1 = [
            (1, 7, "2024-01-01T10:00:00", "signup"),
            (3, 7, "2024-01-01T10:08:00", "purchase"),  # out of order: view missing yet
            (4, 8, "2024-01-01T10:00:00", "signup"),
        ]
        # the view arrives LATE but inside the watermark — event-time
        # order must slot it between signup and purchase
        b2 = [
            (2, 7, "2024-01-01T10:04:00", "view"),
            (5, 8, "2024-01-01T10:20:00", "view"),
        ]
        # advance the watermark far enough to seal everything
        b3 = [
            (6, 8, "2024-01-01T10:30:00", "purchase"),
            (7, 9, "2024-01-01T13:00:00", "signup"),
        ]
        self._write(drop / "b1.json", b1)
        self._run(spark, drop, out, ckpt)
        self._write(drop / "b2.json", b2)
        self._run(spark, drop, out, ckpt)
        self._write(drop / "b3.json", b3)
        self._run(spark, drop, out, ckpt)

        stream_rows = {
            (r["user_id"], r["match_start"].isoformat(), r["match_end"].isoformat())
            for r in spark.read.schema(self.OUT).parquet(str(out)).collect()
        }
        batch_rows = {
            (r["user_id"], r["match_start"].isoformat(), r["match_end"].isoformat())
            for r in pattern_matches(
                _batch_df(spark, b1 + b2 + b3), STEPS, within_minutes=60
            ).collect()
        }
        assert batch_rows == {
            (7, "2024-01-01T10:00:00", "2024-01-01T10:08:00"),
            (8, "2024-01-01T10:00:00", "2024-01-01T10:30:00"),
        }
        assert stream_rows == batch_rows

    def test_partial_candidate_state_expires(self, spark, tmp_path):
        drop, out, ckpt = tmp_path / "d2", tmp_path / "o2", tmp_path / "c2"
        drop.mkdir()
        # a lone signup, then silence; a far-future event on another
        # user advances the watermark past the candidate's budget
        self._write(drop / "b1.json", [(1, 7, "2024-01-01T10:00:00", "signup")])
        self._run(spark, drop, out, ckpt)
        self._write(drop / "b2.json", [(2, 9, "2024-01-01T14:00:00", "signup")])
        self._run(spark, drop, out, ckpt)
        # one more batch: timeouts fire, nothing crashes, no rows emit
        self._write(drop / "b3.json", [(3, 9, "2024-01-01T16:00:00", "view")])
        self._run(spark, drop, out, ckpt)
        assert spark.read.schema(self.OUT).parquet(str(out)).count() == 0


class TestMatcherProperties:
    def test_split_invariance_and_spark_parity(self, spark):
        # split invariance — _advance_pattern(state-carried over any
        # split) == one pass — is exactly what lets the streaming twin
        # process watermark-sealed prefixes incrementally; check it
        # exhaustively over random sequences, then check the Spark
        # batch op agrees with the one-pass reference.
        import random

        rng = random.Random(42)
        types = ["signup", "view", "purchase", "other"]
        for trial in range(25):
            n = rng.randint(0, 18)
            seq = []
            t = 0
            for _ in range(n):
                t += rng.randint(1, 2000) * 1_000_000
                seq.append((t, rng.choice(types)))
            within = 3600 * 1_000_000
            one_pass, st1 = _advance_pattern(seq, STEPS, within, None)
            cut = rng.randint(0, n)
            m_a, st = _advance_pattern(seq[:cut], STEPS, within, None)
            m_b, st2 = _advance_pattern(seq[cut:], STEPS, within, st)
            assert m_a + m_b == one_pass and st2 == st1, (trial, seq, cut)

        # Spark parity on the last generated sequence
        df = spark.createDataFrame(
            [(i, 1, us, ty) for i, (us, ty) in enumerate(seq)],
            "event_id long, user_id long, us long, event_type string",
        ).select(
            "event_id", "user_id", F.timestamp_micros("us").alias("ts"), "event_type"
        )
        got = sorted(
            (r["match_start"], r["match_end"])
            for r in pattern_matches(df, STEPS, within_minutes=60).collect()
        )
        import datetime as dt

        utc = dt.timezone.utc
        expect = sorted(
            (
                dt.datetime.fromtimestamp(s / 1e6, tz=utc).replace(tzinfo=None),
                dt.datetime.fromtimestamp(e / 1e6, tz=utc).replace(tzinfo=None),
            )
            for s, e in one_pass
        )
        assert got == expect


class TestRealDataStreamParity:
    pytestmark = pytest.mark.slow  # heavy suite, default-profile excluded (r16)
    """Batch/stream parity contract on the REAL events table (verdict-r6
    ask #6, the w11 twin pattern): the sf0.001 corpus arrives as three
    arrival-ordered microbatches (event_id % 3 — event-time arrives out
    of order across batches, the adversarial case), the watermark delay
    exceeds the corpus's time span so nothing is dropped, and a far-
    future sentinel seals every candidate. The drained stream must
    equal the batch operator row-for-row — the registry's
    a28_pattern_cep parameters exactly (24h budget)."""

    def test_sf0001_stream_equals_batch(self, spark, tmp_path):
        from chesscom_etl_tableau_spark.streaming.pattern_stream import (
            streaming_pattern_matches,
        )
        from chesscom_etl_tableau_spark.sources.tables import load_table

        cols = ["event_id", "user_id", "ts", "event_type"]
        ev = load_table(spark, "/root/testdata/sf0.001", "events").select(cols)
        sentinel = spark.createDataFrame(
            [(10**9, -1, "2099-01-01T00:00:00", "signup")],
            "event_id long, user_id long, ts string, event_type string",
        ).select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")

        drop, out, ckpt = tmp_path / "d", tmp_path / "o", tmp_path / "c"
        drop.mkdir()
        slices = [ev.where(F.col("event_id") % 3 == m) for m in range(3)] + [sentinel]
        for i, s in enumerate(slices):
            s.coalesce(1).write.parquet(str(drop / f"b{i}"))
            stream = spark.readStream.schema(
                "event_id long, user_id long, ts timestamp, event_type string"
            ).option("pathGlobFilter", "*.parquet").parquet(str(drop / "b*"))
            q = (
                streaming_pattern_matches(
                    stream,
                    ("signup", "view", "purchase"),
                    within_minutes=24 * 60,
                    watermark_delay="60 days",
                )
                .writeStream.outputMode("append")
                .option("checkpointLocation", str(ckpt))
                .trigger(availableNow=True)
                .format("parquet")
                .option("path", str(out))
                .start()
            )
            q.awaitTermination()

        out_schema = (
            "user_id long, match_start timestamp, match_end timestamp, "
            "duration_s double"
        )
        stream_rows = sorted(
            map(tuple, spark.read.schema(out_schema).parquet(str(out)).collect())
        )
        batch_rows = sorted(
            map(
                tuple,
                pattern_matches(
                    ev.unionByName(sentinel),
                    ("signup", "view", "purchase"),
                    within_minutes=24 * 60,
                ).collect(),
            )
        )
        assert len(batch_rows) == 12  # the registry probe's sf0.001 count
        assert stream_rows == batch_rows


class TestDuckDBOracleParity:
    """De-risks the r7 registry slot: the greedy matcher re-expressed
    as a DuckDB recursive CTE (one iteration = every user advances one
    event) must reproduce the Spark op exactly on the real testdata."""

    ORACLE = """
        WITH RECURSIVE ev AS (
            SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY epoch_ns(ts) // 1000, event_id) AS rn
            FROM read_parquet('{path}')
        ),
        m AS (
            SELECT user_id, CAST(0 AS BIGINT) AS rn, 0 AS step_idx,
                   CAST(0 AS BIGINT) AS first_us,
                   CAST(NULL AS BIGINT) AS m_start, CAST(NULL AS BIGINT) AS m_end
            FROM (SELECT DISTINCT user_id FROM ev)
            UNION ALL
            SELECT e.user_id, e.rn,
                   CASE WHEN s.new_step = 3 THEN 0 ELSE s.new_step END,
                   CASE WHEN s.new_step = 3 THEN 0 ELSE s.new_first END,
                   CASE WHEN s.new_step = 3 THEN s.new_first END,
                   CASE WHEN s.new_step = 3 THEN e.us END
            FROM m
            JOIN ev e ON e.user_id = m.user_id AND e.rn = m.rn + 1
            CROSS JOIN LATERAL (
                SELECT new_step, new_first FROM (
                    SELECT CASE WHEN matched THEN eff_step + 1 ELSE eff_step END AS new_step,
                           CASE WHEN matched AND eff_step = 0 THEN e.us ELSE eff_first END AS new_first
                    FROM (
                        SELECT eff_step, eff_first,
                               e.event_type = CASE eff_step
                                   WHEN 0 THEN 'signup' WHEN 1 THEN 'view'
                                   WHEN 2 THEN 'purchase' END AS matched
                        FROM (
                            SELECT CASE WHEN m.step_idx > 0 AND e.us - m.first_us > {w}
                                        THEN 0 ELSE m.step_idx END AS eff_step,
                                   CASE WHEN m.step_idx > 0 AND e.us - m.first_us > {w}
                                        THEN 0 ELSE m.first_us END AS eff_first
                        )
                    )
                )
            ) s
        )
        SELECT user_id, m_start, m_end FROM m WHERE m_start IS NOT NULL
        ORDER BY user_id, m_start
    """

    def test_sf001_parity(self, spark):
        import duckdb

        from chesscom_etl_tableau_spark.sources.tables import load_table

        path = "/root/testdata/sf0.01/events.parquet"
        within_min = 60
        got = sorted(
            (
                r["user_id"],
                int(r["match_start"].timestamp() * 1_000_000),
                int(r["match_end"].timestamp() * 1_000_000),
            )
            for r in pattern_matches(
                load_table(spark, "/root/testdata/sf0.01", "events"),
                STEPS,
                within_minutes=within_min,
            ).collect()
        )
        oracle = sorted(
            (int(u), int(s), int(e))
            for u, s, e in duckdb.sql(
                self.ORACLE.format(path=path, w=within_min * 60 * 1_000_000)
            ).fetchall()
        )
        assert len(got) > 0
        assert got == oracle


class TestNullAndNanKeyRuns:
    """A NULL-key run next to a NaN-key run in one sorted partition is
    two runs, as Spark groups the keys (pandas sees NaN for both)."""

    @pytest.fixture
    def one_partition(self, spark):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        yield
        spark.conf.set("spark.sql.shuffle.partitions", old)

    def test_pattern_does_not_span_null_and_nan_keys(self, spark, one_partition):
        events = spark.createDataFrame(
            [
                (1, None, "2024-01-01 00:00:00", "signup"),
                (2, None, "2024-01-01 00:01:00", "view"),
                (3, float("nan"), "2024-01-01 00:02:00", "purchase"),
            ],
            "event_id long, user_id double, ts string, event_type string",
        ).select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")
        assert pattern_matches(events, STEPS).count() == 0

    def test_cusum_resets_between_null_and_nan_keys(self, spark, one_partition):
        from chesscom_etl_tableau_spark.operators.analytics import cusum_changepoints

        series = spark.createDataFrame(
            [
                (1, None, "2024-01-01 00:00:00", 1.0),
                (2, None, "2024-01-01 00:01:00", 1.0),
                (3, float("nan"), "2024-01-01 00:02:00", 1.0),
            ],
            "event_id long, user_id double, ts string, value double",
        ).select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
        # one merged run would reach 3 > 2.5; two runs stay at 2 and 1
        assert cusum_changepoints(series, 0.0, 0.0, 2.5).count() == 0
