"""Semantics guards for the round-5 sixth-session operators:
share-of-total, period growth, autocorrelation, MAD outliers, PMI
collocations, temperature mixture, neighbor Jaccard.

Each test pins a hand-computable case — the oracle harness
(scripts/check_oracle.py) separately proves engine parity at scale.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.operators.analytics import (
    autocorrelation,
    mad_outliers,
    period_growth,
    share_of_total,
)
from chesscom_etl_tableau_spark.operators.components import neighbor_jaccard
from chesscom_etl_tableau_spark.operators.text import pmi_collocations
from chesscom_etl_tableau_spark.operators.training import temperature_mixture


class TestShareOfTotal:
    def test_shares_and_ranks(self, spark):
        df = spark.createDataFrame(
            [("a", 10.0), ("a", 20.0), ("b", 60.0), ("c", 10.0)],
            "g string, v double",
        )
        rows = {r["g"]: r for r in share_of_total(df, "g", "v").collect()}
        assert rows["a"]["total"] == 30.0 and rows["a"]["share"] == 0.3
        assert rows["b"]["share"] == 0.6 and rows["b"]["rank"] == 1
        assert rows["c"]["rank"] == 3
        assert abs(sum(r["share"] for r in rows.values()) - 1.0) < 1e-9

    def test_rank_tie_broken_by_group(self, spark):
        df = spark.createDataFrame(
            [("b", 5.0), ("a", 5.0)], "g string, v double"
        )
        rows = {r["g"]: r["rank"] for r in share_of_total(df, "g", "v").collect()}
        assert rows == {"a": 1, "b": 2}


class TestPeriodGrowth:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            [(dt.date.fromisoformat(d), v) for d, v in rows],
            "d date, v double",
        )

    def test_mom_yoy_and_gap(self, spark):
        df = self._df(
            spark,
            [
                ("2023-01-10", 100.0),
                ("2023-02-05", 150.0),
                # March..Dec 2023 absent, Jan 2024 present:
                ("2024-01-20", 250.0),
            ],
        )
        out = {r["month"].isoformat(): r for r in period_growth(df, "d", "v").collect()}
        assert out["2023-01-01"]["mom_growth"] is None  # no prior month
        assert out["2023-02-01"]["mom_growth"] == 0.5
        # Jan-2024's previous OBSERVED month is Feb-2023 — a gap, so NULL
        assert out["2024-01-01"]["mom_growth"] is None
        assert out["2024-01-01"]["yoy_growth"] == 1.5  # vs Jan-2023
        assert out["2023-02-01"]["yoy_growth"] is None

    def test_multiple_rows_same_month_sum(self, spark):
        df = self._df(spark, [("2023-01-01", 1.0), ("2023-01-31", 2.0)])
        (row,) = period_growth(df, "d", "v").collect()
        assert row["total"] == 3.0


class TestAutocorrelation:
    def _series(self, spark, values):
        base = dt.datetime(2024, 1, 1)
        return spark.createDataFrame(
            [
                ("k", base + dt.timedelta(days=i), float(v))
                for i, v in enumerate(values)
            ],
            "key string, ts timestamp, v double",
        )

    def test_linear_series_lag1_is_one(self, spark):
        df = self._series(spark, range(1, 11))
        rows = {
            r["lag_k"]: r
            for r in autocorrelation(df, "key", "ts", "v", max_lag=2).collect()
        }
        assert rows[1]["n_pairs"] == 9
        assert rows[1]["acf"] == 1.0
        assert rows[2]["acf"] == 1.0

    def test_alternating_series_lag1_negative(self, spark):
        df = self._series(spark, [1, 9, 1, 9, 1, 9, 1, 9])
        rows = {
            r["lag_k"]: r
            for r in autocorrelation(df, "key", "ts", "v", max_lag=2).collect()
        }
        assert rows[1]["acf"] == -1.0
        assert rows[2]["acf"] == 1.0

    def test_constant_series_null(self, spark):
        df = self._series(spark, [5] * 6)
        rows = autocorrelation(df, "key", "ts", "v", max_lag=1).collect()
        assert all(r["acf"] is None for r in rows)

    def test_short_series_null(self, spark):
        # 3 points -> lag-2 has 1 pair: n < 3 must yield NULL, not a
        # degenerate correlation
        df = self._series(spark, [1, 5, 2])
        rows = {
            r["lag_k"]: r
            for r in autocorrelation(df, "key", "ts", "v", max_lag=2).collect()
        }
        assert rows[2]["n_pairs"] == 1 and rows[2]["acf"] is None

    def test_same_day_rows_collapse(self, spark):
        base = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [
                ("k", base, 1.0),
                ("k", base + dt.timedelta(hours=2), 1.0),  # same day
                ("k", base + dt.timedelta(days=1), 4.0),
                ("k", base + dt.timedelta(days=2), 6.0),
                ("k", base + dt.timedelta(days=3), 8.0),
            ],
            "key string, ts timestamp, v double",
        )
        rows = {
            r["lag_k"]: r
            for r in autocorrelation(df, "key", "ts", "v", max_lag=1).collect()
        }
        # daily sums 2,4,6,8 -> perfectly linear
        assert rows[1]["n_pairs"] == 3 and rows[1]["acf"] == 1.0


class TestMadOutliers:
    def test_single_extreme_flagged(self, spark):
        vals = [10.0, 11.0, 12.0, 10.5, 11.5, 10.2, 11.8, 1000.0]
        df = spark.createDataFrame(
            [(i, "g", v) for i, v in enumerate(vals)], "id long, g string, v double"
        )
        out = mad_outliers(df, "g", "v", keep_cols=("id",))
        flagged = [r for r in out.collect() if r["is_outlier"]]
        assert [r["id"] for r in flagged] == [7]
        # the extreme value must NOT have dragged the baseline: median
        # stays in the bulk
        assert 10.0 <= flagged[0]["group_median"] <= 12.0

    def test_mad_zero_group_unflagged(self, spark):
        # >half the group at one value -> MAD = 0 -> no scale: nothing
        # flagged (documented behavior), robust_z NULL
        df = spark.createDataFrame(
            [(i, "g", 5.0) for i in range(5)] + [(9, "g", 100.0)],
            "id long, g string, v double",
        )
        rows = mad_outliers(df, "g", "v", keep_cols=("id",)).collect()
        assert all(not r["is_outlier"] for r in rows)
        assert all(r["robust_z"] is None for r in rows)

    def test_groups_scored_independently(self, spark):
        df = spark.createDataFrame(
            [(i, "a", float(i % 3)) for i in range(9)]
            + [(100 + i, "b", 1000.0 + (i % 3)) for i in range(9)],
            "id long, g string, v double",
        )
        rows = mad_outliers(df, "g", "v").collect()
        # cross-group scale difference alone flags nothing
        assert all(not r["is_outlier"] for r in rows)


class TestPmiCollocations:
    def test_fixed_phrase_ranks_first(self, spark):
        # "zig zag" always co-occurs; filler words are common everywhere
        docs = spark.createDataFrame(
            [(i, f"zig zag the the the word{i % 3} the") for i in range(10)],
            "doc_id long, text string",
        )
        out = pmi_collocations(docs, min_count=5, top_k=5).collect()
        assert (out[0]["w1"], out[0]["w2"]) == ("zig", "zag")
        assert out[0]["pair_count"] == 10
        # exact lift: c2=10, N=70, B=60, c1(zig)=c1(zag)=10
        assert out[0]["pmi_lift"] == round(10 * 70 * 70 / (60 * 10 * 10), 6)

    def test_min_count_prunes_rare_pairs(self, spark):
        docs = spark.createDataFrame(
            [(1, "rare pair"), (2, "common common common common common")],
            "doc_id long, text string",
        )
        out = pmi_collocations(docs, min_count=2, top_k=10).collect()
        assert ("rare", "pair") not in {(r["w1"], r["w2"]) for r in out}


class TestTemperatureMixture:
    def _docs(self, spark, counts):
        rows = []
        i = 0
        for src, n in counts.items():
            for _ in range(n):
                rows.append((i, src))
                i += 1
        return spark.createDataFrame(rows, "doc_id long, source string")

    def test_rates_follow_sqrt_law(self, spark):
        docs = self._docs(spark, {"small": 100, "big": 400})
        rows = {r["source"]: r for r in temperature_mixture(docs).collect()}
        assert rows["small"]["keep_rate"] == 1.0
        assert rows["big"]["keep_rate"] == 0.5
        # smallest source keeps everything (u < 1.0 always holds:
        # u <= (2^32-1+1)/2^32 = 1.0 only at the max hash... strictly
        # less for all real ids here)
        assert rows["small"]["n_selected"] == 100
        # big source lands near 400*0.5 (md5-uniform, not exact)
        assert 140 <= rows["big"]["n_selected"] <= 260

    def test_deterministic_replay(self, spark):
        docs = self._docs(spark, {"a": 50, "b": 200})
        r1 = temperature_mixture(docs).collect()
        r2 = temperature_mixture(docs.repartition(7)).collect()
        assert r1 == r2


class TestNeighborJaccard:
    def test_hand_computed_scores(self, spark):
        # u1 ~ {p1,p2,p3}, u2 ~ {p2,p3}, u3 ~ {p9}
        edges = spark.createDataFrame(
            [(1, "p1"), (1, "p2"), (1, "p3"), (2, "p2"), (2, "p3"), (3, "p9")],
            "s long, p string",
        )
        out = neighbor_jaccard(edges, "s", "p", min_common=1, top_k=10).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["s_a"], r["s_b"], r["n_common"]) == (1, 2, 2)
        assert r["jaccard"] == round(2 / 3, 6)

    def test_duplicate_edges_ignored(self, spark):
        edges = spark.createDataFrame(
            [(1, "p1"), (1, "p1"), (2, "p1")], "s long, p string"
        )
        (r,) = neighbor_jaccard(edges, "s", "p", min_common=1, top_k=10).collect()
        assert r["n_common"] == 1 and r["jaccard"] == 1.0

    def test_min_common_filter(self, spark):
        edges = spark.createDataFrame(
            [(1, "p1"), (2, "p1"), (1, "p2"), (3, "p2")], "s long, p string"
        )
        out = neighbor_jaccard(edges, "s", "p", min_common=2, top_k=10).collect()
        assert out == []


class TestRecordLinkage:
    def _frames(self, spark):
        left = spark.createDataFrame(
            [(1, "b1", "ann", "x"), (2, "b1", "bob", "y"), (3, "b2", "cat", "z")],
            "id long, blk string, name string, seg string",
        )
        right = spark.createDataFrame(
            [
                (11, "b1", "ann", "x"),   # full agree with 1
                (12, "b1", "bob", "q"),   # name agree, seg disagree with 2
                (13, "b3", "cat", "z"),   # blocked away from 3
            ],
            "id long, blk string, name string, seg string",
        )
        return left, right

    def test_blocking_and_scores(self, spark):
        import math

        from chesscom_etl_tableau_spark.operators.linkage import record_linkage

        left, right = self._frames(spark)
        params = {"name": (0.9, 0.01), "seg": (0.8, 0.25)}
        out = record_linkage(
            left,
            right,
            block_cols=["blk"],
            compare_cols=["name", "seg"],
            params=params,
            id_col="id",
            match_threshold=7.0,
            possible_threshold=0.0,
        ).collect()
        rows = {(r["id_l"], r["id_r"]): r for r in out}
        # cross-block pair (3, 13) must not exist even though all
        # fields agree: candidates come only from the blocking join
        assert (3, 13) not in rows
        w_name = (math.log2(0.9 / 0.01), math.log2(0.1 / 0.99))
        w_seg = (math.log2(0.8 / 0.25), math.log2(0.2 / 0.75))
        full = rows[(1, 11)]
        assert full["link_class"] == "match"
        assert full["score"] == 0.0 + w_name[0] + w_seg[0]
        partial = rows[(2, 12)]
        assert partial["link_class"] == "possible"
        assert partial["score"] == 0.0 + w_name[0] + w_seg[1]
        # disagreeing-name pairs score negative -> filtered by the
        # possible_threshold
        assert (1, 12) not in rows and (2, 11) not in rows

    def test_side_projections_in_first_seen_order(self, spark):
        """The __l_*/__r_* projections list block then compare columns
        in first-seen order, so the plan does not vary with the
        process's string-hash seed."""
        import re

        from chesscom_etl_tableau_spark.operators.linkage import record_linkage

        cols = ["c7", "c2", "c5", "c0", "c3", "c6", "c1", "c4"]
        df = spark.createDataFrame([], "id long, " + ", ".join(f"{c} string" for c in cols))
        out = record_linkage(
            df, df, block_cols=cols[:3], compare_cols=cols[2:],
            params={c: (0.9, 0.1) for c in cols[2:]},
        )
        plan = out._jdf.queryExecution().analyzed().toString()
        for side in ("l", "r"):
            proj = next(ln for ln in plan.splitlines() if f"AS id_{side}#" in ln)
            assert re.findall(rf"AS __{side}_(\w+)#", proj) == cols

    def test_null_fields_compare_nullsafe(self, spark):
        from chesscom_etl_tableau_spark.operators.linkage import record_linkage

        left = spark.createDataFrame(
            [(1, "b", None, "x")], "id long, blk string, name string, seg string"
        )
        right = spark.createDataFrame(
            [(2, "b", None, "x")], "id long, blk string, name string, seg string"
        )
        (row,) = record_linkage(
            left,
            right,
            block_cols=["blk"],
            compare_cols=["name", "seg"],
            params={"name": (0.9, 0.01), "seg": (0.8, 0.25)},
            id_col="id",
        ).collect()
        # NULL = NULL counts as agreement under eqNullSafe (documented:
        # missing-on-both is weak but positive evidence here)
        assert row["agree_name"] is True

    def test_bad_params_rejected(self, spark):
        from chesscom_etl_tableau_spark.operators.linkage import linkage_weights

        with pytest.raises(ValueError):
            linkage_weights({"f": (0.5, 0.9)})  # u > m
        with pytest.raises(ValueError):
            linkage_weights({"f": (1.0, 0.1)})  # m = 1


class TestCohortLtv:
    def test_weekly_cohorts_and_cumulative(self, spark):
        from chesscom_etl_tableau_spark.operators.analytics import cohort_ltv

        base = dt.datetime(2024, 1, 1, 12)  # week index 2817 boundary-safe
        rows = [
            # user A starts week 0 of the data, spends 10 then 20
            ("a", base, 10.0),
            ("a", base + dt.timedelta(days=7), 20.0),
            # user B same cohort week, spends 40, then lapses
            ("b", base + dt.timedelta(days=1), 40.0),
            # user C joins next week, spends 5
            ("c", base + dt.timedelta(days=8), 5.0),
        ]
        df = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")
        out = cohort_ltv(df, period="week").collect()
        by = {(r["cohort_start"], r["period_offset"]): r for r in out}
        starts = sorted({k[0] for k in by})
        c0, c1 = starts[0], starts[-1]
        assert (c1 - c0).days == 7
        # cohort week 0: offset 0 revenue 50 over 2 users -> 25; offset 1
        # adds 20 -> cumulative 70/2 = 35 (lapsed b still dilutes)
        assert by[(c0, 0)]["cohort_users"] == 2
        assert by[(c0, 0)]["period_revenue"] == 50.0
        assert by[(c0, 0)]["ltv_per_user"] == 25.0
        assert by[(c0, 1)]["period_revenue"] == 20.0
        assert by[(c0, 1)]["ltv_per_user"] == 35.0
        assert by[(c1, 0)]["ltv_per_user"] == 5.0

    def test_monthly_mode_labels(self, spark):
        from chesscom_etl_tableau_spark.operators.analytics import cohort_ltv

        df = spark.createDataFrame(
            [
                ("u", dt.datetime(2023, 11, 15), 1.0),
                ("u", dt.datetime(2024, 1, 10), 2.0),
            ],
            "user_id string, ts timestamp, value double",
        )
        out = {r["period_offset"]: r for r in cohort_ltv(df, period="month").collect()}
        assert out[0]["cohort_start"] == dt.date(2023, 11, 1)
        assert out[2]["period_revenue"] == 2.0  # Nov -> Jan is offset 2

    def test_bad_period_rejected(self, spark):
        from chesscom_etl_tableau_spark.operators.analytics import cohort_ltv

        df = spark.createDataFrame(
            [("u", dt.datetime(2024, 1, 1), 1.0)],
            "user_id string, ts timestamp, value double",
        )
        with pytest.raises(ValueError):
            cohort_ltv(df, period="fortnight")


class TestDatasetCard:
    def test_card_metrics(self, spark):
        from chesscom_etl_tableau_spark.operators.training import dataset_card

        docs = spark.createDataFrame(
            [
                (1, "alpha beta", "en", "s1"),
                (2, "alpha beta", "en", "s1"),  # exact dup of 1
                (3, "gamma", "de", "s1"),
                (4, "one two three four", "en", "s2"),
            ],
            "doc_id long, text string, lang string, source string",
        )
        rows = {r["source"]: r for r in dataset_card(docs).collect()}
        s1 = rows["s1"]
        assert s1["n_docs"] == 3 and s1["total_tokens"] == 5
        assert s1["exact_dup_rate"] == round(1 - 2 / 3, 6)
        assert s1["n_langs"] == 2
        assert s1["top_lang"] == "en" and s1["top_lang_share"] == round(2 / 3, 6)
        s2 = rows["s2"]
        assert s2["exact_dup_rate"] == 0.0 and s2["avg_tokens"] == 4.0

    def test_lang_tie_breaks_lexicographically(self, spark):
        from chesscom_etl_tableau_spark.operators.training import dataset_card

        docs = spark.createDataFrame(
            [(1, "x", "fr", "s"), (2, "y", "en", "s")],
            "doc_id long, text string, lang string, source string",
        )
        (row,) = dataset_card(docs).collect()
        assert row["top_lang"] == "en"


class TestKcore:
    def test_peels_tail_keeps_core(self, spark):
        from chesscom_etl_tableau_spark.operators.components import kcore

        # K4 clique (every degree 3) + a pendant chain hanging off it
        clique = [(a, b) for a in "abcd" for b in "abcd" if a != b]
        chain = [("d", "e"), ("e", "d"), ("e", "f"), ("f", "e")]
        edges = spark.createDataFrame(clique + chain, "src string, dst string")
        out = {r["node"]: r["degree"] for r in kcore(edges, k=3, rounds=4).collect()}
        # 3-core = the clique; chain nodes peel (e drops once f goes)
        assert out == {"a": 3, "b": 3, "c": 3, "d": 3}

    def test_fixed_rounds_are_monotone_supersets(self, spark):
        from chesscom_etl_tableau_spark.operators.components import kcore

        # a long chain needs one round per pendant: round-bounded result
        # is a SUPERSET of the true core (here: empty)
        chain = []
        nodes = [f"n{i}" for i in range(6)]
        for a, b in zip(nodes, nodes[1:]):
            chain += [(a, b), (b, a)]
        edges = spark.createDataFrame(chain, "src string, dst string")
        r2 = {r["node"] for r in kcore(edges, k=2, rounds=2).collect()}
        r5 = {r["node"] for r in kcore(edges, k=2, rounds=5).collect()}
        assert r5 <= r2 and r5 == set()  # converged: chain has no 2-core


class TestBfsDistances:
    def _edges(self, spark, pairs):
        sym = pairs + [(b, a) for a, b in pairs]
        return spark.createDataFrame(sym, "src string, dst string")

    def test_min_distance_and_depth_bound(self, spark):
        from chesscom_etl_tableau_spark.operators.components import bfs_distances

        # s - a - b - c - d   and a shortcut s - b
        e = self._edges(
            spark, [("s", "a"), ("a", "b"), ("b", "c"), ("c", "d"), ("s", "b")]
        )
        seeds = spark.createDataFrame([("s",)], "node string")
        out = {r["node"]: r["dist"] for r in bfs_distances(e, seeds, max_depth=2).collect()}
        # b is dist 1 via the shortcut, NOT 2; d is beyond max_depth
        assert out == {"s": 0, "a": 1, "b": 1, "c": 2}

    def test_multi_source_takes_nearest_seed(self, spark):
        from chesscom_etl_tableau_spark.operators.components import bfs_distances

        e = self._edges(spark, [("x", "m"), ("m", "y")])
        seeds = spark.createDataFrame([("x",), ("y",)], "node string")
        out = {r["node"]: r["dist"] for r in bfs_distances(e, seeds, max_depth=3).collect()}
        assert out == {"x": 0, "y": 0, "m": 1}

    def test_disconnected_unreported(self, spark):
        from chesscom_etl_tableau_spark.operators.components import bfs_distances

        e = self._edges(spark, [("s", "a"), ("p", "q")])
        seeds = spark.createDataFrame([("s",)], "node string")
        out = {r["node"] for r in bfs_distances(e, seeds, max_depth=4).collect()}
        assert out == {"s", "a"}


class TestCosineRangeSearch:
    def test_threshold_set(self, spark):
        from chesscom_etl_tableau_spark.operators.similarity import (
            cosine_range_search,
        )

        corpus = spark.createDataFrame(
            [
                (10, [1.0, 0.0]),
                (11, [1.0, 0.1]),   # cos ~= 0.995
                (12, [0.0, 1.0]),   # orthogonal
                (13, [-1.0, 0.0]),  # opposite
            ],
            "vec_id long, embedding array<double>",
        )
        queries = spark.createDataFrame(
            [(1, [1.0, 0.0])], "query_id long, embedding array<double>"
        )
        rows = cosine_range_search(corpus, queries, threshold=0.9).collect()
        got = {(r["query_id"], r["vec_id"]): r["cosine"] for r in rows}
        assert set(got) == {(1, 10), (1, 11)}
        assert got[(1, 10)] == 1.0

    def test_self_match_excluded(self, spark):
        from chesscom_etl_tableau_spark.operators.similarity import (
            cosine_range_search,
        )

        corpus = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [1.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        queries = corpus.select(F.col("vec_id").alias("query_id"), "embedding")
        rows = cosine_range_search(corpus, queries, threshold=0.5).collect()
        assert all(r["query_id"] != r["vec_id"] for r in rows)
        assert len(rows) == 2


class TestStreamingHeavyHitters:
    def _write_batch(self, drop, name, rows):
        import json as _json

        (drop / name).write_text("\n".join(_json.dumps(r) for r in rows))

    def test_heavy_key_survives_across_batches(self, spark, tmp_path):
        from chesscom_etl_tableau_spark.streaming.heavy_stream import (
            read_heavy_state,
            streaming_heavy_hitters,
        )

        drop = tmp_path / "in"
        drop.mkdir()
        # 'hot' appears 30x spread over two batches; 40 singletons churn
        self._write_batch(
            drop,
            "b1.json",
            [{"k": "hot"}] * 15 + [{"k": f"one{i}"} for i in range(20)],
        )
        stream = spark.readStream.schema("k string").json(str(drop))
        args = (str(tmp_path / "state"), str(tmp_path / "ckpt"))
        q = streaming_heavy_hitters(stream, "k", *args, m=8)
        q.awaitTermination(120)
        self._write_batch(
            drop,
            "b2.json",
            [{"k": "hot"}] * 15 + [{"k": f"two{i}"} for i in range(20)],
        )
        q2 = streaming_heavy_hitters(stream, "k", *args, m=8)
        q2.awaitTermination(120)
        state = read_heavy_state(spark, str(tmp_path / "state")).collect()
        assert len(state) <= 8  # bounded by m across the whole stream
        top = state[0]
        assert top["key"] == "hot"
        # MG lower bound: count_lo <= true count (30), and the heavy
        # key's lead over the churn keeps it far above the floor
        assert 1 <= top["count_lo"] <= 30
        # guarantee: any key with true count > N/(m+1) survives;
        # N = 70, m = 8 -> floor 7.8 — 'hot' (30) must be present
        assert "hot" in {r["key"] for r in state}

    def test_state_generations_replay_safe(self, spark, tmp_path):
        import os

        from chesscom_etl_tableau_spark.streaming.heavy_stream import (
            _latest_state_dir,
        )

        sp = tmp_path / "state"
        (sp / "batch-0").mkdir(parents=True)
        (sp / "batch-3").mkdir()
        # a retry of batch 3 must read batch-0, not its own half-state
        assert _latest_state_dir(spark, str(sp), before_batch=3).endswith("batch-0")
        assert _latest_state_dir(spark, str(sp), before_batch=9).endswith("batch-3")
        assert _latest_state_dir(spark, str(sp), before_batch=0) is None
        assert _latest_state_dir(spark, str(tmp_path / "absent"), 5) is None

    def test_exact_when_under_capacity(self, spark, tmp_path):
        from chesscom_etl_tableau_spark.streaming.heavy_stream import (
            read_heavy_state,
            streaming_heavy_hitters,
        )

        drop = tmp_path / "in"
        drop.mkdir()
        self._write_batch(
            drop, "b1.json", [{"k": "a"}] * 3 + [{"k": "b"}] * 2 + [{"k": "c"}]
        )
        stream = spark.readStream.schema("k string").json(str(drop))
        q = streaming_heavy_hitters(
            stream, "k", str(tmp_path / "state"), str(tmp_path / "ckpt"), m=10
        )
        q.awaitTermination(120)
        state = {
            r["key"]: r["count_lo"]
            for r in read_heavy_state(spark, str(tmp_path / "state")).collect()
        }
        # under capacity the MG state is EXACT counts
        assert state == {"a": 3, "b": 2, "c": 1}
