"""Semantic guards for the round-5 continuation operators: integer
PageRank, DSIR importance weights, bigram LM surprisal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.operators.components import pagerank
from chesscom_etl_tableau_spark.operators.text import bigram_surprisal
from chesscom_etl_tableau_spark.operators.training import dsir_importance


def _edges(spark, pairs):
    sym = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    return spark.createDataFrame(sym, "src string, dst string")


class TestPagerank:
    def test_star_center_outranks_leaves(self, spark):
        e = _edges(spark, [("hub", f"l{i}") for i in range(6)])
        r = {x["node"]: x["rank_micro"] for x in pagerank(e).collect()}
        assert all(r["hub"] > r[f"l{i}"] for i in range(6))
        # leaves are symmetric: identical exact ranks
        assert len({r[f"l{i}"] for i in range(6)}) == 1

    def test_exact_two_node_fixpoint(self, spark):
        # a <-> b: deg 1 each, every rank stays exactly 1_000_000:
        # contrib = 1_000_000, rank' = 150000 + 85*1_000_000 div 100
        e = _edges(spark, [("a", "b")])
        r = {x["node"]: x["rank_micro"] for x in pagerank(e, iterations=3).collect()}
        assert r == {"a": 1_000_000, "b": 1_000_000}

    def test_partitioning_independent(self, spark):
        pairs = [(f"u{i}", f"u{(i * 7 + 3) % 20}") for i in range(20)]
        pairs = [(a, b) for a, b in pairs if a != b]
        e1 = _edges(spark, pairs)
        e2 = _edges(spark, pairs).repartition(13)
        r1 = sorted(map(tuple, pagerank(e1).collect()))
        r2 = sorted(map(tuple, pagerank(e2).collect()))
        assert r1 == r2, "integer arithmetic must be partitioning-invariant"

    def test_iterations_change_chain_ranks(self, spark):
        # on a path graph the middle accumulates rank over iterations
        e = _edges(spark, [("a", "b"), ("b", "c")])
        r = {x["node"]: x["rank_micro"] for x in pagerank(e, iterations=3).collect()}
        assert r["b"] > r["a"] == r["c"]


class TestDsirImportance:
    def _docs(self, spark):
        rows = [
            # target slice speaks "alpha beta", raw speaks "gamma delta"
            (1, "alpha beta alpha beta alpha", "tgt"),
            (2, "beta alpha beta alpha beta", "tgt"),
            (3, "gamma delta gamma delta", "web"),
            (4, "delta gamma delta gamma", "web"),
            # the probe docs: one target-like, one raw-like, same length
            (5, "alpha beta alpha beta", "web"),
            (6, "gamma delta gamma delta", "web"),
            (7, "", "web"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string, source string")

    def test_target_like_doc_outscores_raw_like(self, spark):
        out = {
            r["doc_id"]: r
            for r in dsir_importance(self._docs(spark), "tgt").collect()
        }
        assert out[5]["logweight_micro"] > out[6]["logweight_micro"]
        assert out[5]["logweight_micro"] > 0 > out[6]["logweight_micro"]

    def test_empty_doc_scores_zero_and_flags(self, spark):
        out = {r["doc_id"]: r for r in dsir_importance(self._docs(spark), "tgt").collect()}
        assert out[7]["n_tokens"] == 0 and out[7]["logweight_micro"] == 0
        assert out[1]["is_target"] and not out[5]["is_target"]

    def test_every_doc_has_a_row(self, spark):
        assert dsir_importance(self._docs(spark), "tgt").count() == 7


class TestBigramSurprisal:
    def test_deterministic_corpus_scores(self, spark):
        rows = [
            (1, "a b a b a b"),  # bigrams: (a,b)x3, (b,a)x2
            (2, "a b c"),  # (a,b), (b,c)
            (3, "x"),  # no bigrams
            (4, None),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in bigram_surprisal(docs).collect()}
        assert out[1]["n_bigrams"] == 5 and out[2]["n_bigrams"] == 2
        assert out[3]["n_bigrams"] == 0 and out[3]["bigram_bits"] == 0.0
        assert out[4]["n_bigrams"] == 0
        # P(b|a) = 4/5 across the corpus; P(a|b) = 2/5; P(c|b) = 1/5
        # doc2 = -log2(4/5) + -log2(1/5): rarer continuation, higher bits
        assert out[2]["bigram_bits"] > out[1]["bigram_bits"]

    def test_repeated_bigram_only_doc_scores_zero(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b"), (2, "a b"), (3, "a b")], "doc_id long, text string"
        )
        out = bigram_surprisal(docs).collect()
        # only bigram in the corpus is (a, b): P = 1 -> 0 bits
        assert all(r["bigram_bits"] == 0.0 for r in out)

    def test_order_sensitivity_vs_unigram_blindspot(self, spark):
        # same unigram bag, different order: the shuffled doc uses a
        # continuation the corpus sees once vs the dominant phrase
        rows = [(i, "the quick fox") for i in range(9)] + [(9, "fox quick the")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in bigram_surprisal(docs).collect()}
        assert out[9]["bigram_bits"] > out[0]["bigram_bits"]


class TestDhashNeardup:
    def test_dhash_matches_bruteforce_on_fixtures(self, spark):
        import numpy as np

        from chesscom_etl_tableau_spark.operators.multimodal import (
            _blob_for,
            decode_raster,
            dhash_hex,
            synth_dhash,
        )

        docs = spark.createDataFrame(
            [(i,) for i in range(2, 50, 4)], "doc_id long"
        )
        got = {r["doc_id"]: r["dhash"] for r in synth_dhash(docs).collect()}
        for doc_id in range(2, 50, 4):
            arr = decode_raster(_blob_for(doc_id))
            lum = arr.astype("int64").sum(axis=2) // 3
            h, w = lum.shape
            bits = []
            for y in range(8):
                ys = (y * h) // 8
                byte = 0
                for x in range(8):
                    a = lum[ys][(x * w) // 9]
                    b = lum[ys][((x + 1) * w) // 9]
                    byte |= int(b > a) << (7 - x)
                bits.append(f"{byte:02x}")
            assert got[doc_id] == "".join(bits)

    def test_partners_symmetric_and_within_threshold(self, spark):
        from chesscom_etl_tableau_spark.operators.multimodal import (
            dhash_neardup_stats,
        )

        sigs = spark.createDataFrame(
            [
                (1, "00" * 8),
                (2, "00" * 8),          # identical -> hamming 0
                (3, "01" + "00" * 7),   # 1 bit from doc 1/2
                (4, "ff" * 8),          # shares no band
            ],
            "doc_id long, dhash string",
        )
        out = {r["doc_id"]: r for r in dhash_neardup_stats(sigs).collect()}
        assert out[1]["n_partners"] == 2 and out[1]["min_hamming"] == 0
        assert out[3]["n_partners"] == 2 and out[3]["min_hamming"] == 1
        assert out[4]["n_partners"] == 0 and out[4]["min_hamming"] is None


class TestBpeLearnMerges:
    def test_greedy_loop_recounts_after_each_merge(self, spark):
        from chesscom_etl_tableau_spark.operators.training import bpe_learn_merges

        # corpus: "c a b" x3, "a b d" x2 -> round 1 merges (a,b) c=5.
        # Round 2's pairs are over MERGED tokens: (c, a_b) x3 beats
        # (a_b, d) x2 — only a real re-count loop can learn c+a_b,
        # a one-shot bigram top-k would emit (c, a) instead.
        rows = [(i, "c a b") for i in range(3)] + [(10 + i, "a b d") for i in range(2)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        merges = bpe_learn_merges(docs, k=3)
        assert merges[0] == (1, "a", "b", 5)
        assert merges[1] == (2, "c", "a_b", 3)
        assert merges[2] == (3, "a_b", "d", 2)

    def test_self_pairs_skipped_and_overlap_free(self, spark):
        from chesscom_etl_tableau_spark.operators.training import bpe_learn_merges

        # "a a a a" pairs are all self-pairs -> excluded from the
        # argmax; (a, b) with count 2 wins despite (a, a) count 3
        rows = [(1, "a a a a"), (2, "a b"), (3, "a b")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        merges = bpe_learn_merges(docs, k=1)
        assert merges[0] == (1, "a", "b", 2)

    def test_stops_when_no_pairs_remain(self, spark):
        from chesscom_etl_tableau_spark.operators.training import bpe_learn_merges

        docs = spark.createDataFrame(
            [(1, "a b"), (2, "solo")], "doc_id long, text string"
        )
        merges = bpe_learn_merges(docs, k=5)
        # round 1 merges (a, b); afterwards every doc is a single token
        assert merges == [(1, "a", "b", 1)]

    def test_apply_matches_learn_loop_final_state(self, spark):
        from chesscom_etl_tableau_spark.operators.training import (
            bpe_apply,
            bpe_learn_merges,
        )

        rows = [(i, "c a b") for i in range(3)] + [(10 + i, "a b d") for i in range(2)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        merges = bpe_learn_merges(docs, k=3)
        out = {r["doc_id"]: r for r in bpe_apply(docs, merges).collect()}
        # "c a b" -> [c_a_b]; "a b d" -> [a_b_d]
        assert out[0]["n_tokens_raw"] == 3 and out[0]["n_tokens_bpe"] == 1
        assert out[10]["n_tokens_raw"] == 3 and out[10]["n_tokens_bpe"] == 1


class TestAudioSpectral:
    """FFT features verified against constructed signals whose spectra
    are known analytically — not against another FFT."""

    @staticmethod
    def _wav(samples):
        import numpy as np

        s = np.asarray(samples, dtype="<i2").tobytes()
        return (
            b"RIFF" + (36 + len(s)).to_bytes(4, "little") + b"WAVE"
            + b"fmt " + (16).to_bytes(4, "little")
            + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
            + (8000).to_bytes(4, "little") + (16000).to_bytes(4, "little")
            + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
            + b"data" + len(s).to_bytes(4, "little") + s
        )

    def test_pure_tone_peaks_at_its_bin(self):
        import numpy as np

        from chesscom_etl_tableau_spark.operators.multimodal import audio_spectral

        n, k = 1024, 37
        t = np.arange(n)
        samples = np.round(8000 * np.sin(2 * np.pi * k * t / n)).astype(np.int64)
        # period = n/k samples -> ask for the matching fundamental
        out = audio_spectral(self._wav(samples), period_samples=n // k)
        n_s, n_bins, dc, energy, f0_lo, peak_ok, parseval = out
        assert (n_s, n_bins) == (n, n // 2 + 1)
        assert dc == int(samples.sum())
        assert energy == int((samples * samples).sum())
        assert peak_ok and parseval

    def test_dc_and_energy_exact_for_constant_signal(self):
        from chesscom_etl_tableau_spark.operators.multimodal import audio_spectral

        out = audio_spectral(self._wav([100] * 512))
        n_s, n_bins, dc, energy, _, _, parseval = out
        assert (n_s, dc, energy) == (512, 512 * 100, 512 * 100 * 100)
        assert parseval

    def test_non_wav_is_total(self):
        from chesscom_etl_tableau_spark.operators.multimodal import audio_spectral

        assert audio_spectral(b"not a wav") == (None,) * 7
        assert audio_spectral(b"") == (None,) * 7

    def test_fixture_contracts_hold_for_all_wav_docs(self, spark):
        from chesscom_etl_tableau_spark.operators.multimodal import (
            synth_spectral_features,
        )

        docs = spark.range(0, 200).select(F.col("id").alias("doc_id"))
        rows = synth_spectral_features(docs).collect()
        assert len(rows) == 50  # doc_id % 4 == 3
        assert all(r["peak_at_fundamental"] and r["parseval_holds"] for r in rows)
        assert all(r["n_bins"] == r["n_samples"] // 2 + 1 for r in rows)


class TestStreamingStateObservability:
    """State-size eviction observed from OUTSIDE the query via the
    progress API (stateOperators[].numRowsTotal) — closing the NOTES.md
    item that waited for a deterministic external state-size signal."""

    def test_within_watermark_state_rows_evicted(self, spark, tmp_path):
        import json as _json

        from chesscom_etl_tableau_spark.streaming.dedup_stream import (
            streaming_exact_dedup,
        )

        drop, out, ckpt = tmp_path / "d", tmp_path / "o", tmp_path / "c"
        drop.mkdir()

        def write(name, rows):
            (drop / name).write_text(
                "\n".join(
                    _json.dumps({"doc_id": i, "text": t, "ts": ts})
                    for i, t, ts in rows
                )
                + "\n"
            )

        def run():
            stream = spark.readStream.schema(
                "doc_id long, text string, ts timestamp"
            ).json(str(drop))
            q = (
                streaming_exact_dedup(
                    stream, ts_col="ts", watermark_delay="10 minutes",
                    within_watermark=True,
                )
                .writeStream.outputMode("append")
                .option("checkpointLocation", str(ckpt))
                .trigger(availableNow=True)
                .format("parquet")
                .option("path", str(out))
                .start()
            )
            q.awaitTermination()
            return [
                p["stateOperators"][0]["numRowsTotal"]
                for p in (q.recentProgress or [])
                if p.get("stateOperators") and p["stateOperators"][0].get("numRowsTotal") is not None
            ]

        # 5 distinct keys land in state
        write("b1.json", [
            (i, f"doc number {i}", "2024-01-01T10:00:00") for i in range(5)
        ])
        sizes1 = run()
        assert sizes1 and max(sizes1) == 5
        # one far-future event advances the watermark past every key's
        # 10-minute retention: the 5 old rows MUST leave the store
        write("b2.json", [(99, "future doc", "2024-01-01T13:00:00")])
        sizes2 = run()
        # final reported state holds only the un-evicted future key
        assert sizes2 and sizes2[-1] <= 1  # 5 old rows gone
        assert min(sizes2) < max(sizes1)


class TestCorpusDrift:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string, source string")

    def test_identical_slices_show_zero_drift(self, spark):
        from chesscom_etl_tableau_spark.operators.training import corpus_drift

        rows = [(i, "alpha beta gamma delta", "a") for i in range(5)] + [
            (100 + i, "alpha beta gamma delta", "b") for i in range(5)
        ]
        out = corpus_drift(self._docs(spark, rows), "a", "b").collect()
        assert out and all(r["lr_micro"] == 0 for r in out)

    def test_planted_drift_token_tops_ranking(self, spark):
        from chesscom_etl_tableau_spark.operators.training import corpus_drift

        shared = "the quick brown fox jumps over the lazy dog"
        rows = [(i, shared + " zzzanomaly" * 5, "a") for i in range(5)] + [
            (100 + i, shared, "b") for i in range(5)
        ]
        out = corpus_drift(self._docs(spark, rows), "a", "b").collect()
        top = max(out, key=lambda r: abs(r["lr_micro"]))
        # the anomalous bucket is pure-a and drifts positive
        assert top["n_b"] == 0 and top["n_a"] == 25 and top["lr_micro"] > 0

    def test_direction_antisymmetric(self, spark):
        from chesscom_etl_tableau_spark.operators.training import corpus_drift

        rows = [(1, "apple banana apple", "a"), (2, "banana cherry", "b")]
        docs = self._docs(spark, rows)
        ab = {r["bucket"]: r["lr_micro"] for r in corpus_drift(docs, "a", "b").collect()}
        ba = {r["bucket"]: r["lr_micro"] for r in corpus_drift(docs, "b", "a").collect()}
        for b, v in ab.items():
            assert abs(v + ba[b]) <= 1  # exact negation up to rounding


class TestSessionWindowTwin:
    def test_builtin_session_window_equals_manual_sessionizer(self, spark):
        import __spark_entry__ as M
        from chesscom_etl_tableau_spark.operators import sessions as SESS
        from chesscom_etl_tableau_spark.sources.tables import load_table

        sf = "/root/testdata/sf0.001"
        builtin = sorted(
            map(
                tuple,
                M.queries()["w11_session_window"](spark, sf)
                .select("user_id", "n_events", "session_start", "session_end")
                .collect(),
            )
        )
        manual = sorted(
            map(
                tuple,
                SESS.session_stats(
                    load_table(spark, sf, "events"),
                    gap_minutes=30,
                    tiebreak_cols=("event_id",),
                )
                .select("user_id", "n_events", "session_start", "session_end")
                .collect(),
            )
        )
        assert builtin == manual


class TestContainmentDedup:
    def test_quoted_doc_has_containment_one_but_low_jaccard(self, spark):
        from chesscom_etl_tableau_spark.operators.dedup import (
            ngram_containment_pairs,
            ngram_jaccard_pairs,
        )

        short = "the cat sat on the mat"
        filler = " ".join(f"filler{i} word{i} extra{i}" for i in range(40))
        docs = spark.createDataFrame(
            [(1, short), (2, filler + " " + short + " " + filler)],
            "doc_id long, text string",
        )
        cont = ngram_containment_pairs(docs, k=3, threshold=0.9).collect()
        assert len(cont) == 1 and cont[0]["containment"] == 1.0
        # Jaccard misses the same pair even at a mild threshold
        assert ngram_jaccard_pairs(docs, k=3, threshold=0.5).count() == 0

    def test_unrelated_docs_emit_nothing(self, spark):
        from chesscom_etl_tableau_spark.operators.dedup import ngram_containment_pairs

        docs = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon"), (2, "one two three four five")],
            "doc_id long, text string",
        )
        assert ngram_containment_pairs(docs, k=3, threshold=0.1).count() == 0

    def test_symmetric_on_identical_docs(self, spark):
        from chesscom_etl_tableau_spark.operators.dedup import ngram_containment_pairs

        docs = spark.createDataFrame(
            [(1, "a b c d e f g"), (2, "a b c d e f g")], "doc_id long, text string"
        )
        got = ngram_containment_pairs(docs, k=3, threshold=0.9).collect()
        assert len(got) == 1 and got[0]["containment"] == 1.0
        assert got[0]["n_a"] == got[0]["n_b"] == got[0]["n_common"]


class TestHardNegatives:
    def test_negatives_never_share_the_anchor_label(self, spark):
        from chesscom_etl_tableau_spark.operators.similarity import hard_negatives

        rows = [
            (1, [1.0, 0.0], "a"),
            (2, [0.99, 0.14], "a"),   # nearest overall — but same label
            (3, [0.9, 0.43], "b"),    # nearest different-label
            (4, [0.0, 1.0], "b"),
            (5, [-1.0, 0.0], "c"),
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
        anchors = emb.where(F.col("vec_id") == 1)
        got = hard_negatives(emb, anchors, k=2).collect()
        assert [(r["vec_id"], r["rank"]) for r in got] == [(3, 1), (4, 2)]
        assert all(r["neg_label"] != "a" for r in got)

    def test_hardest_negative_ranks_first(self, spark):
        from chesscom_etl_tableau_spark.operators.similarity import hard_negatives

        rows = [
            (1, [1.0, 0.0, 0.0], "x"),
            (10, [0.95, 0.31, 0.0], "y"),
            (11, [0.5, 0.86, 0.0], "y"),
            (12, [0.0, 0.0, 1.0], "y"),
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
        got = hard_negatives(emb, emb.where(F.col("vec_id") == 1), k=3).collect()
        sims = [r["cosine_sim"] for r in sorted(got, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True) and sims[0] > 0.9


class TestLabelPropagation:
    @staticmethod
    def _brute(edge_list, iterations):
        # reference simulator: synchronous, most-frequent in-neighbor
        # label, ties by min label, isolated keep own
        from collections import Counter, defaultdict

        nodes = sorted({a for a, _ in edge_list} | {b for _, b in edge_list})
        inn = defaultdict(list)
        for a, b in edge_list:
            inn[b].append(a)
        lab = {n: n for n in nodes}
        for _ in range(iterations):
            new = {}
            for n in nodes:
                if not inn[n]:
                    new[n] = lab[n]
                    continue
                c = Counter(lab[u] for u in inn[n])
                top = max(c.values())
                new[n] = min(l for l, k in c.items() if k == top)
            lab = new
        return lab

    def _run(self, spark, edge_list, iterations=3, parts=None):
        from chesscom_etl_tableau_spark.operators.components import label_propagation

        sym = edge_list + [(b, a) for a, b in edge_list]
        df = spark.createDataFrame(sym, "src string, dst string")
        if parts:
            df = df.repartition(parts)
        return {
            r["node"]: r["label"]
            for r in label_propagation(df, iterations=iterations).collect()
        }

    def test_matches_bruteforce_on_two_cliques_with_bridge(self, spark):
        tri1 = [("a1", "a2"), ("a2", "a3"), ("a1", "a3")]
        tri2 = [("b1", "b2"), ("b2", "b3"), ("b1", "b3")]
        edges = tri1 + tri2 + [("a3", "b1")]
        sym = edges + [(b, a) for a, b in edges]
        assert self._run(spark, edges) == self._brute(sym, 3)

    def test_matches_bruteforce_on_star_and_chain(self, spark):
        edges = [("hub", f"l{i}") for i in range(5)] + [("l0", "x"), ("x", "y")]
        sym = edges + [(b, a) for a, b in edges]
        for it in (1, 2, 3, 4):
            assert self._run(spark, edges, iterations=it) == self._brute(sym, it)

    def test_partitioning_invariant(self, spark):
        edges = [(f"n{i}", f"n{(i * 3 + 1) % 17}") for i in range(17)]
        edges = [(a, b) for a, b in edges if a != b]
        assert self._run(spark, edges, parts=13) == self._run(spark, edges)

    def test_clique_converges_to_min_label(self, spark):
        edges = [(f"v{i}", f"v{j}") for i in range(4) for j in range(i + 1, 4)]
        got = self._run(spark, edges, iterations=4)
        assert set(got.values()) == {"v0"}


class TestWeightedSample:
    def test_matches_python_mirror_exactly(self, spark):
        import hashlib
        import math

        from chesscom_etl_tableau_spark.operators.training import weighted_sample

        rows = [(i, (i % 7) + 1) for i in range(200)]
        docs = spark.createDataFrame(rows, "doc_id long, w long")
        got = [r["doc_id"] for r in weighted_sample(docs, "w", k=20, seed="t").collect()]

        def key(i, w):
            h = int(hashlib.md5(f"{i}t".encode()).hexdigest()[:8], 16)
            return math.log((h + 1) / 2**32) / w

        expect = sorted(rows, key=lambda r: (-key(*r), r[0]))[:20]
        assert got == [i for i, _ in expect]

    def test_inclusion_tracks_weights(self, spark):
        # across many seeds, a weight-10 item should be sampled far more
        # often than a weight-1 item (A-ES inclusion law, sanity level)
        from chesscom_etl_tableau_spark.operators.training import weighted_sample

        rows = [(i, 10 if i < 20 else 1) for i in range(200)]
        docs = spark.createDataFrame(rows, "doc_id long, w long").cache()
        heavy = light = 0
        for s in range(8):
            picked = {
                r["doc_id"]
                for r in weighted_sample(docs, "w", k=40, seed=f"s{s}").collect()
            }
            heavy += sum(1 for i in picked if i < 20)
            light += sum(1 for i in picked if i >= 20)
        docs.unpersist()
        # 20 heavy (w=10) vs 180 light (w=1): heavy mass 200/380 ≈ 53%
        assert heavy > light * 0.6

    def test_nonpositive_weights_excluded_and_partitioning_invariant(self, spark):
        from chesscom_etl_tableau_spark.operators.training import weighted_sample

        rows = [(i, i - 5) for i in range(100)]  # w <= 0 for i <= 5
        docs = spark.createDataFrame(rows, "doc_id long, w long")
        got = [r["doc_id"] for r in weighted_sample(docs, "w", k=10).collect()]
        assert all(i > 5 for i in got)
        got2 = [
            r["doc_id"]
            for r in weighted_sample(docs.repartition(13), "w", k=10).collect()
        ]
        assert got == got2


class TestAttribution:
    def test_last_touch_and_lookback_and_unattributed(self, spark):
        import __spark_entry__ as M
        import datetime as dt
        import tempfile, shutil, os

        base = dt.datetime(2024, 1, 20, 12, 0, 0)
        rows = [
            # user 1: click then purchase 1h later -> credit click
            (1, 1, "click", base),
            (2, 1, "purchase", base + dt.timedelta(hours=1)),
            # user 2: view 10 days before purchase -> outside lookback
            (3, 2, "view", base - dt.timedelta(days=10)),
            (4, 2, "purchase", base),
            # user 3: purchase with no prior touch
            (5, 3, "purchase", base),
            # user 4: view then click (later) then purchase -> click wins
            (6, 4, "view", base),
            (7, 4, "click", base + dt.timedelta(minutes=30)),
            (8, 4, "purchase", base + dt.timedelta(hours=2)),
            # user 5: two touches at the SAME ts -> max event_id wins
            (9, 5, "view", base),
            (10, 5, "click", base),
            (11, 5, "purchase", base + dt.timedelta(minutes=5)),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, ts timestamp"
        )
        out = tempfile.mkdtemp(prefix="sg_attr_")
        try:
            # route through a parquet dir so the entry's _t loader works
            for name in ("events",):
                df.write.parquet(os.path.join(out, f"{name}.parquet"))
            got = {
                r["credit"]: (r["n_conversions"], r["n_users"])
                for r in M.queries()["a22_attribution"](spark, out).collect()
            }
        finally:
            shutil.rmtree(out, ignore_errors=True)
        assert got == {
            "click": (3, 3),          # users 1, 4, 5 (5: event_id 10 > 9)
            "unattributed": (2, 2),   # user 2 (stale), user 3 (none)
        }
