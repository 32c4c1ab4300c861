"""Operator tests for the r5 additions: hourly_gapfill (time-spine
forward fill), grouped_corr (exact-moment Pearson), semantic_dedup
(SemDeDup-style within-cluster drop). Each also has an oracle-backed
queries() entry; these tests pin the operator semantics directly."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F


def _events(spark, rows):
    return spark.createDataFrame(rows, "event_type string, ts timestamp, value double")


class TestHourlyGapfill:
    def test_fills_gaps_and_forward_fills(self, spark):
        from learn_etl_data_warehouse_spark.operators.timeseries import (
            hourly_gapfill,
        )

        t0 = dt.datetime(2024, 1, 1, 0, 30)
        rows = [
            ("a", t0, 10.0),                             # hour 0
            ("a", t0 + dt.timedelta(hours=0, minutes=10), 5.0),
            ("a", t0 + dt.timedelta(hours=3), 7.5),      # hours 1-2 are gaps
            ("b", t0 + dt.timedelta(hours=1), 1.0),      # single-hour key
        ]
        out = hourly_gapfill(_events(spark, rows)).orderBy("event_type", "hour")
        got = [tuple(r) for r in out.collect()]
        h = dt.datetime(2024, 1, 1, 0)
        assert got == [
            ("a", h, 2, 15.0, 0),
            ("a", h + dt.timedelta(hours=1), 0, 15.0, 1),   # gap, carried sum
            ("a", h + dt.timedelta(hours=2), 0, 15.0, 1),
            ("a", h + dt.timedelta(hours=3), 1, 7.5, 0),
            ("b", h + dt.timedelta(hours=1), 1, 1.0, 0),
        ]

    def test_series_is_dense_per_key_on_fixture(self, spark, sf_small):
        import __spark_entry__ as entrymod

        out = entrymod.queries()["e09_hourly_gapfill"](spark, sf_small)
        per_key = out.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.min("hour").alias("mn"),
            F.max("hour").alias("mx"),
            F.sum("is_gap").alias("gaps"),
            F.count_distinct("hour").alias("distinct_hours"),
        )
        for r in per_key.collect():
            span_hours = int((r["mx"] - r["mn"]).total_seconds()) // 3600 + 1
            assert r["n"] == span_hours, "spine must cover every hour in range"
            assert r["n"] == r["distinct_hours"], "no duplicate spine rows"
        # filled_sum never null: the spine starts at an observed hour
        assert out.filter(F.col("filled_sum").isNull()).count() == 0


class TestGroupedCorr:
    def test_matches_numpy_moments(self, spark, sf_small):
        from learn_etl_data_warehouse_spark.operators.grouped import grouped_corr

        from learn_etl_data_warehouse_spark.sources.parquet import load_table

        li = load_table(spark, sf_small, "lineitem")
        out = {
            (r["l_returnflag"], r["l_linestatus"]): r
            for r in grouped_corr(
                li, ["l_returnflag", "l_linestatus"],
                x="l_quantity", y="l_extendedprice",
            ).collect()
        }
        pdf = li.select(
            "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"
        ).toPandas()
        for (rf, ls), grp in pdf.groupby(["l_returnflag", "l_linestatus"]):
            x = np.round(grp["l_quantity"].to_numpy() * 100)
            y = np.round(grp["l_extendedprice"].to_numpy() * 100)
            want_corr = np.corrcoef(x, y)[0, 1]
            want_slope = np.polyfit(x, y, 1)[0]
            got = out[(rf, ls)]
            assert got["n"] == len(grp)
            assert got["corr_xy"] == pytest.approx(want_corr, abs=1e-5)
            assert got["slope_yx"] == pytest.approx(want_slope, abs=1e-4)

    def test_degenerate_groups_yield_null(self, spark):
        from learn_etl_data_warehouse_spark.operators.grouped import grouped_corr

        df = spark.createDataFrame(
            [("k1", 1.0, 2.0), ("k1", 1.0, 5.0), ("k2", 3.0, 4.0)],
            "k string, x double, y double",
        )
        rows = {r["k"]: r for r in grouped_corr(df, ["k"], "x", "y").collect()}
        assert rows["k1"]["corr_xy"] is None      # zero x-variance
        assert rows["k1"]["slope_yx"] is None
        assert rows["k2"]["corr_xy"] is None      # singleton group
        assert rows["k2"]["n"] == 1


class TestSemanticDedup:
    def test_keep_rule_matches_bruteforce(self, spark, sf_small):
        from learn_etl_data_warehouse_spark.operators.similarity import (
            semantic_dedup,
        )
        from learn_etl_data_warehouse_spark.sources.parquet import load_table

        emb = load_table(spark, sf_small, "embeddings")
        kept = {
            r["vec_id"]
            for r in semantic_dedup(emb, cluster_col="label", threshold=0.4)
            .select("vec_id").collect()
        }
        pdf = emb.toPandas()
        vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in pdf.itertuples()}
        labels = dict(zip(pdf["vec_id"], pdf["label"]))
        want = set()
        ids = sorted(vecs)
        for i in ids:
            vi = vecs[i]
            drop = False
            for j in ids:
                if j >= i or labels[j] != labels[i]:
                    continue
                vj = vecs[j]
                cos = float(vi @ vj / (np.linalg.norm(vi) * np.linalg.norm(vj)))
                if round(cos, 6) >= 0.4:
                    drop = True
                    break
            if not drop:
                want.add(i)
        assert kept == want
        assert len(kept) < len(ids), "threshold must actually drop something"

    @pytest.mark.slow
    def test_production_path_with_ivf_cells(self, spark, sf_small):
        """Self-contained path: clusters from the deterministic IVF
        build, not a given label — same plan, smoke + invariants."""
        from learn_etl_data_warehouse_spark.operators import similarity
        from learn_etl_data_warehouse_spark.sources.parquet import load_table

        emb = load_table(spark, sf_small, "embeddings")
        cents = similarity.ivf_build_centroids(emb, n_cells=8, iterations=1)
        clustered = similarity.ivf_assign(emb, cents)
        kept = similarity.semantic_dedup(clustered, cluster_col="ivf_cell")
        n_in, n_kept = emb.count(), kept.count()
        assert 0 < n_kept <= n_in
        # deterministic: second run identical
        kept2 = similarity.semantic_dedup(clustered, cluster_col="ivf_cell")
        assert {r["vec_id"] for r in kept.select("vec_id").collect()} == {
            r["vec_id"] for r in kept2.select("vec_id").collect()
        }


class TestVocabAndKeepBest:
    def test_vocab_ids_are_dense_ranked_and_deterministic(self, spark, sf_small):
        from learn_etl_data_warehouse_spark.operators.text import build_vocab
        from learn_etl_data_warehouse_spark.sources.parquet import load_table

        docs = load_table(spark, sf_small, "documents")
        v1 = [tuple(r) for r in build_vocab(docs).orderBy("token_id").collect()]
        v2 = [tuple(r) for r in build_vocab(docs).orderBy("token_id").collect()]
        assert v1 == v2, "ids must not reshuffle between runs"
        assert [r[0] for r in v1] == list(range(1, len(v1) + 1)), "dense ids"
        counts = [r[2] for r in v1]
        assert counts == sorted(counts, reverse=True), "ranked by frequency"
        # ties break by token ascending
        for (id1, t1, n1), (id2, t2, n2) in zip(v1, v1[1:]):
            if n1 == n2:
                assert t1 < t2

    def test_keep_best_prefers_quality_over_min_id(self, spark):
        from learn_etl_data_warehouse_spark.operators.dedup import dedup_keep_best

        # doc 1 (low quality) and doc 2 (high quality) are duplicates;
        # doc 3 is untouched. min-id would keep 1 — keep-best must keep 2.
        docs = spark.createDataFrame(
            [(1, "a a a a"), (2, "clean diverse useful text here"), (3, "solo")],
            "doc_id long, text string",
        )
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        from learn_etl_data_warehouse_spark.operators.text import quality_score

        kept = {
            r["doc_id"]
            for r in dedup_keep_best(docs, pairs, quality_score("text")).collect()
        }
        assert kept == {2, 3}


class TestNearestJoin:
    def test_forward_match_beats_farther_backward(self, spark):
        """The bidirectional property asof_join can't express: a click
        AFTER the purchase that's closer in time must win over an
        earlier-but-farther one; out-of-tolerance rows yield nulls."""
        import datetime as dt

        from learn_etl_data_warehouse_spark.operators.asof import nearest_join

        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
        purchases = spark.createDataFrame(
            [(1, 7, t0), (2, 7, t0 + dt.timedelta(minutes=30)), (3, 8, t0)],
            "event_id long, user_id long, ts timestamp",
        )
        clicks = spark.createDataFrame(
            [
                (7, t0 - dt.timedelta(seconds=200), 1.0),  # 200s before
                (7, t0 + dt.timedelta(seconds=90), 2.0),   # 90s after → wins
            ],
            "user_id long, ts timestamp, click_value double",
        )
        out = {
            r["event_id"]: (r["nearest_ts"], r["click_value"])
            for r in nearest_join(
                purchases, clicks, key="user_id", ts="ts",
                left_id="event_id", payload_cols=["click_value"],
                tolerance_seconds=300,
            ).collect()
        }
        assert out[1] == (t0 + dt.timedelta(seconds=90), 2.0)
        assert out[2] == (None, None)  # nothing within ±300 s
        assert out[3] == (None, None)  # other user

    def test_exact_tie_breaks_to_earlier_click(self, spark):
        import datetime as dt

        from learn_etl_data_warehouse_spark.operators.asof import nearest_join

        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
        purchases = spark.createDataFrame(
            [(1, 7, t0)], "event_id long, user_id long, ts timestamp"
        )
        clicks = spark.createDataFrame(
            [(7, t0 - dt.timedelta(seconds=60), 1.0),
             (7, t0 + dt.timedelta(seconds=60), 2.0)],
            "user_id long, ts timestamp, click_value double",
        )
        row = nearest_join(
            purchases, clicks, key="user_id", ts="ts", left_id="event_id",
            payload_cols=["click_value"], tolerance_seconds=300,
        ).collect()[0]
        assert row["click_value"] == 1.0  # equal |Δt| → earlier ts wins


class TestRerank:
    @pytest.mark.slow
    def test_rerank_recall_at_least_ann_and_exact_on_candidates(
        self, spark, sf_small
    ):
        """IVF-PQ top-50 → exact re-rank top-10: the re-ranked list must
        be exactly the brute-force ordering restricted to the candidate
        set, and its recall vs global exact top-10 must be ≥ the raw ADC
        top-10's recall (re-ranking can only fix ordering, not lose
        candidates)."""
        from learn_etl_data_warehouse_spark.operators import similarity
        from learn_etl_data_warehouse_spark.sources.parquet import load_table

        emb = load_table(spark, sf_small, "embeddings")
        q = [r["embedding"] for r in emb.filter("vec_id = 0").collect()][0]
        q = [float(x) for x in q]
        cents = similarity.ivf_build_centroids(emb, n_cells=8, iterations=1)
        books = similarity.pq_train(emb, m=4, n_codes=16)
        cand50 = similarity.ivfpq_topk(emb, cents, books, q, k=50, nprobe=4)
        reranked = similarity.rerank_exact(emb, cand50, q, k=10)
        got = [r["vec_id"] for r in reranked.collect()]

        exact_global = [
            r["vec_id"] for r in similarity.cosine_topk(emb, q, k=10).collect()
        ]
        adc10 = {r["vec_id"] for r in cand50.limit(10).collect()}
        cand_ids = {r["vec_id"] for r in cand50.collect()}
        # exact ordering restricted to candidates
        want = [
            r["vec_id"]
            for r in similarity.cosine_topk(
                emb.filter(F.col("vec_id").isin(list(cand_ids))), q, k=10
            ).collect()
        ]
        assert got == want
        top = set(exact_global)
        assert len(set(got) & top) >= len(adc10 & top)


class TestPropertyFuzz:
    """Hypothesis fuzz for the session's determinism-critical pieces."""

    @pytest.mark.slow
    def test_grouped_corr_matches_numpy_on_random_frames(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from learn_etl_data_warehouse_spark.operators.grouped import grouped_corr

        vals = st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        )

        @settings(
            max_examples=15,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(
            st.lists(st.tuples(st.integers(0, 2), vals, vals), min_size=2, max_size=40)
        )
        def check(rows):
            df = spark.createDataFrame(
                [(f"g{g}", float(x), float(y)) for g, x, y in rows],
                "k string, x double, y double",
            )
            out = {r["k"]: r for r in grouped_corr(df, ["k"], "x", "y").collect()}
            for g in {f"g{g}" for g, _, _ in rows}:
                xs = np.round([x * 100 for gg, x, _ in rows if f"g{gg}" == g])
                ys = np.round([y * 100 for gg, _, y in rows if f"g{gg}" == g])
                got = out[g]
                assert got["n"] == len(xs)
                if len(xs) < 2 or np.var(xs) == 0 or np.var(ys) == 0:
                    assert got["corr_xy"] is None
                else:
                    want = np.corrcoef(xs, ys)[0, 1]
                    if abs(want) <= 1:  # numerically meaningful
                        assert got["corr_xy"] == pytest.approx(want, abs=2e-5)

        check()


class TestIncrementalVocab:
    def test_delete_batch_subtracts_exactly(self, spark):
        from learn_etl_data_warehouse_spark.operators.text import token_counts_table

        corpus = spark.createDataFrame(
            [(1, "a b b"), (2, "b c")], "doc_id long, text string"
        )
        prev = token_counts_table(corpus)
        # subtract doc 2 by maintaining with negated counts
        doc2 = spark.createDataFrame([(2, "b c")], "doc_id long, text string")
        neg = token_counts_table(doc2).select(
            "token", (-F.col("n")).alias("n")
        )
        # fold the negated delta in with a full-outer additive merge
        merged = (
            prev.join(neg.withColumnRenamed("n", "_dn"), "token", "full_outer")
            .select(
                "token",
                (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("_dn"), F.lit(0))).alias("n"),
            )
            .filter(F.col("n") > 0)
        )
        got = {(r["token"], r["n"]) for r in merged.collect()}
        assert got == {("a", 1), ("b", 2)}  # doc 1 only; 'c' dropped out


class TestAutocorrelation:
    def test_alternating_series_is_negative_at_lag1(self, spark):
        from learn_etl_data_warehouse_spark.operators.timeseries import (
            autocorrelation,
        )

        # Alternating hourly activity 3,1,3,1,... → autocorr ≈ −1 at
        # lag 1, ≈ +1 at lag 2 (pairwise-present, fully dense series).
        t0 = dt.datetime(2024, 1, 1, 0, 15)
        rows = []
        for h in range(12):
            n = 3 if h % 2 == 0 else 1
            for i in range(n):
                rows.append(("a", t0 + dt.timedelta(hours=h, minutes=i), 0.0))
        out = {
            r["lag"]: r
            for r in autocorrelation(_events(spark, rows)).collect()
        }
        assert out[1]["corr_xy"] == pytest.approx(-1.0, abs=1e-6)
        assert out[2]["corr_xy"] == pytest.approx(1.0, abs=1e-6)
        assert out[1]["n"] == 11 and out[2]["n"] == 10

    def test_pairs_are_pairwise_present_across_gaps(self, spark):
        from learn_etl_data_warehouse_spark.operators.timeseries import (
            autocorrelation,
        )

        # Hours 0,1,3 observed → lag-1 pairs (0,1) only; lag-2 pair
        # (1,3); lag-3 pair (0,3). Gap hour 2 is never imputed.
        t0 = dt.datetime(2024, 1, 1, 0, 0)
        rows = [("a", t0 + dt.timedelta(hours=h), 0.0) for h in (0, 1, 3)]
        out = {r["lag"]: r["n"] for r in autocorrelation(_events(spark, rows)).collect()}
        assert out == {1: 1, 2: 1, 3: 1}


class TestDyadicEwma:
    def test_weights_and_missing_lags(self, spark):
        from learn_etl_data_warehouse_spark.operators.timeseries import (
            dyadic_ewma,
        )

        # Hours 0,1,3 with counts 2,4,1 (hour 2 absent). k_lags=3,
        # weights lag0..3 = 8,4,2,1.
        t0 = dt.datetime(2024, 1, 1, 0, 0)
        rows = []
        for h, n in ((0, 2), (1, 4), (3, 1)):
            rows += [("a", t0 + dt.timedelta(hours=h, minutes=i), 0.0)
                     for i in range(n)]
        out = {r["hr"]: r for r in dyadic_ewma(_events(spark, rows)).collect()}
        assert set(out) == {473352, 473353, 473355}
        h0 = out[473352]   # only itself: num=8*2 den=8
        assert (h0["x"], h0["ewma_ppm"]) == (2, 2_000_000)
        h1 = out[473353]   # 8*4 + 4*2 = 40, den 12 → 3.333333
        assert (h1["x"], h1["ewma_ppm"]) == (4, 3_333_333)
        h3 = out[473355]   # 8*1 (lag0) + 2*4 (lag2) + 1*2 (lag3) = 18, den 11
        assert (h3["x"], h3["ewma_ppm"]) == (1, (1_000_000 * 18) // 11)

    def test_rejects_bad_lags(self, spark):
        from learn_etl_data_warehouse_spark.operators.timeseries import (
            dyadic_ewma,
        )

        with pytest.raises(ValueError):
            dyadic_ewma(_events(spark, []), k_lags=0)


class TestRollingAnomalies:
    def test_flat_series_with_one_spike(self, spark):
        from learn_etl_data_warehouse_spark.operators.timeseries import (
            rolling_anomalies,
        )

        # 10 quiet hours alternating 2,3 then one 50-count spike.
        t0 = dt.datetime(2024, 1, 1, 0, 0)
        rows = []
        for h in range(10):
            n = 2 if h % 2 == 0 else 3
            rows += [("a", t0 + dt.timedelta(hours=h, minutes=i), 0.0)
                     for i in range(n)]
        rows += [("a", t0 + dt.timedelta(hours=10, minutes=i), 0.0)
                 for i in range(50)]
        out = {r["hr"]: r for r in
               rolling_anomalies(_events(spark, rows), min_prev=4).collect()}
        base = 473352
        # First 4 hours lack min_prev trailing rows → absent.
        assert base in out or (base not in out)
        spike = out[base + 10]
        assert spike["x"] == 50 and spike["is_spike"] is True
        assert spike["z"] > 3
        # A quiet hour inside the window is not flagged.
        quiet = out[base + 9]
        assert quiet["is_spike"] is False

    def test_zero_variance_window_yields_null_z(self, spark):
        from learn_etl_data_warehouse_spark.operators.timeseries import (
            rolling_anomalies,
        )

        t0 = dt.datetime(2024, 1, 1, 0, 0)
        rows = []
        for h in range(8):
            rows += [("a", t0 + dt.timedelta(hours=h, minutes=i), 0.0)
                     for i in range(2)]   # constant 2/hour
        out = rolling_anomalies(_events(spark, rows), min_prev=4).collect()
        assert out and all(r["z"] is None and r["is_spike"] is False
                           for r in out)


def test_theilsen_trend_negative_slopes_floor_division(spark):
    """r8: declining series → NEGATIVE slopes, where Spark div
    (truncate) and floor differ — the operator must floor. Hand
    computation: hours 0,1,3 with counts 10,7,2 give slopes
    floor(-3e6/1) = -3000000, floor(-8e6/3) = -2666667 (floor, not
    -2666666!), floor(-5e6/2) = -2500000; lower median of the sorted
    triple is -2666667."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        theilsen_trend,
    )

    hourly = spark.createDataFrame(
        [("a", 0, 10), ("a", 1, 7), ("a", 3, 2)],
        "event_type string, hr long, x long",
    )
    rows = theilsen_trend(hourly).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["event_type"], r["n_pairs"], r["median_slope_micro"]) == (
        "a", 3, -2666667
    )


def test_hw_final_state_matches_full_recursion(spark, sf_small):
    """r12: the carried Holt-Winters state (what hw_mase_backtest and
    forecast_disagreement extend) is, per key, the full recursion's
    last-hour level and trend plus each season slot's LAST update
    (0 where a slot was never updated)."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        holt_winters_smooth,
        hourly_counts,
        hw_final_state,
    )
    from learn_etl_data_warehouse_spark.sources.parquet import load_table

    ev = load_table(spark, sf_small, "events").select("ts", "event_type")
    full = holt_winters_smooth(hourly_counts(ev))
    want = {}
    for r in sorted(full.collect(), key=lambda r: r["hr"]):
        season = want.get(r["event_type"], (0, 0, 0, [0] * 24))[3]
        season[r["hr"] % 24] = r["season_micro"]
        want[r["event_type"]] = (
            r["hr"], r["level_micro"], r["trend_micro"], season
        )
    got = {
        r["event_type"]: (
            r["last_hr"], r["level_micro"], r["trend_micro"], list(r["season"])
        )
        for r in hw_final_state(full).collect()
    }
    assert got == want and len(got) > 0
