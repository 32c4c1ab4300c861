"""Property-based conformance for the r5c3 pair/frontier operators:
random inputs vs brute-force Python models (the SURVEY §5 fuzz posture
test_property_cleaning.py applies to the cleaning grammar)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

points = st.lists(
    st.tuples(st.integers(0, 500), st.integers(0, 50)),
    min_size=1,
    max_size=40,
)


@pytest.mark.slow
@given(points)
@SETTINGS
def test_pareto_frontier_fuzz_vs_bruteforce(spark, pts):
    from learn_etl_data_warehouse_spark.operators.skyline import (
        pareto_frontier_2d,
    )

    rows = [(i, p, s) for i, (p, s) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, price long, sz long")
    got = {
        r.id
        for r in pareto_frontier_2d(
            df, "price", "sz", bucket_width=64
        ).collect()
    }
    want = {
        i
        for i, p, s in rows
        if not any(
            p2 <= p and s2 >= s and (p2 < p or s2 > s)
            for _, p2, s2 in rows
        )
    }
    assert got == want


intervals = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 40), st.integers(0, 15)),
    min_size=1,
    max_size=30,
)


@pytest.mark.slow
@given(intervals)
@SETTINGS
def test_interval_overlap_fuzz_vs_bruteforce(spark, ivs):
    from learn_etl_data_warehouse_spark.operators.joins import (
        interval_overlap_join,
    )

    rows = [(k, i, s, s + ln) for i, (k, s, ln) in enumerate(ivs)]
    df = spark.createDataFrame(rows, "k0 long, id long, s long, e long")
    got = {
        (r.id_a, r.id_b)
        for r in interval_overlap_join(
            df, key="k0", start="s", end="e", id_col="id"
        ).collect()
    }
    want = {
        (a[1], b[1])
        for a in rows
        for b in rows
        if a[0] == b[0]
        and a[1] < b[1]
        and a[2] <= b[3]
        and b[2] <= a[3]
    }
    assert got == want


values = st.lists(st.integers(0, 10**12), min_size=1, max_size=60)


@pytest.mark.slow
@given(values)
@SETTINGS
def test_abc_classification_fuzz_vs_bruteforce(spark, vals):
    from learn_etl_data_warehouse_spark.operators.contribution import (
        abc_classification,
    )

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {r["k"]: r["abc_class"]
           for r in abc_classification(df, "v", "k").collect()}

    total = sum(vals)
    cum, want = 0, {}
    for k, v in sorted(rows, key=lambda r: (-r[1], r[0])):
        cum += v
        want[k] = ("A" if cum * 100 <= total * 80
                   else "B" if cum * 100 <= total * 95 else "C")
    assert got == want


strata = st.lists(
    st.tuples(st.sampled_from(["en", "de", "fr", "ja"]), st.integers(0, 10**6)),
    min_size=1,
    max_size=50,
    unique_by=lambda t: t[1],
)


@pytest.mark.slow
@given(strata, st.integers(1, 99))
@SETTINGS
def test_exact_stratified_split_fuzz_invariants(spark, rows, pct):
    from learn_etl_data_warehouse_spark.operators.sampling import (
        exact_stratified_split,
    )

    df = spark.createDataFrame(
        [(i, lang) for lang, i in rows], "doc_id long, lang string"
    )
    out = exact_stratified_split(df, train_pct=pct).collect()
    assert len(out) == len(rows)  # no row lost or duplicated
    n = len(rows)
    train = [r for r in out if r["split"] == "train"]
    assert len(train) == (pct * n) // 100  # exact total, always

    # per-stratum quota within one of its proportional share
    per_n, per_t = {}, {}
    for r in out:
        per_n[r["lang"]] = per_n.get(r["lang"], 0) + 1
        if r["split"] == "train":
            per_t[r["lang"]] = per_t.get(r["lang"], 0) + 1
    for lang, nk in per_n.items():
        base = (pct * nk) // 100
        assert per_t.get(lang, 0) in (base, base + 1)


graphs = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9), st.integers(1, 20)),
    min_size=1,
    max_size=30,
)


@pytest.mark.slow
@given(graphs)
@SETTINGS
def test_shortest_paths_fuzz_vs_bellman_ford_model(spark, raw_edges):
    from learn_etl_data_warehouse_spark.operators.graph import shortest_paths

    edges = [(a, b, w) for a, b, w in raw_edges if a != b]
    if not edges:
        return
    rounds = 3
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    seeds = sorted({a for a, _, _ in edges})[:2]
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {r["node"]: r["cost"] for r in
           shortest_paths(df, sdf, rounds=rounds).collect()}

    # reference: K rounds of relaxation over the same edge list
    INF = float("inf")
    dist = {s: 0 for s in seeds}
    for _ in range(rounds):
        nxt = dict(dist)
        for a, b, w in edges:
            if dist.get(a, INF) + w < nxt.get(b, INF):
                nxt[b] = dist[a] + w
        dist = nxt
    assert got == dist


traces = st.lists(
    st.tuples(st.integers(1, 3), st.integers(0, 50),
              st.sampled_from(["A", "B", "C"])),
    min_size=1,
    max_size=25,
    unique_by=lambda t: (t[0], t[1]),
)


@pytest.mark.slow
@given(traces)
@SETTINGS
def test_footprint_matrix_fuzz_vs_model(spark, raw):
    from datetime import datetime, timedelta
    from learn_etl_data_warehouse_spark.operators.process_mining import (
        footprint_matrix,
    )

    base = datetime(2024, 1, 1)
    rows = [(u, base + timedelta(minutes=m), u * 1000 + m, t)
            for u, m, t in raw]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    got = {(r["a"], r["b"]): (r["n_direct"], r["n_users_eventual"])
           for r in footprint_matrix(df).collect()}

    # model: per-user ordered traces
    by_u = {}
    for u, ts, eid, t in rows:
        by_u.setdefault(u, []).append((ts, eid, t))
    direct, eventual = {}, {}
    for u, tr in by_u.items():
        tr.sort()
        types = [t for _, _, t in tr]
        for x, y in zip(types, types[1:]):
            direct[(x, y)] = direct.get((x, y), 0) + 1
        for i, x in enumerate(types):
            for y in types[i + 1:]:
                eventual.setdefault((x, y), set()).add(u)
    alphabet = sorted({t for *_, t in rows})
    for a in alphabet:
        for b in alphabet:
            nd, ne = got[(a, b)]
            assert nd == direct.get((a, b), 0)
            assert ne == len(eventual.get((a, b), set()))


docs_corpus = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d", "e"]), min_size=1, max_size=12),
    min_size=1,
    max_size=12,
)


@pytest.mark.slow
@given(docs_corpus)
@SETTINGS
def test_containment_pairs_fuzz_vs_model(spark, word_lists):
    from learn_etl_data_warehouse_spark.operators.dedup import (
        containment_pairs,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(word_lists)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cap, pct, n = 4, 80, 3
    got = {(r["src_id"], r["within_id"]): (r["n_shared"], r["containment_ppm"])
           for r in containment_pairs(df, n=n, threshold_pct=pct,
                                      max_doc_freq=cap).collect()}

    # model: distinct trigram sets (short docs -> whole text), blacklist
    # grams with df > cap, directed integer containment
    def grams(ws):
        if len(ws) < n:
            return {" ".join(ws)}
        return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}

    gsets = {i: grams(ws) for i, ws in enumerate(word_lists)}
    df_count = {}
    for gs in gsets.values():
        for g in gs:
            df_count[g] = df_count.get(g, 0) + 1
    hot = {g for g, c in df_count.items() if c > cap}
    gsets = {i: gs - hot for i, gs in gsets.items()}
    want = {}
    for i, gi in gsets.items():
        for j, gj in gsets.items():
            if i == j or not gi:
                continue
            inter = len(gi & gj)
            if inter and 100 * inter >= pct * len(gi):
                want[(i, j)] = (inter, (1_000_000 * inter) // len(gi))
    assert got == want


durations_strategy = st.lists(
    st.tuples(st.integers(0, 30), st.booleans()),
    min_size=1,
    max_size=40,
)


@pytest.mark.slow
@given(durations_strategy)
@SETTINGS
def test_nelson_aalen_fuzz_vs_bruteforce(spark, rows):
    """r7 survival estimator vs a brute-force model: at_risk counted by
    direct comparison per event time, hazard as truncating ppm, cum
    hazard as the running sum over ascending event times."""
    from learn_etl_data_warehouse_spark.operators.survival import (
        nelson_aalen,
    )

    data = [
        (i, int(d), 1 if ev else 0) for i, (d, ev) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "subject LONG, duration_days LONG, event LONG"
    )
    got = {
        r["duration_days"]: (
            r["at_risk"], r["events"], r["hazard_ppm"], r["cum_hazard_ppm"]
        )
        for r in nelson_aalen(df).collect()
    }

    event_times = sorted({d for _, d, e in data if e == 1})
    cum = 0
    want = {}
    for t in event_times:
        at_risk = sum(1 for _, d, _ in data if d >= t)
        events = sum(1 for _, d, e in data if d == t and e == 1)
        hazard = (1_000_000 * events) // at_risk
        cum += hazard
        want[t] = (at_risk, events, hazard, cum)
    assert got == want


# --- r8: decision stump fuzz -----------------------------------------

_feat_rows = st.lists(
    st.tuples(st.integers(0, 6), st.integers(0, 1)),
    min_size=1,
    max_size=30,
)


@pytest.mark.slow
@given(_feat_rows)
@SETTINGS
def test_decision_stump_fuzz_vs_bruteforce(spark, rows):
    """Random single-feature tables vs brute-force enumeration of every
    (threshold, polarity): the trainer must pick the same maximal
    split under the (correct DESC, threshold ASC, polarity ASC)
    order."""
    import learn_etl_data_warehouse_spark.operators.classifier as clf

    df = spark.createDataFrame(
        [(i, v, lab, 2 * lab - 1) for i, (v, lab) in enumerate(rows)],
        "doc_id long, bias long, label long, sgn long",
    )
    # reuse the trainer with FEATURE_NAMES temporarily narrowed to the
    # one fuzzed column so the brute-force model stays tiny
    orig = clf.FEATURE_NAMES
    clf.FEATURE_NAMES = ["bias"]
    try:
        got = clf.decision_stump_train(df).collect()[0]
    finally:
        clf.FEATURE_NAMES = orig
    best = None
    for t in sorted({v for v, _ in rows}):
        for pol in (0, 1):
            correct = sum(
                1 for v, lab in rows
                if (pol if v <= t else 1 - pol) == lab
            )
            cand = (-correct, t, pol)
            if best is None or cand < best:
                best = cand
    assert (got["correct"], got["threshold"], got["polarity"]) == (
        -best[0], best[1], best[2]
    )


# --- r8: Theil-Sen fuzz ----------------------------------------------

_hourly_rows = st.lists(
    st.tuples(
        st.integers(0, 2), st.integers(0, 20), st.integers(0, 30)
    ),
    min_size=2,
    max_size=25,
)


@pytest.mark.slow
@given(_hourly_rows)
@SETTINGS
def test_theilsen_fuzz_vs_bruteforce(spark, rows):
    """Random (key, hr, x) grids — including declining series whose
    negative slopes exercise the floor-division reconstruction —
    against a Python median-of-slopes model (// floors, matching)."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        theilsen_trend,
    )

    grid = {}
    for k, h, x in rows:
        grid[(k, h)] = x  # last write wins; dedupe (key, hr)
    data = [(str(k), h, x) for (k, h), x in sorted(grid.items())]
    df = spark.createDataFrame(
        data, "event_type string, hr long, x long"
    )
    got = {
        r["event_type"]: (r["n_pairs"], r["median_slope_micro"])
        for r in theilsen_trend(df).collect()
    }
    by_key = {}
    for k, h, x in data:
        by_key.setdefault(k, []).append((h, x))
    want = {}
    for k, pts in by_key.items():
        slopes = [
            ((x2 - x1) * 1_000_000) // (h2 - h1)
            for i, (h1, x1) in enumerate(pts)
            for (h2, x2) in pts[i + 1 :]
            if h2 > h1
        ]
        if slopes:
            slopes.sort()
            want[k] = (len(slopes), slopes[(len(slopes) + 1) // 2 - 1])
    assert got == want


# --- r9: maximal-repeat fuzz -----------------------------------------

_corpora = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=24),
    min_size=1,
    max_size=10,
)


@pytest.mark.slow
@given(_corpora)
@SETTINGS
def test_maximal_repeat_fuzz_vs_model(spark, word_lists):
    """Random tiny-alphabet corpora (dense with genuine repeats) vs the
    pure-Python counter model: per-level duplicated-gram starts and the
    min_len coverage scrub must agree exactly; empty docs produce no
    row."""
    from collections import Counter

    from learn_etl_data_warehouse_spark.operators.dedup import (
        maximal_repeat_stats,
    )

    levels, min_len = (2, 4, 8), 4
    docs = [(i, " ".join(ws)) for i, ws in enumerate(word_lists)]
    cnt = {L: Counter() for L in levels}
    for ws in word_lists:
        for L in levels:
            for i in range(len(ws) - L + 1):
                cnt[L][tuple(ws[i : i + L])] += 1
    want = {}
    for d, ws in enumerate(word_lists):
        if not ws:
            continue
        n = len(ws)
        dup = {
            L: [
                1 if i + L <= n and cnt[L][tuple(ws[i : i + L])] > 1 else 0
                for i in range(n)
            ]
            for L in levels
        }
        cov = [
            1
            if any(
                dup[min_len][s]
                for s in range(max(0, p - min_len + 1), p + 1)
            )
            else 0
            for p in range(n)
        ]
        want[d] = (
            n, sum(dup[2]), sum(dup[4]), sum(dup[8]),
            sum(cov), n - sum(cov),
        )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["rep2_starts"], r["rep4_starts"],
            r["rep8_starts"], r["n_covered"], r["n_kept"],
        )
        for r in maximal_repeat_stats(
            df, levels=levels, min_len=min_len
        ).collect()
    }
    assert got == want


groups_vals = st.lists(
    st.tuples(st.integers(0, 1), st.integers(0, 500)),
    min_size=1,
    max_size=40,
)


@pytest.mark.slow
@given(groups_vals)
@SETTINGS
def test_mad_outlier_profile_fuzz_vs_sorted_model(spark, rows):
    """r10: st06's per-group selection kernel vs the sorted-list model:
    lower nearest-rank median at (n+1)//2, MAD same rule over
    |x − med|, outliers strictly > 3·MAD."""
    from learn_etl_data_warehouse_spark.operators.sampling import (
        mad_outlier_profile,
    )

    data = [("g" + str(g), v / 100.0) for g, v in rows]
    df = spark.createDataFrame(data, "g string, v double")
    got = {
        r["grp"]: (r["n_g"], r["median_cents"], r["mad_cents"],
                   r["n_outliers"])
        for r in mad_outlier_profile(df, "v", "g").collect()
    }
    by_g: dict = {}
    for g, v in rows:
        by_g.setdefault("g" + str(g), []).append(v)
    for g, vs in by_g.items():
        s = sorted(vs)
        med = s[(len(s) + 1) // 2 - 1]
        d = sorted(abs(x - med) for x in vs)
        mad = d[(len(d) + 1) // 2 - 1]
        n_out = sum(1 for x in vs if abs(x - med) > 3 * mad)
        assert got[g] == (len(vs), med, mad, n_out), g


weighted_rows = st.lists(
    st.tuples(st.integers(0, 300), st.integers(0, 5)),
    min_size=1,
    max_size=30,
)


@pytest.mark.slow
@given(weighted_rows)
@SETTINGS
def test_weighted_median_fuzz_vs_expansion_model(spark, rows):
    """r10: a30 ≡ st06's rank rule over the weight-EXPANDED multiset
    (each row repeated w times) — the defining identity of a weighted
    median."""
    from learn_etl_data_warehouse_spark.operators.sampling import (
        weighted_median,
    )

    data = [("g", v / 100.0, w) for v, w in rows]
    df = spark.createDataFrame(data, "g string, v double, w long")
    out = weighted_median(df, "v", "w", "g").collect()
    expanded = sorted(v for v, w in rows for _ in range(w))
    if not expanded:
        assert out == []
        return
    [r] = out
    want = expanded[(len(expanded) + 1) // 2 - 1]
    assert (r["total_weight"], r["weighted_median_cents"]) == (
        len(expanded), want,
    )


kmv_sets = st.lists(
    st.tuples(st.integers(0, 1), st.integers(0, 400)),
    min_size=2,
    max_size=60,
)


@pytest.mark.slow
@given(kmv_sets, st.sampled_from([4, 8, 256]))
@SETTINGS
def test_kmv_fuzz_vs_python_model(spark, rows, k):
    """r10: sk02 vs a Python model applying the identical md5 slices,
    survivor threshold, k-smallest selection, and integer estimate
    formulas — exact equality on every output column."""
    import hashlib

    from learn_etl_data_warehouse_spark.operators.sketches import (
        kmv_set_estimates,
    )

    if not any(g == 0 for g, _ in rows) or not any(g == 1 for g, _ in rows):
        return
    data = [(v, "x" if g == 0 else "y") for g, v in rows]
    df = spark.createDataFrame(data, "k long, g string")
    [r] = kmv_set_estimates(df, "k", "g", "x", "y", k=k).collect()

    two48 = 1 << 48

    def h48(v):
        return int(
            hashlib.md5(str(v).encode()).hexdigest()[:12], 16
        )

    sets = {"x": set(), "y": set()}
    for v, g in data:
        sets[g].add(v)
    sketches = {}
    for g, keys in sets.items():
        hs = sorted({h48(v) for v in keys})
        n = len(hs)
        thr = min(two48, (two48 * 4 * k) // max(n, 1))
        surv = [h for h in hs if h < thr][:k]
        sketches[g] = surv
    ests = {}
    for g, sk in sketches.items():
        ests[g] = (
            len(sk) if len(sk) < k else ((k - 1) * two48) // sk[k - 1]
        )
    uni = sorted(set(sketches["x"]) | set(sketches["y"]))[:k]
    ku = len(uni)
    est_u = ku if ku < k else ((k - 1) * two48) // uni[k - 1]
    matches = sum(
        1
        for h in uni
        if h in set(sketches["x"]) and h in set(sketches["y"])
    )
    est_i = (matches * est_u) // max(ku, 1)
    exact_i = len(sets["x"] & sets["y"])
    assert (
        r["est_a"], r["exact_a"], r["est_b"], r["exact_b"],
        r["est_union"], r["est_intersection"], r["exact_intersection"],
    ) == (
        ests["x"], len(sets["x"]), ests["y"], len(sets["y"]),
        est_u, est_i, exact_i,
    )


mk_series = st.lists(st.integers(0, 8), min_size=2, max_size=40)


@pytest.mark.slow
@given(mk_series)
@SETTINGS
def test_mann_kendall_fuzz_vs_bruteforce(spark, xs):
    """r12: st08 — S and the tie-corrected variance numerator vs a
    brute-force model on small-alphabet series (ties guaranteed)."""
    from collections import Counter

    from learn_etl_data_warehouse_spark.operators.timeseries import (
        mann_kendall,
    )

    df = spark.createDataFrame(
        [("k", h, x) for h, x in enumerate(xs)],
        "event_type string, hr long, x long",
    )
    got = mann_kendall(df).collect()[0]
    n = len(xs)
    s = sum(
        (xs[j] > xs[i]) - (xs[j] < xs[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    var18 = n * (n - 1) * (2 * n + 5) - sum(
        t * (t - 1) * (2 * t + 5) for t in Counter(xs).values()
    )
    assert (got["n_hours"], got["s_stat"], got["var18_numer"]) == (
        n, s, var18,
    )


ll_intervals = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 10)),
    min_size=1,
    max_size=25,
)


@pytest.mark.slow
@given(ll_intervals)
@SETTINGS
def test_littles_law_fuzz_conservation(spark, ivs):
    """r12: ops04 — the sweep-integrated backlog area equals the
    per-interval mass on arbitrary overlapping interval sets, and both
    match the brute-force day count."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        littles_law_check,
    )

    rows = [(s, s + d) for s, d in ivs]
    df = spark.createDataFrame(rows, "start_day long, end_day long")
    r = littles_law_check(df).collect()[0]
    brute = sum(
        sum(1 for (s, e) in rows if s <= d <= e)
        for d in range(0, 45)
    )
    assert r["sum_time_in_system_days"] == brute
    assert r["backlog_area_days"] == brute


runs_series = st.lists(st.integers(0, 5), min_size=3, max_size=40)


@pytest.mark.slow
@given(runs_series)
@SETTINGS
def test_runs_test_fuzz_vs_bruteforce(spark, xs):
    """r12: st09 — runs/above/below vs the brute-force dichotomy on
    small-alphabet series (median ties guaranteed and dropped)."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        runs_test,
    )

    df = spark.createDataFrame(
        [("k", h, x) for h, x in enumerate(xs)],
        "event_type string, hr long, x long",
    )
    out = runs_test(df).collect()
    med = sorted(xs)[(len(xs) + 1) // 2 - 1]
    signs = [x > med for x in xs if x != med]
    if not signs:
        assert out == [] or (
            out[0]["n_above"] == 0 and out[0]["n_below"] == 0
        )
        return
    runs = 1 + sum(
        signs[i] != signs[i - 1] for i in range(1, len(signs))
    )
    got = out[0]
    assert got["n_above"] == sum(signs)
    assert got["n_below"] == len(signs) - sum(signs)
    assert got["n_runs"] == runs


_xy_series = st.lists(
    st.tuples(st.integers(0, 20), st.integers(0, 20)),
    min_size=2,
    max_size=24,
)


@pytest.mark.slow
@given(_xy_series)
@SETTINGS
def test_kendall_tau_fuzz_vs_bruteforce(spark, xy):
    """r13: st10's pair classes vs the O(n²) Python model on random
    short two-metric series (heavy ties by construction)."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        kendall_tau,
    )

    rows = [("k", h, a, b) for h, (a, b) in enumerate(xy)]
    df = spark.createDataFrame(
        rows, "event_type string, hr long, x long, y long"
    )
    got = kendall_tau(df).collect()[0]
    C = D = tx = ty = txy = 0
    n = len(xy)
    for i in range(n):
        for j in range(i + 1, n):
            dx = (xy[j][0] > xy[i][0]) - (xy[j][0] < xy[i][0])
            dy = (xy[j][1] > xy[i][1]) - (xy[j][1] < xy[i][1])
            if dx * dy == 1:
                C += 1
            elif dx * dy == -1:
                D += 1
            elif dx == 0 and dy == 0:
                txy += 1
            elif dx == 0:
                tx += 1
            else:
                ty += 1
    assert (
        got["n_pairs"], got["concordant"], got["discordant"],
        got["s_stat"], got["ties_x"], got["ties_y"], got["ties_xy"],
    ) == (n * (n - 1) // 2, C, D, C - D, tx, ty, txy)


_burst_series = st.lists(st.integers(0, 30), min_size=1, max_size=30)


@pytest.mark.slow
@given(_burst_series)
@SETTINGS
def test_burst_viterbi_fuzz_vs_python_dp(spark, xs):
    """r13: e36's optimal cost and canonical burst-hour count vs the
    Python DP with the identical stay-on-tie rule, on random series
    (dense hours so the grid is the series itself)."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        burst_viterbi,
    )

    rows = [("k", h, x) for h, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "event_type string, hr long, x long")
    got = burst_viterbi(df).collect()[0]
    n = len(xs)
    r0 = sum(xs) // n
    r1, lam = 2 * r0 + 1, r0 + 1
    c0, b0, c1, b1 = 0, 0, lam, 0
    for x in xs:
        nc0 = min(c0, c1 + lam) + abs(x - r0)
        nb0 = b0 if c0 <= c1 + lam else b1
        nc1 = min(c1, c0 + lam) + abs(x - r1)
        nb1 = (b1 if c1 <= c0 + lam else b0) + 1
        c0, b0, c1, b1 = nc0, nb0, nc1, nb1
    want = (c0, b0) if c0 <= c1 else (c1, b1)
    assert (got["total_cost"], got["burst_hours"]) == want
    assert (got["n_hours"], got["base_rate"], got["switch_cost"]) == (
        n, r0, lam,
    )


_pack_docs = st.lists(st.integers(0, 12), min_size=1, max_size=40)


@pytest.mark.slow
@given(_pack_docs, st.integers(2, 16))
@SETTINGS
def test_packing_audit_fuzz_vs_walk(spark, toks, cap):
    """r13: t43's bins/waste/crossings vs a Python walk that re-derives
    the md5 shard and order keys, over random token counts (including
    zero-token docs) and random capacities."""
    import hashlib
    import math

    from learn_etl_data_warehouse_spark.operators.text import (
        packing_audit,
    )

    rows = [(i, " ".join(["w"] * t) if t else "") for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["shard"]: r
        for r in packing_audit(df, capacity=cap, n_shards=4).collect()
    }
    shards = {}
    for i, t in enumerate(toks):
        h = hashlib.md5(f"shard:{i}".encode()).hexdigest()[:8]
        sh = int(h, 16) % 4
        ok = hashlib.md5(f"ord:{i}".encode()).hexdigest()
        shards.setdefault(sh, []).append((ok, i, t))
    for sh, docs in shards.items():
        docs.sort()
        before = 0
        crossings = 0
        for _, _, t in docs:
            if t > 0 and before // cap != (before + t - 1) // cap:
                crossings += 1
            before += t
        r = got[sh]
        assert r["n_docs"] == len(docs)
        assert r["total_tokens"] == before
        assert r["n_bins"] == math.ceil(before / cap)
        assert r["n_crossings"] == crossings


_kappa_rows = st.lists(
    st.tuples(
        st.sampled_from(["g1", "g2"]),
        st.integers(0, 1),
        st.integers(0, 1),
    ),
    min_size=1,
    max_size=60,
)


@pytest.mark.slow
@given(_kappa_rows)
@SETTINGS
def test_cohens_kappa_fuzz_vs_model(spark, rows):
    """r13 cont.: st13's kernel vs a pure-Python integer model —
    cells, po/pe ppm and the signed exact-rational kappa (NULL iff
    chance-perfect)."""
    from learn_etl_data_warehouse_spark.operators.evaluation import (
        cohens_kappa,
    )

    df = spark.createDataFrame(
        rows, "grp string, rater_a long, rater_b long"
    )
    got = {r["grp"]: r for r in cohens_kappa(df).collect()}

    groups = {}
    for g, a, b in rows:
        groups.setdefault(g, []).append((a, b))
    for g, pairs in groups.items():
        n = len(pairs)
        n11 = sum(1 for a, b in pairs if a == 1 and b == 1)
        n10 = sum(1 for a, b in pairs if a == 1 and b == 0)
        n01 = sum(1 for a, b in pairs if a == 0 and b == 1)
        n00 = n - n11 - n10 - n01
        chance = (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
        r = got[g]
        assert (r["n11"], r["n10"], r["n01"], r["n00"]) == (
            n11, n10, n01, n00,
        )
        assert r["po_ppm"] == (1_000_000 * (n11 + n00)) // n
        assert r["pe_ppm"] == (1_000_000 * chance) // (n * n)
        if n * n == chance:
            assert r["kappa_ppm"] is None
        else:
            num = 1_000_000 * (n * (n11 + n00) - chance)
            den = n * n - chance
            want = -((-num) // den) if num < 0 else num // den
            assert r["kappa_ppm"] == want


_hhi_rows = st.lists(
    st.tuples(
        st.sampled_from(["m1", "m2"]),
        st.integers(1, 8),
        st.integers(1, 10_000),
    ),
    min_size=1,
    max_size=40,
)


@pytest.mark.slow
@given(_hhi_rows)
@SETTINGS
def test_hhi_fuzz_vs_model(spark, rows):
    """r13 cont.: a34's exact rational vs a pure-Python model, plus
    the 1e6/n <= HHI <= 1e6 bound."""
    from learn_etl_data_warehouse_spark.operators.product_analytics import (
        hhi_concentration,
    )

    df = spark.createDataFrame(rows, "grp string, entity long, cents long")
    got = {r["grp"]: r for r in hhi_concentration(df).collect()}
    groups = {}
    for g, e, c in rows:
        groups.setdefault(g, {}).setdefault(e, 0)
        groups[g][e] += c
    for g, ents in groups.items():
        tot = sum(ents.values())
        sq = sum(v * v for v in ents.values())
        r = got[g]
        assert r["n_entities"] == len(ents)
        assert r["total_cents"] == tot
        assert r["hhi_ppm"] == (1_000_000 * sq) // (tot * tot)
        assert r["top_share_ppm"] == (1_000_000 * max(ents.values())) // tot
        assert (1_000_000 // len(ents)) - 1 <= r["hhi_ppm"] <= 1_000_000


_cm_keys = st.lists(st.integers(0, 30), min_size=1, max_size=80)


@pytest.mark.slow
@given(_cm_keys)
@SETTINGS
def test_md5_cm_fuzz_invariants(spark, keys):
    """r13 cont.: sk05's CM estimate never underestimates, is exact
    for keys whose buckets nobody shares, and the audit covers every
    distinct key when top >= distinct count."""
    from learn_etl_data_warehouse_spark.operators.sketches import (
        md5_cm_estimate_audit,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    out = md5_cm_estimate_audit(df, "k", width=16, depth=2, top=100).collect()
    assert len(out) == len(set(keys))
    from collections import Counter

    exact = Counter(keys)
    for r in out:
        assert r["exact_n"] == exact[r["key"]]
        assert r["overest"] >= 0
        assert r["est_n"] == r["exact_n"] + r["overest"]
