"""Operator-level tests: histogram semantics, dedup recall, similarity,
sessionization conformance, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from learn_etl_data_warehouse_spark.functions.histogram import histogram
from learn_etl_data_warehouse_spark.operators import dedup, multimodal, similarity
from learn_etl_data_warehouse_spark.sources.parquet import load_table
from learn_etl_data_warehouse_spark.streaming.events import session_windows_batch


def test_histogram_matches_numpy(spark, sf_small):
    orders = load_table(spark, sf_small, "orders")
    got = {r["bin"]: r["n"] for r in histogram(orders, "o_totalprice", 10).collect()}
    vals = np.array([r[0] for r in orders.select("o_totalprice").collect()])
    counts, _ = np.histogram(vals, bins=10)  # matplotlib uses np.histogram
    expected = {i: int(c) for i, c in enumerate(counts) if c > 0}
    assert got == expected


def test_histogram_degenerate_single_value(spark):
    df = spark.createDataFrame([(5.0,)] * 7, ["x"])
    rows = histogram(df, "x", 10).collect()
    assert len(rows) == 1 and rows[0]["bin"] == 0 and rows[0]["n"] == 7


def test_minhash_lsh_recall_against_exact(spark, sf_small):
    """MinHash-LSH must recover the high-Jaccard pairs the exact operator
    finds (est_jaccard is an estimate; compare pair sets, not values)."""
    docs = load_table(spark, sf_small, "documents")
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.9).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, num_hashes=64, bands=16, shingle_n=3, threshold=0.5
        ).collect()
    }
    assert exact, "fixture should contain near-duplicate documents"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall} too low ({len(exact)} true pairs)"


def test_simhash_near_pairs_are_similar_docs(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    sig = dedup.simhash(docs)
    pairs = dedup.simhash_near_pairs(sig, max_hamming=8).collect()
    # sanity: near-identical docs exist and hamming is within bound
    assert all(r["hamming"] <= 8 for r in pairs)


def test_cosine_topk_self_is_first(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    q = [float(v) for v in emb.filter(F.col("vec_id") == 3).head()["embedding"]]
    top = similarity.cosine_topk(emb, q, k=5).collect()
    assert top[0]["vec_id"] == 3 and abs(top[0]["cosine"] - 1.0) < 1e-6


def test_lsh_topk_contains_self(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    q = [float(v) for v in emb.filter(F.col("vec_id") == 3).head()["embedding"]]
    top = similarity.lsh_topk(emb, q, k=5, n_bits=8).collect()
    assert top and top[0]["vec_id"] == 3


def test_zscore_native_matches_pandas_model(spark, sf_small):
    """The native window z-score equals a pandas per-group model row for
    row (sample stddev; single-member and zero-variance groups null)."""
    from learn_etl_data_warehouse_spark.operators.grouped import zscore_native

    orders = load_table(spark, sf_small, "orders")
    a = sorted(map(tuple, zscore_native(orders).collect()))
    pdf = orders.select("o_custkey", "o_orderkey", "o_totalprice").toPandas()
    grp = pdf.groupby("o_custkey")["o_totalprice"]
    std = grp.transform("std")
    z = ((pdf["o_totalprice"] - grp.transform("mean")) / std).where(std > 0)
    b = sorted(
        (k, o, None if np.isnan(v) else round(float(v), 6))
        for k, o, v in zip(pdf["o_custkey"], pdf["o_orderkey"], z)
    )
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert ra[0] == rb[0] and ra[1] == rb[1]
        if ra[2] is None or rb[2] is None:
            assert ra[2] == rb[2]
        else:
            assert abs(ra[2] - rb[2]) <= 1e-6


@pytest.mark.slow
def test_ivf_recall_scales_with_nprobe(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    q = [float(v) for v in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    cents = similarity.ivf_build_centroids(emb, n_cells=16, iterations=1)
    exact = [r["vec_id"] for r in similarity.cosine_topk(emb, q, k=10).collect()]
    rec = {}
    for nprobe in (4, 16):
        got = [
            r["vec_id"]
            for r in similarity.ivf_topk(emb, cents, q, k=10, nprobe=nprobe).collect()
        ]
        rec[nprobe] = len(set(exact) & set(got)) / 10
    assert rec[16] == 1.0, f"nprobe=all must be exact, got {rec}"
    assert rec[4] >= 0.4, f"nprobe=4 recall too low: {rec}"


def test_ivf_cells_are_balanced(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    cents = similarity.ivf_build_centroids(emb, n_cells=8, iterations=2)
    sizes = [
        r["count"]
        for r in similarity.ivf_assign(emb, cents).groupBy("ivf_cell").count().collect()
    ]
    assert len(sizes) == 8
    assert max(sizes) < 4 * min(sizes), f"degenerate clustering: {sizes}"


def test_session_native_matches_gaps_and_islands(spark, sf_small):
    """Spark's native session_window must agree with the
    SQL-oracle-checkable gaps-and-islands sessionization."""
    from learn_etl_data_warehouse_spark.functions.aggregates import fixed_point_sum

    events = load_table(spark, sf_small, "events")
    a = session_windows_batch(events, gap_minutes=30).select(
        "user_id", "session_start", "session_end", "n_events", "sum_value"
    )
    b = (
        events.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fixed_point_sum(F.col("value"), 100).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    sa = sorted(map(tuple, a.collect()))
    sb = sorted(map(tuple, b.collect()))
    assert sa == sb


def test_multimodal_feature_extraction_shape(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    media = multimodal.documents_as_media(docs)
    feats = multimodal.extract_features(media)
    rows = feats.limit(5).collect()
    assert len(rows) == 5
    for r in rows:
        assert len(r["features"]) == multimodal.FEATURE_DIM
        assert abs(sum(r["features"]) - 1.0) < 1e-9  # L1-normalized
        assert r["byte_len"] > 0


def test_resize_and_frame_sampling_shapes(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    media = multimodal.documents_as_media(docs)
    thumbs = multimodal.resize_images(media).limit(3).collect()
    assert all(len(r["pixels"]) == 16 and r["height"] == 4 for r in thumbs)
    frames = multimodal.sample_frames(media, n_frames=4)
    per_item = frames.groupBy("media_id").count().collect()
    assert all(r["count"] == 4 for r in per_item)
    one = frames.filter(F.col("media_id") == per_item[0]["media_id"]).collect()
    offs = [r["byte_offset"] for r in sorted(one, key=lambda r: r["frame_index"])]
    assert offs == sorted(offs) and all(0.0 <= r["frame_feature"] <= 1.0 for r in one)


def test_media_metadata_prunes_payload(spark, sf_small):
    """Metadata-only query must not read the payload column (column
    pruning) — check the optimized plan's ReadSchema."""
    docs = load_table(spark, sf_small, "documents")
    media = multimodal.documents_as_media(docs).select("media_id").limit(3)
    plan = media._jdf.queryExecution().executedPlan().toString()
    assert "text" not in plan.split("ReadSchema")[-1] if "ReadSchema" in plan else True


def test_decode_batches_packing_bound(spark):
    """Pin decode_batches' documented packing bound: greedy by START
    offset, so a batch carries at most budget + max(byte_len) - 1 payload
    bytes (the straddling item overflows), batches are contiguous in id
    order per modality, and batch_id == floor(prefix_offset/budget)."""
    budget = 100
    rows = [
        # (media_id, media_type, byte_len) — includes an item > budget
        (1, "image", 60), (2, "image", 60), (3, "image", 250),
        (4, "image", 10), (5, "audio", 99), (6, "audio", 1), (7, "audio", 1),
    ]
    df = spark.createDataFrame(rows, "media_id long, media_type string, byte_len long")
    out = multimodal.decode_batches(df, byte_budget=budget).collect()
    by_mod = {}
    for r in sorted(out, key=lambda r: (r["media_type"], r["media_id"])):
        by_mod.setdefault(r["media_type"], []).append(r)
    max_len = max(r["byte_len"] for r in out)
    for mod, items in by_mod.items():
        # offsets are the exclusive prefix sum in id order
        acc = 0
        for r in items:
            assert r["byte_offset"] == acc
            assert r["batch_id"] == acc // budget
            acc += r["byte_len"]
        # batch ids are non-decreasing (contiguous packing)
        bids = [r["batch_id"] for r in items]
        assert bids == sorted(bids)
        # the documented bound holds for every batch
        sums = {}
        for r in items:
            sums[r["batch_id"]] = sums.get(r["batch_id"], 0) + r["byte_len"]
        assert all(s <= budget + max_len - 1 for s in sums.values()), sums
    # and the bound is TIGHT here: item 3 (250 bytes) straddles its batch
    img = {r["media_id"]: r for r in by_mod["image"]}
    assert img[3]["batch_id"] == 1 and img[3]["byte_len"] > budget


@pytest.mark.slow
def test_cosine_pairs_blocked_exact_vs_bruteforce(spark, sf_small):
    """The distributed block-pair exact all-pairs operator must equal the
    brute-force cross self-join bit-for-bit (recall exactly 1, no dupes),
    for both even and odd block counts (odd exercises same-block dedup
    across differently-shaped block pairs)."""
    emb = load_table(spark, sf_small, "embeddings")
    want = sorted(
        map(tuple, similarity.pairwise_near_dups(emb, threshold=0.4).collect())
    )
    assert want, "fixture should contain near pairs at 0.4"
    for nb in (3, 8):
        got = sorted(
            map(
                tuple,
                similarity.cosine_pairs_blocked(
                    emb, threshold=0.4, n_blocks=nb
                ).collect(),
            )
        )
        assert got == want, f"n_blocks={nb}"


def test_ngram_jaccard_max_doc_freq_caps_hot_gram(spark):
    """A shingle shared by every document fans out O(df^2) in the
    inverted-index self-join; max_doc_freq must drop it from the gram
    universe (blacklist semantics: neither intersections nor sizes)."""
    n_docs = 40
    # every doc: one global hot shingle + one unique tail of 3 words
    rows = [
        (i, f"common hot gram unique{i} tail{i} word{i}") for i in range(n_docs)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.01)
    # 'common hot gram' links every pair: candidate explosion
    assert uncapped.count() == n_docs * (n_docs - 1) // 2

    capped = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.01, max_doc_freq=10)
    # the hot gram is gone; remaining grams are unique per doc -> no pairs
    assert capped.count() == 0

    # cap above the hot gram's df is a no-op: bit-identical to uncapped
    noop = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.01, max_doc_freq=n_docs)
    assert sorted(map(tuple, noop.collect())) == sorted(
        map(tuple, uncapped.collect())
    )


def test_a09_hll_within_tolerance(spark, sf_small):
    """a09 is declared rows-only (HLL estimates are engine-specific, so
    no DuckDB oracle can hash-match); this pins its actual contract:
    same keys as the exact twin, estimates within the default rsd
    envelope (5% rsd -> allow 15% = 3 sigma), stable schema."""
    import sys, os
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    approx = {
        r["l_suppkey"]: r["approx_parts"]
        for r in entrymod.queries()["a09_approx_distinct"](spark, sf_small).collect()
    }
    exact = {
        r["l_suppkey"]: r["n_parts"]
        for r in entrymod.queries()["ad01_distinct_agg"](spark, sf_small).collect()
    }
    assert set(approx) == set(exact)
    for k, est in approx.items():
        assert abs(est - exact[k]) <= max(3, 0.15 * exact[k]), (k, est, exact[k])


def test_histogram_sql_sugar_matches_dataframe_form(spark, sf_small):
    """HISTOGRAM(col, n) SQL sugar must produce exactly the DataFrame
    histogram()'s rows, and the macro must leave non-matching SQL alone."""
    from learn_etl_data_warehouse_spark.functions.histogram import (
        expand_histogram_sql,
        histogram,
        histogram_sql,
    )

    orders = load_table(spark, sf_small, "orders")
    orders.createOrReplaceTempView("t_hist_orders")
    got = sorted(
        map(tuple, histogram_sql(spark, "t_hist_orders", "o_totalprice", 10).collect())
    )
    want = sorted(map(tuple, histogram(orders, "o_totalprice", 10).collect()))
    assert got == want
    passthrough = "SELECT count(*) FROM t_hist_orders"
    assert expand_histogram_sql(passthrough) == passthrough


def test_quantize_int8_reconstruction(spark, sf_small):
    """int8 quantization must bound reconstruction error by scale/2 per
    component and keep values in [-127, 127]."""
    emb = load_table(spark, sf_small, "embeddings")
    q = similarity.quantize_int8(emb)
    joined = emb.join(q, "vec_id").select("embedding", "scale", "qvec")
    rows = joined.collect()
    assert rows
    for r in rows:
        v, s, qv = r["embedding"], r["scale"], r["qvec"]
        assert all(-127 <= x <= 127 for x in qv)
        for x, qx in zip(v, qv):
            assert abs(float(x) - qx * s) <= s / 2 + 1e-12


@pytest.mark.slow
def test_minhash_lsh_max_bucket_size_caps_mega_cluster(spark):
    """A mega duplicate cluster (c identical docs) emits c*(c-1)/2
    candidates per band; max_bucket_size must drop those buckets while
    leaving normal-sized clusters' recall untouched."""
    mega = [(i, "spam spam spam template page boilerplate") for i in range(30)]
    pair = [(100, "a genuinely unique document about spark"),
            (101, "a genuinely unique document about spark engines")]
    docs = spark.createDataFrame(mega + pair, "doc_id long, text string")

    uncapped = dedup.minhash_lsh_pairs(docs, num_hashes=64, bands=16, threshold=0.5)
    assert uncapped.filter("id_a < 100").count() == 30 * 29 // 2

    capped = dedup.minhash_lsh_pairs(
        docs, num_hashes=64, bands=16, threshold=0.5, max_bucket_size=10
    )
    got = sorted(map(tuple, capped.select("id_a", "id_b").collect()))
    # mega-cluster buckets gone; the small near-dup pair survives
    assert all(a >= 100 for a, _ in got)
    assert (100, 101) in got


def test_fixed_point_sum_engine_exact_at_boundaries(spark):
    """Invariant 1 hardening: fixed_point_sum must agree with the DuckDB
    oracle formulation bit-for-bit on adversarial half-cent boundary
    values and random amounts, per group, regardless of partitioning."""
    import random

    import duckdb

    from learn_etl_data_warehouse_spark.functions.aggregates import fixed_point_sum

    rng = random.Random(7)
    boundary = [8.795, 17.495, 0.005, -0.005, 2.675, -2.675, 1.005, 123.455]
    rows = []
    for i in range(2000):
        v = boundary[i % len(boundary)] if i % 3 == 0 else round(
            rng.uniform(-10_000, 10_000), 3
        )
        rows.append((i % 7, float(v)))
    df = spark.createDataFrame(rows, "g int, v double")

    got = {
        r["g"]: r["s"]
        for r in df.repartition(13)  # deliberately weird partitioning
        .groupBy("g")
        .agg(fixed_point_sum(F.col("v"), 100).alias("s"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g INT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(
        con.execute(
            "SELECT g, round(CAST(sum(CAST(round(v * 100) AS BIGINT)) AS DOUBLE) / 100, 2) FROM t GROUP BY g"
        ).fetchall()
    )
    assert got == want


def test_repetition_metrics_edge_cases(spark):
    from learn_etl_data_warehouse_spark.operators import text as textops

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),        # one bigram repeated 3x
            (2, "all words here differ now"),  # no repetition
            (3, ""),                           # empty
            (4, "single"),                     # < 2 tokens
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in textops.repetition_metrics(df).collect()}
    assert got[1]["dup_token_frac"] == 0.75       # 1 distinct / 4 tokens
    assert got[1]["top_bigram_frac"] == 1.0       # "spam spam" is every bigram
    assert got[2]["dup_token_frac"] == 0.0
    assert got[2]["top_bigram_frac"] == 0.25      # 4 distinct bigrams
    assert got[3]["dup_token_frac"] == 0.0 and got[3]["top_bigram_frac"] == 0.0
    assert got[4]["top_bigram_frac"] == 0.0


def test_contamination_flags_overlap_only(spark):
    from learn_etl_data_warehouse_spark.operators import text as textops

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),   # shares "the quick brown"+
            (2, "completely unrelated training text here"),
            (3, "quick brown fox somewhere else"),  # shares "quick brown fox"
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "the quick brown fox ran away")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in textops.contamination(train, ev, n=3).collect()}
    # doc 1 shares "the quick brown" and "quick brown fox" with the eval set
    assert got[1]["contaminated"] and got[1]["n_shared_grams"] == 2
    assert not got[2]["contaminated"] and got[2]["n_shared_grams"] == 0
    assert got[3]["contaminated"] and got[3]["n_shared_grams"] == 1
    # eval side must broadcast (bounded benchmark corpus)
    plan = textops.contamination(train, ev, n=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_tfidf_top_terms_deterministic_ties(spark):
    from learn_etl_data_warehouse_spark.operators import text as textops

    df = spark.createDataFrame(
        [
            (1, "zebra apple zebra"),   # zebra tf=2 wins; apple rank 2
            (2, "apple banana"),        # banana df=1 out-idfs apple df=2
        ],
        "doc_id long, text string",
    )
    rows = textops.tfidf_top_terms(df, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["rnk"], r["term"]))
    assert sorted(by_doc[1]) == [(1, "zebra"), (2, "apple")]
    assert sorted(by_doc[2]) == [(1, "banana"), (2, "apple")]


def test_bm25_scores_match_integer_reference(spark):
    from learn_etl_data_warehouse_spark.operators import text as textops

    docs = [
        (1, "spark spark join"),
        (2, "join stream other other"),
        (3, "other words only here"),
        (4, "spark join stream spark stream"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    terms = ["spark", "join", "stream"]
    got = {r["doc_id"]: r for r in textops.bm25_scores(df, terms, k=10).collect()}

    # pure-Python twin of the documented integer formula
    toks = {d: t.split() for d, t in docs}
    n_docs = len(docs)
    total = sum(len(v) for v in toks.values())
    dfreq = {q: sum(1 for v in toks.values() if q in v) for q in terms}
    exp = {}
    for d, v in toks.items():
        score, matched = 0, 0
        for q in terms:
            tf = v.count(q)
            if not tf:
                continue
            matched += 1
            idf2 = ((2 * n_docs + 2) // (2 * dfreq[q] + 1)).bit_length() - 1
            tfn = (1_000_000 * 22 * total * tf) // (
                10 * total * tf + 3 * total + 9 * len(v) * n_docs
            )
            score += idf2 * tfn
        if matched:
            exp[d] = (matched, score)

    assert set(got) == set(exp)  # doc 3 (no query term) must be absent
    for d, (matched, score) in exp.items():
        assert got[d]["n_terms_matched"] == matched
        assert got[d]["score_ppm"] == score
    order = sorted(exp, key=lambda d: (-exp[d][1], d))
    assert [got[d]["rnk"] for d in order] == list(range(1, len(order) + 1))


def test_scrub_pii_redacts_and_counts(spark):
    from learn_etl_data_warehouse_spark.operators import text as textops

    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@example.co.uk or call +62 812-3456-7890"),
            (2, "server at 10.0.255.7 responded"),
            (3, "clean text, nothing to scrub"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in textops.scrub_pii(df).collect()}
    assert got[1]["n_email"] == 1 and got[1]["n_phone"] == 1
    assert "[EMAIL]" in got[1]["text_clean"] and "[PHONE]" in got[1]["text_clean"]
    assert "example.co.uk" not in got[1]["text_clean"]
    assert got[2]["n_ipv4"] == 1 and "[IP]" in got[2]["text_clean"]
    assert got[3]["text_clean"] == "clean text, nothing to scrub"
    assert got[3]["n_email"] == got[3]["n_ipv4"] == got[3]["n_phone"] == 0


def test_hash_ranked_sample_growth_stable(spark):
    """Growing the corpus must never reorder surviving sample members —
    a new doc can only out-rank (evict from the tail), not reshuffle."""
    from learn_etl_data_warehouse_spark.operators.sampling import (
        hash_ranked_sample,
    )

    small = spark.createDataFrame(
        [(i, "en") for i in range(50)], "doc_id long, lang string"
    )
    grown = spark.createDataFrame(
        [(i, "en") for i in range(80)], "doc_id long, lang string"
    )
    k = 10
    a = [r["doc_id"] for r in hash_ranked_sample(small, k)
         .orderBy("sample_rank").collect()]
    b = [r["doc_id"] for r in hash_ranked_sample(grown, k)
         .orderBy("sample_rank").collect()]
    assert len(a) == len(b) == k
    # survivors keep their relative order
    surv = [d for d in b if d in set(a)]
    assert surv == [d for d in a if d in set(b)]
    # and both are deterministic across invocations
    assert a == [r["doc_id"] for r in hash_ranked_sample(small, k)
                 .orderBy("sample_rank").collect()]


def test_dedup_against_incremental(spark):
    from learn_etl_data_warehouse_spark.operators import dedup as dd

    corpus = spark.createDataFrame(
        [(1, "already  IN the corpus"), (2, "other corpus doc")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "ALREADY in THE corpus"),   # normalized dup of corpus doc 1
            (11, "genuinely new document"),
            (12, "genuinely new document"),  # in-batch dup of 11 -> min id wins
            (13, "another fresh one"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in dd.dedup_against(new, corpus).collect())
    assert kept == [11, 13]


def test_random_projection_is_deterministic_and_contractive(spark, sf_small):
    from learn_etl_data_warehouse_spark.operators.similarity import (
        random_projection,
    )
    from learn_etl_data_warehouse_spark.sources.parquet import load_table

    emb = load_table(spark, sf_small, "embeddings")
    a = {(r["vec_id"], r["j"]): r["proj_q"] for r in
         random_projection(emb, k=4).collect()}
    b = {(r["vec_id"], r["j"]): r["proj_q"] for r in
         random_projection(emb, k=4).collect()}
    assert a == b  # partial-agg order cannot change integer sums
    n_vecs = emb.count()
    assert len(a) == n_vecs * 4  # k sketch dims per vector
    # identical vectors must sketch identically (the dedup use-case)
    twin = emb.limit(1).unionByName(emb.limit(1))
    t = random_projection(twin, k=4).collect()
    by_j = {}
    for r in t:
        by_j.setdefault(r["j"], set()).add(r["proj_q"])
    assert all(len(v) == 1 for v in by_j.values())


def test_edit_distance_pairs_blocking_and_symmetry(spark):
    from learn_etl_data_warehouse_spark.operators.dedup import (
        edit_distance_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps", "en", 25),
            (2, "the quick brown fox jumped", "en", 26),  # lev 2, same bucket? 25//8=3, 26//8=3
            (3, "the quick brown fox jumps", "en", 25),  # exact dup of 1
            (4, "the quick brown fox jumps", "de", 25),  # other lang: blocked out
            (5, "completely different text here!!", "en", 32),  # other bucket
        ],
        "doc_id LONG, text STRING, lang STRING, n_chars LONG",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["edit_distance"]
        for r in edit_distance_pairs(
            docs, prefix_len=64, bucket_width=8, max_distance=5
        ).collect()
    }
    assert pairs[(1, 3)] == 0  # exact dup found with distance 0
    assert pairs[(1, 2)] == 2 and pairs[(2, 3)] == 2
    assert all(a < b for a, b in pairs)  # canonical ordering, no mirrors
    assert not any(4 in p or 5 in p for p in pairs)  # blocked out


def test_edit_distance_pairs_hot_block_is_bounded(spark):
    """Skew guard: a hot (lang, length-bucket) block larger than
    max_block_size must (a) split on the secondary sub-prefix key so
    distinct-prefix groups never cross-compare, and (b) drop a sub-block
    that is STILL over the cap — so no surviving block exceeds
    max_block_size and per-key cost is ≤ cap², not |block|²."""
    from learn_etl_data_warehouse_spark.operators.dedup import (
        edit_distance_pairs,
    )

    # one hot block: 30 docs, all lang=en, all n_chars=24 (bucket 3).
    # Sub-prefix groups (first 16 chars): 'boilerplate AAAA' ×20 (over a
    # cap of 8 → dropped), 'unique head BBBB' ×6 and 'unique head CCCC'
    # ×4 (kept, but must not cross-compare).
    rows = (
        [(i, "boilerplate AAAA tail%02d" % i, "en", 24) for i in range(20)]
        + [(100 + i, "unique head BBBB tail%02d" % i, "en", 24) for i in range(6)]
        + [(200 + i, "unique head CCCC tail%02d" % i, "en", 24) for i in range(4)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, n_chars LONG"
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in edit_distance_pairs(
            docs, max_distance=30, max_block_size=8
        ).collect()
    }
    # dropped sub-block contributes nothing
    assert not any(a < 100 for a, _ in pairs)
    # kept sub-blocks compare within themselves only: C(6,2) + C(4,2)
    assert len(pairs) == 15 + 6
    assert all((a < 200) == (b < 200) for a, b in pairs)
    # below the cap nothing changes: same frame, big cap → full block join
    full = edit_distance_pairs(
        docs, max_distance=30, max_block_size=1000
    ).count()
    assert full == 30 * 29 // 2


def test_c4_filters_flags_and_kept(spark):
    from learn_etl_data_warehouse_spark.operators.text import c4_filters

    docs = spark.createDataFrame(
        [
            # prose: 12 words, lines end in terminal punct → kept
            (1, "One two three four five six.\nSeven eight nine ten eleven twelve!"),
            (2, "short doc"),  # under min_words → dropped
            (3, "function foo() { return 1; } " + "word " * 12),  # brace → dropped
            (4, "Lorem Ipsum dolor sit amet " + "word " * 10),  # lorem → dropped
            (5, "a b c d e f g h i j k l"),  # mean word len 1.0 < 2 → dropped
            (6, ""),  # empty → dropped (0 words)
        ],
        "doc_id LONG, text STRING",
    )
    rows = {r["doc_id"]: r for r in c4_filters(docs).collect()}
    assert rows[1]["kept"] and rows[1]["n_words"] == 12
    assert rows[1]["line_term_frac"] == 1.0
    assert not rows[2]["kept"]
    assert rows[3]["has_brace"] and not rows[3]["kept"]
    assert rows[4]["has_lorem"] and not rows[4]["kept"]
    assert rows[5]["mean_word_len"] == 1.0 and not rows[5]["kept"]
    assert rows[6]["n_words"] == 0 and rows[6]["mean_word_len"] == 0.0
    assert not rows[6]["kept"]


def test_shuffle_shards_is_bijective_and_stable(spark, sf_small):
    from learn_etl_data_warehouse_spark.operators.sampling import shuffle_shards

    docs = load_table(spark, sf_small, "documents")
    out = shuffle_shards(docs, n_shards=16).collect()
    n = docs.count()
    # global_pos is a permutation of 1..N
    assert sorted(r["global_pos"] for r in out) == list(range(1, n + 1))
    # shard-major: all positions in shard s precede shard s+1
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["global_pos"])
    shards = sorted(by_shard)
    for a, b in zip(shards, shards[1:]):
        assert max(by_shard[a]) < min(by_shard[b])
    # shard_pos is 1..len within each shard
    for s in shards:
        assert sorted(
            r["shard_pos"] for r in out if r["shard"] == s
        ) == list(range(1, len(by_shard[s]) + 1))
    # deterministic: same permutation on re-run
    again = {r["doc_id"]: r["global_pos"] for r in shuffle_shards(docs, 16).collect()}
    assert all(again[r["doc_id"]] == r["global_pos"] for r in out)


def test_domain_mix_rates_and_growth_stability(spark, sf_small):
    from learn_etl_data_warehouse_spark.operators.sampling import domain_mix

    docs = load_table(spark, sf_small, "documents")
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.0}
    kept = domain_mix(docs, rates, default_rate=0.25).select("doc_id", "source")
    by_src = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    totals = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_src["src0"] == totals["src0"]  # rate 1.0 keeps everything
    assert "src2" not in by_src  # rate 0.0 drops everything
    assert 0 < by_src["src1"] < totals["src1"]
    # growth stability: membership on a subset equals membership filtered
    half = docs.filter(F.col("doc_id") % 2 == 0)
    kept_half = {r["doc_id"] for r in domain_mix(half, rates, 0.25).collect()}
    kept_full = {r["doc_id"] for r in kept.collect() if r["doc_id"] % 2 == 0}
    assert kept_half == kept_full


def test_rollup_merge_equals_direct_aggregation(spark, sf_small):
    from learn_etl_data_warehouse_spark.functions.aggregates import (
        fixed_point_sum,
    )
    from learn_etl_data_warehouse_spark.operators.rollups import (
        hourly_preagg,
        merge_rollup,
    )

    events = load_table(spark, sf_small, "events")
    merged = {
        (r["period"], r["event_type"]): (
            r["n"], r["sum_value"], r["min_value"], r["max_value"]
        )
        for r in merge_rollup(hourly_preagg(events), grain="day").collect()
    }
    direct = {
        (r["period"], r["event_type"]): (
            r["n"], r["sum_value"], r["min_value"], r["max_value"]
        )
        for r in events.groupBy(
            F.date_trunc("day", "ts").alias("period"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            fixed_point_sum(F.col("value"), 10_000).alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    assert merged == direct
    # second merge level: month-from-day-preagg == month-from-hour-preagg
    hours = hourly_preagg(events)
    month_a = {
        (r["period"], r["event_type"]): (r["n"], r["sum_value"])
        for r in merge_rollup(hours, grain="month").collect()
    }
    # day-grain intermediate keeping integer state (scale back only at the end)
    days = hours.groupBy(
        F.date_trunc("day", "hour").alias("hour"), "event_type"
    ).agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sum_fp").alias("sum_fp"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )
    month_b = {
        (r["period"], r["event_type"]): (r["n"], r["sum_value"])
        for r in merge_rollup(days, grain="month").collect()
    }
    assert month_a == month_b


@pytest.mark.slow
def test_maintain_rollup_dirtiness_is_sticky(spark):
    """A second, insert-only diff applied to an UNREFRESHED pre-agg must
    not 'heal' a dirty group: least/greatest skip nulls, so without the
    sticky-dirty guard the insert batch's extrema would silently become
    the group's min/max and the group would vanish from the dirty list
    (r4 ADVICE)."""
    from datetime import datetime

    from learn_etl_data_warehouse_spark.operators.rollups import (
        hourly_preagg,
        maintain_rollup,
    )

    t0 = datetime(2026, 1, 1, 10, 0)
    raw = spark.createDataFrame(
        [(t0, "click", 1.0), (t0, "click", 99.0)],
        "ts TIMESTAMP, event_type STRING, value DOUBLE",
    )
    prev = hourly_preagg(raw)
    # diff 1: delete the max → group goes dirty (null min/max)
    d1 = spark.createDataFrame(
        [(t0, "click", 99.0, "delete")],
        "ts TIMESTAMP, event_type STRING, value DOUBLE, _change_type STRING",
    )
    m1, dirty1 = maintain_rollup(prev, d1)
    r1 = m1.collect()[0]
    assert r1["min_value"] is None and r1["max_value"] is None
    assert dirty1.count() == 1
    # diff 2: INSERT-ONLY into the still-unrefreshed group
    d2 = spark.createDataFrame(
        [(t0, "click", 50.0, "insert")],
        "ts TIMESTAMP, event_type STRING, value DOUBLE, _change_type STRING",
    )
    m2, dirty2 = maintain_rollup(m1, d2)
    r2 = m2.collect()[0]
    # additive states advance exactly; min/max stay unknown, group stays dirty
    assert r2["n"] == 2 and r2["sum_fp"] == 510_000
    assert r2["min_value"] is None and r2["max_value"] is None
    assert dirty2.count() == 1
    # a brand-new group in the same batch is NOT dirty (null-prev ≠ dirty-prev)
    d3 = spark.createDataFrame(
        [(datetime(2026, 1, 1, 12, 0), "view", 7.0, "insert")],
        "ts TIMESTAMP, event_type STRING, value DOUBLE, _change_type STRING",
    )
    m3, dirty3 = maintain_rollup(m2, d3)
    new = [r for r in m3.collect() if r["event_type"] == "view"][0]
    assert new["min_value"] == 7.0 and new["max_value"] == 7.0
    assert dirty3.count() == 1  # only the old click group


def test_c4_filters_rejects_reserved_keep_cols(spark):
    from learn_etl_data_warehouse_spark.operators.text import c4_filters

    docs = spark.createDataFrame(
        [("a", "hello world one two three four five six seven eight")],
        "doc_id STRING, text STRING",
    )
    with pytest.raises(ValueError, match="keep_cols"):
        c4_filters(docs, keep_cols=["n_words"])
    with pytest.raises(ValueError, match="keep_cols"):
        c4_filters(docs, keep_cols=["doc_id"])


def test_hot_span_scrub_removes_shared_boilerplate(spark):
    from learn_etl_data_warehouse_spark.operators.dedup import hot_span_scrub

    boiler = "all rights reserved by the publisher"  # 6-token hot span
    docs = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma"),
            (2, "delta epsilon " + boiler),
            (3, "zeta eta theta iota kappa lam"),  # unique, untouched
            (4, boiler),  # nothing but boilerplate
        ],
        "doc_id LONG, text STRING",
    )
    out = {
        r["doc_id"]: r
        for r in hot_span_scrub(docs, span_len=6, max_df=1).collect()
    }
    assert len(out) == 4  # every doc emits a row, even fully-scrubbed
    assert out[1]["text_clean"] == "alpha beta gamma"
    assert out[2]["text_clean"] == "delta epsilon"
    assert out[3]["text_clean"] == "zeta eta theta iota kappa lam"
    assert out[3]["n_removed"] == 0
    assert out[4]["text_clean"] == "" and out[4]["n_kept"] == 0
    assert out[1]["n_removed"] == 6 and out[1]["n_kept"] == 3
    # overlapping occurrences: a doc repeating the span back-to-back
    rep = spark.createDataFrame(
        [(1, boiler + " " + boiler), (2, boiler + " x")],
        "doc_id LONG, text STRING",
    )
    r = {
        x["doc_id"]: x
        for x in hot_span_scrub(rep, span_len=6, max_df=1).collect()
    }
    assert r[1]["n_kept"] == 0  # both occurrences fully covered
    assert r[2]["text_clean"] == "x"


def test_gopher_rules_flags(spark):
    from learn_etl_data_warehouse_spark.operators.text import gopher_rules

    prose = (
        "the quick brown fox jumps over the lazy dog and then runs "
        "to the river with great speed because it must escape now"
    )
    docs = spark.createDataFrame(
        [
            ("good", prose),
            ("symbols", "# " * 30 + prose),           # symbol soup
            ("digits", " ".join(str(i) for i in range(30))),  # no alpha words
            ("nostop", "lorem ipsum dolor sit amet " * 5),    # no stopwords
            ("short", "too short"),
        ],
        "doc_id STRING, text STRING",
    )
    rows = {
        r["doc_id"]: r
        for r in gopher_rules(docs, min_words=10, min_stopwords=2).collect()
    }
    assert rows["good"]["kept"] is True
    assert rows["symbols"]["kept"] is False
    assert rows["symbols"]["symbol_ratio"] > 0.1
    assert rows["digits"]["kept"] is False
    assert rows["digits"]["alpha_word_frac"] == 0.0
    assert rows["nostop"]["kept"] is False
    assert rows["nostop"]["n_stopwords"] == 0
    assert rows["short"]["kept"] is False
    assert rows["good"]["n_stopwords"] >= 4  # the, and, to, with


@pytest.mark.slow
def test_pq_adc_recall_and_determinism(spark, sf_small):
    """PQ: codes in range, encode deterministic across runs, and ADC
    top-k must recover a healthy fraction of the exact-L2 top-k (recall
    is the operator's contract; values are kmeans-dependent so this is
    the rows-only evidence pattern, like IVF/LSH)."""
    emb = load_table(spark, sf_small, "embeddings")
    books = similarity.pq_train(emb, m=4, n_codes=16, iterations=2)
    assert len(books) == 4
    assert all(len(b) <= 16 for b in books)
    assert all(len(cw) == 16 for b in books for cw in b)  # 64/4 dims

    codes = similarity.pq_encode(emb, books)
    rows = codes.collect()
    assert all(len(r["pq_codes"]) == 4 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r["pq_codes"])
    again = {r["vec_id"]: r["pq_codes"] for r in similarity.pq_encode(emb, books).collect()}
    assert all(again[r["vec_id"]] == r["pq_codes"] for r in rows)

    q = [float(v) for v in emb.filter(F.col("vec_id") == 7).head()["embedding"]]
    approx = [r["vec_id"] for r in similarity.pq_topk(emb, books, q, k=10).collect()]
    # exact L2 top-10 (same metric as ADC approximates)
    qa = F.array(*[F.lit(v) for v in q])
    l2 = F.aggregate(
        F.zip_with(
            F.col("embedding"), qa,
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    exact = [
        r["vec_id"]
        for r in emb.select("vec_id", l2.alias("d"))
        .orderBy(F.col("d").asc(), F.col("vec_id").asc()).limit(10).collect()
    ]
    recall = len(set(approx) & set(exact)) / 10
    assert 7 in approx  # the query vector itself must be found
    assert recall >= 0.3, f"ADC recall@10 too low: {recall} ({approx} vs {exact})"


def test_approx_percentiles_tolerance(spark, sf_small):
    """a14's GK sketch (accuracy 10k) must land within 1% relative error
    of the exact percentile on the same grouping."""
    import __spark_entry__ as entrymod

    approx = {
        (r["o_orderstatus"], r["quantile"]): r["approx_value"]
        for r in entrymod.queries()["a14_approx_percentiles"](
            spark, sf_small
        ).collect()
    }
    orders = load_table(spark, sf_small, "orders")
    exact_rows = orders.groupBy("o_orderstatus").agg(
        F.expr(
            "percentile(o_totalprice, array(0.25D, 0.5D, 0.75D, 0.95D))"
        ).alias("q")
    ).collect()
    checked = 0
    for r in exact_rows:
        for q, ev in zip((0.25, 0.5, 0.75, 0.95), r["q"]):
            av = approx[(r["o_orderstatus"], q)]
            assert abs(av - ev) <= 0.01 * abs(ev) + 1e-9, (
                r["o_orderstatus"], q, av, ev,
            )
            checked += 1
    assert checked >= 12


@pytest.mark.slow
def test_ivfpq_recall_and_pruning(spark, sf_small):
    """IVF-PQ composition: probing all cells must equal plain PQ search
    (the IVF stage prunes, never re-scores); a partial probe must still
    find the query vector itself and keep reasonable recall vs plain
    ADC."""
    emb = load_table(spark, sf_small, "embeddings")
    cents = similarity.ivf_build_centroids(emb, n_cells=8, iterations=1)
    books = similarity.pq_train(emb, m=4, n_codes=16, iterations=2)
    q = [float(v) for v in emb.filter(F.col("vec_id") == 7).head()["embedding"]]
    full_pq = [r["vec_id"] for r in similarity.pq_topk(emb, books, q, k=10).collect()]
    all_probe = [
        r["vec_id"]
        for r in similarity.ivfpq_topk(emb, cents, books, q, k=10, nprobe=8).collect()
    ]
    assert all_probe == full_pq  # nprobe=all cells == plain ADC
    partial = [
        r["vec_id"]
        for r in similarity.ivfpq_topk(emb, cents, books, q, k=10, nprobe=3).collect()
    ]
    assert 7 in partial
    recall = len(set(partial) & set(full_pq)) / 10
    assert recall >= 0.3, f"IVF-PQ nprobe=3 recall vs ADC too low: {recall}"


@pytest.mark.slow
def test_incremental_minhash_matches_full_rebuild(spark, sf_small):
    """Split the corpus at a doc_id boundary (corpus ids < new ids, the
    real monotonic-ingest shape): the incremental path's survivors must
    equal the one-shot full-corpus rule 'new doc n drops iff some pair
    (x, n) with x < n at est >= threshold exists'."""
    docs = load_table(spark, sf_small, "documents")
    corpus = docs.filter("doc_id < 300")
    new = docs.filter("doc_id >= 300")
    sigs, buckets = dedup.minhash_index(corpus, num_hashes=64, bands=16)
    survivors, new_sigs, new_buckets = dedup.minhash_dedup_against(
        new, sigs, buckets, num_hashes=64, bands=16, threshold=0.5
    )
    got = {r["doc_id"] for r in survivors.select("doc_id").collect()}

    full_pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=64, bands=16, threshold=0.5
    ).collect()
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    dropped = {r["id_b"] for r in full_pairs if r["id_b"] in new_ids}
    want = new_ids - dropped
    assert got == want
    assert dropped, "fixture should drop at least one near-dup new doc"
    # the index-append rows cover exactly the survivors
    assert {r["doc_id"] for r in new_sigs.select("doc_id").collect()} == got
    assert {r["_id"] for r in new_buckets.select("_id").collect()} == got


@pytest.mark.slow
def test_incremental_minhash_empty_corpus_index(spark, sf_small):
    """Bootstrapping: an empty index degrades to within-batch dedup."""
    docs = load_table(spark, sf_small, "documents")
    empty = docs.filter("doc_id < 0")
    sigs, buckets = dedup.minhash_index(empty, num_hashes=64, bands=16)
    survivors, _, _ = dedup.minhash_dedup_against(
        docs, sigs, buckets, num_hashes=64, bands=16, threshold=0.5
    )
    got = {r["doc_id"] for r in survivors.select("doc_id").collect()}
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=64, bands=16, threshold=0.5
    ).collect()
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    want = all_ids - {r["id_b"] for r in pairs}
    assert got == want


# --- sliding-window chunking (r5 cont.) ------------------------------------


def test_chunk_documents_covers_every_token_once_per_window(spark):
    """Chunk starts advance by exactly `stride`; the union of windows
    covers every token; a non-overlapping config (stride == chunk_size)
    reassembles the original text verbatim."""
    from learn_etl_data_warehouse_spark.operators.text import chunk_documents

    txt = " ".join(f"w{i}" for i in range(70))
    df = spark.createDataFrame([(1, txt), (2, "a b"), (3, "solo")], ["doc_id", "text"])
    out = chunk_documents(df, chunk_size=32, stride=24).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 70 tokens -> 1 + ceil(38/24) = 3 chunks; short docs -> exactly 1
    assert len(by_doc[1]) == 3 and len(by_doc[2]) == 1 and len(by_doc[3]) == 1
    chunks = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    toks = txt.split()
    for r in chunks:
        start = r["chunk_id"] * 24
        assert r["chunk_text"].split() == toks[start : start + 32]
        assert r["n_chunk_tokens"] == len(r["chunk_text"].split())
    covered = set()
    for r in chunks:
        covered.update(range(r["chunk_id"] * 24, r["chunk_id"] * 24 + r["n_chunk_tokens"]))
    assert covered == set(range(70))
    # non-overlap reassembly
    flat = chunk_documents(df.filter("doc_id = 1"), chunk_size=16, stride=16)
    parts = [
        r["chunk_text"]
        for r in sorted(flat.collect(), key=lambda r: r["chunk_id"])
    ]
    assert " ".join(parts) == txt


def test_chunk_documents_rejects_bad_params(spark):
    from learn_etl_data_warehouse_spark.operators.text import chunk_documents

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=0)
    with pytest.raises(ValueError):
        chunk_documents(df, stride=0)


# --- fixed-point PageRank (r5 cont.) ---------------------------------------


def test_pagerank_matches_integer_reference_on_known_graph(spark):
    """5 rounds on a small asymmetric graph must equal a plain-Python
    integer power iteration — same floor division, same damping."""
    from learn_etl_data_warehouse_spark.operators.graph import (
        pagerank_fixed_point,
    )

    undirected = [(1, 2), (2, 3), (3, 1), (3, 4)]
    edges = [(a, b) for a, b in undirected] + [(b, a) for a, b in undirected]
    edf = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["rank_micros"]
        for r in pagerank_fixed_point(edf, iterations=5).collect()
    }
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
    ranks = {n: 1_000_000 for n in deg}
    for _ in range(5):
        recv = {n: 0 for n in deg}
        for a, b in edges:
            recv[b] += ranks[a] // deg[a]
        ranks = {n: 150_000 + (85 * s) // 100 for n, s in recv.items()}
    assert got == ranks
    # hub node 3 (degree 3) must out-rank the degree-2 ring nodes
    assert got[3] == max(got.values()) and got[4] == min(got.values())


def test_cooccurrence_edges_symmetric_no_selfloops(spark):
    from learn_etl_data_warehouse_spark.operators.graph import (
        cooccurrence_edges,
    )

    fact = spark.createDataFrame(
        [(10, 1), (10, 2), (10, 2), (10, 3), (20, 2), (20, 5)],
        ["l_orderkey", "l_partkey"],
    )
    got = {(r["src"], r["dst"]) for r in cooccurrence_edges(fact).collect()}
    want_undirected = {(1, 2), (1, 3), (2, 3), (2, 5)}
    want = want_undirected | {(b, a) for a, b in want_undirected}
    assert got == want


def test_fuzzy_decontamination_threshold_boundary(spark):
    """Pairs at exactly the threshold are kept, below dropped; the
    integer cross-multiplication must not wobble at the boundary."""
    from learn_etl_data_warehouse_spark.operators.text import (
        fuzzy_decontamination,
    )

    # doc 1 vs eval 100: tokens a..f -> grams {abc,bcd,cde,def} (4);
    # eval shares {abc,bcd} of its {abc,bcd,cdx} (3) -> J = 2/5 = 40%
    train = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "zz yy xx ww")], ["doc_id", "text"]
    )
    eval_docs = spark.createDataFrame(
        [(100, "a b c d x")], ["doc_id", "text"]
    )
    at = fuzzy_decontamination(train, eval_docs, n=3, threshold_pct=40).collect()
    assert [(r["doc_id"], r["eval_id"], r["n_shared"], r["union_sz"]) for r in at] == [
        (1, 100, 2, 5)
    ]
    below = fuzzy_decontamination(train, eval_docs, n=3, threshold_pct=41).collect()
    assert below == []


def test_chunk_documents_matches_python_model_over_random_shapes(spark):
    """One batch of seeded random (length, content) shapes vs an
    independent Python model of the window arithmetic — the same
    fuzz-vs-model strategy the cleaning functions use."""
    import random

    from learn_etl_data_warehouse_spark.operators.text import chunk_documents

    rng = random.Random(20260814)
    docs, model = [], {}
    for doc_id in range(60):
        n_tok = rng.choice([1, 2, 7, 23, 24, 25, 31, 32, 33, 55, 96, 200])
        toks = [f"t{rng.randrange(50)}" for _ in range(n_tok)]
        docs.append((doc_id, " ".join(toks)))
        chunks = []
        start = 0
        while True:
            window = toks[start : start + 32]
            chunks.append((len(chunks), len(window), " ".join(window)))
            if start + 32 >= n_tok:
                break
            start += 24
        model[doc_id] = chunks
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {}
    for r in chunk_documents(df, chunk_size=32, stride=24).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["n_chunk_tokens"], r["chunk_text"])
        )
    got = {k: sorted(v) for k, v in got.items()}
    assert got == model


def test_triangle_counts_on_known_graphs(spark):
    """K4: every node sits in C(3,2)=3 triangles; a path has none; the
    degree-ordered orientation must not double- or under-count."""
    from learn_etl_data_warehouse_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(spark.createDataFrame(k4, ["src", "dst"])).collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}

    path = [(0, 1), (1, 2), (2, 3)]
    sym = path + [(b, a) for a, b in path]
    assert triangle_counts(spark.createDataFrame(sym, ["src", "dst"])).count() == 0

    # one triangle hanging off a path: only the 3 cycle nodes count
    g = [(0, 1), (1, 2), (2, 0), (2, 3)]
    sym = g + [(b, a) for a, b in g]
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(spark.createDataFrame(sym, ["src", "dst"])).collect()
    }
    assert got == {0: 1, 1: 1, 2: 1}


def test_bfs_hops_on_known_graph(spark):
    """Path 0-1-2-3-4-5 seeded at 0: hops == node index, nodes beyond
    the round budget absent; two seeds take the MIN distance."""
    from learn_etl_data_warehouse_spark.operators.graph import bfs_hops

    path = [(i, i + 1) for i in range(5)]
    sym = path + [(b, a) for a, b in path]
    edges = spark.createDataFrame(sym, ["src", "dst"])

    seeds = spark.createDataFrame([(0,)], ["node"])
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds, rounds=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}  # 4,5 unreached in 3 rounds

    seeds2 = spark.createDataFrame([(0,), (5,)], ["node"])
    got2 = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds2, rounds=2).collect()}
    assert got2 == {0: 0, 1: 1, 2: 2, 3: 2, 4: 1, 5: 0}


def test_grid_radius_join_matches_bruteforce(spark):
    """Grid-blocked pairs == brute-force pairs, including boundary
    distances (inclusive), cross-cell neighbors, and coincident points;
    each pair emitted exactly once."""
    import itertools
    import random

    from learn_etl_data_warehouse_spark.operators.spatial import (
        grid_radius_join,
    )

    rng = random.Random(7)
    pts = [(i, rng.randrange(0, 5000), rng.randrange(0, 5000)) for i in range(120)]
    pts += [(200, 999, 999), (201, 1000, 999), (202, 999 + 600, 999 + 800)]  # r=1000 boundary: 600²+800²=1000²
    pts += [(300, 42, 42), (301, 42, 42)]  # coincident
    df = spark.createDataFrame(pts, ["pid", "x", "y"])
    r = 1000
    got = sorted(
        (row["id_a"], row["id_b"], row["dist_sq"])
        for row in grid_radius_join(df, radius=r).collect()
    )
    want = sorted(
        (a[0], b[0], (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2)
        for a, b in itertools.combinations(sorted(pts), 2)
        if (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= r * r
    )
    assert got == want
    assert (200, 202, 1000000) in got  # exactly-at-radius kept
    assert (300, 301, 0) in got
    with pytest.raises(ValueError):
        grid_radius_join(df, radius=0)


def test_pareto_frontier_matches_bruteforce(spark):
    from learn_etl_data_warehouse_spark.operators.skyline import (
        pareto_frontier_2d,
    )

    # deterministic pseudo-random points, including exact duplicates
    # and same-price ties
    pts = [
        (i, (i * 2654435761) % 997, (i * 40503) % 89) for i in range(300)
    ]
    pts += [(1000, pts[5][1], pts[5][2]), (1001, 500, 42), (1002, 500, 42)]
    df = spark.createDataFrame(pts, "id long, price long, sz long")
    got = {
        r.id
        for r in pareto_frontier_2d(
            df, "price", "sz", bucket_width=100
        ).collect()
    }
    want = set()
    for i, p, s in pts:
        dominated = any(
            p2 <= p and s2 >= s and (p2 < p or s2 > s)
            for (_j, p2, s2) in pts
        )
        if not dominated:
            want.add(i)
    assert got == want and got


def test_interval_overlap_join_small_example(spark):
    from learn_etl_data_warehouse_spark.operators.joins import (
        interval_overlap_join,
    )

    rows = [
        # key 1: [0,10] overlaps [10,20] (closed endpoints touch),
        # [0,10] vs [11,30] disjoint, [10,20] overlaps [11,30]
        (1, 101, 0, 10),
        (1, 102, 10, 20),
        (1, 103, 11, 30),
        # key 2: same spans as 101/103 but must not pair across keys
        (2, 201, 0, 10),
        (2, 202, 11, 30),
    ]
    df = spark.createDataFrame(rows, "k0 long, id long, s long, e long")
    out = interval_overlap_join(df, key="k0", start="s", end="e", id_col="id")
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert got == {(101, 102), (102, 103)}


def test_frequent_pairs_counts_confidence_lift(spark):
    from learn_etl_data_warehouse_spark.operators.basket import (
        frequent_pairs,
    )

    baskets = [
        (1, "a"), (1, "b"), (1, "b"),  # duplicate line collapses
        (2, "a"), (2, "b"), (2, "c"),
        (3, "a"), (3, "c"),
        (4, "d"),
    ]
    df = spark.createDataFrame(baskets, "bk long, it string")
    out = {
        (r.item_a, r.item_b): r
        for r in frequent_pairs(
            df, "bk", "it", min_pair_support=2
        ).collect()
    }
    assert set(out) == {("a", "b"), ("a", "c")}
    ab = out[("a", "b")]
    # a in 3 baskets, b in 2, pair in 2, 4 baskets total
    assert (ab.pair_n, ab.n_a, ab.n_b, ab.n_baskets) == (2, 3, 2, 4)
    assert ab.conf_ppm == (1_000_000 * 2) // 3
    assert ab.lift_micros == (1_000_000 * 2 * 4) // (3 * 2)


def test_bigram_lm_counts_and_topk(spark):
    from learn_etl_data_warehouse_spark.operators.text import bigram_lm

    docs = [
        (1, "the cat sat"),
        (2, "the cat ran"),
        (3, "the dog sat"),
        (4, "the cat sat"),
        (5, "x"),  # single token: no bigrams
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = bigram_lm(df, min_context=3, top=1).collect()
    rows = {(r.w1, r.w2): r for r in out}
    # contexts with n1 >= 3: 'the' (4) and 'cat' (3)
    assert set(rows) == {("the", "cat"), ("cat", "sat")}
    the = rows[("the", "cat")]
    assert (the.n2, the.n1) == (3, 4)
    assert the.cond_ppm == (1_000_000 * 3) // 4
    cat = rows[("cat", "sat")]
    assert (cat.n2, cat.n1, cat.cond_ppm) == (2, 3, 666_666)


def test_column_profile_nulls_and_distinct(spark):
    from learn_etl_data_warehouse_spark.operators.profiling import (
        column_profile,
    )

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "x"), (4, "y")], "a long, b string"
    )
    out = {r.column_name: r for r in column_profile(df, ["a", "b"]).collect()}
    assert out["a"].n_rows == 4 and out["a"].n_null == 0
    assert out["a"].n_distinct == 4
    assert (out["b"].n_nonnull, out["b"].n_null, out["b"].n_distinct) == (
        3,
        1,
        2,
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        column_profile(df, [])


def test_lm_score_documents_self_and_pretrained(spark):
    from learn_etl_data_warehouse_spark.operators.text import (
        bigram_lm,
        lm_score_documents,
    )

    docs = [(1, "a b"), (2, "a b a c"), (3, "z")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # corpus bigrams: (a,b)x2 (b,a)x1 (a,c)x1 → P(b|a)=2/3, P(a|b)=1,
    # P(c|a)=1/3
    out = {r.doc_id: r for r in lm_score_documents(df).collect()}
    assert set(out) == {1, 2}  # doc 3 has no bigrams
    assert out[1].n_bigrams == 1 and out[1].n_known == 1
    assert out[1].score_ppm == 666_666
    # doc 2: bigrams (a,b),(b,a),(a,c) → (666666+1000000+333333)//3
    assert out[2].score_ppm == (666_666 + 1_000_000 + 333_333) // 3
    # pretrained LM missing (a,c): scores 0 for it, n_known drops
    lm = bigram_lm(df, min_context=1, top=None).filter("w2 <> 'c'")
    out2 = {
        r.doc_id: r for r in lm_score_documents(df, lm=lm).collect()
    }
    assert out2[2].n_known == 2
    assert out2[2].score_ppm == (666_666 + 1_000_000 + 0) // 3


def test_session_paths_truncation_and_counts(spark):
    import datetime as dt

    from learn_etl_data_warehouse_spark.operators.product_analytics import (
        session_paths,
    )

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)

    def ev(eid, user, typ, offset_min):
        return (eid, t0 + dt.timedelta(minutes=offset_min), user, typ, 0.0, "{}")

    rows = [
        # user 1 session A: 4 events → path truncated to first 3
        ev(1, 1, "view", 0),
        ev(2, 1, "click", 1),
        ev(3, 1, "view", 2),
        ev(4, 1, "purchase", 3),
        # user 1 session B after a 60-min gap
        ev(5, 1, "view", 63),
        # user 2: same first-3 path as user 1's session A
        ev(6, 2, "view", 0),
        ev(7, 2, "click", 1),
        ev(8, 2, "view", 2),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = {r.path: r for r in session_paths(df, 30, 3).collect()}
    assert set(out) == {"view>click>view", "view"}
    assert out["view>click>view"].n_sessions == 2
    assert out["view>click>view"].n_users == 2
    assert out["view"].n_sessions == 1 and out["view"].n_users == 1


def test_sorted_neighborhood_pairs_linear_candidates(spark):
    from learn_etl_data_warehouse_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )
    import pytest as _pytest

    docs = [
        (1, "alpha alpha", "en"),
        (2, "alpha  alpha", "en"),  # whitespace-normalizes to doc 1's key
        (3, "beta", "en"),
        (4, "gamma", "en"),
        (5, "alpha alpha", "id"),  # other block: never pairs with en
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    out = sorted_neighborhood_pairs(df, window=2).collect()
    pairs = {(r.id_a, r.id_b, r.gap) for r in out}
    # en order by key: 1,2 (alpha alpha), 3 (beta), 4 (gamma)
    assert pairs == {
        (1, 2, 1), (1, 3, 2), (2, 3, 1), (2, 4, 2), (3, 4, 1),
    }
    by = {(r.id_a, r.id_b): r for r in out}
    assert by[(1, 2)].key_lev == 0  # normalized keys identical
    assert all(r.block == "en" for r in out)
    # linear volume: at most `window` pairs per record
    assert len(out) <= 2 * len(docs)
    with _pytest.raises(ValueError):
        sorted_neighborhood_pairs(df, window=0)


def test_kcore_peels_pendants_keeps_core(spark):
    import pytest as _pytest

    from learn_etl_data_warehouse_spark.operators.graph import kcore_filter

    und = [(1, 2), (2, 3), (1, 3), (1, 4)]  # triangle 1-2-3, pendant 4
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und],
        "src long, dst long",
    )
    core2 = {
        r.node: r.deg
        for r in kcore_filter(edges, k=2, rounds=2).collect()
    }
    # pendant 4 peeled in round 1; the triangle is the stable 2-core
    assert core2 == {1: 2, 2: 2, 3: 2}
    # k=3: the triangle's degree-2 nodes all fall → empty graph
    assert kcore_filter(edges, k=3, rounds=2).count() == 0
    with _pytest.raises(ValueError):
        kcore_filter(edges, k=0)


def test_mmr_rerank_diversifies_and_is_deterministic(spark):
    from learn_etl_data_warehouse_spark.operators.similarity import (
        mmr_rerank,
    )

    q = [1.0, 0.0, 0.0]
    vecs = [
        (1, [1.0, 0.0, 0.0]),      # rel 1.0
        (2, [0.999, 0.04, 0.0]),   # near-duplicate of 1, rel ~1.0
        (3, [0.7, 0.7, 0.0]),      # diverse, rel ~0.71
        (4, [0.0, 1.0, 0.0]),      # orthogonal to q
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = mmr_rerank(df, q, k=2, pool=4, lam=0.5).collect()
    picks = [r.vec_id for r in sorted(out, key=lambda r: r.rank)]
    # rank 1 is pure relevance; rank 2 skips the near-duplicate (its
    # redundancy penalty ~1.0 outweighs its relevance edge over 3)
    assert picks == [1, 3]
    # plain top-2 by relevance would have been [1, 2]
    out2 = mmr_rerank(df, q, k=2, pool=4, lam=0.5).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    # lam=1.0 degenerates to pure relevance order
    pure = mmr_rerank(df, q, k=2, pool=4, lam=1.0).collect()
    assert [r.vec_id for r in sorted(pure, key=lambda r: r.rank)] == [1, 2]


@pytest.mark.slow
def test_hard_negatives_label_and_rank_semantics(spark):
    from pyspark.sql import functions as F

    from learn_etl_data_warehouse_spark.operators.similarity import (
        hard_negatives,
    )

    vecs = [
        (1, [1.0, 0.0], 0),
        (2, [0.99, 0.14], 0),   # same label as 1: never its negative
        (3, [0.95, 0.31], 1),   # hardest cross-label negative of 1
        (4, [0.0, 1.0], 1),     # near-orthogonal to 1
        (5, [0.7, 0.7], 2),
    ]
    df = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label int"
    )
    out = hard_negatives(df, k=2, min_cos=0.0).collect()
    mine = {r.anchor_id: [] for r in out}
    for r in sorted(out, key=lambda r: (r.anchor_id, r.rn)):
        mine[r.anchor_id].append(r.neg_id)
    # anchor 1: same-label 2 excluded; 3 (cos~.95) beats 5 (~.99?) —
    # verify at least the label exclusion and the k bound
    assert 2 not in mine[1]
    assert all(len(v) <= 2 for v in mine.values())
    assert mine[1][0] in (3, 5)
    # anchor_filter slices anchors only; the negative pool stays full
    sliced = hard_negatives(
        df, k=2, min_cos=0.0, anchor_filter=F.col("vec_id") == 1
    ).collect()
    assert {r.anchor_id for r in sliced} == {1}
    assert sorted(r.neg_id for r in sliced) == sorted(mine[1])


def test_collocations_pmi_ranking(spark):
    """PMI ratio on a tiny corpus, checked by hand: (new, york) is the
    only pair above min_pair; marginals come from the bigram table."""
    from learn_etl_data_warehouse_spark.operators.text import collocations

    docs = spark.createDataFrame(
        [(1, "new york new york"), (2, "the cat"), (3, "the dog"),
         (4, "new york times")],
        "doc_id long, text string",
    )
    rows = collocations(docs, min_pair=2).collect()
    assert len(rows) == 1
    r = rows[0]
    # bigrams: (new,york)x3 (york,new)x1 (york,times)x1 (the,cat)x1
    # (the,dog)x1 → N=7; left(new)=3, right(york)=3.
    assert (r["w1"], r["w2"], r["n_pair"], r["n_left"], r["n_right"]) == (
        "new", "york", 3, 3, 3)
    assert r["pmi_ratio_ppm"] == (1_000_000 * 7 * 3) // 9


def test_sequential_pairs_min_time_reduction(spark):
    """A-then-B via the (min_time, max_time) profile reduction: order
    matters, self-pairs excluded, support counts actors."""
    import datetime as dt

    from learn_etl_data_warehouse_spark.operators.basket import (
        sequential_pairs,
    )

    d = dt.date
    rows = [
        # actor 1: A@d1, B@d2, A@d3  → A→B and B→A both exist
        (1, d(2024, 1, 1), "A"), (1, d(2024, 1, 2), "B"),
        (1, d(2024, 1, 3), "A"),
        # actor 2: C@d0, A@d1 → C→A only
        (2, d(2024, 1, 1), "C"), (2, d(2024, 1, 2), "A"),
    ]
    df = spark.createDataFrame(rows, "ak long, ts date, it string")
    got = {
        (r["item_a"], r["item_b"]): (r["n_seq"], r["n_a"], r["conf_ppm"])
        for r in sequential_pairs(df, "ak", "ts", "it", min_support=1).collect()
    }
    assert got == {
        ("A", "B"): (1, 2, 500_000),
        ("B", "A"): (1, 1, 1_000_000),
        ("C", "A"): (1, 1, 1_000_000),
    }


def test_common_neighbor_scores_predicts_unlinked_pairs(spark):
    """Triangle 0-1-2 with tail 2-3: (0,3)/(1,3) are the predicted
    links (shared neighbor 2); direct edges drop unless kept."""
    from learn_etl_data_warehouse_spark.operators.graph import (
        common_neighbor_scores,
    )

    und = [(0, 1), (1, 2), (0, 2), (2, 3)]
    sym = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(sym, ["src", "dst"])

    got = {
        (r["src"], r["dst"]): (r["common_n"], r["deg_a"], r["deg_b"],
                               r["jaccard_ppm"])
        for r in common_neighbor_scores(edges, min_common=1).collect()
    }
    # deg: 0→2, 1→2, 2→3, 3→1
    assert got == {
        (0, 3): (1, 2, 1, 500_000),
        (1, 3): (1, 2, 1, 500_000),
    }

    kept = {
        (r["src"], r["dst"])
        for r in common_neighbor_scores(
            edges, min_common=1, exclude_existing=False
        ).collect()
    }
    assert (0, 1) in kept and (0, 2) in kept and (0, 3) in kept


def test_common_neighbor_scores_hub_cap_bounds_wedges(spark):
    """Hot-hub skew guard (the d13/d02 cap replayed on g06): a star
    hub over the cap is dropped as a wedge CENTER, so the quadratic
    hub fan-out never materializes — but true degrees still feed the
    Jaccard denominator, and sub-cap structure is untouched."""
    from learn_etl_data_warehouse_spark.operators.graph import (
        common_neighbor_scores,
    )

    # hub 100 connected to leaves 0..9; separate triangle 200-201-202
    # with tail 202-203 providing a sub-cap prediction (200,203)/(201,203).
    und = [(100, i) for i in range(10)]
    und += [(200, 201), (201, 202), (200, 202), (202, 203)]
    sym = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(sym, ["src", "dst"])

    capped = {
        (r["src"], r["dst"]): (r["common_n"], r["deg_a"], r["deg_b"])
        for r in common_neighbor_scores(
            edges, min_common=1, max_neighborhood=5
        ).collect()
    }
    # No leaf pair survives: their only shared neighbor is the over-cap
    # hub. The sub-cap triangle tail still predicts through center 202.
    assert all(a >= 200 for a, _ in capped), capped
    assert capped == {
        (200, 203): (1, 2, 1),
        (201, 203): (1, 2, 1),
    }

    # Uncapped twin: the 45 leaf pairs appear, degrees identical where
    # both forms emit the pair (cap shapes candidates, not degrees).
    uncapped = {
        (r["src"], r["dst"]): (r["common_n"], r["deg_a"], r["deg_b"])
        for r in common_neighbor_scores(
            edges, min_common=1, max_neighborhood=None
        ).collect()
    }
    leaf_pairs = [(a, b) for (a, b) in uncapped if a < 100 and b < 100]
    assert len(leaf_pairs) == 45
    for k in capped:
        assert uncapped[k] == capped[k]


def test_minmax_normalize_bounds_and_degenerate_group(spark):
    from learn_etl_data_warehouse_spark.operators.grouped import (
        minmax_normalize,
    )

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 15.0), ("b", 4, 7.0)],
        "k string, i long, v double",
    )
    got = {
        r["i"]: r["norm_01"]
        for r in minmax_normalize(df, "k", "v", "i").collect()
    }
    assert got[1] == 0.0 and got[2] == 1.0 and got[3] == 0.5
    assert got[4] is None


def test_gini_concentration_known_distributions(spark):
    from learn_etl_data_warehouse_spark.operators.grouped import (
        gini_concentration,
    )

    rows = (
        [("eq", 5)] * 4                      # perfectly equal → 0
        + [("one", 0)] * 3 + [("one", 10)]   # one holds all → (n-1)/n
        + [("zero", 0)] * 2                  # zero total → null
    )
    df = spark.createDataFrame(rows, "k string, cents long")
    got = {r["k"]: r for r in gini_concentration(df, "k", "cents").collect()}
    assert got["eq"]["gini"] == 0.0
    assert got["one"]["gini"] == 0.75
    assert got["zero"]["gini"] is None
    assert (got["one"]["n_members"], got["one"]["total_cents"]) == (4, 10)


def test_ks_drift_exact_statistic(spark):
    from learn_etl_data_warehouse_spark.operators.profiling import ks_drift

    rows = [("a", v) for v in (1, 2, 3, 4)] + [("b", v) for v in (3, 4, 5, 6)]
    df = spark.createDataFrame(rows, "g string, cents long")
    r = ks_drift(df, "g", "cents", "a", "b").collect()[0]
    # max |F_a - F_b| = 2/4 at v=2 → 500000 ppm over 6 distinct values
    assert (r["n_a"], r["n_b"], r["n_values"], r["d_ppm"]) == (
        4, 4, 6, 500_000)

    same = ks_drift(df.filter(F.col("g") == "a").union(
        df.filter(F.col("g") == "a").withColumn("g", F.lit("b"))),
        "g", "cents", "a", "b").collect()[0]
    assert same["d_ppm"] == 0


def test_approx_topk_exact_at_capacity(spark, sf_small):
    """a25's approx_top_k with capacity (1000) far above the distinct
    count (100 families) must be EXACT: returned counts equal true
    counts, the returned set is the true top-20, ranks non-increasing."""
    import __spark_entry__ as entrymod

    got = entrymod.queries()["a25_approx_topk"](spark, sf_small).collect()
    li = (
        spark.read.parquet(f"{sf_small}/lineitem.parquet")
        .select((F.col("l_partkey") % 100).alias("family"))
        .groupBy("family")
        .count()
    )
    exact = {r["family"]: r["count"] for r in li.collect()}
    top20_counts = sorted(exact.values(), reverse=True)[:20]

    assert len(got) == 20
    for r in got:
        assert r["est_n"] == exact[r["family"]]
    assert sorted((r["est_n"] for r in got), reverse=True) == top20_counts
    ranks = [r["est_n"] for r in sorted(got, key=lambda r: r["rk"])]
    assert all(a >= b for a, b in zip(ranks, ranks[1:]))


def test_label_propagation_two_communities(spark):
    """Two triangles bridged by one edge: after 3 majority+min-label
    rounds each triangle converges to its own community label."""
    from learn_etl_data_warehouse_spark.operators.graph import (
        label_propagation,
    )

    und = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    sym = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(sym, ["src", "dst"])
    got = {
        r["node"]: r["label"]
        for r in label_propagation(edges, rounds=3).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 2, 4: 2, 5: 2}


def test_hits_fixed_point_matches_python_mirror(spark):
    """Integer HITS on a small bipartite graph vs an independent pure-
    Python mirror of the max-normalized recurrence (the oracle
    contract in miniature)."""
    from learn_etl_data_warehouse_spark.operators.graph import (
        hits_fixed_point,
    )

    E = [(1, 10), (1, 11), (2, 10), (3, 10), (3, 12)]
    hubs = sorted({h for h, _ in E})
    auths = sorted({a for _, a in E})
    hub = {h: 1_000_000 for h in hubs}
    for _ in range(2):
        raw_a = {a: sum(hub[h] for h, x in E if x == a) for a in auths}
        mx = max(raw_a.values())
        auth = {a: (raw_a[a] * 1_000_000) // mx for a in auths}
        raw_h = {h: sum(auth[a] for x, a in E if x == h) for h in hubs}
        mx = max(raw_h.values())
        hub = {h: (raw_h[h] * 1_000_000) // mx for h in hubs}

    edges = spark.createDataFrame(E, ["hub", "auth"])
    got = {
        (r["side"], r["node"]): r["score_micros"]
        for r in hits_fixed_point(edges, rounds=2).collect()
    }
    want = {("hub", h): s for h, s in hub.items()}
    want.update({("auth", a): s for a, s in auth.items()})
    assert got == want


def test_seasonal_hourly_anomaly_flags(spark):
    """Three same-hour-of-day buckets with counts (1, 1, 10): the
    profile mean is 4e6 micros, so the 10-count bucket is hot and both
    1-count buckets are cold; an unflagged steady key emits nothing."""
    import datetime as dt

    from learn_etl_data_warehouse_spark.operators.timeseries import (
        seasonal_hourly_anomaly,
    )

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    for day, n in [(0, 1), (1, 1), (2, 10)]:
        for i in range(n):
            rows.append(("a", base + dt.timedelta(days=day, seconds=i)))
    for day in range(3):  # steady key: never flagged
        rows.append(("b", base + dt.timedelta(days=day)))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    got = {
        (r["event_type"], r["hr"]): (r["x"], r["mean_micros"], r["status"])
        for r in seasonal_hourly_anomaly(df).collect()
    }
    hr0 = int(base.replace(tzinfo=dt.timezone.utc).timestamp()) // 3600
    assert got == {
        ("a", hr0): (1, 4_000_000, "cold"),
        ("a", hr0 + 24): (1, 4_000_000, "cold"),
        ("a", hr0 + 48): (10, 4_000_000, "hot"),
    }


def test_benford_profile_digits_and_ppm(spark):
    """Known digit mix: values 10/11/19/25 (and an excluded 0.5) give
    digit-1 share 750000 ppm and digit-2 share 250000 ppm with exact
    deviations from the fixed Benford constants."""
    from learn_etl_data_warehouse_spark.operators.profiling import (
        benford_profile,
    )

    df = spark.createDataFrame(
        [("g", 10.2), ("g", 11.9), ("g", 19.99), ("g", 25.0), ("g", 0.5)],
        "grp0 string, v double",
    )
    got = {
        r["digit"]: (r["n"], r["obs_ppm"], r["exp_ppm"], r["dev_ppm"])
        for r in benford_profile(df, "v", "grp0").collect()
    }
    assert got == {
        1: (3, 750_000, 301_030, 448_970),
        2: (1, 250_000, 176_091, 73_909),
    }


def test_kmeans_lloyd_exact_separates_blobs(spark):
    """k=2 Lloyd on two tight 2-D blobs: after 2 rounds every vector is
    assigned with its blob-mates, seeds (ids 0,1 — both in blob A)
    notwithstanding; a repeat run returns identical assignments."""
    from learn_etl_data_warehouse_spark.operators.similarity import (
        kmeans_lloyd_exact,
    )

    blob_a = [[0.10 + i * 0.001, 0.10] for i in range(4)]
    blob_b = [[-0.40, -0.40 - i * 0.001] for i in range(4)]
    rows = [(i, v) for i, v in enumerate(blob_a + blob_b)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_lloyd_exact(df, k=2, rounds=2).collect()
    }
    assert len(got) == 8
    a_labels = {got[i] for i in range(4)}
    b_labels = {got[i] for i in range(4, 8)}
    assert len(a_labels) == 1 and len(b_labels) == 1
    assert a_labels != b_labels
    again = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_lloyd_exact(df, k=2, rounds=2).collect()
    }
    assert again == got


def test_chi_square_independence_2x2(spark):
    """Hand-computed 2×2 contingency table: expected counts and
    per-cell chi-square contributions match the closed form."""
    from learn_etl_data_warehouse_spark.operators.profiling import (
        chi_square_independence,
    )

    rows = (
        [("x", "p")] * 30 + [("x", "q")] * 10
        + [("y", "p")] * 10 + [("y", "q")] * 50
    )
    df = spark.createDataFrame(rows, "u string, v string")
    got = {
        (r["a"], r["b"]): (r["observed"], r["expected"], r["chi2_contrib"])
        for r in chi_square_independence(df, "u", "v").collect()
    }
    assert got == {
        ("x", "p"): (30, 16.0, 12.25),
        ("x", "q"): (10, 24.0, 8.166667),
        ("y", "p"): (10, 24.0, 8.166667),
        ("y", "q"): (50, 36.0, 5.444444),
    }


def test_readability_scores_hand_computed(spark):
    """'Hello world. It is fun!' → 5 words, 2 sentence runs, 6 vowel
    groups; score = 206835000 − 2537500 − 101520000. An empty doc is
    dropped."""
    from learn_etl_data_warehouse_spark.operators.text import (
        readability_scores,
    )

    df = spark.createDataFrame(
        [(1, "Hello world. It is fun!"), (2, "???")],
        "doc_id long, text string",
    )
    rows = readability_scores(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id"], r["n_words"], r["n_sentences"], r["n_syllables"]) == (
        1, 5, 2, 6,
    )
    assert r["score_micros"] == 206_835_000 - 2_537_500 - 101_520_000


def test_cumulative_new_actors(spark):
    """First-touch growth: A (day 0 and 1), B (day 0), C (day 2) →
    day 0 adds 2, day 2 adds 1, cumulative 2 then 3; A's second day
    never recounts."""
    import datetime as dt

    from learn_etl_data_warehouse_spark.operators.product_analytics import (
        cumulative_new_actors,
    )

    base = dt.datetime(2026, 1, 1)
    df = spark.createDataFrame(
        [
            ("A", base),
            ("A", base + dt.timedelta(days=1)),
            ("B", base + dt.timedelta(hours=5)),
            ("C", base + dt.timedelta(days=2)),
        ],
        "user_id string, ts timestamp",
    )
    got = [
        (r["n_new"], r["cum_actors"])
        for r in cumulative_new_actors(df).orderBy("day").collect()
    ]
    assert got == [(2, 2), (1, 3)]


def test_frequent_triples_apriori(spark):
    """Two baskets {1,2,3} make that triple frequent at support 2; a
    single {1,2,4} basket stays below threshold; support ppm is exact
    over 3 baskets."""
    from learn_etl_data_warehouse_spark.operators.basket import (
        frequent_triples,
    )

    rows = [
        (10, 1), (10, 2), (10, 3),
        (11, 1), (11, 2), (11, 3),
        (12, 1), (12, 2), (12, 4),
    ]
    df = spark.createDataFrame(rows, "bk long, it long")
    got = [
        tuple(r)
        for r in frequent_triples(df, "bk", "it", min_support=2).collect()
    ]
    assert got == [(1, 2, 3, 2, 3, 666_666)]


def test_time_weighted_average_holds_values(spark):
    """1.00 held for 18h then 3.00 for 6h → TWAP 1.5 exactly
    (0.75·1 + 0.25·3); a plain mean would say 2.0."""
    import datetime as dt

    from learn_etl_data_warehouse_spark.operators.timeseries import (
        time_weighted_average,
    )

    d = dt.datetime(2026, 1, 1)
    df = spark.createDataFrame(
        [
            (1, d, "a", 1.0),
            (2, d + dt.timedelta(hours=18), "a", 3.0),
        ],
        "event_id long, ts timestamp, event_type string, value double",
    )
    rows = time_weighted_average(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_events"], r["span_us"], r["twap_micros"]) == (
        2, 86_400_000_000, 1_500_000,
    )


def test_personalized_pagerank_localizes_at_seed(spark):
    """Hand-unrolled 3 rounds on the path 0–1–2–3 seeded at node 0:
    restart mass returns only to the seed and rank decays with
    distance (node 3 reachable but seed-remote)."""
    from learn_etl_data_warehouse_spark.operators.graph import (
        personalized_pagerank,
    )

    und = [(0, 1), (1, 2), (2, 3)]
    sym = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(sym, ["src", "dst"])
    seeds = spark.createDataFrame([(0,)], ["node"])
    got = {
        r["node"]: r["rank_micros"]
        for r in personalized_pagerank(edges, seeds, iterations=3).collect()
    }
    assert got == {0: 204_187, 1: 588_093, 2: 54_187, 3: 153_531}


def test_gap_histogram_digit_buckets(spark):
    """Gaps of 5µs, 5µs and 2,000µs land in digit buckets 1 and 4 with
    exact min/max; the first event per key has no gap row."""
    import datetime as dt

    from learn_etl_data_warehouse_spark.operators.timeseries import (
        gap_histogram,
    )

    base = dt.datetime(2026, 1, 1)
    us = dt.timedelta(microseconds=1)
    df = spark.createDataFrame(
        [
            (1, base, "a"),
            (2, base + 5 * us, "a"),
            (3, base + 10 * us, "a"),
            (4, base + 2010 * us, "a"),
        ],
        "event_id long, ts timestamp, event_type string",
    )
    got = {
        (r["event_type"], r["bucket"]): (r["n"], r["min_gap_us"], r["max_gap_us"])
        for r in gap_histogram(df).collect()
    }
    assert got == {("a", 1): (2, 5, 5), ("a", 4): (1, 2000, 2000)}


def test_rolling_distinct_hll_within_error(spark, sf_small):
    """The HLL sliding distinct tracks the exact e21 twin within HLL
    error (lgK=12 default → well under 5%) on every window end, and
    the day axis matches exactly."""
    from learn_etl_data_warehouse_spark.operators.sketches import (
        rolling_distinct_hll,
    )
    from learn_etl_data_warehouse_spark.sources.parquet import load_table

    ev = load_table(spark, sf_small, "events")
    est = {
        r["day"]: r["n_users_est"]
        for r in rolling_distinct_hll(ev).collect()
    }
    us_day = 86_400_000_000
    du = ev.select(
        F.expr(f"unix_micros(ts) div {us_day}").cast("long").alias("day"),
        "user_id",
    ).distinct()
    spine = du.select(F.col("day").alias("w_day")).distinct()
    exact = {
        r["w_day"]: r["n"]
        for r in du.join(
            spine,
            (F.col("day") <= F.col("w_day"))
            & (F.col("day") >= F.col("w_day") - 6),
        )
        .groupBy("w_day")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for d in exact:
        assert abs(est[d] - exact[d]) <= max(1, exact[d] * 0.05)


def test_abc_classification_matches_bruteforce(spark):
    from learn_etl_data_warehouse_spark.operators.contribution import (
        abc_classification,
    )

    # ties (two 500s straddling a class edge), a zero, and magnitudes
    # spanning several digit-count buckets
    rows = [
        (1, 9_000), (2, 500), (3, 500), (4, 50), (5, 0),
        (6, 7), (7, 123_456), (8, 99), (9, 100), (10, 3),
    ]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        r["k"]: r["abc_class"]
        for r in abc_classification(df, "v", "k").collect()
    }

    ordered = sorted(rows, key=lambda r: (-r[1], r[0]))
    total = sum(v for _, v in rows)
    cum, want = 0, {}
    for k, v in ordered:
        cum += v
        want[k] = "A" if cum * 100 <= total * 80 else (
            "B" if cum * 100 <= total * 95 else "C"
        )
    assert got == want
    assert len(got) == len(rows)


def test_shortest_paths_relaxes_cheaper_multihop(spark):
    from learn_etl_data_warehouse_spark.operators.graph import shortest_paths

    # 0→3 direct costs 100; 0→1→2→3 costs 30 but needs 3 rounds
    edges = spark.createDataFrame(
        [(0, 3, 100), (0, 1, 10), (1, 2, 10), (2, 3, 10), (4, 0, 5)],
        "src long, dst long, w long",
    )
    seeds = spark.createDataFrame([(0,)], "node long")

    got1 = {r["node"]: r["cost"] for r in
            shortest_paths(edges, seeds, rounds=1).collect()}
    assert got1 == {0: 0, 3: 100, 1: 10}

    got3 = {r["node"]: r["cost"] for r in
            shortest_paths(edges, seeds, rounds=3).collect()}
    assert got3 == {0: 0, 1: 10, 2: 20, 3: 30}  # multihop won; 4 unreached


def test_fk_orphan_audit_counts_orphans_and_nulls(spark):
    from learn_etl_data_warehouse_spark.operators.profiling import (
        fk_orphan_audit,
    )

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None), (5, 20)],
        "id long, fk long",
    )
    parent = spark.createDataFrame([(10,), (20,), (30,)], "pk long")
    rows = fk_orphan_audit([("child->parent", child, "fk", parent, "pk")]).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["relationship"] == "child->parent"
    assert r["total_rows"] == 5
    assert r["null_fk_rows"] == 1   # the None FK is absence, not breakage
    assert r["orphan_rows"] == 1    # fk=99 has no parent
    assert r["orphan_ppm"] == 200_000


def test_knn_classify_majority_vote(spark):
    from learn_etl_data_warehouse_spark.operators.similarity import (
        knn_classify,
    )

    # two tight clusters on orthogonal axes; vec 4 leans toward cluster A
    rows = [
        (0, [1.0, 0.0, 0.05], 7),
        (1, [1.0, 0.02, 0.0], 7),
        (2, [0.0, 1.0, 0.03], 9),
        (3, [0.02, 1.0, 0.0], 9),
        (4, [0.9, 0.1, 0.0], 9),  # mislabeled: its neighbors say 7
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {r["vec_id"]: (r["pred_label"], r["votes"])
           for r in knn_classify(df, k=2).collect()}
    assert got[0] == (7, 1) or got[0][0] == 7      # nearest two: 1 (7) and 4 (9) → tie → label asc = 7
    assert got[4][0] == 7                           # neighbors 0 and 1 both labeled 7
    assert got[2][0] == 9 and got[3][0] == 9
    assert set(got) == {0, 1, 2, 3, 4}


@pytest.mark.slow
def test_knn_classify_ivf_agrees_with_exact_twin(spark, sf_small):
    """Conformance for the knn02 scale path. ANN agreement is only a
    meaningful bar on data with neighbor structure (the fixture's
    labels are chance-level vs its embeddings — exact kNN itself scores
    ~10% against them), so: (a) on a synthetic clustered corpus the IVF
    vote must match the exact all-pairs twin near-perfectly; (b) on the
    fixture it must label every vector and be run-to-run
    deterministic."""
    from learn_etl_data_warehouse_spark.operators.similarity import (
        knn_classify,
        knn_classify_ivf,
    )

    # (a) 8 tight clusters of 25 vectors in 16-dim: cluster c's members
    # sit on axis c with small deterministic per-row jitter elsewhere.
    rows = []
    for c in range(8):
        for i in range(25):
            v = [0.0] * 16
            v[c] = 10.0
            v[(c + 3) % 16] += 0.01 * (i % 7)
            v[(c + 5) % 16] += 0.01 * (i % 5)
            rows.append((c * 25 + i, v, c % 3))
    syn = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    exact = {r["vec_id"]: r["pred_label"]
             for r in knn_classify(syn, k=5).collect()}
    ivf = {r["vec_id"]: r["pred_label"]
           for r in knn_classify_ivf(syn, k=5, n_cells=8, nprobe=2).collect()}
    assert set(ivf) == set(exact)
    agree = sum(1 for v in exact if ivf[v] == exact[v])
    assert agree / len(exact) >= 0.95, f"agreement {agree}/{len(exact)}"

    # (b) fixture: full coverage + determinism
    emb = load_table(spark, sf_small, "embeddings")
    got = {r["vec_id"]: (r["pred_label"], r["votes"])
           for r in knn_classify_ivf(emb, k=5, n_cells=16, nprobe=2).collect()}
    assert len(got) == emb.count()
    got2 = {r["vec_id"]: (r["pred_label"], r["votes"])
            for r in knn_classify_ivf(emb, k=5, n_cells=16, nprobe=2).collect()}
    assert got2 == got


@pytest.mark.slow
def test_semantic_dedup_auto_keep_rule_and_determinism(spark, sf_small):
    """Property gate for the d30 scale path: within every IVF cell the
    independent-drop rule holds — a survivor has NO lower-id same-cell
    neighbor at cosine ≥ threshold, and every dropped row HAS one —
    and the pass is run-to-run deterministic."""
    from learn_etl_data_warehouse_spark.operators.similarity import (
        ivf_assign,
        ivf_build_centroids,
        pairwise_near_dups,
        semantic_dedup_auto,
    )
    emb = load_table(spark, sf_small, "embeddings")
    n = emb.count()
    kept = {r["vec_id"]
            for r in semantic_dedup_auto(emb, threshold=0.4).collect()}
    assert 0 < len(kept) < n

    # rebuild the same deterministic cells and check the keep rule
    n_cells = max(4, -(-n // 256))
    cents = ivf_build_centroids(emb, n_cells=n_cells, iterations=2, seed="vectors")
    assigned = ivf_assign(emb, cents)
    pairs = pairwise_near_dups(
        assigned, threshold=0.4, bucket_col="ivf_cell"
    ).collect()
    has_lower = {p["id_b"] for p in pairs}
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    assert kept == all_ids - has_lower

    kept2 = {r["vec_id"]
             for r in semantic_dedup_auto(emb, threshold=0.4).collect()}
    assert kept2 == kept


def test_cusum_changepoint_finds_level_shift(spark):
    from datetime import datetime
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        cusum_changepoint,
    )

    # 3 hours at rate 1, then 3 hours at rate 5; mean 3, T=6, total 18.
    # S' = n·6 − 18 cumulated: −12, −24, −36, −24, −12, 0 → peak |−36|
    # at the LAST low hour (02:00), the classic CUSUM boundary.
    rows = []
    for h, n in enumerate([1, 1, 1, 5, 5, 5]):
        for i in range(n):
            rows.append((datetime(2024, 1, 1, h, i), "a", 1.0))
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    got = cusum_changepoint(df).collect()
    assert len(got) == 1
    r = got[0]
    assert r["cp_hour"] == datetime(2024, 1, 1, 2, 0)
    assert r["cusum_peak"] == -36
    assert r["n_hours"] == 6


def test_exact_stratified_split_hits_exact_totals(spark):
    from learn_etl_data_warehouse_spark.operators.sampling import (
        exact_stratified_split,
    )

    # stratum sizes chosen so 80% quotas have remainders: 7, 9, 11
    rows = [(i, "a") for i in range(7)]
    rows += [(100 + i, "b") for i in range(9)]
    rows += [(200 + i, "c") for i in range(11)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = exact_stratified_split(df, train_pct=80).collect()
    assert len(out) == 27
    train = [r for r in out if r["split"] == "train"]
    assert len(train) == (80 * 27) // 100  # exactly 21, not "about 80%"
    per = {}
    for r in train:
        per[r["lang"]] = per.get(r["lang"], 0) + 1
    # base quotas 5/7/8 (= floor(.8 n)); one extra by largest remainder:
    # rems 60/20/80 -> extra goes to 'c'
    assert per == {"a": 5, "b": 7, "c": 9}
    # determinism: same result twice
    out2 = exact_stratified_split(df, train_pct=80).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_nearest_centroid_confusion_separable_clusters(spark):
    from learn_etl_data_warehouse_spark.operators.similarity import (
        nearest_centroid_confusion,
    )

    # perfectly separable clusters on orthogonal axes + one off vector
    rows = [
        (0, [1.0, 0.0], 1), (1, [0.9, 0.1], 1),
        (2, [0.0, 1.0], 2), (3, [0.1, 0.9], 2),
        (4, [0.8, 0.2], 2),  # labeled 2 but sits in cluster 1's cone
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    cells = {(r["true_label"], r["pred_label"]): r["n"]
             for r in nearest_centroid_confusion(df).collect()}
    assert cells[(1, 1)] == 2           # cluster 1 pure
    assert cells.get((2, 1), 0) >= 1    # the off vector crosses over
    assert sum(cells.values()) == 5


def test_rfm_segments_fixed_bins(spark):
    from datetime import datetime
    from learn_etl_data_warehouse_spark.operators.product_analytics import (
        rfm_segments,
    )

    d = datetime  # anchor = 2024-12-31 (customer 3's last order)
    rows = [
        # cust 1: recent (10d), 2 orders, small money -> R4 F2 M1
        (1, d(2024, 12, 21), 100.0), (1, d(2024, 1, 1), 100.0),
        # cust 2: stale (>365d), 1 order, big money -> R1 F1 M4
        (2, d(2023, 6, 1), 250_000.0),
        # cust 3: anchor row itself -> recency 0 -> R4
        (3, d(2024, 12, 31), 60_000.0),
    ]
    df = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate timestamp, o_totalprice double"
    )
    got = {r["cust"]: r for r in rfm_segments(df).collect()}
    assert got[1]["segment"] == "R4F2M1"
    assert got[2]["segment"] == "R1F1M4"
    assert got[3]["recency_days"] == 0 and got[3]["segment"] == "R4F1M3"


def test_topn_with_others_conserves_totals(spark):
    from learn_etl_data_warehouse_spark.operators.product_analytics import (
        topn_with_others,
    )

    rows = [("g", k, v) for k, v in
            [(1, 50), (2, 40), (3, 30), (4, 20), (5, 10), (6, 5)]]
    rows += [("h", 1, 7)]  # group smaller than n: no OTHERS row
    df = spark.createDataFrame(rows, "grp string, k long, v long")
    out = topn_with_others(df, "grp", "k", F.sum("v"), n=3).collect()
    g = {r["key"]: (r["measure"], r["rnk"]) for r in out if r["grp"] == "g"}
    assert g == {"1": (50, 1), "2": (40, 2), "3": (30, 3), "OTHERS": (35, 0)}
    assert sum(m for m, _ in g.values()) == 155  # conserved
    h = [r for r in out if r["grp"] == "h"]
    assert len(h) == 1 and h[0]["key"] == "1"


@pytest.mark.slow
def test_maintain_distinct_state_lifecycle(spark):
    import pytest as _pytest
    from learn_etl_data_warehouse_spark.operators.rollups import (
        distinct_count_state,
        distinct_count_view,
        maintain_distinct_state,
    )

    base = spark.createDataFrame(
        [("g", 1), ("g", 1), ("g", 2), ("h", 9)], "grp_c string, v long"
    )
    state = distinct_count_state(base, "grp_c", "v")
    assert {(r["grp"], r["val"], r["cnt"]) for r in state.collect()} == {
        ("g", 1, 2), ("g", 2, 1), ("h", 9, 1)
    }

    # delete ONE of g's two v=1 rows: v=1 must SURVIVE (cnt 2->1);
    # delete g's only v=2 row: the distinct count must shrink
    diff = spark.createDataFrame(
        [("g", 1, "delete"), ("g", 2, "delete"), ("h", 8, "insert")],
        "grp_c string, v long, _change_type string",
    )
    new = maintain_distinct_state(state, diff, "grp_c", "v")
    view = {r["grp"]: r["n_distinct"] for r in distinct_count_view(new).collect()}
    assert view == {"g": 1, "h": 2}

    # over-delete fails loudly instead of corrupting the state
    over = spark.createDataFrame(
        [("g", 777, "delete")], "grp_c string, v long, _change_type string"
    )
    with _pytest.raises(ValueError, match="over-delete"):
        maintain_distinct_state(new, over, "grp_c", "v")


def test_community_modularity_two_triangles(spark):
    from learn_etl_data_warehouse_spark.operators.graph import (
        community_modularity,
    )

    # two triangles joined by one bridge edge; 2m = 14 directed edges
    und = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)], "node long, label long"
    )
    got = {r["community"]: r for r in
           community_modularity(edges, labels).collect()}
    for c in (1, 4):
        r = got[c]
        assert r["n_nodes"] == 3
        assert r["intra_edges"] == 6   # directed count inside a triangle
        assert r["deg_sum"] == 7       # 2+2+3 (bridge endpoint has deg 3)
        assert abs(r["q_term"] - (6 / 14 - (7 / 14) ** 2)) < 1e-12
    assert sum(r["q_term"] for r in got.values()) > 0  # real structure


def test_histogram_percentiles_merge_and_bounds(spark):
    from datetime import datetime
    from learn_etl_data_warehouse_spark.operators.sketches import (
        histogram_percentiles,
        value_histogram_state,
    )

    # 100 rows spread over two days: values 1.00..100.00 dollars
    rows = [
        (datetime(2024, 1, 1 + (i % 2), 0, i % 60), "a", float(i))
        for i in range(1, 101)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    state = value_histogram_state(df)
    assert state.filter(F.col("day").isNull()).count() == 0
    got = histogram_percentiles(state).collect()[0]
    # cents 100..10000; true p50 = 5000 -> bucket lb 5000 (dc=4, fd=5)
    assert got["p50_cents_lb"] == 5000
    # p95 rank 95 -> cents 9500 -> bucket lb 9000; p99 -> 9900 -> 9000
    assert got["p95_cents_lb"] == 9000
    # bucket answer is a LOWER bound within ~2 significant figures
    assert got["p99_cents_lb"] in (9000, 10000)

    # mergeability: day-grain state == direct single-day bucketing
    one_day = df.withColumn("ts", F.lit(datetime(2024, 1, 1)))
    direct = histogram_percentiles(value_histogram_state(one_day)).collect()[0]
    assert (got["p50_cents_lb"], got["p95_cents_lb"], got["p99_cents_lb"]) == (
        direct["p50_cents_lb"], direct["p95_cents_lb"], direct["p99_cents_lb"]
    )


def test_sentence_stats_segmentation(spark):
    from learn_etl_data_warehouse_spark.operators.text import sentence_stats

    rows = [
        (1, "One two. Three four five! Six?"),   # 3 sentences: 2,3,1 words
        (2, "no enders here at all"),             # 1 sentence, 5 words
        (3, ""),                                  # empty -> zeros
        (4, "...!!!"),                            # enders only -> zeros
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in sentence_stats(df).collect()}
    assert (got[1]["n_sentences"], got[1]["total_words"]) == (3, 6)
    assert got[1]["avg_words_ppm"] == 2_000_000
    assert got[1]["max_sentence_words"] == 3
    assert (got[2]["n_sentences"], got[2]["avg_words_ppm"]) == (1, 5_000_000)
    for d in (3, 4):
        assert (got[d]["n_sentences"], got[d]["total_words"],
                got[d]["avg_words_ppm"], got[d]["max_sentence_words"]) == (0, 0, 0, 0)


def test_footprint_matrix_relations(spark):
    from datetime import datetime
    from learn_etl_data_warehouse_spark.operators.process_mining import (
        footprint_matrix,
    )

    d = datetime
    rows = [  # (user, ts, id, type)
        # u1: A B A B -> A||B (both directions direct), A loop? no
        (1, d(2024, 1, 1, 0, 0), 1, "A"), (1, d(2024, 1, 1, 0, 1), 2, "B"),
        (1, d(2024, 1, 1, 0, 2), 3, "A"), (1, d(2024, 1, 1, 0, 3), 4, "B"),
        # u2: A C (sequence), C never directly before A anywhere
        (2, d(2024, 1, 1, 1, 0), 5, "A"), (2, d(2024, 1, 1, 1, 1), 6, "C"),
        # u3: D D -> self loop
        (3, d(2024, 1, 1, 2, 0), 7, "D"), (3, d(2024, 1, 1, 2, 1), 8, "D"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, event_type string")
    got = {(r["a"], r["b"]): r for r in footprint_matrix(df).collect()}
    assert len(got) == 16  # dense 4x4
    assert got[("A", "B")]["relation"] == "parallel"
    assert got[("B", "A")]["relation"] == "parallel"
    assert got[("A", "C")]["relation"] == "sequence"
    assert got[("C", "A")]["relation"] == "reverse"
    assert got[("B", "C")]["relation"] == "unrelated"
    assert got[("D", "D")]["relation"] == "loop"
    assert got[("A", "A")]["relation"] == "self"       # repeats, never adjacent
    assert got[("A", "A")]["n_users_eventual"] == 1    # u1 has A before A
    assert got[("A", "B")]["n_direct"] == 2
    assert got[("A", "C")]["n_users_eventual"] == 1


@pytest.mark.slow
def test_exact_percentiles_selection_vs_sorted(spark):
    import random
    from learn_etl_data_warehouse_spark.functions.aggregates import (
        exact_percentiles_selection,
    )

    random.seed(11)
    cases = [
        [random.randint(0, 10**9) for _ in range(997)],
        [5] * 100,            # all equal: one bucket, one distinct value
        [0, 0, 0, 1],         # zeros + boundary
        [42],                 # single row
    ]
    for vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], "x long")
        row = exact_percentiles_selection(df, "x").collect()[0]
        sv = sorted(vals)
        n = len(sv)
        for q in (50, 95, 99):
            assert row[f"p{q}"] == sv[(q * n + 99) // 100 - 1]


def test_item_item_topk_cosine_order(spark):
    from learn_etl_data_warehouse_spark.operators.graph import item_item_topk

    # actors: 1 buys {A,B,C}; 2 buys {A,B}; 3 buys {A,C}; 4 buys {C,D}
    rows = [(1, "A"), (1, "B"), (1, "C"), (2, "A"), (2, "B"),
            (3, "A"), (3, "C"), (4, "C"), (4, "D")]
    df = spark.createDataFrame(rows, "c long, p string")
    got = {(r["item_a"], r["rnk"]): r for r in
           item_item_topk(df, "c", "p", k=2).collect()}
    # deg: A=3 B=2 C=3 D=1; n: AB=2 AC=2 BC=1 CD=1
    # from A: cos(A,B)=2/sqrt(6)=.816, cos(A,C)=2/3=.667 -> B first
    assert got[("A", 1)]["item_b"] == "B" and got[("A", 1)]["n_both"] == 2
    assert got[("A", 2)]["item_b"] == "C"
    # pico scores are the exact integer transform
    assert got[("A", 1)]["score_pico"] == (4 * 10**12) // 6
    assert got[("A", 2)]["score_pico"] == (4 * 10**12) // 9
    # from D: only C
    assert got[("D", 1)]["item_b"] == "C"
    assert ("D", 2) not in got


def test_bigram_kn_hand_computed(spark):
    from learn_etl_data_warehouse_spark.operators.text import bigram_kn

    # corpus "a b a b a c": n2 ab=2 ba=2 ac=1; c1(a)=3, c1(b)=2;
    # N1fwd(a)=2, N1fwd(b)=1; Ncont(a)=1, Ncont(b)=1, Ncont(c)=1; Ntot=3
    df = spark.createDataFrame([("a b a b a c",)], "text string")
    got = {(r["w1"], r["w2"]): r["p_kn_ppm"]
           for r in bigram_kn(df, min_context=1, top=None).collect()}
    assert got[("a", "b")] == (1_000_000 * (5 * 3 + 3 * 2 * 1)) // 36  # 583333
    assert got[("a", "c")] == (1_000_000 * (1 * 3 + 3 * 2 * 1)) // 36  # 250000
    assert got[("b", "a")] == (1_000_000 * (5 * 3 + 3 * 1 * 1)) // 24  # 750000
    # discount moved mass off the seen counts: p_KN < raw conditional
    assert got[("a", "b")] < (1_000_000 * 2) // 3
    # but the backoff keeps singletons alive
    assert got[("a", "c")] > 0


def test_containment_catches_subset_docs_jaccard_misses(spark):
    from learn_etl_data_warehouse_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    rows = [(1, short), (2, short + " " + filler), (3, "totally unrelated words here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    cont = {(r["src_id"], r["within_id"]): r["containment_ppm"]
            for r in containment_pairs(df, threshold_pct=80).collect()}
    assert cont[(1, 2)] == 1_000_000   # every trigram of 1 is inside 2
    assert (2, 1) not in cont          # the long doc is NOT inside the short
    assert not any(3 in k for k in cont)

    jac = ngram_jaccard_pairs(df, n=3, threshold=0.7, max_doc_freq=50)
    assert jac.filter("id_a = 1 AND id_b = 2").count() == 0  # Jaccard blind


def test_fd_discovery_holds_almost_holds_and_null_keys(spark):
    """pf08 edge pins: an FD that holds exactly, one violated by a
    single determinant, and null handling — rows with a null on EITHER
    side are excluded before grouping (absence, not violation), and a
    determinant whose only rows were null-dependent never counts as a
    group."""
    from learn_etl_data_warehouse_spark.operators.profiling import (
        fd_discovery,
    )

    df = spark.createDataFrame(
        [
            # city -> zip holds; zip -> city violated at 10001
            ("NYC", 10001, "US"),
            ("NYC", 10001, "US"),
            ("LA", 90210, "US"),
            ("SF", None, "US"),        # null dep: excluded from city->zip
            (None, 10001, "XX"),       # null det: excluded, and the XX
            ("NYC", 10001, None),      # null dep for zip->country
        ],
        "city string, zip long, country string",
    )
    got = {
        (r["determinant"], r["dependent"]): (
            r["n_groups"], r["n_violating"], r["holds"]
        )
        for r in fd_discovery(
            df,
            [("city", "zip"), ("zip", "country"), ("city", "country")],
            "addr",
        ).collect()
    }
    assert got[("city", "zip")] == (2, 0, 1)       # NYC, LA — SF dropped
    assert got[("zip", "country")] == (2, 1, 0)    # 10001 → {US, XX}
    assert got[("city", "country")] == (3, 0, 1)   # SF's country is non-null

    # all-null candidate: zero groups must read as "holds" (vacuous)
    vac = fd_discovery(
        df.filter(F.col("city").isNull()), [("city", "country")], "addr"
    ).collect()[0]
    assert (vac["n_groups"], vac["n_violating"], vac["holds"]) == (0, 0, 1)

    import pytest as _pytest
    with _pytest.raises(ValueError):
        fd_discovery(df, [], "addr")


def test_auc_ranking_edge_cases(spark):
    """ml02 edge pins: perfect separation → 1e6 ppm, perfect inversion
    → 0, all-ties → exactly 500000 (the ties-averaged rank statistic),
    and a single-class input must yield a NULL auc (0·n pairs), not an
    ANSI divide-by-zero."""
    from learn_etl_data_warehouse_spark.operators.evaluation import (
        auc_ranking,
    )

    def auc(rows):
        df = spark.createDataFrame(rows, "y boolean, s long")
        return auc_ranking(df, F.col("y"), F.col("s")).collect()[0]

    perfect = auc([(True, 10), (True, 9), (False, 2), (False, 1)])
    assert perfect["auc_ppm"] == 1_000_000
    assert (perfect["n_pos"], perfect["n_neg"]) == (2, 2)

    inverted = auc([(False, 10), (False, 9), (True, 2), (True, 1)])
    assert inverted["auc_ppm"] == 0

    ties = auc([(True, 5), (False, 5), (True, 5), (False, 5)])
    assert ties["auc_ppm"] == 500_000
    assert ties["n_scores"] == 1

    single = auc([(True, 3), (True, 7)])
    assert single["n_neg"] == 0
    assert single["auc_ppm"] is None


def test_daily_open_intervals_edge_cases(spark):
    """ops02 edge pins: a same-day interval is open exactly one day; a
    year-spanning interval costs two change rows (no per-day blowup);
    counts hold between change days and return to zero."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        daily_open_intervals,
    )

    df = spark.createDataFrame(
        [
            (100, 100),     # same-day
            (100, 464),     # crosses a year boundary
            (102, 103),
        ],
        "start_day long, end_day long",
    )
    got = {r["day"]: (r["net_change"], r["open_count"])
           for r in daily_open_intervals(df).collect()}
    assert got[100] == (2, 2)
    assert got[101] == (-1, 1)    # same-day interval closed
    assert got[102] == (1, 2)
    assert got[104] == (-1, 1)
    assert got[465] == (-1, 0)    # sweep nets back to zero
    assert len(got) == 5          # change days only — 365-day span ≠ 365 rows


def test_threshold_metrics_hand_computed(spark):
    """ml03 pins: 2-band corpus with hand-computed cumulative P/R/F1;
    an all-negative input yields NULL recall (zero positives), never an
    ANSI divide-by-zero."""
    from learn_etl_data_warehouse_spark.operators.evaluation import (
        threshold_metrics,
    )

    # band 3 (100..999): 2 rows, 2 pos; band 2 (10..99): 2 rows, 0 pos
    df = spark.createDataFrame(
        [(True, 500), (True, 100), (False, 50), (False, 10)],
        "y boolean, s long",
    )
    got = {r["band"]: r for r in
           threshold_metrics(df, F.col("y"), F.col("s")).collect()}
    assert got[3]["cum_n"] == 2 and got[3]["cum_pos"] == 2
    assert got[3]["precision_ppm"] == 1_000_000
    assert got[3]["recall_ppm"] == 1_000_000
    assert got[3]["f1_ppm"] == 1_000_000
    assert got[2]["cum_n"] == 4 and got[2]["cum_pos"] == 2
    assert got[2]["precision_ppm"] == 500_000
    assert got[2]["recall_ppm"] == 1_000_000
    # harmonic mean of 0.5 and 1.0 = 2/3 → truncating ppm 666666
    assert got[2]["f1_ppm"] == 666_666

    neg = threshold_metrics(
        spark.createDataFrame([(False, 7)], "y boolean, s long"),
        F.col("y"), F.col("s"),
    ).collect()[0]
    assert neg["recall_ppm"] is None and neg["f1_ppm"] is None
    assert neg["precision_ppm"] == 0


def test_categorical_profile_gini_topk_and_nulls(spark):
    """pf09 pins: constant column → gini 0 and one top row; a 50/50
    column → gini exactly 500000; nulls surface as the '<null>' bucket;
    count ties break by value ascending; empty column list raises."""
    from learn_etl_data_warehouse_spark.operators.profiling import (
        categorical_profile,
    )

    df = spark.createDataFrame(
        [("x", "a", None), ("x", "b", "m"), ("x", "a", "m"), ("x", "b", None)],
        "const string, half string, nully string",
    )
    rows = categorical_profile(df, ["const", "half", "nully"]).collect()
    by_col = {}
    for r in rows:
        by_col.setdefault(r["column_name"], []).append(r)

    c = by_col["const"]
    assert len(c) == 1 and c[0]["value"] == "x" and c[0]["gini_ppm"] == 0
    assert c[0]["share_ppm"] == 1_000_000 and c[0]["n_distinct"] == 1

    h = sorted(by_col["half"], key=lambda r: r["rank"])
    assert [r["value"] for r in h] == ["a", "b"]   # tie → value asc
    assert h[0]["gini_ppm"] == 500_000
    assert h[0]["share_ppm"] == 500_000

    nl = {r["value"]: r["cnt"] for r in by_col["nully"]}
    assert nl == {"<null>": 2, "m": 2}

    import pytest as _pytest
    with _pytest.raises(ValueError):
        categorical_profile(df, [])


@pytest.mark.slow
def test_ktruss_keeps_clique_drops_weaker_structure(spark):
    """g13 pins: in K5 ∪ K4 ∪ a pendant edge, 5-truss peeling keeps
    exactly the K5's 10 edges (support 3 each) — K4 edges carry support
    2 and peel in round 1, the pendant edge carries 0; k < 3 raises."""
    from learn_etl_data_warehouse_spark.operators.graph import ktruss_edges

    und = []
    k5 = [1, 2, 3, 4, 5]
    for i in range(5):
        for j in range(i + 1, 5):
            und.append((k5[i], k5[j]))
    k4 = [11, 12, 13, 14]
    for i in range(4):
        for j in range(i + 1, 4):
            und.append((k4[i], k4[j]))
    und.append((5, 6))
    sym = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(sym, ["src", "dst"])

    got = {(r["src"], r["dst"]): r["support"]
           for r in ktruss_edges(edges, k=5, rounds=2).collect()}
    assert len(got) == 10
    assert all(a in k5 and b in k5 for a, b in got)
    assert set(got.values()) == {3}

    # k=4 additionally keeps the K4 (support 2 >= k-2)
    got4 = {(r["src"], r["dst"]) for r in
            ktruss_edges(edges, k=4, rounds=2).collect()}
    assert len(got4) == 16
    assert (5, 6) not in got4

    import pytest as _pytest
    with _pytest.raises(ValueError):
        ktruss_edges(edges, k=2)


def test_perceptron_train_matches_python_reference(spark):
    """r7 verdict item: the distributed training loop must equal a
    plain-Python batch perceptron run on the SAME integer features —
    same misclassification rule (sgn·margin ≤ 0, zero counts), same
    lr=1 signed-integer updates, whole trajectory compared."""
    from learn_etl_data_warehouse_spark.operators.classifier import (
        FEATURE_NAMES,
        perceptron_score,
        perceptron_train,
        quality_features,
    )

    texts = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "short"),
        (3, "{ code like page } function() { return 1; }"),
        (4, "a fine prose paragraph with plenty of ordinary words to keep "
            "the gate satisfied and the mean word length in range"),
        (5, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),
        (6, "numbers 123 456 789 000 111 222 333 444 555 666 777 888"),
        (7, ""),
        (8, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
            "eiusmod tempor incididunt ut labore"),
        (9, "repeat repeat repeat repeat repeat repeat repeat repeat "
            "repeat repeat repeat repeat"),
        (10, "balanced text with several distinct tokens and a readable "
             "structure spanning more than ten words easily"),
    ]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])
    feats = quality_features(docs)
    rows = {r["doc_id"]: r.asDict() for r in feats.collect()}

    # plain-Python reference on the identical features
    w = {n: 0 for n in FEATURE_NAMES}
    expect = []
    for rnd in range(1, 4):
        mis = [
            r for r in rows.values()
            if r["sgn"] * sum(w[n] * r[n] for n in FEATURE_NAMES) <= 0
        ]
        for n in FEATURE_NAMES:
            w[n] += sum(r["sgn"] * r[n] for r in mis)
        expect.extend((rnd, n, w[n]) for n in FEATURE_NAMES)

    trained = perceptron_train(feats, rounds=3)
    got = [(r["rnd"], r["feature"], r["weight"]) for r in trained.collect()]
    assert sorted(got) == sorted(expect)

    # scoring applies the FINAL round's weights: margin and pred agree
    scored = {r["doc_id"]: r for r in
              perceptron_score(feats, trained).collect()}
    for did, r in rows.items():
        m = sum(w[n] * r[n] for n in FEATURE_NAMES)
        assert scored[did]["margin"] == m
        assert scored[did]["pred"] == (m > 0)

    import pytest as _pytest
    with _pytest.raises(ValueError):
        perceptron_train(feats, rounds=0)


def test_sparse_perceptron_matches_python_reference(spark):
    """r7 wide-model variant: the distributed sparse training loop must
    equal a plain-Python sequential reference over the same hashed
    features and teacher signs — including the zero-margin default for
    documents whose buckets carry no weight."""
    from learn_etl_data_warehouse_spark.operators.classifier import (
        hashed_token_features,
        sparse_perceptron_train,
    )
    from learn_etl_data_warehouse_spark.operators.text import c4_filters

    texts = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "short"),
        (3, "{ code like page } function() { return 1; }"),
        (4, "a fine prose paragraph with plenty of ordinary words to keep "
            "the gate satisfied and the mean word length in range"),
        (5, ""),
        (6, "numbers 123 456 789 000 111 222 333 444 555 666 777 888"),
    ]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])

    tf = {}
    for r in hashed_token_features(docs, buckets=16).collect():
        tf.setdefault(r["doc_id"], {})[r["bucket"]] = r["x"]
    sgn = {
        r["doc_id"]: (1 if r["kept"] else -1)
        for r in c4_filters(docs).collect()
    }

    w: dict[int, int] = {}
    for _ in range(3):
        mis = [
            d for d in sgn
            if sgn[d] * sum(w.get(b, 0) * x
                            for b, x in tf.get(d, {}).items()) <= 0
        ]
        delta: dict[int, int] = {}
        for d in mis:
            for b, x in tf.get(d, {}).items():
                delta[b] = delta.get(b, 0) + sgn[d] * x
        for b, dd in delta.items():
            w[b] = w.get(b, 0) + dd

    got = {
        r["bucket"]: r["weight"]
        for r in sparse_perceptron_train(docs, buckets=16, rounds=3).collect()
    }
    assert got == w
    # empty doc (5) has no feature rows and margin 0 — always counted
    # misclassified; its absence from tf must not crash either side
    assert 5 not in tf

    import pytest as _pytest
    with _pytest.raises(ValueError):
        sparse_perceptron_train(docs, rounds=0)


def test_nelson_aalen_hand_computed_with_censoring(spark):
    """r7 survival family: right-censoring, same-day repeats (not a
    repeat event), at_risk as the descending cumulative count, and the
    integer-ppm hazard/cumulative-hazard — all against hand arithmetic."""
    from learn_etl_data_warehouse_spark.operators.survival import (
        duration_table,
        nelson_aalen,
    )

    rows = [
        ("c1", "1970-01-01"), ("c1", "1970-01-04"),
        ("c2", "1970-01-01"), ("c2", "1970-01-04"), ("c2", "1970-01-10"),
        ("c3", "1970-01-01"),                      # censored at horizon
        ("c4", "1970-01-03"), ("c4", "1970-01-03"),  # same-day: censored
        ("c5", "1970-01-01"), ("c5", "1970-01-11"),  # horizon-day event
    ]
    df = spark.createDataFrame(rows, ["cust", "d"]).select(
        "cust", F.col("d").cast("timestamp").alias("ts")
    )
    dur = {
        r["cust"]: (r["duration_days"], r["event"])
        for r in duration_table(df, "cust", "ts").collect()
    }
    assert dur == {
        "c1": (3, 1), "c2": (3, 1), "c3": (10, 0),
        "c4": (8, 0), "c5": (10, 1),
    }

    na = {
        r["duration_days"]: (
            r["at_risk"], r["events"], r["hazard_ppm"], r["cum_hazard_ppm"]
        )
        for r in nelson_aalen(duration_table(df, "cust", "ts")).collect()
    }
    # t=3: 5 at risk, 2 events -> 400000 ppm; t=10: 2 at risk (c3 and
    # c5; c4 censored at 8 already left), 1 event -> 500000 ppm
    assert na == {3: (5, 2, 400_000, 400_000), 10: (2, 1, 500_000, 900_000)}


def test_decision_stump_matches_brute_force(spark, sf_small):
    """r8: the stump trainer's per-feature best split must equal a
    brute-force enumeration over every (threshold, polarity) candidate
    on the collected features, including the (correct DESC, threshold
    ASC, polarity ASC) tie-break."""
    from learn_etl_data_warehouse_spark.operators.classifier import (
        FEATURE_NAMES,
        decision_stump_train,
        quality_features,
    )
    from learn_etl_data_warehouse_spark.sources.parquet import load_table

    docs = load_table(spark, sf_small, "documents")
    feats = quality_features(docs, min_words=40)
    rows = [r.asDict() for r in feats.collect()]
    got = {r["feature"]: r.asDict()
           for r in decision_stump_train(feats).collect()}
    assert set(got) == set(FEATURE_NAMES)
    n = len(rows)
    for feat in FEATURE_NAMES:
        best = None
        for t in sorted({r[feat] for r in rows}):
            for pol in (0, 1):
                correct = sum(
                    1 for r in rows
                    if (pol if r[feat] <= t else 1 - pol) == r["label"]
                )
                cand = (-correct, t, pol)
                if best is None or cand < best:
                    best = cand
        want_correct, want_t, want_pol = -best[0], best[1], best[2]
        g = got[feat]
        assert (g["correct"], g["threshold"], g["polarity"]) == (
            want_correct, want_t, want_pol), feat
        assert g["n"] == n
        assert g["accuracy_ppm"] == (1_000_000 * want_correct) // n


def test_stump_cross_validate_matches_brute_force(spark, sf_small):
    """r10: ml06 — per fold, the out-of-fold-trained winner (ranked
    ACROSS features under (correct DESC, feature, threshold, polarity))
    and its held-out accuracy must equal a brute-force enumeration on
    the collected features with the same md5 fold assignment."""
    import hashlib

    from learn_etl_data_warehouse_spark.operators.classifier import (
        FEATURE_NAMES,
        quality_features,
        stump_cross_validate,
    )
    from learn_etl_data_warehouse_spark.sources.parquet import load_table

    folds = 4
    docs = load_table(spark, sf_small, "documents")
    feats = quality_features(docs, min_words=40)
    rows = [r.asDict() for r in feats.collect()]
    for r in rows:
        digest = hashlib.md5(f"cv:{r['doc_id']}".encode()).hexdigest()
        r["fold"] = int(digest[:8], 16) % folds

    got = {r["fold"]: r.asDict()
           for r in stump_cross_validate(feats, folds=folds).collect()}
    assert set(got) == set(range(folds))

    for k in range(folds):
        train = [r for r in rows if r["fold"] != k]
        ev = [r for r in rows if r["fold"] == k]
        values = {
            f: sorted({r[f] for r in rows}) for f in FEATURE_NAMES
        }  # union grid, as the operator builds it
        best = None
        for f in FEATURE_NAMES:
            for t in values[f]:
                for pol in (0, 1):
                    correct = sum(
                        1 for r in train
                        if (pol if r[f] <= t else 1 - pol) == r["label"]
                    )
                    cand = (-correct, f, t, pol)
                    if best is None or cand < best:
                        best = cand
        _, bf, bt, bp = best
        ev_correct = sum(
            1 for r in ev
            if (bp if r[bf] <= bt else 1 - bp) == r["label"]
        )
        g = got[k]
        assert (g["feature"], g["threshold"], g["polarity"]) == (bf, bt, bp), k
        assert g["n_train"] == len(train) and g["n_eval"] == len(ev)
        assert g["train_accuracy_ppm"] == (1_000_000 * -best[0]) // len(train)
        assert g["eval_accuracy_ppm"] == (1_000_000 * ev_correct) // len(ev)


def test_margin_calibration_buckets_and_rates(spark):
    """r8: signed digit-count bucketing (0 / ±digits), exact ppm rates,
    per-bucket margin extrema — pinned on hand-built margins spanning
    zero, positive, and negative buckets."""
    from learn_etl_data_warehouse_spark.operators.classifier import (
        margin_calibration,
    )

    scored = spark.createDataFrame(
        [
            (1, 1, 0, False),     # bucket 0
            (2, 1, 7, True),      # bucket 1
            (3, 0, 9, True),      # bucket 1
            (4, 1, 42, True),     # bucket 2
            (5, 0, -3, False),    # bucket -1
            (6, 1, -3000, False), # bucket -4
            (7, 1, 123456, True), # bucket 6
        ],
        "doc_id long, label long, margin long, pred boolean",
    )
    got = {r["bucket"]: r.asDict()
           for r in margin_calibration(scored).collect()}
    assert set(got) == {0, 1, 2, -1, -4, 6}
    b1 = got[1]
    assert (b1["n"], b1["n_pos"], b1["pos_rate_ppm"]) == (2, 1, 500_000)
    assert (b1["min_margin"], b1["max_margin"]) == (7, 9)
    assert got[0]["pos_rate_ppm"] == 1_000_000  # label 1, margin 0
    assert got[-4]["n_pos"] == 1
    assert got[6]["pos_rate_ppm"] == 1_000_000


def test_key_skew_audit_shares_and_salt_factors(spark):
    """r8: hand-built skew — one hot key at 12 of 20 rows. mean per-key
    count = 20 div 4 = 5 → hot salt = ceil(12/5) = 3; cold keys land at
    factor 1; shares are truncating ppm."""
    from learn_etl_data_warehouse_spark.operators.profiling import (
        key_skew_audit,
    )

    rows = [(i, "hot") for i in range(12)] + [
        (100 + i, k) for i, k in enumerate(["a", "a", "a", "b", "b", "b", "c", "c"])
    ]
    df = spark.createDataFrame(rows, "event_id long, k string")
    got = {r["k"]: r.asDict() for r in key_skew_audit(df, "k").collect()}
    assert got["hot"]["cnt"] == 12
    assert got["hot"]["share_ppm"] == (1_000_000 * 12) // 20
    assert got["hot"]["salt_factor"] == 3
    assert got["a"]["salt_factor"] == 1 and got["c"]["salt_factor"] == 1
    assert sum(r["cnt"] for r in got.values()) == 20


def test_bootstrap_replicate_means_matches_python_hash_model(spark):
    """r8: the bootstrap's md5-slice weights recomputed in Python —
    replicate means must match exactly (same digest, same slices,
    same truncating div)."""
    import hashlib

    from learn_etl_data_warehouse_spark.operators.sampling import (
        bootstrap_replicate_means,
    )

    rows = [(i, float(10 + 3 * i) / 100.0) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, val double")
    got = {
        r["rep"]: (r["n_eff"], r["mean_cents"])
        for r in bootstrap_replicate_means(df, "val", "id").collect()
    }
    assert set(got) == set(range(16))
    for rep in range(16):
        tot = n_eff = 0
        for i, v in rows:
            h = hashlib.md5(f"bs:{rep}:{i}".encode()).hexdigest()
            wt = sum(
                1
                for j in range(3)
                if int(h[8 * j : 8 * j + 8], 16) % 1_000_000 < 333_333
            )
            cents = round(v * 100)
            n_eff += wt
            tot += wt * cents
        want = (n_eff, tot // n_eff if n_eff else None)
        assert got[rep] == want, rep


def test_permutation_test_observed_row_and_shape(spark):
    """r8: the observed row (perm_id −1) is the direct two-group mean
    gap; 16 pseudo rows exist; diff is always mean_a − mean_b."""
    from learn_etl_data_warehouse_spark.operators.sampling import (
        permutation_test_means,
    )

    rows = [(i, 100.0 + i, i % 3 == 0) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, val double, flag boolean")
    out = {
        r["perm_id"]: r.asDict()
        for r in permutation_test_means(
            df, "val", "id", F.col("flag")
        ).collect()
    }
    assert set(out) == {-1, *range(16)}
    a = [round((100.0 + i) * 100) for i in range(30) if i % 3 == 0]
    b = [round((100.0 + i) * 100) for i in range(30) if i % 3 != 0]
    obs = out[-1]
    assert obs["mean_a_cents"] == sum(a) // len(a)
    assert obs["mean_b_cents"] == sum(b) // len(b)
    for r in out.values():
        assert r["diff_cents"] == r["mean_a_cents"] - r["mean_b_cents"]


def test_permutation_test_empty_input(spark):
    """r9 (ADVICE fix): an EMPTY frame still yields the observed row —
    one perm_id −1 row of NULL means, matching the DuckDB oracle's
    ungrouped obs CTE (a groupBy on the literal −1 would return 0 rows
    and silently diverge)."""
    from learn_etl_data_warehouse_spark.operators.sampling import (
        permutation_test_means,
    )

    df = spark.createDataFrame(
        [], "id long, val double, flag boolean"
    )
    out = permutation_test_means(df, "val", "id", F.col("flag")).collect()
    assert len(out) == 1
    r = out[0]
    assert r["perm_id"] == -1
    assert r["mean_a_cents"] is None
    assert r["mean_b_cents"] is None
    assert r["diff_cents"] is None


def test_maximal_repeat_catches_what_hot_span_misses(spark):
    """r9 (verdict item 5): d34's variable-length exact-substring pass
    catches BOTH failure classes of d17's fixed 6-token hot-span window
    — a 4-token cross-doc repeat (shorter than the window) and an
    8-token WITHIN-doc repeat (d17 counts distinct documents) — on a
    corpus where hot_span_scrub removes nothing."""
    from learn_etl_data_warehouse_spark.operators.dedup import (
        hot_span_scrub,
        maximal_repeat_stats,
    )

    docs = [
        (1, "alpha beta gamma delta x1 x2 x3 x4 x5"),
        (2, "y1 y2 alpha beta gamma delta y3 y4"),
        (3, "r1 r2 r3 r4 r5 r6 r7 r8 z1 r1 r2 r3 r4 r5 r6 r7 r8"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # d17 is blind on this corpus: no 6-gram is shared across >1 docs.
    d17 = {r["doc_id"]: r["n_removed"] for r in hot_span_scrub(df).collect()}
    assert d17 == {1: 0, 2: 0, 3: 0}

    got = {
        r["doc_id"]: (
            r["n_tokens"], r["rep4_starts"], r["rep8_starts"],
            r["rep16_starts"], r["n_covered"], r["n_kept"],
        )
        for r in maximal_repeat_stats(df).collect()
    }
    # docs 1/2 share the 4-token span (1 duplicated 4-gram start each,
    # nothing at >= 8 so nothing scrubbed); doc 3 repeats its own
    # 8-token run — 10 dup 4-gram starts, 2 dup 8-gram starts, and the
    # 8-coverage scrub leaves only the z1 separator token.
    assert got[1] == (9, 1, 0, 0, 0, 9)
    assert got[2] == (8, 1, 0, 0, 0, 8)
    assert got[3] == (17, 10, 2, 0, 16, 1)


def test_maximal_repeat_brute_force_conformance(spark):
    """d34 vs a pure-Python reference on a deterministic mixed corpus
    (including a blank doc, which must produce NO output row)."""
    from collections import Counter

    from learn_etl_data_warehouse_spark.operators.dedup import (
        maximal_repeat_stats,
    )

    vocab = ["a", "b", "c", "d", "e"]
    docs = []
    for d in range(12):
        n = (d * 7) % 21
        docs.append(
            (d, " ".join(vocab[(d * 3 + i * i) % 5] for i in range(n)))
        )
    docs.append((99, "   "))  # blank: no output row
    levels, min_len = (4, 8, 16), 8

    toks = {d: t.split() for d, t in docs}
    cnt = {L: Counter() for L in levels}
    for t in toks.values():
        for L in levels:
            for i in range(len(t) - L + 1):
                cnt[L][tuple(t[i : i + L])] += 1
    want = {}
    for d, t in toks.items():
        if not t:
            continue
        n = len(t)
        dup = {
            L: [
                1 if i + L <= n and cnt[L][tuple(t[i : i + L])] > 1 else 0
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
            n, sum(dup[4]), sum(dup[8]), sum(dup[16]),
            sum(cov), n - sum(cov),
        )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["rep4_starts"], r["rep8_starts"],
            r["rep16_starts"], r["n_covered"], r["n_kept"],
        )
        for r in maximal_repeat_stats(df, levels=levels, min_len=min_len).collect()
    }
    assert got == want
    assert 99 not in got


@pytest.mark.slow
def test_maximal_repeat_fingerprint_conformance(spark, sf_small):
    """r10 (r9 verdict item 2): the hashed-shuffle kernel
    (fingerprint_grams=True — xxhash64 fingerprints in both
    corpus-proportional shuffles, string recheck on survivor docs)
    returns EXACTLY the string path's output, for both the stats and
    the scrub form, on the real fixture corpus."""
    from learn_etl_data_warehouse_spark.operators.dedup import (
        maximal_repeat_scrub,
        maximal_repeat_stats,
    )
    from learn_etl_data_warehouse_spark.sources.parquet import load_table

    docs = load_table(spark, sf_small, "documents")

    s_rows = {
        r["doc_id"]: tuple(r)[1:]
        for r in maximal_repeat_stats(docs).collect()
    }
    f_rows = {
        r["doc_id"]: tuple(r)[1:]
        for r in maximal_repeat_stats(docs, fingerprint_grams=True).collect()
    }
    assert s_rows == f_rows and len(s_rows) > 0

    h_rows = {
        r["doc_id"]: tuple(r)[1:]
        for r in maximal_repeat_stats(
            docs, fingerprint_grams=True, fingerprint_recheck="hash128"
        ).collect()
    }
    assert s_rows == h_rows

    s_scrub = {
        r["doc_id"]: (r["n_kept"], r["n_removed"], r["text_clean"])
        for r in maximal_repeat_scrub(docs, levels=(8,), min_len=8).collect()
    }
    f_scrub = {
        r["doc_id"]: (r["n_kept"], r["n_removed"], r["text_clean"])
        for r in maximal_repeat_scrub(
            docs, levels=(8,), min_len=8, fingerprint_grams=True
        ).collect()
    }
    assert s_scrub == f_scrub


def test_maximal_repeat_rejects_duplicate_levels(spark):
    """r9 ADVICE: a duplicate level must raise a clear ValueError, not
    a duplicate-alias AnalysisException."""
    import pytest as _pytest

    from learn_etl_data_warehouse_spark.operators.dedup import (
        maximal_repeat_stats,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="duplicate levels"):
        maximal_repeat_stats(df, levels=(8, 8), min_len=8)


def test_intermittent_demand_rate_hand_model(spark):
    """r10: fc03 — a sparse series matches the hand arithmetic; a
    single-demand key reports NULL interval/rate."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        intermittent_demand_rate,
    )

    rows = [
        # key 1: demands of 4 and 8 on days 10 and 20 → z = 6, p = 10,
        # rate = 12·1/ (2·10) = 0.6/day
        (1, 10, 4), (1, 20, 8),
        (2, 5, 7),  # single demand: NULLs
    ]
    df = spark.createDataFrame(rows, "part_id long, d long, qty long")
    got = {r["part_id"]: r.asDict()
           for r in intermittent_demand_rate(df).collect()}
    a = got[1]
    assert (a["n_demands"], a["total_qty"], a["span_days"]) == (2, 12, 10)
    assert a["mean_qty_micro"] == 6_000_000
    assert a["mean_interval_micro_days"] == 10_000_000
    assert a["rate_micro_per_day"] == 600_000
    b = got[2]
    assert b["mean_interval_micro_days"] is None
    assert b["rate_micro_per_day"] is None
    assert b["mean_qty_micro"] == 7_000_000


def test_seasonal_decomposition_identity_and_trend(spark):
    """r10: e29 — observed·1e6 = seasonal + trend + residual row-for-
    row; a perfectly linear series decomposes with zero residual at
    hours whose hod profile equals their value; a single-hour key is
    excluded (no estimable trend)."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        seasonal_decomposition,
    )

    rows = (
        # key 'lin': x = hr over hours 0..5 (slope 1e6, hod=hr)
        [("lin", h, h) for h in range(6)]
        + [("one", 3, 7)]  # single grid hour: no pairwise slope
    )
    hourly = spark.createDataFrame(rows, "event_type string, hr long, x long")
    got = seasonal_decomposition(hourly).collect()
    keys = {r["event_type"] for r in got}
    assert keys == {"lin"}
    for r in got:
        assert (
            r["x"] * 1_000_000
            == r["seasonal_micro"] + r["trend_micro"] + r["residual_micro"]
        )
    by_hr = {r["hr"]: r for r in got}
    # slope is exactly 1e6; seasonal at hod h is h·1e6; trend h·1e6 from
    # anchor 0 → residual = h·1e6 − h·1e6 − h·1e6 = −h·1e6
    for h in range(6):
        assert by_hr[h]["trend_micro"] == h * 1_000_000
        assert by_hr[h]["seasonal_micro"] == h * 1_000_000
        assert by_hr[h]["residual_micro"] == -h * 1_000_000


def test_rank_sum_test_hand_model_and_invariants(spark):
    """r10: st05 — doubled rank sums against a hand-ranked example with
    a tied block spanning both groups; Σ rank_sum_x2 = N·(N+1) and
    Σ dev_x2 = 0 by construction."""
    from learn_etl_data_warehouse_spark.operators.sampling import (
        rank_sum_test,
    )

    # values (cents): a: 100, 300, 300 | b: 200, 300, 500
    # sorted: 100(r1), 200(r2), 300·3(avg rank 4), 500(r6)
    # 2·R_a = 2 + 8 + 8 = 18; 2·R_b = 4 + 8 + 12 = 24; N=6, Σ=42=6·7
    rows = [("a", 1.00), ("a", 3.00), ("a", 3.00),
            ("b", 2.00), ("b", 3.00), ("b", 5.00)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r["grp"]: (r["n_g"], r["rank_sum_x2"], r["expected_x2"], r["dev_x2"])
        for r in rank_sum_test(df, "v", "g").collect()
    }
    assert got["a"] == (3, 18, 21, -3)
    assert got["b"] == (3, 24, 21, 3)
    assert sum(v[1] for v in got.values()) == 6 * 7
    assert sum(v[3] for v in got.values()) == 0


def test_direct_follows_graph_hand_trace(spark):
    """r10: pm02 — a two-actor log with a deterministic (ts, id) tie:
    edge counts, actor counts, and integer gap stats match the hand
    walk."""
    from datetime import datetime

    from learn_etl_data_warehouse_spark.operators.process_mining import (
        direct_follows_graph,
    )

    def at(sec):
        return datetime(2024, 1, 1, 0, 0, sec)

    rows = [
        (1, 10, at(0), "view"), (1, 11, at(5), "cart"),
        (1, 12, at(35), "buy"),
        (2, 20, at(0), "view"), (2, 21, at(10), "cart"),
        # same-ts tie: id order decides cart -> view -> buy
        (2, 22, at(20), "view"), (2, 23, at(20), "buy"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    got = {
        (r["a"], r["b"]): (
            r["n_traversals"], r["n_actors"], r["min_gap_us"],
            r["mean_gap_us"], r["max_gap_us"],
        )
        for r in direct_follows_graph(df).collect()
    }
    assert got[("view", "cart")] == (2, 2, 5_000_000, 7_500_000, 10_000_000)
    assert got[("cart", "buy")] == (1, 1, 30_000_000, 30_000_000, 30_000_000)
    assert got[("cart", "view")] == (1, 1, 10_000_000, 10_000_000, 10_000_000)
    assert got[("view", "buy")] == (1, 1, 0, 0, 0)
    assert set(got) == {
        ("view", "cart"), ("cart", "buy"), ("cart", "view"), ("view", "buy")
    }


def test_k_anonymity_audit_groups_and_guard(spark):
    """r10: pf11 — group sizes classify against k and k<2 raises."""
    import pytest as _pytest

    from learn_etl_data_warehouse_spark.operators.profiling import (
        k_anonymity_audit,
    )

    rows = [("x", 1)] * 5 + [("x", 2)] * 2 + [("y", 1)]
    df = spark.createDataFrame(rows, "seg string, b long")
    got = {
        (r["seg"], r["b"]): (r["n_rows"], r["k_anonymous"])
        for r in k_anonymity_audit(df, ["seg", "b"], k=5).collect()
    }
    assert got == {
        ("x", 1): (5, True), ("x", 2): (2, False), ("y", 1): (1, False),
    }
    with _pytest.raises(ValueError):
        k_anonymity_audit(df, ["seg"], k=1)


def test_jackknife_group_means_signed_floor(spark):
    """r9 ADVICE: refunds/credits driving a leave-out sum negative must
    still match a floor-division oracle — the reconstruction
    (x − pmod(x, d)) div d, checked against Python's flooring //."""
    from learn_etl_data_warehouse_spark.operators.sampling import (
        jackknife_group_means,
    )

    rows = [(1, "a", -50.00), (2, "a", -20.25), (3, "b", 10.00),
            (4, "b", -90.00), (5, "c", 3.33)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    got = {
        r["grp"]: (r["jk_mean_cents"], r["overall_mean_cents"], r["delta_cents"])
        for r in jackknife_group_means(df, "v", "g").collect()
    }
    cents = {"a": [-5000, -2025], "b": [1000, -9000], "c": [333]}
    total = sum(sum(v) for v in cents.values())
    n = 5
    overall = total // n  # Python // floors — the DuckDB oracle semantics
    for g, vals in cents.items():
        jk = (total - sum(vals)) // (n - len(vals))
        assert got[g] == (jk, overall, jk - overall), g


def test_jackknife_group_means_model_and_degenerate(spark):
    """r9: delete-one-group jackknife vs a hand model; a group that is
    the entire input yields NULL leave-out mean (both-engine contract)."""
    from learn_etl_data_warehouse_spark.operators.sampling import (
        jackknife_group_means,
    )

    rows = [(1, "a", 10.00), (2, "a", 20.00), (3, "b", 40.00),
            (4, "b", 50.00), (5, "c", 100.00)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    got = {
        r["grp"]: (
            r["n_g"], r["jk_mean_cents"], r["overall_mean_cents"],
            r["delta_cents"],
        )
        for r in jackknife_group_means(df, "v", "g").collect()
    }
    cents = {"a": [1000, 2000], "b": [4000, 5000], "c": [10000]}
    total = sum(sum(v) for v in cents.values())
    n = 5
    overall = total // n
    for g, vals in cents.items():
        jk = (total - sum(vals)) // (n - len(vals))
        assert got[g] == (len(vals), jk, overall, jk - overall), g

    one = spark.createDataFrame([(1, "only", 7.0)], "id long, g string, v double")
    r = jackknife_group_means(one, "v", "g").collect()[0]
    assert r["jk_mean_cents"] is None and r["delta_cents"] is None


def test_forecast_backtest_holdout_semantics(spark):
    """r9: fc02 — a flat series backtests to zero error over exactly
    `horizon` hours; a key seen ONLY inside the holdout has no train
    history and produces no row. r10 (r9 ADVICE): a key that went
    quiet BEFORE the cutoff reports its staleness as anchor_gap, while
    through-cutoff keys report gap 0."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        forecast_backtest,
    )

    rows = (
        [("a", h, 5) for h in range(48)]
        + [("b", 46, 3), ("b", 47, 9)]
        + [("c", h, 7) for h in range(10)]
    )
    hourly = spark.createDataFrame(
        rows, "event_type string, hr long, x long"
    )
    got = {r["event_type"]: r.asDict() for r in forecast_backtest(hourly).collect()}
    assert set(got) == {"a", "c"}
    a = got["a"]
    assert (
        a["n_hours"], a["mae_micro"], a["sum_err_micro"], a["n_over"],
        a["anchor_gap"],
    ) == (24, 0, 0, 0, 0)
    # key c's anchor is hour 9 vs global cutoff 23: its 24 scored hours
    # (10..33) all sit at or before the cutoff — the in-train-region
    # scoring the gap column exposes (gap 14 = 23 − 9).
    assert got["c"]["anchor_gap"] == 14


def test_maximal_repeat_scrub_rebuilds_text(spark):
    """r9: d35 — the scrub rebuild removes exactly the covered tokens
    in original order; a doc whose every token is covered keeps its
    row with empty text_clean; n_kept agrees with the stats form."""
    from learn_etl_data_warehouse_spark.operators.dedup import (
        maximal_repeat_scrub,
        maximal_repeat_stats,
    )

    docs = [
        (1, "alpha beta gamma delta x1 x2 x3 x4 x5"),
        (3, "r1 r2 r3 r4 r5 r6 r7 r8 z1 r1 r2 r3 r4 r5 r6 r7 r8"),
        (4, "r1 r2 r3 r4 r5 r6 r7 r8"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_kept"], r["n_removed"], r["text_clean"])
        for r in maximal_repeat_scrub(df, levels=(8,), min_len=8).collect()
    }
    # doc 1 has no 8-repeat: untouched. doc 3's run repeats within
    # itself AND matches doc 4 — only the z1 separator survives. doc 4
    # is entirely one duplicated span: empty rebuild, row kept.
    assert got[1] == (9, 0, "alpha beta gamma delta x1 x2 x3 x4 x5")
    assert got[3] == (1, 16, "z1")
    assert got[4] == (0, 8, "")

    stats = {
        r["doc_id"]: r["n_kept"]
        for r in maximal_repeat_stats(df, levels=(8,), min_len=8).collect()
    }
    assert stats == {d: v[0] for d, v in got.items()}


def test_cuped_adjusted_means_model_and_degenerate(spark):
    """r9: CUPED vs a hand model (theta = Cov/Var on all units,
    adjusted = raw − theta·(x̄_g − x̄)); zero-variance covariate
    degenerates to the unadjusted means with NULL theta."""
    from learn_etl_data_warehouse_spark.operators.sampling import (
        cuped_adjusted_means,
    )

    rows = [("a", 1, 100), ("a", 3, 300), ("b", 2, 250), ("b", 4, 450),
            ("b", 6, 600)]
    df = spark.createDataFrame(rows, "grp string, x long, y long")
    got = {
        r["grp"]: (r["n_units"], r["raw_mean"], r["adjusted_mean"], r["theta"])
        for r in cuped_adjusted_means(df).collect()
    }
    n = len(rows)
    sx = sum(x for _, x, _ in rows); sy = sum(y for _, _, y in rows)
    sxx = sum(x * x for _, x, _ in rows)
    sxy = sum(x * y for _, x, y in rows)
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    xbar = sx / n
    for g in ("a", "b"):
        xs = [x for gg, x, _ in rows if gg == g]
        ys = [y for gg, _, y in rows if gg == g]
        raw = sum(ys) / len(ys)
        adj = raw - theta * (sum(xs) / len(xs) - xbar)
        assert got[g] == (
            len(xs), round(raw, 6), round(adj, 6), round(theta, 6)
        ), g

    flat = spark.createDataFrame(
        [("a", 5, 10), ("b", 5, 30)], "grp string, x long, y long"
    )
    fr = {r["grp"]: r for r in cuped_adjusted_means(flat).collect()}
    assert fr["a"]["theta"] is None
    assert fr["a"]["adjusted_mean"] == fr["a"]["raw_mean"] == 10.0
    assert fr["b"]["adjusted_mean"] == fr["b"]["raw_mean"] == 30.0


def test_mad_outlier_profile_hand_model(spark):
    """r10: st06 — lower nearest-rank median/MAD on a hand example,
    strict 3·MAD outlier count, and the MAD=0 degeneracy (majority-
    equal group: every differing row is an outlier, textbook)."""
    from learn_etl_data_warehouse_spark.operators.sampling import (
        mad_outlier_profile,
    )

    # g=a (n=5): cents 100 200 300 400 10000 → median rank 3 = 300;
    #   devs 200 100 0 100 9700 → sorted 0 100 100 200 9700, MAD = 100;
    #   outliers: dev > 300 → only 9700 → 1.
    # g=b (n=4): cents 500 500 500 900 → median rank 2 = 500; devs
    #   0 0 0 400 → MAD = 0; outliers: dev > 0 → 1 (degeneracy pin).
    rows = [("a", 1.00), ("a", 2.00), ("a", 3.00), ("a", 4.00),
            ("a", 100.00),
            ("b", 5.00), ("b", 5.00), ("b", 5.00), ("b", 9.00)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r["grp"]: (r["n_g"], r["median_cents"], r["mad_cents"],
                   r["n_outliers"])
        for r in mad_outlier_profile(df, "v", "g").collect()
    }
    assert got["a"] == (5, 300, 100, 1)
    assert got["b"] == (4, 500, 0, 1)


def test_md5_hll_estimate_accuracy(spark):
    """r10: sk01 — the raw estimate lands inside generous HLL error
    bounds (m=64 -> ~13% standard error; assert 40%)."""
    from learn_etl_data_warehouse_spark.operators.sketches import (
        md5_hll_estimate,
        md5_hll_registers,
    )

    rows = [(i % 500, "g") for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, g string")
    est = md5_hll_estimate(md5_hll_registers(df, "k", "g")).collect()[0]
    assert abs(est["est_ndv"] - 500) <= 200


def test_pmi_collocations_hand_model(spark):
    """r10: t32 — lift arithmetic pinned on a tiny corpus where one
    pair crosses min_pair: doc 'a b c a b d' x3 gives (a,b) n2=6,
    margins n_a=6 (w1=a), n_b=6 (w2=b), N=15 bigrams, lift_pico =
    6*15*1e12 // 36 = 2.5e12."""
    from learn_etl_data_warehouse_spark.operators.text import (
        pmi_collocations,
    )

    df = spark.createDataFrame(
        [(i, "a b c a b d") for i in range(3)], "doc_id long, text string"
    )
    got = pmi_collocations(df, min_pair=5).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["w1"], r["w2"], r["n2"], r["n_a"], r["n_b"]) == (
        "a", "b", 6, 6, 6,
    )
    assert r["lift_pico"] == 2_500_000_000_000


def test_grouped_ols2_matches_numpy_and_collinear_null(spark):
    """r10: ml07 — slopes/R² agree with numpy lstsq on a deterministic
    group; an exactly collinear group (x2 = 2·x1) yields NULL slopes
    (det = 0 Gram degeneracy)."""
    import numpy as np

    from learn_etl_data_warehouse_spark.operators.grouped import (
        grouped_ols2,
    )

    rows = []
    for i in range(40):
        x1, x2 = i % 7, (i * 3) % 11
        y = 2.5 * x1 - 1.25 * x2 + 10 + ((i * 5) % 13 - 6) * 0.01
        rows.append(("ok", x1, x2, y))
    for i in range(10):
        rows.append(("bad", i, 2 * i, float(i)))
    df = spark.createDataFrame(rows, "g string, x1 long, x2 long, v double")
    got = {
        r["g"]: r for r in grouped_ols2(df, ["g"], "x1", "x2", "v").collect()
    }
    assert got["bad"]["b1"] is None and got["bad"]["r2"] is None

    pts = [(r[1], r[2], r[3]) for r in rows if r[0] == "ok"]
    A = np.array([[1.0, p[0], p[1]] for p in pts])
    yv = np.array([round(p[2] * 100) for p in pts])  # the cents the op sees
    coef, *_ = np.linalg.lstsq(A, yv, rcond=None)
    assert abs(got["ok"]["b1"] - coef[1]) < 1e-3
    assert abs(got["ok"]["b2"] - coef[2]) < 1e-3
    pred = A @ coef
    sst = ((yv - yv.mean()) ** 2).sum()
    r2 = 1 - ((yv - pred) ** 2).sum() / sst
    assert abs(got["ok"]["r2"] - r2) < 1e-6


def test_ewma_smooth_hand_recursion_with_gap(spark):
    """r10: fc04 — s0 = x0*1e6, s_t = (x_t*1e6 + s_{t-1}) div 2 over
    the dense grid: 3 events @h0, gap @h1, 1 @h2 gives 3e6 / 1.5e6 /
    1.25e6."""
    from datetime import datetime

    from learn_etl_data_warehouse_spark.operators.timeseries import (
        ewma_smooth,
        hourly_counts,
    )

    rows = [
        (datetime(2024, 1, 1, 0, 0, s), "a") for s in (0, 1, 2)
    ] + [(datetime(2024, 1, 1, 2, 0, 0), "a")]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    got = {
        r["hr"] - 473352: (r["n"], r["ewma_micro"])
        for r in ewma_smooth(hourly_counts(df)).collect()
    }
    # 2024-01-01T00 is hour 473352 since epoch
    assert got[0] == (3, 3_000_000)
    assert got[1] == (0, 1_500_000)
    assert got[2] == (1, 1_250_000)


@pytest.mark.slow
def test_hyperball_matches_python_bfs_model(spark):
    """r10: g16 — on a small graph (path 1-2-3-4 + disjoint edge 5-6)
    the distributed register rounds equal a Python model that BFS-
    expands exact balls and applies the identical md5 register/rho/
    estimate arithmetic."""
    import hashlib

    from learn_etl_data_warehouse_spark.operators.graph import (
        hyperball_neighborhood,
    )

    und = [(1, 2), (2, 3), (3, 4), (5, 6)]
    edges = und + [(b, a) for a, b in und]
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    nodes = sorted(adj)

    def reg_rho(n):
        h = hashlib.md5(str(n).encode()).hexdigest()
        v = int(h[4:10], 16) % (1 << 21)
        return int(h[:4], 16) % 64, (22 if v == 0 else 22 - v.bit_length())

    def est(ball):
        regs = {}
        for n in ball:
            r, rho = reg_rho(n)
            regs[r] = max(regs.get(r, 0), rho)
        s = sum(1 << (40 - rho) for rho in regs.values())
        s += (64 - len(regs)) << 40
        return len(regs), (709 * 64 * 64 * (1 << 40)) // (1000 * s)

    balls = {n: {n} for n in nodes}
    want = []
    for t in range(3):
        if t:
            balls = {
                n: balls[n] | set().union(*(balls[u] for u in adj[n]))
                for n in nodes
            }
        occ_est = [est(b) for b in balls.values()]
        want.append(
            (t, len(nodes), sum(o for o, _ in occ_est),
             sum(e for _, e in occ_est))
        )

    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        (r["t"], r["n_nodes"], r["sum_occupied"], r["sum_est"])
        for r in hyperball_neighborhood(df, rounds=2).collect()
    )
    assert got == want


def test_weighted_median_hand_model(spark):
    """r10: a30 — weighted CDF selection: weights (1,2,1) over values
    (100,200,300) cents put the (W+1)//2 = 2nd unit at 200; a
    zero-weight row moves nothing."""
    from learn_etl_data_warehouse_spark.operators.sampling import (
        weighted_median,
    )

    rows = [("a", 1.00, 1), ("a", 2.00, 2), ("a", 3.00, 1),
            ("a", 0.50, 0)]
    df = spark.createDataFrame(rows, "g string, v double, w long")
    [r] = weighted_median(df, "v", "w", "g").collect()
    assert (r["grp"], r["total_weight"], r["weighted_median_cents"]) == (
        "a", 4, 200,
    )


def test_knn_label_agreement_hand_model(spark):
    """r10: knn03 — two collinear pairs with crossed labels: each
    vector's 1-NN is its collinear partner; the mislabeled pair scores
    0 ppm agreement, the clean pair 1e6."""
    from learn_etl_data_warehouse_spark.operators.similarity import (
        knn_label_agreement,
    )

    rows = [
        (1, [1.0, 0.0], 0), (2, [2.0, 0.0], 0),
        (3, [0.0, 1.0], 1), (4, [0.0, 2.0], 0),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {
        r["vec_id"]: (r["n_neighbors"], r["agree_n"], r["agree_ppm"])
        for r in knn_label_agreement(df, k=1).collect()
    }
    assert got[1] == (1, 1, 1_000_000)
    assert got[2] == (1, 1, 1_000_000)
    assert got[3] == (1, 0, 0)
    assert got[4] == (1, 0, 0)


def test_rising_streaks_hand_model(spark):
    """r10: w08 — counts 1,2,3,1,0,2 (with the 0 a genuine gap hour)
    give exactly one streak of 2 steps (h0→h2); the gap breaks the
    1→2 rise at the end (single step, under min_steps)."""
    from datetime import datetime

    from learn_etl_data_warehouse_spark.operators.timeseries import (
        hourly_counts,
        rising_streaks,
    )

    counts = {0: 1, 1: 2, 2: 3, 3: 1, 5: 2}  # hour 4 missing -> 0
    rows = [
        (datetime(2024, 1, 1, h, 0, s), "a")
        for h, n in counts.items()
        for s in range(n)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    got = [
        (r["start_hr"] - 473352, r["end_hr"] - 473352, r["steps"])
        for r in rising_streaks(hourly_counts(df)).collect()
    ]
    assert got == [(0, 2, 2)]


@pytest.mark.slow
def test_kmv_set_estimates_short_exact_and_accuracy(spark):
    """r10: sk02 — groups under k distinct keys make the sketch THE
    set (estimates exactly equal the truth, incl. intersection); at
    1000/1000 keys with 500 shared, k=256 estimates land within KMV
    error bounds."""
    from learn_etl_data_warehouse_spark.operators.sketches import (
        kmv_set_estimates,
    )

    small = spark.createDataFrame(
        [(i, "x") for i in range(40)] + [(i, "y") for i in range(30, 80)],
        "k long, g string",
    )
    [r] = kmv_set_estimates(small, "k", "g", "x", "y", k=256).collect()
    assert (r["est_a"], r["exact_a"]) == (40, 40)
    assert (r["est_b"], r["exact_b"]) == (50, 50)
    assert r["est_union"] == 80
    assert (r["est_intersection"], r["exact_intersection"]) == (10, 10)

    big = spark.createDataFrame(
        [(i, "x") for i in range(1000)]
        + [(i, "y") for i in range(500, 1500)],
        "k long, g string",
    )
    [r] = kmv_set_estimates(big, "k", "g", "x", "y", k=256).collect()
    assert r["exact_a"] == 1000 and r["exact_intersection"] == 500
    assert abs(r["est_a"] - 1000) <= 250
    assert abs(r["est_b"] - 1000) <= 250
    assert abs(r["est_union"] - 1500) <= 350
    assert abs(r["est_intersection"] - 500) <= 250


def test_process_variants_hand_trace(spark):
    """r10: pm03 — two actors share a variant, one diverges; a same-ts
    tie orders by event_id (the pm-family total order)."""
    from datetime import datetime

    from learn_etl_data_warehouse_spark.operators.process_mining import (
        process_variants,
    )

    def at(s):
        return datetime(2024, 1, 1, 0, 0, s)

    rows = [
        (10, at(0), 1, "view"), (11, at(5), 1, "cart"),
        (12, at(9), 1, "buy"),
        (20, at(0), 2, "view"), (21, at(5), 2, "cart"),
        (22, at(9), 2, "buy"),
        # actor 3: same-ts tie at s=5 -> id order decides cart>promo
        (30, at(0), 3, "view"), (31, at(5), 3, "cart"),
        (32, at(5), 3, "promo"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = [
        (r["variant"], r["n_steps"], r["n_actors"])
        for r in process_variants(df).collect()
    ]
    assert got == [
        ("view>cart>buy", 3, 2),
        ("view>cart>promo", 3, 1),
    ]


def test_decomposition_fit_kernel(spark):
    """r10: e32 — zero residuals score exactly 1e6; residuals larger
    than the deviations go NEGATIVE (worse than the flat mean); a
    zero-variance key yields NULL."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        decomposition_fit,
    )

    rows = (
        [("perfect", x, 0) for x in (1, 2, 3, 4)]
        + [("bad", x, 50_000_000) for x in (1, 2, 1, 2)]
        + [("flat", 5, 0), ("flat", 5, 0)]
    )
    df = spark.createDataFrame(
        rows, "event_type string, x long, residual_micro long"
    )
    got = {
        r["event_type"]: r["fit_ppm"]
        for r in decomposition_fit(df).collect()
    }
    assert got["perfect"] == 1_000_000
    assert got["bad"] < 0
    assert got["flat"] is None


def test_harmonic_centrality_hand_graph(spark):
    """r10: g17 — path 1-2-3-4-5 with seeds=top-degree: 2/3/4 have
    degree 2 (tie→id picks 2,3) plus 1 (degree 1... n_seeds=2 keeps it
    to 2,3); hand-checked 2-hop reach and harmonic sums."""
    from learn_etl_data_warehouse_spark.operators.graph import (
        harmonic_centrality_seeds,
    )

    und = [(1, 2), (2, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {
        r["seed"]: (r["n_at_1"], r["n_at_2"], r["harmonic_micro"])
        for r in harmonic_centrality_seeds(edges, n_seeds=2).collect()
    }
    # degrees: 1:1, 2:2, 3:2, 4:2, 5:1 -> seeds (deg DESC, id ASC) = 2, 3
    # seed 2: dist1 {1,3}, dist2 {4}; harmonic = 2*1e6 + 500000
    # seed 3: dist1 {2,4}, dist2 {1,5}; harmonic = 2*1e6 + 2*500000
    assert got == {
        2: (2, 1, 2_500_000),
        3: (2, 2, 3_000_000),
    }


def test_j08_band_join_conserves_orders(spark, sf_small):
    """r10: j08 — half-open bands partition the value domain, so every
    order lands in exactly ONE tier: Σ n_orders == |orders| and
    Σ sum_cents == Σ cents."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    from pyspark.sql import functions as F

    out = mod.queries()["j08_tier_band_join"](spark, sf_small).collect()
    orders = mod._t(spark, sf_small, "orders")
    n = orders.count()
    tot = orders.select(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
    ).collect()[0][0]
    assert sum(r["n_orders"] for r in out) == n
    assert sum(r["sum_cents"] for r in out) == tot


def test_minhash_estimate_audit_hand_model(spark):
    """r10: d36 — identical docs estimate 1e6 exactly (all components
    equal); an overlapping pair's estimate equals the Python
    replication of the same md5 minhash arithmetic, and its exact
    Jaccard matches the set computation."""
    import hashlib

    from learn_etl_data_warehouse_spark.operators.dedup import (
        minhash_estimate_audit,
    )

    d1 = "alpha beta gamma delta"
    d2 = "alpha beta gamma delta"
    d3 = "alpha beta epsilon zeta"
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): (
            r["est_jacc_ppm"], r["exact_jacc_ppm"], r["err_ppm"]
        )
        for r in minhash_estimate_audit(df).collect()
    }
    assert got[(1, 2)] == (1_000_000, 1_000_000, 0)

    def mh(tokens):
        return [
            min(
                int(hashlib.md5(f"{i}:{t}".encode()).hexdigest()[:12], 16)
                for t in tokens
            )
            for i in range(16)
        ]

    s1, s3 = {"alpha", "beta", "gamma", "delta"}, {
        "alpha", "beta", "epsilon", "zeta",
    }
    m1, m3 = mh(s1), mh(s3)
    if m1[0] == m3[0]:  # same band bucket -> the pair must appear
        want_est = (1_000_000 * sum(a == b for a, b in zip(m1, m3))) // 16
        want_exact = (1_000_000 * len(s1 & s3)) // len(s1 | s3)
        assert got[(1, 3)] == (
            want_est, want_exact, want_est - want_exact,
        )
    else:
        assert (1, 3) not in got


def test_bootstrap_ci_matches_replicates(spark):
    """r11: st07 — the CI row must be derivable from st01's replicate
    means by the same ceil nearest-rank arithmetic in Python."""
    from learn_etl_data_warehouse_spark.operators.sampling import (
        bootstrap_ci,
        bootstrap_replicate_means,
    )

    df = spark.createDataFrame(
        [(i, float(100 + (i * 37) % 500)) for i in range(200)],
        "id long, v double",
    )
    means = sorted(
        r["mean_cents"]
        for r in bootstrap_replicate_means(df, "v", "id").collect()
        if r["mean_cents"] is not None
    )
    n = len(means)

    def rank(ppm):
        return max(1, (ppm * n + 999_999) // 1_000_000)

    got = bootstrap_ci(df, "v", "id").collect()[0]
    assert got["n_reps"] == n
    assert got["ci_lo_cents"] == means[rank(125_000) - 1]
    assert got["ci_hi_cents"] == means[rank(875_000) - 1]
    assert got["median_cents"] == means[rank(500_000) - 1]
    assert got["var_scaled"] == n * sum(m * m for m in means) - sum(means) ** 2


def test_conformance_fitness_hand_model(spark):
    """r11: pm04 — trace replay against a tiny model: user 1 conforms
    fully, user 2 makes one violating move, a single-event user makes
    no moves and produces NO row."""
    from learn_etl_data_warehouse_spark.operators.process_mining import (
        conformance_fitness,
    )
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "signup"), (1, t0.replace(minute=1), 2, "view"),
        (1, t0.replace(minute=2), 3, "click"),
        (1, t0.replace(minute=3), 4, "purchase"),
        (2, t0, 5, "view"), (2, t0.replace(minute=1), 6, "purchase"),
        (2, t0.replace(minute=2), 7, "view"),
        (3, t0, 8, "view"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    model = [("signup", "view"), ("view", "click"),
             ("click", "purchase"), ("purchase", "view")]
    got = {
        r["actor"]: (r["n_moves"], r["n_allowed"], r["n_violations"],
                     r["fitness_ppm"])
        for r in conformance_fitness(ev, model).collect()
    }
    assert got == {
        1: (3, 3, 0, 1_000_000),
        2: (2, 1, 1, 500_000),  # view->purchase violates; purchase->view ok
    }


def test_core_density_hand_vectors(spark):
    """r11: knn04 — three near-identical vectors and one orthogonal:
    counts (2,2,2,0); core flag at min_pts=2."""
    from learn_etl_data_warehouse_spark.operators.similarity import (
        core_density,
    )

    rows = [
        (1, [1.0, 0.0]), (2, [1.0, 0.01]), (3, [0.99, 0.0]),
        (4, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: (r["n_neighbors"], r["is_core"])
        for r in core_density(emb, threshold=0.9, min_pts=2).collect()
    }
    assert got == {1: (2, 1), 2: (2, 1), 3: (2, 1), 4: (0, 0)}


def test_bloom_membership_audit_python_model(spark):
    """r11: sk03 — replicate the md5 bit arithmetic in Python on a
    small fixture; invariants: every member is in-bloom (no false
    negatives, by construction) and counts match the model exactly."""
    import hashlib

    from learn_etl_data_warehouse_spark.operators.sketches import (
        bloom_membership_audit,
    )

    m_bits, k = 64, 2
    a_keys = [str(i) for i in range(0, 30)]
    b_keys = [str(i) for i in range(20, 80)]
    rows = [(x, "a") for x in a_keys] + [(x, "b") for x in b_keys]
    df = spark.createDataFrame(rows, "k string, g string")

    def pos(j, key):
        h = hashlib.md5(f"bf{j}:{key}".encode()).hexdigest()
        return int(h[:8], 16) % m_bits

    bits = {pos(j, x) for x in a_keys for j in range(k)}
    in_bloom = [
        x for x in b_keys
        if all(pos(j, x) in bits for j in range(k))
    ]
    members = [x for x in b_keys if x in set(a_keys)]
    fps = [x for x in in_bloom if x not in set(a_keys)]

    got = bloom_membership_audit(
        df, "k", "g", "a", "b", m_bits=m_bits, k_hashes=k
    ).collect()[0]
    assert got["n_a"] == len(a_keys) and got["n_b"] == len(b_keys)
    assert got["bits_set"] == len(bits)
    assert got["n_in_bloom"] == len(in_bloom)
    assert got["n_members"] == len(members)
    assert got["n_false_pos"] == len(fps)
    assert got["n_in_bloom"] >= got["n_members"]  # no false negatives
    assert got["fp_ppm"] == (1_000_000 * len(fps)) // max(
        len(b_keys) - len(members), 1
    )


def test_holt_smooth_python_recursion(spark):
    """r11: fc05 — the coupled level/trend recursion vs a pure-Python
    model over a rise-then-fall series (negative trend exercises the
    signed truncating halving)."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        holt_smooth,
    )

    xs = [0, 4, 9, 15, 9, 3, 0, 0]
    hourly = spark.createDataFrame(
        [("k", h, x) for h, x in enumerate(xs)],
        "event_type string, hr long, x long",
    )

    def tdiv2(v):
        q = abs(v) // 2
        return q if v >= 0 else -q

    want = []
    l = b = None
    for h, x in enumerate(xs):
        if l is None:
            l, b = x * 1_000_000, 0
        else:
            lp = l
            l = tdiv2(x * 1_000_000 + lp + b)
            b = tdiv2(l - lp + b)
        want.append(("k", h, x, l, b, l + b))
    got = sorted(
        map(tuple, holt_smooth(hourly).collect()), key=lambda t: t[1]
    )
    assert got == want


def test_fifo_allocate_hand_model_and_conservation(spark):
    """r11: ops03 — the classic lot-matching example: supplies (5, 3)
    vs demands (4, 4) allocate as s1→d1:4, s1→d2:1, s2→d2:3; total
    allocated = min(ΣS, ΣD) per part."""
    from learn_etl_data_warehouse_spark.operators.joins import (
        fifo_allocate,
    )

    sup = spark.createDataFrame(
        [(1, 1, 101, 5), (1, 2, 102, 3), (2, 1, 103, 10)],
        "part_id long, ts long, row_id long, qty long",
    )
    dem = spark.createDataFrame(
        [(1, 1, 201, 4), (1, 2, 202, 4), (2, 1, 203, 2)],
        "part_id long, ts long, row_id long, qty long",
    )
    got = sorted(
        map(tuple, fifo_allocate(sup, dem).collect())
    )
    assert got == [
        (1, 101, 201, 4), (1, 101, 202, 1), (1, 102, 202, 3),
        (2, 103, 203, 2),
    ]
    # conservation: per part Σalloc = min(ΣS, ΣD)
    assert sum(q for p, *_, q in got if p == 1) == min(8, 8)
    assert sum(q for p, *_, q in got if p == 2) == min(10, 2)


def test_ngram_novelty_hand_model(spark):
    """r11: t33 — shared grams belong to the min id; Σ n_novel equals
    the corpus distinct-gram vocabulary; blank docs emit no row."""
    from learn_etl_data_warehouse_spark.operators.dedup import (
        ngram_novelty,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),       # grams: abc, bcd
            (2, "a b c e"),       # grams: abc (seen), bce (novel)
            (3, "x y"),           # short doc: whole-text gram "x y"
            (4, "   "),           # blank: no row
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty_ppm"])
        for r in ngram_novelty(docs).collect()
    }
    assert got == {
        1: (2, 2, 1_000_000),
        2: (2, 1, 500_000),
        3: (1, 1, 1_000_000),
    }
    assert sum(v[1] for v in got.values()) == 4  # vocabulary conservation


def test_lsh_band_scurve_captures_identical_pair(spark):
    """r11: d38 — an identical pair lands in decile 9 and is captured
    (identical signatures share every band); a disjoint doc forms no
    ground-truth pair."""
    from learn_etl_data_warehouse_spark.operators.dedup import (
        lsh_band_scurve,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "zeta eta theta iota kappa"),
        ],
        "doc_id long, text string",
    )
    rows = {r["decile"]: r for r in lsh_band_scurve(docs).collect()}
    assert set(rows) == {9}
    assert rows[9]["n_pairs"] == 1 and rows[9]["n_candidates"] == 1
    assert rows[9]["capture_ppm"] == 1_000_000


def test_relationship_profile_classifies_edges(spark):
    """r11: pf12 — multiplicity/overlap classification with orphans;
    NULL keys excluded."""
    from learn_etl_data_warehouse_spark.operators.profiling import (
        relationship_profile,
    )

    left = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "z"), (4, "w"), (None, "n")],
        "k long, v string",
    )
    right = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    got = relationship_profile(left, right, "k", "k", "l->r").collect()[0]
    assert got["edge"] == "l->r" and got["rel_type"] == "N:1"
    assert got["n_left_rows"] == 4 and got["n_right_rows"] == 3
    assert got["n_left_keys"] == 3 and got["n_right_keys"] == 3
    assert got["n_shared_keys"] == 2
    assert got["max_left_mult"] == 2 and got["max_right_mult"] == 1
    assert got["left_orphan_keys"] == 1 and got["right_orphan_keys"] == 1

    both_multi = relationship_profile(left, left, "k", "k", "self")
    assert both_multi.collect()[0]["rel_type"] == "M:N"


def test_local_extrema_hand_series(spark):
    """r11: w09 — strict peaks/valleys only: plateaus and grid
    endpoints never qualify."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        local_extrema,
    )

    xs = [1, 3, 2, 2, 5, 0, 0, 4]
    hourly = spark.createDataFrame(
        [("k", h, x) for h, x in enumerate(xs)],
        "event_type string, hr long, x long",
    )
    got = sorted(
        (r["hr"], r["x"], r["kind"])
        for r in local_extrema(hourly).collect()
    )
    # hr1=3 peak; hr2=2 vs (3,2) not strict; hr4=5 peak; hr5=0 vs (5,0)
    # not strict; plateau 0,0 none; hr7 endpoint excluded
    assert got == [(1, 3, "peak"), (4, 5, "peak")]
    # add a strict valley
    xs2 = [5, 1, 4]
    h2 = spark.createDataFrame(
        [("k", h, x) for h, x in enumerate(xs2)],
        "event_type string, hr long, x long",
    )
    assert [
        (r["hr"], r["kind"]) for r in local_extrema(h2).collect()
    ] == [(1, "valley")]


def test_decile_lift_python_model(spark):
    """r11: a31 — threshold-bucketed deciles vs a Python model on
    1..40 cents; shares sum to ~1e6 and lift is the d-mean over the
    overall mean."""
    from learn_etl_data_warehouse_spark.operators.product_analytics import (
        decile_lift,
    )

    vals = list(range(1, 41))
    units = spark.createDataFrame([(v,) for v in vals], "cents long")
    n, s = len(vals), sum(vals)
    thr = {
        q: sorted(vals)[(q * n + 99) // 100 - 1] for q in range(10, 100, 10)
    }
    model = {}
    for v in vals:
        d = 1 + sum(1 for q in thr if v > thr[q])
        nd, sd = model.get(d, (0, 0))
        model[d] = (nd + 1, sd + v)
    got = {
        r["decile"]: (r["n_units"], r["sum_cents"], r["share_ppm"],
                      r["lift_ppm"])
        for r in decile_lift(units).collect()
    }
    assert set(got) == set(model)
    for d, (nd, sd) in model.items():
        assert got[d] == (
            nd, sd, (1_000_000 * sd) // s,
            (sd * n * 1_000_000) // (nd * s),
        )


def test_stem_stats_hand_model(spark):
    """r11: t34 — longest-suffix-first with the min-stem guard:
    'running'→'runn' (ing), 'beds'→'bed' (s after ed fails the guard?
    no: 'beds' ends 'es'? no — ends 's', len 4 >= 4 → 'bed'); 'es' only
    strips when 3+2 chars remain; 'is' keeps (stem would be 1 char)."""
    from learn_etl_data_warehouse_spark.operators.text import (
        stem_column,
        stem_stats,
    )

    toks = spark.createDataFrame(
        [("running",), ("boxes",), ("beds",), ("is",), ("sadly",),
         ("supposedly",), ("cat",)],
        "t string",
    )
    got = {r["t"]: r["s"] for r in toks.select(
        "t", stem_column("t").alias("s")).collect()}
    assert got == {
        "running": "runn",      # ing
        "boxes": "box",         # es
        "beds": "bed",          # s (es needs >= 5 chars: 'beds' is 4)
        "is": "is",             # guard: stem would be 1 char
        "sadly": "sad",         # ly
        "supposedly": "suppos",  # edly (longest) wins over ly
        "cat": "cat",
    }
    docs = spark.createDataFrame(
        [(1, "running runs run"), (2, "   ")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in stem_stats(docs).collect()}
    assert set(rows) == {1}
    r = rows[1]
    # stems: runn, run, run -> 2 distinct vs 3 raw
    assert (r["n_tokens"], r["n_distinct_raw"], r["n_distinct_stem"]) == (
        3, 3, 2
    )
    assert r["reduction_ppm"] == (1_000_000 * 1) // 3


def test_fixed_point_sum_wide_accumulator(spark):
    """r11: the DECIMAL(38,0) wide accumulator equals the narrow BIGINT
    path wherever both are in range (randomized incl. half-boundary
    values, three scales), and survives the per-group volume where the
    narrow path ANSI-throws (~2x10^19 scaled units)."""
    import random

    from learn_etl_data_warehouse_spark.functions.aggregates import (
        fixed_point_sum,
    )

    random.seed(7)
    vals = [round(random.uniform(-1000, 1000), 4) for _ in range(2000)]
    vals += [1.005, 2.125, -3.335, 0.00005]
    df = spark.createDataFrame([(float(x),) for x in vals], "v double")
    for kw in ({}, {"scale": 100}, {"scale": 10000, "round_to": 4}):
        n = df.agg(fixed_point_sum(F.col("v"), **kw).alias("s")).collect()[
            0
        ]["s"]
        w = df.agg(
            fixed_point_sum(F.col("v"), wide=True, **kw).alias("s")
        ).collect()[0]["s"]
        assert n == w, kw

    big = spark.range(2_000_000).select(F.lit(1e9).alias("v"))
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
        big.agg(fixed_point_sum(F.col("v")).alias("s")).collect()
    assert (
        big.agg(fixed_point_sum(F.col("v"), wide=True).alias("s")).collect()[
            0
        ]["s"]
        == 2_000_000_000_000_000.0
    )

    # r12 (ADVICE follow-through): past 2^63 scaled-output units Spark's
    # decimal div-to-long WRAPS SILENTLY even under ANSI (probed: 8e35
    # div 100 -> 6646327062946643968) — both the old doubling form and
    # an unguarded remainder form returned garbage here. The guard must
    # turn that into an explicit error, never a silent wrong answer.
    huge = spark.range(8).select(F.lit(1e33).alias("v"))
    with pytest.raises(Exception, match="representable output range"):
        huge.agg(
            fixed_point_sum(F.col("v"), wide=True).alias("s")
        ).collect()

    # ...and a sum just UNDER the quotient bound still answers exactly
    # (9e16 rows-worth of value in 9 rows; q ~ 9e18 < 2^63).
    near = spark.range(9).select(F.lit(1e16).alias("v"))
    got = near.agg(
        fixed_point_sum(F.col("v"), wide=True).alias("s")
    ).collect()[0]["s"]
    assert got == 9e16


def test_ams_f2_python_model(spark):
    """r11: sk04 — replicate the md5 sign arithmetic in Python on a
    skewed fixture; estimate and error must match the model exactly
    (the estimator is deterministic, not sampled)."""
    import hashlib

    from learn_etl_data_warehouse_spark.operators.sketches import (
        ams_f2_estimate,
    )

    rows = [(k,) for k in range(20) for _ in range(k + 1)]
    df = spark.createDataFrame(rows, "key long")
    counts = {str(k): k + 1 for k in range(20)}

    def sign(j, key):
        h = hashlib.md5(f"ams{j}:{key}".encode()).hexdigest()
        return 1 - 2 * (int(h[:8], 16) % 2)

    zs = [
        sum(sign(j, k) * n for k, n in counts.items()) for j in range(16)
    ]
    f2 = sum(n * n for n in counts.values())
    est = sum(z * z for z in zs) // 16
    got = ams_f2_estimate(df, "key").collect()[0]
    assert got["n_rows"] == sum(counts.values())
    assert got["n_keys"] == 20
    assert got["f2_exact"] == f2
    assert got["f2_est"] == est
    assert got["err_ppm"] == (1_000_000 * est - 1_000_000 * f2) // f2


def test_capped_sessions_hand_traces(spark):
    """r11: w10 — continuous 10-min-spaced activity splits at the
    120-min cap even with no gap (the rule e03's gap-only windows
    cannot express); a >30-min gap still breaks; ties ordered by id."""
    import datetime as dt

    from learn_etl_data_warehouse_spark.operators.timeseries import (
        capped_sessions,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0 + dt.timedelta(minutes=10 * i), i) for i in range(31)
    ]  # user 1: 0..300 min, no gaps -> cap splits at >120
    rows += [(2, t0, 100), (2, t0 + dt.timedelta(minutes=45), 101)]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long"
    )
    got = {
        (r["user_id"], r["session_no"]): (
            r["n_events"],
            (r["end_us"] - r["start_us"]) // 60_000_000,
        )
        for r in capped_sessions(ev).collect()
    }
    # user 1: [0..120] 13 events, [130..250] 13, [260..300] 5
    assert got[(1, 1)] == (13, 120)
    assert got[(1, 2)] == (13, 120)
    assert got[(1, 3)] == (5, 40)
    # user 2: 45-min gap breaks into two singleton sessions
    assert got[(2, 1)] == (1, 0) and got[(2, 2)] == (1, 0)


def test_holt_winters_python_recursion(spark):
    """r11: fc06 — the coupled level/trend/seasonal recursion vs a
    pure-Python model over 55 hours (every slot of a period=4 seasonal
    updates >= 2x, so adaptation is exercised) including a declining
    stretch (signed truncating halvings)."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        holt_winters_smooth,
    )

    xs = [(3 + (h % 4) * 2 + (7 if 20 <= h < 30 else 0)) for h in range(55)]
    hourly = spark.createDataFrame(
        [("k", h, x) for h, x in enumerate(xs)],
        "event_type string, hr long, x long",
    )

    def tdiv2(v):
        q = abs(v) // 2
        return q if v >= 0 else -q

    want = []
    s = [0] * 4
    l = b = None
    for h, x in enumerate(xs):
        hod = h % 4
        if l is None:
            l, b, sup = x * 1_000_000, 0, 0
        else:
            lp = l
            l = tdiv2(x * 1_000_000 - s[hod] + lp + b)
            b = tdiv2(l - lp + b)
            sup = tdiv2(x * 1_000_000 - l + s[hod])
            s[hod] = sup
        want.append(("k", h, x, l, b, sup))
    got = sorted(
        map(tuple, holt_winters_smooth(hourly, period=4).collect()),
        key=lambda t: t[1],
    )
    assert got == want


def test_hw_residual_anomalies_python_model(spark):
    """r11: e33 — one injected spike on a steady seasonal series: the
    full Python twin (HW recursion + one-step forecasts + median
    absolute residual) must agree row-for-row, and the spike hour must
    flag while steady hours do not."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        hw_residual_anomalies,
    )

    xs = [3 + (h % 24) % 4 for h in range(72)]
    xs[50] += 40  # the spike
    hourly = spark.createDataFrame(
        [("k", h, x) for h, x in enumerate(xs)],
        "event_type string, hr long, x long",
    )

    def tdiv2(v):
        q = abs(v) // 2
        return q if v >= 0 else -q

    s = [0] * 24
    l = b = None
    hist = []
    for h, x in enumerate(xs):
        hod = h % 24
        s_old = s[hod]
        if l is None:
            l, b, sup = x * 1_000_000, 0, 0
        else:
            lp = l
            l = tdiv2(x * 1_000_000 - s_old + lp + b)
            b = tdiv2(l - lp + b)
            sup = tdiv2(x * 1_000_000 - l + s_old)
            s[hod] = sup
        hist.append((l, b, sup))
    fore, resid = {}, {}
    slot_last: dict = {}
    for h, x in enumerate(xs):
        if h > 0:
            pl, pb, _ = hist[h - 1]
            fore[h] = pl + pb + slot_last.get(h % 24, 0)
            resid[h] = x * 1_000_000 - fore[h]
        slot_last[h % 24] = hist[h][2]
    ars = sorted(abs(r) for r in resid.values())
    mar = ars[(len(ars) + 1) // 2 - 1]
    got = {r["hr"]: r for r in hw_residual_anomalies(hourly).collect()}
    assert len(got) == 72
    for h in range(72):
        r = got[h]
        if h == 0:
            assert r["forecast_micro"] is None and r["is_anomaly"] == 0
        else:
            assert r["forecast_micro"] == fore[h], h
            assert r["resid_micro"] == resid[h], h
            assert r["mar_micro"] == mar
            want_flag = 1 if (mar > 0 and abs(resid[h]) > 3 * mar) else 0
            assert r["is_anomaly"] == want_flag, h
    assert got[50]["is_anomaly"] == 1
    assert sum(r["is_anomaly"] for r in got.values()) <= 6  # spike + echoes


def test_rework_metrics_hand_trace(spark):
    """r11: pm05 — actor 1 reworks 'view' (non-consecutive repeat),
    actor 2 self-loops 'click' (consecutive); singles never count."""
    import datetime as dt

    from learn_etl_data_warehouse_spark.operators.process_mining import (
        rework_metrics,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "view"), (1, t0.replace(minute=1), 2, "click"),
        (1, t0.replace(minute=2), 3, "view"),
        (2, t0, 4, "click"), (2, t0.replace(minute=1), 5, "click"),
        (3, t0, 6, "view"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    got = {
        r["activity"]: (
            r["n_occurrences"], r["n_actors"], r["n_actors_rework"],
            r["rework_ppm"], r["n_self_loops"],
        )
        for r in rework_metrics(ev).collect()
    }
    assert got == {
        "view": (3, 2, 1, 500_000, 0),
        "click": (3, 2, 1, 500_000, 1),
    }


def test_mix_shift_conservation_and_hand_model(spark):
    """r11: a33 — per-segment volume + rate = delta EXACTLY; entry/exit
    segments decompose; hand arithmetic pinned."""
    from learn_etl_data_warehouse_spark.operators.product_analytics import (
        mix_shift_decomposition,
    )

    rows = (
        [("a", 0, 100)] * 4 + [("a", 1, 150)] * 6
        + [("b", 0, 200)] * 2            # exits
        + [("c", 1, 300)] * 3            # enters
    )
    units = spark.createDataFrame(rows, "dim string, period int, cents long")
    got = {r["dim"]: r for r in mix_shift_decomposition(units).collect()}
    for r in got.values():
        assert r["volume_effect"] + r["rate_effect"] == r["delta"]
    a = got["a"]  # rate_prior = 400//4 = 100; vol = (6-4)*100 = 200
    assert (a["delta"], a["volume_effect"], a["rate_effect"]) == (
        500, 200, 300
    )
    b = got["b"]  # exit: vol = (0-2)*200 = -400, rate remainder 0
    assert (b["delta"], b["volume_effect"], b["rate_effect"]) == (
        -400, -400, 0
    )
    c = got["c"]  # entry: rate_prior 0 -> all delta books as rate
    assert (c["delta"], c["volume_effect"], c["rate_effect"]) == (
        900, 0, 900
    )
    # the bridge sums to the total delta
    assert sum(r["delta"] for r in got.values()) == (
        sum(r["volume_effect"] + r["rate_effect"] for r in got.values())
    )


def test_centroid_margin_quality_hand_vectors(spark):
    """r11: ml08 — two tight clusters + one planted misfit (a label-0
    vector sitting on cluster 1): the misfit flags with a negative
    margin; clean points carry positive margins."""
    from learn_etl_data_warehouse_spark.operators.similarity import (
        centroid_margin_quality,
    )

    rows = [
        (1, [1.0, 0.0], 0), (2, [0.99, 0.01], 0),
        (3, [0.0, 1.0], 1), (4, [0.01, 0.99], 1),
        (5, [0.0, 1.0], 0),  # mislabeled: sits on cluster 1
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {r["label"]: r for r in centroid_margin_quality(emb).collect()}
    assert got[1]["n"] == 2 and got[1]["n_misfit"] == 0
    assert got[1]["sum_margin_micro"] > 0
    assert got[0]["n"] == 3 and got[0]["n_misfit"] == 1
    assert got[0]["misfit_ppm"] == 333_333


def test_ivf_recall_audit_curve(spark, sf_small):
    """r12: the oracle-exact IVF recall audit — captured is monotone
    non-decreasing in nprobe, bounded by expected, and probing ALL
    cells captures everything (the subset argument: an exact-top-k
    member in a probed cell always survives the candidate top-k)."""
    emb = load_table(spark, sf_small, "embeddings")
    rows = {
        r["nprobe"]: r
        for r in similarity.ivf_recall_audit(emb, n_cells=8).collect()
    }
    assert sorted(rows) == [1, 2, 4, 8]
    caps = [rows[n]["captured"] for n in (1, 2, 4, 8)]
    assert caps == sorted(caps), f"capture not monotone: {caps}"
    for r in rows.values():
        assert 0 <= r["captured"] <= r["expected"]
        assert r["recall_ppm"] == (1_000_000 * r["captured"]) // r["expected"]
    assert rows[8]["captured"] == rows[8]["expected"], (
        "nprobe = n_cells probes every cell; recall must be exact"
    )


@pytest.mark.slow
def test_pq_adc_recall_audit_grid(spark, sf_small):
    """r12: the PQ/ADC recall audit returns one row per prefix-nested
    codebook size with consistent integer accounting, and its exact-L2
    ground truth matches a brute-force Python computation for one
    query."""
    emb = load_table(spark, sf_small, "embeddings")
    out = {
        r["n_codes"]: r
        for r in similarity.pq_adc_recall_audit(emb).collect()
    }
    assert sorted(out) == [4, 8, 16]
    for r in out.values():
        assert 0 <= r["captured"] <= r["expected"]
        assert r["recall_ppm"] == (1_000_000 * r["captured"]) // r["expected"]

    # brute-force the exact-L2 top-10 for query 0 in Python and confirm
    # the audit's ground-truth kernel (floor-micro L2) agrees with it:
    # re-derive via the Spark kernel on a 1-query slice.
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.collect()
    }
    q = vecs[0]
    import math
    def l2m(a, b):
        s = 0.0
        for x, y in zip(a, b):
            d = float(x) - float(y)
            s = s + d * d
        return math.floor(s * 1_000_000.0)
    truth = sorted(
        ((l2m(q, v), vid) for vid, v in vecs.items() if vid != 0)
    )[:10]
    from learn_etl_data_warehouse_spark.operators.similarity import (
        _l2sq_micros_col,
    )
    got = (
        emb.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            _l2sq_micros_col(
                F.col("embedding"),
                F.array(*[F.lit(float(x)) for x in q]),
                list(range(1, len(q) + 1)),
            ).alias("l2"),
        )
        .orderBy(F.asc("l2"), F.asc("vec_id"))
        .limit(10)
        .collect()
    )
    assert [(r["l2"], r["vec_id"]) for r in got] == truth


def test_hyperplane_recall_audit_curve(spark, sf_small):
    """r13: the hyperplane-LSH recall audit (s17) — captured is
    monotone non-decreasing in radius, bounded by expected, and radius
    = n_bits captures everything (every bucket is within Hamming
    n_bits); the bucket-bit kernel replicates a Python md5-sign model
    for one vector (the d36 replicate-the-arithmetic discipline)."""
    emb = load_table(spark, sf_small, "embeddings")
    rows = {
        r["radius"]: r
        for r in similarity.hyperplane_recall_audit(
            emb, n_bits=6, radii=(0, 1, 2, 6)
        ).collect()
    }
    assert sorted(rows) == [0, 1, 2, 6]
    caps = [rows[n]["captured"] for n in (0, 1, 2, 6)]
    assert caps == sorted(caps), f"capture not monotone: {caps}"
    for r in rows.values():
        assert 0 <= r["captured"] <= r["expected"]
        assert r["recall_ppm"] == (1_000_000 * r["captured"]) // r["expected"]
    assert rows[6]["captured"] == rows[6]["expected"], (
        "radius = n_bits is every bucket; recall must be exact"
    )

    # Python model of the md5-±1-sign bucket for vector 0: sign(pos, j)
    # = +1 iff ascii of md5(f"{pos}_{j}")'s first hex char is even; bit
    # j = (sum sign * floor(v * 1e6)) >= 0.
    import hashlib
    import math

    v0 = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    want_bits = []
    for j in range(6):
        s = 0
        for pos, val in enumerate(v0):
            first = hashlib.md5(f"{pos}_{j}".encode()).hexdigest()[0]
            sign = 1 if ord(first) % 2 == 0 else -1
            s += sign * math.floor(float(val) * 1_000_000.0)
        want_bits.append(1 if s >= 0 else 0)
    got_bits = [
        (1 if r["proj_q"] >= 0 else 0)
        for r in similarity.random_projection(
            emb.filter(F.col("vec_id") == 0), k=6
        )
        .orderBy("j")
        .collect()
    ]
    assert got_bits == want_bits


def test_ivm05_cohort_forces_climb(spark, sf_small):
    """r13: ivm05's scripted delete cohort (all base rows of custkey %
    7 == 0) must actually force an outsider to CLIMB into the top-3 —
    the maintained view contains a (priority, cust) member absent from
    the pre-txn view (the driver-visible transition the r12 verdict
    asked for)."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as em
    from learn_etl_data_warehouse_spark.operators.rollups import (
        topk_from_sums,
        topk_sums_state,
    )

    o = load_table(spark, sf_small, "orders").withColumn(
        "cents", F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    )
    base = o.filter(F.col("o_orderkey") % 10 < 7)
    pre = {
        (r["o_orderpriority"], r["o_custkey"])
        for r in topk_from_sums(
            topk_sums_state(base, "o_orderpriority", "o_custkey", "cents"),
            "o_orderpriority",
            "o_custkey",
            k=3,
        ).collect()
    }
    post = {
        (r["o_orderpriority"], r["o_custkey"])
        for r in em.queries()["ivm05_topk_climb"](spark, sf_small).collect()
    }
    climbers = post - pre
    assert climbers, "delete cohort did not force any climb into top-3"
    # and at least one climber is NOT a custkey%7 re-insert — a true
    # outsider promoted by a member's disappearance
    assert any(c[1] % 7 != 0 for c in climbers), climbers


@pytest.mark.slow
def test_rerank_recall_audit_curve(spark, sf_small):
    """r13: s18 — capture is monotone non-decreasing in the re-rank
    budget, bounded by expected, with exact ppm accounting; a huge
    re-rank budget captures exactly the probed-cell gt members (the
    ADC stage stops costing anything — only the cell probe limits)."""
    emb = load_table(spark, sf_small, "embeddings")
    rows = {
        r["rerank_m"]: r
        for r in similarity.rerank_recall_audit(
            emb, rerank_grid=(10, 25, 50, 100, 1_000_000)
        ).collect()
    }
    assert sorted(rows) == [10, 25, 50, 100, 1_000_000]
    caps = [rows[n]["captured"] for n in (10, 25, 50, 100, 1_000_000)]
    assert caps == sorted(caps), f"capture not monotone: {caps}"
    for r in rows.values():
        assert 0 <= r["captured"] <= r["expected"]
        assert r["recall_ppm"] == (1_000_000 * r["captured"]) // r["expected"]
    # at an unbounded pool the ADC ordering is irrelevant: capture ==
    # the number of exact-L2 top-k members whose cell is probed, which
    # strictly dominates every finite budget
    assert caps[-1] >= caps[-2]


def test_mann_kendall_python_model(spark):
    """r12: st08 — S and the tie-corrected variance numerator replicate
    a brute-force Python model on a hand series with ties."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        mann_kendall,
    )

    xs = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5]
    rows = [("k", h, x) for h, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "event_type string, hr long, x long")
    got = mann_kendall(df).collect()[0]
    s = sum(
        (0 if xs[j] == xs[i] else (1 if xs[j] > xs[i] else -1))
        for i in range(len(xs))
        for j in range(i + 1, len(xs))
    )
    n = len(xs)
    from collections import Counter

    ties = Counter(xs)
    var18 = n * (n - 1) * (2 * n + 5) - sum(
        t * (t - 1) * (2 * t + 5) for t in ties.values()
    )
    assert (got["n_hours"], got["s_stat"], got["var18_numer"]) == (
        n,
        s,
        var18,
    )


@pytest.mark.slow
def test_lttb_downsample_python_model(spark):
    """r13: e38 — the selection replicates a Python LTTB with the same
    integer doubled-area argmax and earliest-hour tie-break; first and
    last points are pinned and output hours are strictly increasing."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        lttb_downsample,
    )

    xs = [1, 5, 2, 9, 1, 1, 7, 3, 8, 2, 6, 1, 4, 9, 2, 5, 1, 3, 7, 2]
    rows = [("k", 100 + h, x) for h, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "event_type string, hr long, x long")
    k = 6
    got = sorted(
        (r["bucket"], r["hr"], r["x"])
        for r in lttb_downsample(df, k=k).collect()
    )

    pts = [(100 + h, x) for h, x in enumerate(xs)]
    n, mid = len(pts), k - 2
    buckets = {0: [pts[0]], k - 1: [pts[-1]]}
    for i in range(1, n - 1):
        b = 1 + ((i - 1) * mid) // (n - 2)
        buckets.setdefault(b, []).append(pts[i])
    want = [(0, pts[0][0], pts[0][1])]
    prev = pts[0]
    for b in range(1, mid + 1):
        nxt = buckets[b + 1] if b + 1 <= mid else buckets[k - 1]
        cnt = len(nxt)
        st = sum(t for t, _ in nxt)
        sx = sum(v for _, v in nxt)
        best = max(
            buckets[b],
            key=lambda p: (
                abs(
                    (prev[0] * cnt - st) * (p[1] - prev[1])
                    - (prev[0] - p[0]) * (sx - prev[1] * cnt)
                ),
                -p[0],
            ),
        )
        want.append((b, best[0], best[1]))
        prev = best
    want.append((k - 1, pts[-1][0], pts[-1][1]))
    assert got == sorted(want)
    hrs = [h for _, h, _ in sorted(got)]
    assert hrs == sorted(hrs) and len(set(hrs)) == k


def test_burst_viterbi_python_model(spark):
    """r13: e36 — total cost and burst-hour count replicate a Python
    DP with the same stay-on-tie rule on a series with a sustained
    mildly-hot episode; a flat series stays entirely in the base
    state."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        burst_viterbi,
    )

    xs = [1, 1, 2, 1, 5, 6, 5, 5, 1, 0, 1, 1]
    rows = [("k", h, x) for h, x in enumerate(xs)]
    rows += [("flat", h, 3) for h in range(8)]
    df = spark.createDataFrame(rows, "event_type string, hr long, x long")
    got = {r["event_type"]: r for r in burst_viterbi(df).collect()}

    def model(series):
        n = len(series)
        r0 = sum(series) // n
        r1, lam = 2 * r0 + 1, r0 + 1
        c0, b0, c1, b1 = 0, 0, lam, 0
        for x in series:
            nc0 = min(c0, c1 + lam) + abs(x - r0)
            nb0 = b0 if c0 <= c1 + lam else b1
            nc1 = min(c1, c0 + lam) + abs(x - r1)
            nb1 = (b1 if c1 <= c0 + lam else b0) + 1
            c0, b0, c1, b1 = nc0, nb0, nc1, nb1
        return (c0, b0) if c0 <= c1 else (c1, b1)

    want_cost, want_burst = model(xs)
    assert (got["k"]["total_cost"], got["k"]["burst_hours"]) == (
        want_cost,
        want_burst,
    )
    # the 4-hour hot episode should be claimed by the burst state
    assert got["k"]["burst_hours"] == 4
    assert got["flat"]["burst_hours"] == 0
    assert got["flat"]["total_cost"] == 0  # flat at the base rate


def test_davies_bouldin_hand_clusters(spark):
    """r13: km02 — exact values on hand clusters (orthogonal axes give
    exact round-6 cosines): tight clusters score scatter 0, the
    straddling cluster scores the known dissimilarity, r_max flags the
    overlap; identical centroids yield NULL r_max."""
    from learn_etl_data_warehouse_spark.operators.similarity import (
        davies_bouldin_cosine,
    )

    rows = [
        (0, [1.0, 0.0], 0), (1, [1.0, 0.0], 0),
        (2, [0.0, 1.0], 1), (3, [0.0, 1.0], 1),
        (4, [1.0, 0.0], 2), (5, [0.0, 1.0], 2),  # straddles both axes
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {r["label"]: r for r in davies_bouldin_cosine(df).collect()}
    # cluster 2's centroid is [.5, .5]; cos([1,0],[.5,.5]) rounds to
    # 0.707107 -> dissimilarity 292893
    assert got[0]["scatter_micro"] == 0 and got[1]["scatter_micro"] == 0
    assert got[2]["scatter_micro"] == 292893
    # worst neighbor for every cluster is the straddler (or for the
    # straddler, either axis): (0 + 292893)*1e6 div 292893 = 1e6
    assert got[0]["r_max_ppm"] == 1_000_000
    assert got[2]["r_max_ppm"] == 1_000_000

    dup = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [1.0, 0.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    got2 = {r["label"]: r for r in davies_bouldin_cosine(dup).collect()}
    assert got2[0]["r_max_ppm"] is None and got2[1]["r_max_ppm"] is None


def test_start_end_profile_hand_traces(spark):
    """r13: pm06 — two hand traces; starts/ends per activity and the
    trace-count ppm shares, with the (ts, id) tie broken by id."""
    from datetime import datetime

    from learn_etl_data_warehouse_spark.operators.process_mining import (
        start_end_profile,
    )

    t0 = datetime(2024, 1, 1)
    rows = [
        # u1: A -> B -> C      (tie at the end broken by id: C is last)
        (1, t0, "u1", "A"),
        (2, datetime(2024, 1, 1, 1), "u1", "B"),
        (3, datetime(2024, 1, 1, 2), "u1", "C"),
        # u2: B -> A           (B opens, A closes)
        (4, t0, "u2", "B"),
        (5, datetime(2024, 1, 1, 1), "u2", "A"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id string, event_type string"
    )
    got = {r["activity"]: r for r in start_end_profile(df).collect()}
    assert got["A"]["n_starts"] == 1 and got["A"]["n_ends"] == 1
    assert got["B"]["n_starts"] == 1 and got["B"]["n_ends"] == 0
    assert got["C"]["n_starts"] == 0 and got["C"]["n_ends"] == 1
    assert got["A"]["n_events"] == 2 and got["A"]["n_traces"] == 2
    assert got["A"]["start_ppm"] == 500_000  # 1 of 2 traces
    assert got["C"]["end_ppm"] == 500_000


def test_charclass_profile_detects_artifacts(spark):
    """r13: t38 — the artifact detectors fire on hand-corrupted rows
    (mojibake signature, C0 control bleed, U+FFFD) and the class
    masses partition total_chars exactly."""
    from learn_etl_data_warehouse_spark.operators.text import (
        charclass_profile,
    )

    rows = [
        ("clean", "Hello world 42!"),
        ("moji", "cafÃ© visitors"),          # 'Ã©' signature
        ("ctrl", "binary\x07bleed"),
        ("repl", "lost � bytes"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {r["grp"]: r for r in charclass_profile(df).collect()}
    assert got["moji"]["n_mojibake_docs"] == 1
    assert got["ctrl"]["n_control_docs"] == 1
    assert got["repl"]["n_replacement_docs"] == 1
    assert got["clean"]["n_mojibake_docs"] == 0
    assert got["clean"]["n_control_docs"] == 0
    assert got["clean"]["n_replacement_docs"] == 0
    c = got["clean"]
    assert c["total_chars"] == len("Hello world 42!")
    assert (
        c["n_letters"] + c["n_digits"] + c["n_whitespace"]
        + c["n_other_ascii"] + c["n_nonascii"]
    ) == c["total_chars"]
    assert c["n_letters"] == 10 and c["n_digits"] == 2
    assert got["moji"]["n_nonascii"] == 2  # the two mojibake bytes


def test_packing_audit_python_model(spark):
    """r13: t43 — bins/waste/crossings replicate a Python model that
    re-derives the md5 shard + order keys and walks the stream."""
    import hashlib
    import math

    from learn_etl_data_warehouse_spark.operators.text import (
        packing_audit,
    )

    rows = [(i, " ".join(["tok"] * (3 + i % 7))) for i in range(40)]
    rows.append((99, "   "))  # blank doc: 0 tokens, never a crossing
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["shard"]: r
        for r in packing_audit(df, capacity=10, n_shards=4).collect()
    }

    def bucket(doc_id):
        h = hashlib.md5(f"shard:{doc_id}".encode()).hexdigest()[:8]
        return int(h, 16) % 4

    shards = {}
    for doc_id, txt in rows:
        tok = len(txt.split()) if txt.strip() else 0
        ok = hashlib.md5(f"ord:{doc_id}".encode()).hexdigest()
        shards.setdefault(bucket(doc_id), []).append((ok, doc_id, tok))
    for sh, docs in shards.items():
        docs.sort()
        before = 0
        crossings = 0
        for _, _, tok in docs:
            if tok > 0 and before // 10 != (before + tok - 1) // 10:
                crossings += 1
            before += tok
        total = before
        r = got[sh]
        assert r["n_docs"] == len(docs)
        assert r["total_tokens"] == total
        assert r["n_bins"] == math.ceil(total / 10)
        assert r["waste_tokens"] == math.ceil(total / 10) * 10 - total
        assert r["n_crossings"] == crossings
        assert r["crossing_ppm"] == (1_000_000 * crossings) // len(docs)


def test_kendall_tau_python_model(spark):
    """r13: st10 — pair classes replicate a brute-force Python model on
    a hand series with ties in one metric, the other, and both."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        kendall_tau,
    )

    xs = [3, 1, 4, 1, 5, 9, 2, 6]
    ys = [2, 7, 1, 7, 3, 3, 8, 2]
    rows = [("k", h, x, y) for h, (x, y) in enumerate(zip(xs, ys))]
    df = spark.createDataFrame(
        rows, "event_type string, hr long, x long, y long"
    )
    got = kendall_tau(df).collect()[0]
    C = D = tx = ty = txy = 0
    n = len(xs)
    for i in range(n):
        for j in range(i + 1, n):
            dx = (xs[j] > xs[i]) - (xs[j] < xs[i])
            dy = (ys[j] > ys[i]) - (ys[j] < ys[i])
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
        got["n_hours"],
        got["n_pairs"],
        got["concordant"],
        got["discordant"],
        got["s_stat"],
        got["ties_x"],
        got["ties_y"],
        got["ties_xy"],
    ) == (n, n * (n - 1) // 2, C, D, C - D, tx, ty, txy)


def test_spearman_rho_python_model(spark):
    """r13: st11 — doubled-average-rank moments and the single double
    evaluation replicate a brute-force Python model (incl. ties); a
    constant metric yields NULL rho."""
    import math

    from learn_etl_data_warehouse_spark.operators.timeseries import (
        spearman_rho,
    )

    xs = [3, 1, 4, 1, 5, 9, 2, 6]
    ys = [2, 7, 1, 7, 3, 3, 8, 2]
    rows = [("k", h, x, y) for h, (x, y) in enumerate(zip(xs, ys))]
    rows += [("flat", h, 5, y) for h, y in enumerate(ys)]
    df = spark.createDataFrame(
        rows, "event_type string, hr long, x long, y long"
    )
    out = {r["event_type"]: r for r in spearman_rho(df).collect()}

    def d2rank(vals):
        return [
            2 * (1 + sum(w < v for w in vals)) + vals.count(v) - 1
            for v in vals
        ]

    rx, ry = d2rank(xs), d2rank(ys)
    n = len(xs)
    sx, sy = sum(rx), sum(ry)
    sxx = sum(v * v for v in rx)
    syy = sum(v * v for v in ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    num = n * sxy - sx * sy
    den_x = n * sxx - sx * sx
    den_y = n * syy - sy * sy
    got = out["k"]
    assert (got["num"], got["den_x"], got["den_y"]) == (num, den_x, den_y)
    assert got["rho"] == float(num) / math.sqrt(
        float(den_x) * float(den_y)
    )
    assert out["flat"]["den_x"] == 0 and out["flat"]["rho"] is None


def test_weekly_profile_hand_series(spark):
    """r13: w11 — dow convention pins (1970-01-01 = Thursday = 3),
    gap hours zero-fill the mean, and the planted weekly spike wins
    the peak flag."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        weekly_profile,
    )

    # two weeks of hourly data; hr 0 = 1970-01-01 00:00 (Thursday)
    rows = []
    for h in range(24 * 14):
        dow = ((h // 24) + 3) % 7
        hod = h % 24
        x = 50 if (dow == 0 and hod == 9) else 1  # Monday-9am spike
        if h // 24 == 3 and hod == 3:
            continue  # gap hour: the FIRST Sunday 3am is unobserved
        rows.append(("k", h, x))
    df = spark.createDataFrame(rows, "event_type string, hr long, x long")
    got = {
        (r["dow"], r["hod"]): r for r in weekly_profile(df).collect()
    }
    assert len(got) == 168  # the full weekly grid
    assert got[(0, 9)]["is_peak"] == 1
    assert got[(0, 9)]["mean_micro"] == 50_000_000  # two spike hours / 2
    # the gap hour zero-fills: two grid hours, one observed -> mean 0.5
    assert got[(6, 3)]["n_hours"] == 2
    assert got[(6, 3)]["mean_micro"] == 500_000
    assert sum(r["is_peak"] for r in got.values()) == 1
    # hr 0 lands on Thursday = dow 3, hod 0
    assert got[(3, 0)]["n_hours"] == 2


def test_candidate_keys_hand_frame(spark):
    """r13: pf15 — a unique column flags as key, a duplicated one and
    a NULL-bearing unique one do not; the composite rescues a
    non-unique pair of columns."""
    from learn_etl_data_warehouse_spark.operators.profiling import (
        candidate_keys,
    )

    df = spark.createDataFrame(
        [(1, 10, "a", 1), (2, 10, "b", 2), (3, 20, None, 1)],
        "id long, grp long, tag string, seq long",
    )
    comp = F.concat_ws(
        "|", F.col("grp").cast("string"), F.col("seq").cast("string")
    )
    out = {
        r["col"]: r
        for r in candidate_keys(
            [
                ("t", "id", df, F.col("id")),
                ("t", "grp", df, F.col("grp")),
                ("t", "tag", df, F.col("tag")),
                ("t", "grp|seq", df, comp),
            ]
        ).collect()
    }
    assert out["id"]["is_candidate_key"] == 1
    assert out["grp"]["is_candidate_key"] == 0  # duplicated
    assert out["tag"]["is_candidate_key"] == 0  # NULL-bearing
    assert out["tag"]["n_nulls"] == 1 and out["tag"]["n_distinct"] == 2
    assert out["grp|seq"]["is_candidate_key"] == 1  # composite rescues


@pytest.mark.slow
def test_forecast_coherence_single_key_is_exact(spark, sf_small):
    """r13: fc09 — with ONE key the total series IS the key's series,
    so every future hour must cohere exactly (gap 0); on the real
    multi-key fixture the independent per-key models do NOT add up
    (nonzero gaps — the audit's whole point), and the signed identity
    gap == sum − total holds row by row."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        forecast_coherence,
        hourly_counts,
    )

    one = spark.createDataFrame(
        [("k", h, 1 + (h * h) % 5) for h in range(48)],
        "event_type string, hr long, x long",
    )
    rows = forecast_coherence(one).collect()
    assert len(rows) == 24
    assert all(r["gap_micro"] == 0 and r["n_keys"] == 1 for r in rows)

    ev = load_table(spark, sf_small, "events")
    rows2 = forecast_coherence(hourly_counts(ev)).collect()
    n_types = ev.select("event_type").distinct().count()
    # per-key anchors may trail the global one (a key whose history
    # ends earlier forecasts other hours) — the documented honest
    # alignment: counts stay within [0, n_types], never above
    assert all(0 <= r["n_keys"] <= n_types for r in rows2)
    assert max(r["n_keys"] for r in rows2) >= 1
    assert any(r["gap_micro"] != 0 for r in rows2)
    for r in rows2:
        assert r["gap_micro"] == r["sum_keys_micro"] - r["total_micro"]


def test_backlog_aging_hand_orders(spark):
    """r13: ops05 — hand orders at known ages land in the right bands,
    closed (F) orders are excluded, value is exact cents."""
    from datetime import datetime

    from learn_etl_data_warehouse_spark.operators.product_analytics import (
        backlog_aging,
    )

    rows = [
        # anchor = 2024-12-31 (the max order date, itself open)
        (1, "1-URGENT", "O", datetime(2024, 12, 31), 10.00),
        (2, "1-URGENT", "O", datetime(2024, 12, 11), 20.00),  # age 20
        (3, "1-URGENT", "P", datetime(2024, 10, 2), 30.00),   # age 90
        (4, "1-URGENT", "O", datetime(2024, 1, 1), 40.00),    # age 365
        (5, "1-URGENT", "O", datetime(2023, 12, 31), 50.00),  # age 366
        (6, "1-URGENT", "F", datetime(2024, 12, 30), 60.00),  # closed
    ]
    df = spark.createDataFrame(
        [(a, b, c, d, e) for a, b, c, d, e in rows],
        "o_orderkey long, o_orderpriority string, o_orderstatus string,"
        " o_orderdate timestamp, o_totalprice double",
    )
    got = {
        r["age_bucket"]: (r["n_orders"], r["value_cents"])
        for r in backlog_aging(df).collect()
    }
    assert got["0-30"] == (2, 3000)       # ages 0, 20
    assert got["31-90"] == (1, 3000)      # age 90
    assert got["91-365"] == (1, 4000)     # age 365
    assert got["366+"] == (1, 5000)       # age 366
    assert sum(n for n, _ in got.values()) == 5  # F excluded


def test_lagged_crosscorr_python_model(spark):
    """r13: st12 — moments and r replicate a Python model at every
    lag, including the planted lead (y = x shifted by 2 gives r = 1.0
    exactly at lag +2); constant overlap regions yield NULL."""
    import math

    from learn_etl_data_warehouse_spark.operators.timeseries import (
        lagged_crosscorr,
    )

    xs = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3]
    # y leads: y[t] = x[t-2] -> (x_t, y_{t+2}) matches perfectly
    rows = [("k", h, x, xs[h - 2] if h >= 2 else 7) for h, x in enumerate(xs)]
    df = spark.createDataFrame(
        rows, "event_type string, hr long, x long, y long"
    )
    got = {
        (r["event_type"], r["lag"]): r
        for r in lagged_crosscorr(df, max_lag=3).collect()
    }
    for lag in range(-3, 4):
        pairs = [
            (xs[t], rows[t + lag][3])
            for t in range(len(xs))
            if 0 <= t + lag < len(xs)
        ]
        n = len(pairs)
        sx = sum(a for a, _ in pairs)
        sy = sum(b for _, b in pairs)
        sxx = sum(a * a for a, _ in pairs)
        syy = sum(b * b for _, b in pairs)
        sxy = sum(a * b for a, b in pairs)
        num = n * sxy - sx * sy
        den_x = n * sxx - sx * sx
        den_y = n * syy - sy * sy
        g = got[("k", lag)]
        assert (g["n_pairs"], g["num"], g["den_x"], g["den_y"]) == (
            n, num, den_x, den_y,
        )
        if den_x > 0 and den_y > 0:
            assert g["r"] == float(num) / math.sqrt(
                float(den_x) * float(den_y)
            )
        else:
            assert g["r"] is None
    assert got[("k", 2)]["r"] == 1.0  # the planted lead


def test_littles_law_conservation(spark):
    """r12: ops04 — backlog area integrated from the sweep equals the
    per-interval mass exactly, including overlapping, disjoint, and
    single-day intervals."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        littles_law_check,
    )

    iv = [(0, 4), (2, 2), (10, 12), (11, 11), (20, 20)]
    df = spark.createDataFrame(iv, "start_day long, end_day long")
    r = littles_law_check(df).collect()[0]
    want_mass = sum(e - s + 1 for s, e in iv)
    assert r["sum_time_in_system_days"] == want_mass
    assert r["backlog_area_days"] == want_mass  # the conservation claim
    assert r["n_intervals"] == len(iv)
    assert r["horizon_days"] == 21
    assert r["avg_time_in_system_micro"] == (1_000_000 * want_mass) // len(iv)


def test_maintained_topk_matches_rebuild(spark):
    """r12: ivm04 — the entity-grain sum state maintained through an
    insert+delete CDF equals a rebuild on the live rows, INCLUDING an
    outsider climbing into the top-k on insert and a member dropping
    out on delete (the silently-unexercised-path lesson from ivm02)."""
    from learn_etl_data_warehouse_spark.operators.rollups import (
        maintain_topk_sums,
        topk_from_sums,
        topk_sums_state,
    )

    base_rows = [
        ("g1", "a", 100), ("g1", "b", 80), ("g1", "c", 60),
        ("g1", "d", 50), ("g1", "a", 10),
        ("g2", "x", 5),
    ]
    ins_rows = [
        ("g1", "d", 70),   # outsider climbs into top-3
        ("g2", "y", 9),
        ("g3", "z", 1),    # brand-new group
    ]
    del_rows = [
        ("g1", "b", 80),   # member's only mass -> drops out entirely
        ("g2", "x", 5),
    ]
    base = spark.createDataFrame(base_rows, "g string, e string, v long")
    cdf = spark.createDataFrame(
        [r + ("insert",) for r in ins_rows]
        + [r + ("delete",) for r in del_rows],
        "g string, e string, v long, _change_type string",
    )
    state = topk_sums_state(base, "g", "e", "v")
    state = maintain_topk_sums(state, cdf, "g", "e", "v")
    live = base_rows + ins_rows
    for r in del_rows:
        live.remove(r)
    rebuilt = topk_sums_state(
        spark.createDataFrame(live, "g string, e string, v long"),
        "g", "e", "v",
    )
    assert sorted(map(tuple, state.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )
    top = {
        (r["g"], r["rnk"]): (r["e"], r["val"])
        for r in topk_from_sums(state, "g", "e", k=3).collect()
    }
    # g1 live sums: a=110, d=120, c=60 (b fully deleted)
    assert top[("g1", 1)] == ("d", 120)
    assert top[("g1", 2)] == ("a", 110)
    assert top[("g1", 3)] == ("c", 60)
    assert top[("g2", 1)] == ("y", 9)
    assert top[("g3", 1)] == ("z", 1)


def test_zipf_bucket_stats_python_model(spark):
    """r12: t35 — bucket type/mass counts replicate a brute-force
    ranked model, including a frequency run straddling the 9/10 rank
    boundary."""
    from collections import Counter

    from learn_etl_data_warehouse_spark.operators.text import (
        zipf_bucket_stats,
    )

    # 12 distinct words: 3 with freq 5, 9 with freq 2 (the freq-2 run
    # spans ranks 4..12 — straddles the bucket-1/bucket-2 boundary)
    words = []
    for i in range(3):
        words += [f"hot{i}"] * 5
    for i in range(9):
        words += [f"mid{i}"] * 2
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    got = {
        r["rank_bucket"]: (r["n_types"], r["sum_freq"])
        for r in zipf_bucket_stats(docs).collect()
    }
    freqs = sorted(Counter(words).values(), reverse=True)
    model = {}
    for rank, f in enumerate(freqs, start=1):
        b = len(str(rank))
        t, m = model.get(b, (0, 0))
        model[b] = (t + 1, m + f)
    assert got == model
    assert got[1] == (9, 27)   # ranks 1-9: 3 fives + 6 twos
    assert got[2] == (3, 6)    # ranks 10-12


def test_inter_purchase_gap_stats_hand(spark):
    """r12: ca04 — known gaps give the a20 ceil-rank median/p90;
    same-day orders gap 0; first orders contribute nothing."""
    from learn_etl_data_warehouse_spark.operators.product_analytics import (
        inter_purchase_gap_stats,
    )

    rows = []
    # customer 1 (seg A): days 0, 10, 20, 21 -> gaps 10, 10, 1
    for i, d in enumerate([0, 10, 20, 21]):
        rows.append(("A", 1, d, i))
    # customer 2 (seg A): days 5, 5 -> gap 0 (same day)
    rows += [("A", 2, 5, 100), ("A", 2, 5, 101)]
    # customer 3 (seg B): single order -> no gap, segment absent
    rows += [("B", 3, 7, 200)]
    df = spark.createDataFrame(
        rows, "segment string, cust long, day long, oid long"
    )
    got = {
        r["segment"]: (r["n_gaps"], r["median_gap_days"], r["p90_gap_days"])
        for r in inter_purchase_gap_stats(df).collect()
    }
    # seg A gaps sorted: [0, 1, 10, 10]; rank_med = ceil(4*50/100) = 2
    # -> 1; rank_p90 = ceil(4*90/100) = 4 -> 10
    assert got == {"A": (4, 1, 10)}


def test_format_rules_audit_null_fails(spark):
    """r12: pf13 — a NULL condition fails the rule (dbt convention),
    and counts are exact per rule."""
    from learn_etl_data_warehouse_spark.operators.profiling import (
        format_rules_audit,
    )

    df = spark.createDataFrame(
        [("1-URGENT",), ("bogus",), (None,)], "p string"
    )
    out = {
        r["rule"]: (r["n"], r["n_fail"], r["fail_ppm"])
        for r in format_rules_audit(
            [("prio", df, F.col("p").rlike("^[1-5]-[A-Z ]+$"))]
        ).collect()
    }
    assert out == {"prio": (3, 2, 666666)}


def test_sequential_rules_hand_model(spark):
    """r12: fp05 — rule counts, confidence, and lift on a hand event
    log where independence fails in both directions."""
    from learn_etl_data_warehouse_spark.operators.basket import (
        sequential_rules,
    )

    rows = [
        # actor 1: A@1 -> B@2 ; actor 2: A@1 -> B@3 ; actor 3: B@1 only
        (1, 1, "A"), (1, 2, "B"),
        (2, 1, "A"), (2, 3, "B"),
        (3, 1, "B"),
    ]
    df = spark.createDataFrame(rows, "ak long, tt long, it string")
    out = {
        (r["item_a"], r["item_b"]): r
        for r in sequential_rules(df, "ak", "tt", "it", 2).collect()
    }
    r = out[("A", "B")]
    # n_a = 2 A-holders, n_b = 3 B-holders, N = 3 actors, n_seq = 2
    assert (r["n_seq"], r["n_a"], r["n_b"]) == (2, 2, 3)
    assert r["conf_ppm"] == 1_000_000
    assert r["lift_pico"] == (10**12 * 2 * 3) // (2 * 3)
    assert ("B", "A") not in out  # B-then-A happens for no actor


def test_clustering_coefficient_hand_graph(spark):
    """r12: g18 — a triangle with a pendant: the triangle corners have
    cc 1 (deg 2) or 1/3 (the deg-3 corner), the pendant is omitted
    (deg 1), and a deg>=2 node in no triangle reports 0."""
    from learn_etl_data_warehouse_spark.operators.graph import (
        clustering_coefficient,
    )

    und = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (4, 6)]
    sym = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(sym, "src long, dst long")
    got = {
        r["node"]: (r["deg"], r["n_triangles"], r["cc_ppm"])
        for r in clustering_coefficient(edges).collect()
    }
    assert got[1] == (2, 1, 1_000_000)
    assert got[2] == (2, 1, 1_000_000)
    assert got[3] == (3, 1, 333_333)
    assert got[4] == (3, 0, 0)
    assert 5 not in got and 6 not in got  # pendants: deg < 2


def test_rich_club_hand_graph(spark):
    """r12: g19 — a 4-clique wired to pendants: above the pendant
    degree only the clique survives and its density is exactly 1."""
    from learn_etl_data_warehouse_spark.operators.graph import (
        rich_club_coefficient,
    )

    clique = [(a, b) for a in range(4) for b in range(4) if a != b]
    pend = []
    for i in range(4):  # two pendants per clique node -> deg 5 vs 1
        pend += [(i, 10 + 2 * i), (i, 11 + 2 * i)]
    sym = clique + pend + [(b, a) for a, b in pend]
    edges = spark.createDataFrame(sym, "src long, dst long")
    got = {
        r["k"]: (r["n_nodes"], r["n_edges"], r["phi_ppm"])
        for r in rich_club_coefficient(edges, k_grid=(1, 4)).collect()
    }
    # k=1: clique nodes (deg 5) only; 12 ordered clique edges over
    # 4*3 ordered slots -> density 1
    assert got[1] == (4, 12, 1_000_000)
    # k=4: deg > 4 still the 4 clique nodes (deg 5) -> same club
    assert got[4] == (4, 12, 1_000_000)


def test_runs_test_python_model(spark):
    """r12: st09 — runs, above/below counts vs a brute-force model on
    a hand series with median ties (dropped)."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        runs_test,
    )

    xs = [5, 1, 6, 6, 2, 7, 3, 3, 8, 1, 9]
    df = spark.createDataFrame(
        [("k", h, x) for h, x in enumerate(xs)],
        "event_type string, hr long, x long",
    )
    got = runs_test(df).collect()[0]
    med = sorted(xs)[(len(xs) + 1) // 2 - 1]  # nearest-rank lower
    signs = [x > med for x in xs if x != med]
    runs = 1 + sum(signs[i] != signs[i - 1] for i in range(1, len(signs)))
    assert got["n_above"] == sum(signs)
    assert got["n_below"] == len(signs) - sum(signs)
    assert got["n_runs"] == runs


def test_token_burstiness_hand(spark):
    """r12: t37 — Fano ppm against exact integer arithmetic on hand
    lengths; a constant-length group reads 0; empty text counts 0."""
    from learn_etl_data_warehouse_spark.operators.text import (
        token_burstiness,
    )

    rows = [
        (1, "a b c", "s1"), (2, "a", "s1"), (3, "a b c d e", "s1"),
        (4, "x y", "s2"), (5, "p q", "s2"),
        (6, "", "s3"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["grp"]: (r["n_docs"], r["sum_tokens"], r["fano_ppm"])
        for r in token_burstiness(docs).collect()
    }
    xs = [3, 1, 5]
    n, sx, sx2 = len(xs), sum(xs), sum(x * x for x in xs)
    fano = (1_000_000 * (n * sx2 - sx * sx)) // (n * sx)
    assert got["s1"] == (3, 9, fano)
    assert got["s2"] == (2, 4, 0)
    assert got["s3"] == (1, 0, None)


def test_ohlc_bars_hand_series(spark):
    """r13 cont.: e37 — open/close follow the tie-free (ts, event_id)
    total order (an equal-ts pair breaks by event_id), high/low/volume
    are plain aggregates, and the epoch-day boundary splits bars."""
    from datetime import datetime

    from learn_etl_data_warehouse_spark.operators.timeseries import (
        ohlc_bars,
    )

    rows = [
        (1, datetime(2024, 1, 1, 9, 0, 0), "k", 1.00),
        (3, datetime(2024, 1, 1, 9, 0, 0), "k", 7.00),  # equal ts, id 3
        (2, datetime(2024, 1, 1, 12, 0, 0), "k", 0.50),
        (9, datetime(2024, 1, 2, 1, 0, 0), "k", 2.25),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    got = {r["day"]: r for r in ohlc_bars(df).collect()}
    d0 = (datetime(2024, 1, 1) - datetime(1970, 1, 1)).days
    b = got[d0]
    assert b["open_cents"] == 100  # id 1 wins the equal-ts tie
    assert b["close_cents"] == 50  # the 12:00 tick is last
    assert b["high_cents"] == 700 and b["low_cents"] == 50
    assert b["n_events"] == 3 and b["volume_cents"] == 850
    nxt = got[d0 + 1]
    assert nxt["open_cents"] == nxt["close_cents"] == 225
    assert nxt["n_events"] == 1


def test_id_gap_audit_hand_frame(spark):
    """r13 cont.: pf16 — a dense sequence audits clean, a holed one
    reports its missing count and truncating density, NULL ids count
    but stay out of the span."""
    from learn_etl_data_warehouse_spark.operators.profiling import (
        id_gap_audit,
    )

    dense = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    holed = spark.createDataFrame(
        [(10,), (11,), (14,), (14,), (None,)], "id long"
    )
    out = {
        r["col"]: r
        for r in id_gap_audit(
            [
                ("a", "dense_id", dense, F.col("id")),
                ("b", "holed_id", holed, F.col("id")),
            ]
        ).collect()
    }
    d = out["dense_id"]
    assert d["span"] == 3 and d["n_missing"] == 0
    assert d["density_ppm"] == 1_000_000
    h = out["holed_id"]
    assert h["n_rows"] == 5 and h["n_nulls"] == 1
    assert h["min_id"] == 10 and h["max_id"] == 14
    assert h["span"] == 5 and h["n_distinct"] == 3
    assert h["n_missing"] == 2  # ids 12, 13
    assert h["density_ppm"] == 600_000


def test_hhi_concentration_hand_frame(spark):
    """r13 cont.: a34 — a monopoly group pins HHI = 1e6, an equal
    split pins 1e6/n, and the exact rational beats squared-rounded
    shares (the 1/3 split truncates to 333333, not 3*(333333)^2)."""
    from learn_etl_data_warehouse_spark.operators.product_analytics import (
        hhi_concentration,
    )

    df = spark.createDataFrame(
        [
            ("mono", 1, 500),
            ("even", 1, 100), ("even", 2, 100), ("even", 3, 100),
            ("skew", 1, 900), ("skew", 2, 100),
        ],
        "grp string, entity long, cents long",
    )
    out = {r["grp"]: r for r in hhi_concentration(df).collect()}
    assert out["mono"]["hhi_ppm"] == 1_000_000
    assert out["mono"]["top_share_ppm"] == 1_000_000
    assert out["even"]["hhi_ppm"] == 333_333  # exact rational, truncating
    assert out["even"]["top_share_ppm"] == 333_333
    # skew: (900^2 + 100^2) / 1000^2 = 0.82
    assert out["skew"]["hhi_ppm"] == 820_000
    assert out["skew"]["top_share_ppm"] == 900_000
    assert out["skew"]["n_entities"] == 2


def test_handover_network_hand_trace(spark):
    """r13 cont.: pm07 — consecutive steps hand over, self-handovers
    flag, lags are day-exact, and an equal-(date, seq) tie orders by
    resource (the fixture's composite PK is not unique)."""
    from datetime import datetime

    from learn_etl_data_warehouse_spark.operators.process_mining import (
        handover_network,
    )

    d = lambda s: datetime.strptime(s, "%Y-%m-%d")
    rows = [
        # case 1: 7 -> 7 (self, 0d) -> 9 (2d)
        (1, 7, d("2024-01-01"), 1),
        (1, 7, d("2024-01-01"), 2),
        (1, 9, d("2024-01-03"), 3),
        # case 2: equal (date, seq) tie -> resource 3 before 5
        (2, 5, d("2024-02-01"), 1),
        (2, 3, d("2024-02-01"), 1),
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_suppkey long, l_shipdate timestamp,"
        " l_linenumber long",
    )
    out = {
        (r["from_resource"], r["to_resource"]): r
        for r in handover_network(df).collect()
    }
    assert out[(7, 7)]["is_self"] == 1
    assert out[(7, 7)]["n_handovers"] == 1
    assert out[(7, 7)]["mean_lag_days"] == 0
    assert out[(7, 9)]["mean_lag_days"] == 2
    assert (3, 5) in out and (5, 3) not in out  # tie orders by resource
    assert out[(3, 5)]["n_cases"] == 1


def test_cohens_kappa_hand_frame(spark):
    """r13 cont.: st13 — the textbook 2x2 pins kappa = 0.4, inverted
    raters pin the SIGNED -1.0, and two constant-1 raters are
    chance-perfect (den = 0 -> NULL, absent never wrong)."""
    from learn_etl_data_warehouse_spark.operators.evaluation import (
        cohens_kappa,
    )

    rows = (
        [("txt", 1, 1)] * 20 + [("txt", 1, 0)] * 5
        + [("txt", 0, 1)] * 10 + [("txt", 0, 0)] * 15
        + [("inv", 1, 0)] * 5 + [("inv", 0, 1)] * 5
        + [("const", 1, 1)] * 4
    )
    df = spark.createDataFrame(rows, "grp string, rater_a long, rater_b long")
    out = {r["grp"]: r for r in cohens_kappa(df).collect()}
    t = out["txt"]
    assert (t["n11"], t["n10"], t["n01"], t["n00"]) == (20, 5, 10, 15)
    assert t["po_ppm"] == 700_000 and t["pe_ppm"] == 500_000
    assert t["kappa_ppm"] == 400_000
    assert out["inv"]["kappa_ppm"] == -1_000_000  # worse than chance
    assert out["const"]["kappa_ppm"] is None  # chance-perfect
    assert out["const"]["po_ppm"] == 1_000_000


@pytest.mark.slow
def test_md5_cm_sketch_and_audit(spark):
    """r13 cont.: sk05 — the CM no-underestimate invariant holds under
    forced collisions (width 4), the estimate is exact when width >>
    keys, and the md5 sketch merges additively (summed halves == build
    on the union)."""
    from learn_etl_data_warehouse_spark.operators.sketches import (
        md5_cm_estimate_audit,
        md5_cm_sketch,
    )

    rows = [(k,) for k in range(10) for _ in range(k + 1)]
    df = spark.createDataFrame(rows, "k long")
    crowded = {
        r["key"]: r
        for r in md5_cm_estimate_audit(df, "k", width=4, depth=2,
                                       top=10).collect()
    }
    assert len(crowded) == 10
    assert all(r["overest"] >= 0 for r in crowded.values())  # CM invariant
    assert any(r["overest"] > 0 for r in crowded.values())  # 10 keys / 4
    assert crowded[9]["exact_n"] == 10
    roomy = md5_cm_estimate_audit(df, "k", width=256, depth=3,
                                  top=10).collect()
    assert all(r["overest"] == 0 for r in roomy)
    # additive merge: two halves fold to the full-build sketch
    a = md5_cm_sketch(df.filter(F.col("k") < 5), "k", width=4, depth=2)
    b = md5_cm_sketch(df.filter(F.col("k") >= 5), "k", width=4, depth=2)
    merged = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in a.unionByName(b).groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt")).collect()
    }
    full = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in md5_cm_sketch(df, "k", width=4, depth=2).collect()
    }
    assert merged == full
    import pytest as _pt

    with _pt.raises(ValueError):
        md5_cm_sketch(df, "k", width=100)  # 100 does not divide 65536


def test_simplified_silhouette_hand_clusters(spark):
    """r13 cont.: km03 — orthogonal-axis clusters pin the exact ppm
    values: a misassigned point scores -1e6 and counts in n_negative;
    identical centroids (a = b = 0) yield NULL, counted in n but not
    n_scored."""
    from learn_etl_data_warehouse_spark.operators.similarity import (
        simplified_silhouette_cosine,
    )

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.0, 1.0], 0),  # misassigned: sits ON cluster 1's centroid
        (3, [0.0, 1.0], 1),
        (4, [0.0, 1.0], 1),
        (5, [1.0, 1.0], 2),
        (6, [1.0, 1.0], 3),  # clusters 2/3: identical centroids
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {
        r["label"]: r for r in simplified_silhouette_cosine(df).collect()
    }
    c0 = out[0]
    assert c0["n"] == 2 and c0["n_negative"] == 1
    # s values: [1,0] -> 0 (clusters 2/3's [1,1] centroid ties the own
    # centroid at diss 292893, so b = a); [0,1] -> -1000000
    assert c0["min_s_ppm"] == -1_000_000
    assert c0["mean_s_ppm"] == -500_000
    c1 = out[1]
    assert c1["n_negative"] == 0 and c1["mean_s_ppm"] == 1_000_000
    for lbl in (2, 3):
        d = out[lbl]
        assert d["n"] == 1 and d["n_scored"] == 0
        assert d["mean_s_ppm"] is None and d["min_s_ppm"] is None
        assert d["n_negative"] == 0


def test_bernoulli_nb_hand_model(spark):
    """r13 cont.: ml09 — cells match a pure-Python integer NB model
    (Laplace ppm //, product posterior, tie -> class 0), and the
    >7-feature overflow guard raises."""
    import itertools

    import pytest as _pt

    from learn_etl_data_warehouse_spark.operators.classifier import (
        bernoulli_nb_confusion,
    )

    rows = []
    for i in range(40):
        y = 1 if i % 2 else 0
        f1 = y if i % 7 else 1 - y  # mostly aligned with y
        f2 = (i // 2) % 2  # uninformative
        rows.append((y, f1, f2))
    df = spark.createDataFrame(rows, "y long, f1 long, f2 long")
    got = {
        (r["y_true"], r["y_pred"]): (r["n_docs"], r["share_ppm"])
        for r in bernoulli_nb_confusion(
            df, feature_cols=("f1", "f2")
        ).collect()
    }

    n = {c: sum(1 for y, *_ in rows if y == c) for c in (0, 1)}
    s = {
        (i, c): sum(f[i] for y, *f in rows if y == c)
        for i, c in itertools.product((0, 1), (0, 1))
    }

    def score(c, f):
        v = ((n[c] + 1) * 1_000_000) // (n[0] + n[1] + 2)
        for i, fv in enumerate(f):
            if fv == 1:
                v *= ((s[(i, c)] + 1) * 1_000_000) // (n[c] + 2)
            else:
                v *= ((n[c] - s[(i, c)] + 1) * 1_000_000) // (n[c] + 2)
        return v

    cells = {}
    for y, *f in rows:
        pred = 1 if score(1, f) > score(0, f) else 0
        cells[(y, pred)] = cells.get((y, pred), 0) + 1
    want = {
        (yt, yp): (nd, (1_000_000 * nd) // n[yt])
        for (yt, yp), nd in cells.items()
    }
    assert got == want
    assert any(yt != yp for yt, yp in got) and any(
        yt == yp for yt, yp in got
    )  # neither perfect nor constant
    with _pt.raises(ValueError):
        bernoulli_nb_confusion(df, feature_cols=("f1",) * 8)


def test_forecast_interval_coverage_hand_series(spark):
    """r13 cont.: fc10 — a perfectly flat series pins coverage 1e6
    with a zero-width band; a series whose final window half-breaks
    pins truncating 50% coverage against the same tight band."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        forecast_interval_coverage,
    )

    rows = []
    for h in range(72):
        rows.append(("k", h, 10))
        if h >= 48 and h % 2 == 0:
            rows.append(("m", h, 12))
        else:
            rows.append(("m", h, 10))
    df = spark.createDataFrame(rows, "event_type string, hr long, x long")
    out = {
        r["event_type"]: r
        for r in forecast_interval_coverage(df).collect()
    }
    k = out["k"]
    assert k["n_hours"] == 24 and k["n_inside"] == 24
    assert k["coverage_ppm"] == 1_000_000
    assert k["band_width_micro"] == 0
    m = out["m"]
    assert m["band_width_micro"] == 0  # mid window was clean
    assert m["n_inside"] == 12 and m["coverage_ppm"] == 500_000


def test_lexical_richness_hand_corpus(spark):
    """r13 cont.: t39 — hapax counts within the GROUP (a token once in
    each of two groups is hapax in both), case-folded tokens merge,
    and TTR/hapax ppm truncate."""
    from learn_etl_data_warehouse_spark.operators.text import (
        lexical_richness,
    )

    df = spark.createDataFrame(
        [
            ("a", "the The cat"),     # 'the' x2 (case-folded), 'cat' x1
            ("a", "cat dog"),          # 'cat' -> x2, 'dog' hapax
            ("b", "the"),              # 'the' hapax IN b
            ("c", "   "),              # blank doc: zero tokens
        ],
        "source string, text string",
    )
    out = {r["source"]: r for r in lexical_richness(df).collect()}
    a = out["a"]
    assert a["n_tokens"] == 5 and a["vocab"] == 3
    assert a["hapax"] == 1  # only 'dog'
    assert a["ttr_ppm"] == 600_000
    assert a["hapax_share_ppm"] == 333_333
    b = out["b"]
    assert b["vocab"] == 1 and b["hapax"] == 1
    assert "c" not in out  # zero-token group produces no (grp, tok) rows


def test_string_length_profile_hand_frame(spark):
    """r13 cont.: pf17 — NULL vs BLANK split (present-but-empty is not
    null), character lengths, truncating mean over NON-NULL values,
    all-NULL column yields NULL length fields."""
    from learn_etl_data_warehouse_spark.operators.profiling import (
        string_length_profile,
    )

    df = spark.createDataFrame(
        [("abc",), ("  ",), (None,), ("de",)], "s string"
    )
    allnull = spark.createDataFrame([(None,), (None,)], "s string")
    out = {
        r["col"]: r
        for r in string_length_profile(
            [
                ("t", "s", df, F.col("s")),
                ("t", "n", allnull, F.col("s")),
            ]
        ).collect()
    }
    s = out["s"]
    assert s["n_rows"] == 4 and s["n_null"] == 1 and s["n_blank"] == 1
    assert s["min_len"] == 2 and s["max_len"] == 3
    assert s["sum_len"] == 7  # 3 + 2 + 2 (blank keeps its spaces)
    assert s["mean_len_micro"] == (1_000_000 * 7) // 3
    n = out["n"]
    assert n["n_null"] == 2 and n["min_len"] is None
    assert n["mean_len_micro"] is None


def test_dfg_reciprocity_hand_trace(spark):
    """r13 cont.: g20 — a one-way pair, a mutual ping-pong pair, and
    excluded self-loops, from a single actor's hand trace."""
    from datetime import datetime, timedelta

    from learn_etl_data_warehouse_spark.operators.process_mining import (
        dfg_reciprocity,
    )

    t0 = datetime(2024, 1, 1)
    seq = ["a", "b", "a", "b", "c", "c", "d"]
    rows = [
        (i, t0 + timedelta(hours=i), 1, act) for i, act in enumerate(seq)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {(r["lo"], r["hi"]): r for r in dfg_reciprocity(df).collect()}
    ab = out[("a", "b")]
    assert ab["n_fwd"] == 2 and ab["n_rev"] == 1  # a>b>a>b ping-pong
    assert ab["is_mutual"] == 1 and ab["pingpong_n"] == 1
    bc = out[("b", "c")]
    assert bc["n_fwd"] == 1 and bc["n_rev"] == 0
    assert bc["is_mutual"] == 0 and bc["pingpong_n"] == 0
    assert ("c", "c") not in out  # self-loop excluded
    assert ("c", "d") in out


def test_new_returning_revenue_hand_frame(spark):
    """r13 cont.: ca05 — a customer is NEW only in their min month
    (two orders in the first month both count new), shares truncate,
    and the split conserves total revenue."""
    from datetime import datetime

    from learn_etl_data_warehouse_spark.operators.product_analytics import (
        new_returning_revenue,
    )

    d = lambda s: datetime.strptime(s, "%Y-%m-%d")
    rows = [
        (1, d("2024-01-05"), 10.0),
        (1, d("2024-01-20"), 20.0),  # same first month: still new
        (1, d("2024-02-10"), 40.0),  # returning
        (2, d("2024-02-01"), 5.0),   # new in Feb
    ]
    df = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate timestamp, o_totalprice double"
    )
    out = {r["month_key"]: r for r in new_returning_revenue(df).collect()}
    jan = out[202401]
    assert jan["n_orders"] == jan["n_new_orders"] == 2
    assert jan["new_revenue_cents"] == 3000
    assert jan["returning_revenue_cents"] == 0
    assert jan["new_share_ppm"] == 1_000_000
    feb = out[202402]
    assert feb["n_new_orders"] == 1
    assert feb["new_revenue_cents"] == 500
    assert feb["returning_revenue_cents"] == 4000
    assert feb["revenue_cents"] == 4500
    assert feb["new_share_ppm"] == (1_000_000 * 500) // 4500


def test_anomaly_overlap_hand_series(spark):
    """r13 cont.: e39 — two keys spiking the same hour co-flag with
    same-status credit; a third key spiking alone joins no pair; the
    Jaccard denominator is the union of flagged sets."""
    from datetime import datetime, timedelta

    from learn_etl_data_warehouse_spark.operators.timeseries import (
        anomaly_overlap,
    )

    t0 = datetime(2024, 1, 1)
    rows, eid = [], 0
    for h in range(48):
        for k in ("a", "b", "c"):
            n = 1
            if h == 10 and k in ("a", "b"):
                n = 50  # shared surge: a and b co-flag hot
            if h == 20 and k == "a":
                n = 50  # a flags alone
            if h == 30 and k == "c":
                n = 50  # c flags alone
            for _ in range(n):
                rows.append((eid, t0 + timedelta(hours=h), 1, k, 1.0))
                eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    out = {
        (r["key_a"], r["key_b"]): r for r in anomaly_overlap(df).collect()
    }
    ab = out[("a", "b")]
    assert ab["n_both"] == 1 and ab["n_same_status"] == 1
    assert ab["n_a"] == 2 and ab["n_b"] == 1
    assert ab["jaccard_ppm"] == 500_000  # 1 / (2 + 1 - 1)
    assert ("a", "c") not in out and ("b", "c") not in out


def test_sign_test_am_pm_hand_series(spark):
    """r13 cont.: st14 — planted PM-heavy, AM-heavy, tied and
    half-empty days pin the sign counts and the signed statistic."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        sign_test_am_pm,
    )

    rows = [
        # day 0: PM wins (am 1, pm 3)
        ("k", 2, 1), ("k", 14, 3),
        # day 1: AM wins
        ("k", 26, 5), ("k", 38, 1),
        # day 2: tie
        ("k", 50, 2), ("k", 62, 2),
        # day 3: only an AM hour observed -> pm = 0, AM wins
        ("k", 75, 4),
        # day 4: PM wins again
        ("k", 110, 9),
    ]
    df = spark.createDataFrame(rows, "event_type string, hr long, x long")
    out = sign_test_am_pm(df).collect()[0]
    assert out["n_pairs"] == 5
    assert out["n_pos"] == 2 and out["n_neg"] == 2 and out["n_tie"] == 1
    assert out["s_stat"] == 0


def test_boilerplate_prefixes_hand_corpus(spark):
    """r13 cont.: t41 — shared 8-token openings group (case-folded),
    short docs group on their full list, singletons and blanks drop,
    and n_sources distinguishes boilerplate from a source template."""
    from learn_etl_data_warehouse_spark.operators.text import (
        boilerplate_prefixes,
    )

    opener = "dear valued customer thank you for your order"
    df = spark.createDataFrame(
        [
            ("s1", opener + " of widgets"),
            ("s2", opener.upper() + " OF GADGETS"),  # case-folds in
            ("s1", "short doc"),
            ("s3", "short doc"),
            ("s1", "a singleton document body here entirely unique"),
            ("s1", "   "),
        ],
        "source string, text string",
    )
    out = {r["prefix"]: r for r in boilerplate_prefixes(df).collect()}
    assert set(out) == {opener, "short doc"}
    op = out[opener]
    assert op["n_docs"] == 2 and op["n_sources"] == 2  # cross-source
    sh = out["short doc"]
    assert sh["n_docs"] == 2 and sh["n_sources"] == 2
    # 5 non-blank docs total -> share 2/5
    assert op["share_ppm"] == 400_000


def test_fulfillment_span_hand_frame(spark):
    """r13 cont.: ops06 — a one-shot order pins span 0, a split order
    pins the day spread, and the mixed priority aggregates truncate."""
    from datetime import datetime

    from learn_etl_data_warehouse_spark.operators.product_analytics import (
        fulfillment_span,
    )

    d = lambda s: datetime.strptime(s, "%Y-%m-%d")
    li = spark.createDataFrame(
        [
            (1, d("2024-01-10")), (1, d("2024-01-10")),  # one-shot
            (2, d("2024-01-01")), (2, d("2024-01-08")),  # 7-day split
            (3, d("2024-02-01")),                         # single line
        ],
        "l_orderkey long, l_shipdate timestamp",
    )
    o = spark.createDataFrame(
        [(1, "1-URGENT"), (2, "1-URGENT"), (3, "2-HIGH")],
        "o_orderkey long, o_orderpriority string",
    )
    out = {r["priority"]: r for r in fulfillment_span(li, o).collect()}
    u = out["1-URGENT"]
    assert u["n_orders"] == 2
    assert u["one_shot_ppm"] == 500_000
    assert u["mean_span_micro"] == 3_500_000  # (0 + 7) / 2 days
    assert u["max_span_days"] == 7
    h = out["2-HIGH"]
    assert h["one_shot_ppm"] == 1_000_000 and h["max_span_days"] == 0


def test_bowley_skewness_hand_frame(spark):
    """r13 cont.: a35 — a hand distribution pins the exact ceil-rank
    quartiles, the signed numerator, and the zero-IQR NULL."""
    from learn_etl_data_warehouse_spark.operators.sampling import (
        bowley_skewness,
    )

    rows = (
        # right-skewed: values 1..4 cents x2 each, plus a 100-cent tail
        [("s", v / 100.0) for v in [1, 1, 2, 2, 3, 3, 4, 4, 100]]
        # constant group: all quartiles equal -> NULL ppm
        + [("c", 0.05)] * 4
    )
    df = spark.createDataFrame(rows, "grp string, v double")
    out = {r["grp"]: r for r in bowley_skewness(df, "v", "grp").collect()}
    s = out["s"]
    # n=9: ranks ceil(25*9/100)=3, ceil(50*9/100)=5, ceil(75*9/100)=7
    assert (s["q1_cents"], s["q2_cents"], s["q3_cents"]) == (2, 3, 4)
    assert s["iqr_cents"] == 2 and s["skew_num_cents"] == 0
    assert s["bowley_ppm"] == 0
    c = out["c"]
    assert c["q1_cents"] == c["q3_cents"] == 5
    assert c["bowley_ppm"] is None


def test_max_drawdown_hand_series(spark):
    """r13 cont.: e40 — a planted peak/trough pins the drawdown and
    its EARLIEST tie day; record days count strict new highs (first
    day vacuously counts)."""
    from datetime import datetime, timedelta

    from learn_etl_data_warehouse_spark.operators.timeseries import (
        max_drawdown,
    )

    t0 = datetime(2024, 1, 1)
    d0 = (t0 - datetime(1970, 1, 1)).days
    # daily volumes: 10, 50 (record), 20 (dd 30), 20 (dd 30 tie), 60
    vols = [10, 50, 20, 20, 60]
    rows = []
    eid = 0
    for i, v in enumerate(vols):
        rows.append((eid, t0 + timedelta(days=i), "k", float(v)))
        eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = max_drawdown(df).collect()[0]
    assert out["n_days"] == 5
    assert out["n_record_days"] == 3  # days 0, 1, 4
    assert out["peak_cents"] == 6000
    assert out["max_drawdown_cents"] == 3000
    assert out["drawdown_day"] == d0 + 2  # earliest of the tie


def test_media_size_histogram_hand_frame(spark):
    """r13 cont.: m08 — digit-count buckets (9 -> 1, 10 -> 2, 100 ->
    3), per-bucket extrema, truncating within-modality shares."""
    from learn_etl_data_warehouse_spark.operators.multimodal import (
        media_size_histogram,
    )

    rows = [
        (1, "img", b"x" * 9),
        (2, "img", b"x" * 10),
        (3, "img", b"x" * 99),
        (4, "aud", b"x" * 100),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, media_type string, payload binary"
    )
    out = {
        (r["media_type"], r["size_bucket"]): r
        for r in media_size_histogram(df).collect()
    }
    assert out[("img", 1)]["n"] == 1
    b2 = out[("img", 2)]
    assert b2["n"] == 2 and b2["min_bytes"] == 10 and b2["max_bytes"] == 99
    assert b2["share_ppm"] == 666_666
    assert out[("aud", 3)]["share_ppm"] == 1_000_000


def test_repeated_sentences_hand_corpus(spark):
    """r13 cont.: t42 — FULL-sentence mode groups whitespace-
    normalized case-folded sentences (the fixture-empty grain the
    driver query parameterizes around), opener mode groups variants
    sharing their first words; floors and flags pin."""
    from learn_etl_data_warehouse_spark.operators.text import (
        repeated_sentences,
    )

    disc = "this message is intended only for the named recipient"
    df = spark.createDataFrame(
        [
            ("s1", f"Hello there. {disc}."),
            ("s2", f"Other body! {disc.upper()}?"),  # case-folds in
            ("s1", "short one. yes."),  # below the 5-word floor
            ("s3", "please contact us at 111. irrelevant tail here now."),
            ("s4", "please contact us at 222, anytime. another sentence."),
        ],
        "source string, text string",
    )
    docs = df.select(
        F.monotonically_increasing_id().alias("doc_id"), "source", "text"
    )
    full = {
        r["sentence_key"]: r for r in repeated_sentences(docs).collect()
    }
    assert set(full) == {disc}
    assert full[disc]["n_occurrences"] == 2
    assert full[disc]["n_sources"] == 2
    opener = {
        r["sentence_key"]: r
        for r in repeated_sentences(docs, prefix_words=4).collect()
    }
    # the 'please contact us at' variants group only at opener grain
    assert "please contact us at" in opener
    assert opener["please contact us at"]["n_docs"] == 2


def test_duplicate_row_audit_hand_frame(spark):
    """r13 cont.: pf18 — a planted exact triple counts 2 surplus rows
    with multiplicity 3, NULL-bearing copies group as equal (the
    COUNT(DISTINCT) NULL-skip trap avoided), clean tables zero."""
    from learn_etl_data_warehouse_spark.operators.profiling import (
        duplicate_row_audit,
    )

    dirty = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "a"), (2, None), (2, None), (3, "c")],
        "k long, v string",
    )
    clean = spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")
    out = {
        r["tbl"]: r
        for r in duplicate_row_audit(
            [("dirty", dirty), ("clean", clean)]
        ).collect()
    }
    d = out["dirty"]
    assert d["n_rows"] == 6 and d["n_distinct_rows"] == 3
    assert d["n_dup_rows"] == 3  # triple surplus 2 + NULL pair surplus 1
    assert d["max_multiplicity"] == 3
    assert d["dup_ppm"] == 500_000
    c = out["clean"]
    assert c["n_dup_rows"] == 0 and c["dup_ppm"] == 0
    assert c["max_multiplicity"] == 1


def test_bootstrap_diff_ci_hand_frame(spark):
    """r13 cont.: st15 — constant-valued groups pin every surviving
    replicate difference exactly (means of a constant are that
    constant under ANY resampling weights), and a one-group frame
    yields the absent (not wrong) NULL row."""
    from learn_etl_data_warehouse_spark.operators.sampling import (
        bootstrap_diff_ci,
    )

    rows = [(i, 100.0, 1) for i in range(40)] + [
        (100 + i, 1.0, 0) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id long, v double, flag long")
    out = bootstrap_diff_ci(df, "v", "id", "flag").collect()[0]
    assert out["obs_diff_cents"] == 9900
    assert out["n_reps"] >= 1
    assert (
        out["ci_lo_cents"] == out["median_cents"]
        == out["ci_hi_cents"] == 9900
    )
    solo = spark.createDataFrame(
        [(1, 5.0, 1), (2, 6.0, 1)], "id long, v double, flag long"
    )
    s = bootstrap_diff_ci(solo, "v", "id", "flag").collect()[0]
    assert s["obs_diff_cents"] is None and s["n_reps"] == 0
    assert s["ci_lo_cents"] is None


def test_week_over_week_hand_series(spark):
    """r13 cont.: e41 — Monday-start week boundaries (the w11
    convention), signed delta, truncating signed ppm, first-week and
    zero-prev NULLs, observed-week gap semantics."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        week_over_week,
    )

    rows = [
        # week 0 of epoch starts Monday 1969-12-29 (day -3);
        # hr 0 (Thu 1970-01-01) is in week 0; hr 96 (Mon Jan 5) week 1
        ("k", 0, 10),
        ("k", 96, 4),     # week 1: delta -6
        ("k", 96 + 336, 8),  # week 3 (week 2 silent): gap jump
    ]
    df = spark.createDataFrame(rows, "event_type string, hr long, x long")
    out = {r["week"]: r for r in week_over_week(df).collect()}
    assert set(out) == {0, 1, 3}
    assert out[0]["prev_n"] is None and out[0]["change_ppm"] is None
    w1 = out[1]
    assert w1["delta"] == -6
    assert w1["change_ppm"] == -600_000
    w3 = out[3]
    assert w3["prev_week"] == 1 and w3["prev_n"] == 4
    assert w3["delta"] == 4 and w3["change_ppm"] == 1_000_000


def test_forecast_disagreement_hand_series(spark):
    """r13 cont.: fc11 — on a perfectly flat series both models
    forecast the constant exactly, so every gap is zero; a planted
    step makes them diverge (HW adapts, the profile dilutes) with a
    nonzero signed gap."""
    from learn_etl_data_warehouse_spark.operators.timeseries import (
        forecast_disagreement,
    )

    rows = []
    for h in range(96):
        rows.append(("flat", h, 10))
        rows.append(("step", h, 10 if h < 72 else 50))
    df = spark.createDataFrame(rows, "event_type string, hr long, x long")
    out = forecast_disagreement(df).collect()
    flat = [r for r in out if r["event_type"] == "flat"]
    assert len(flat) == 24
    assert all(r["f_profile_micro"] == 10_000_000 for r in flat)
    assert all(r["gap_micro"] == 0 for r in flat)
    step = [r for r in out if r["event_type"] == "step"]
    assert len(step) == 24
    assert any(r["gap_micro"] != 0 for r in step)
    for r in out:  # the identity holds row-wise by construction
        assert r["gap_micro"] == r["f_profile_micro"] - r["f_hw_micro"]


def test_hazard_contrast_hand_durations(spark):
    """r13 cont.: sv03 — only SHARED event times emit (no
    interpolation), the gap is signed undivided, and the ratio
    truncates against B's cumulative hazard."""
    from learn_etl_data_warehouse_spark.operators.survival import (
        hazard_contrast,
    )

    rows = (
        # A: events at t=2 (2 of 4 at risk) and t=5
        [("A", 2, 1), ("A", 2, 1), ("A", 5, 1), ("A", 6, 0)]
        # B: events at t=2 (1 of 2) and t=9 (A never reaches 9)
        + [("B", 2, 1), ("B", 9, 1)]
    )
    df = spark.createDataFrame(
        rows, "segment string, duration_days long, event long"
    )
    out = {
        r["duration_days"]: r
        for r in hazard_contrast(df, "segment", "A", "B").collect()
    }
    assert set(out) == {2}  # t=5 and t=9 are unshared
    r = out[2]
    assert r["at_risk_a"] == 4 and r["at_risk_b"] == 2
    assert r["cum_a_ppm"] == 500_000 and r["cum_b_ppm"] == 500_000
    assert r["gap_ppm"] == 0 and r["ratio_ppm"] == 1_000_000


@pytest.mark.slow
def test_tukey_fences_hand_frame(spark):
    """r13 cont.: a36 — a planted far-out point trips the high fence,
    a boundary point exactly AT the fence does not (strict
    inequality), and the doubled comparison needs no halves."""
    from learn_etl_data_warehouse_spark.operators.sampling import (
        tukey_fences,
    )

    # values in cents/100: ranks over n=9 -> q1 at rank 3, q3 at 7
    vals = [1, 2, 3, 4, 5, 6, 7, 8, 100]  # q1=3c? ranks: (25*9+99)//100=3
    rows = [("g", v / 100.0) for v in vals]
    df = spark.createDataFrame(rows, "grp string, v double")
    out = tukey_fences(df, "v", "grp").collect()[0]
    assert out["q1_cents"] == 3 and out["q3_cents"] == 7
    assert out["iqr_cents"] == 4
    # high fence: 2x > 2*7 + 3*4 = 26 -> x > 13 -> only 100
    assert out["n_high"] == 1 and out["n_low"] == 0
    assert out["outlier_ppm"] == (1_000_000 * 1) // 9
    # boundary: x = 13 exactly is NOT an outlier (2*13 = 26, strict >)
    rows2 = [("b", v / 100.0) for v in [1, 2, 3, 4, 5, 6, 7, 8, 13]]
    out2 = tukey_fences(
        spark.createDataFrame(rows2, "grp string, v double"), "v", "grp"
    ).collect()[0]
    assert out2["n_high"] == 0
