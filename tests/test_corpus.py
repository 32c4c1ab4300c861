"""Composed corpus-cleaning pipeline: stage monotonicity + survivor rule."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from learn_etl_data_warehouse_spark.operators import dedup
from learn_etl_data_warehouse_spark.plans.corpus import clean_corpus
from learn_etl_data_warehouse_spark.sources.parquet import load_table


def test_stratified_sample_proportions_and_determinism(spark, sf_small):
    from learn_etl_data_warehouse_spark.operators.sampling import (
        stratified_sample,
    )

    docs = load_table(spark, sf_small, "documents")
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    fractions = {lang: 0.5 for lang in langs}
    s1 = stratified_sample(docs, "lang", fractions, seed=7)
    s2 = stratified_sample(docs, "lang", fractions, seed=7)
    ids1 = sorted(r["doc_id"] for r in s1.select("doc_id").collect())
    ids2 = sorted(r["doc_id"] for r in s2.select("doc_id").collect())
    assert ids1 == ids2  # same seed + partitioning → same sample
    per_lang = {
        r["lang"]: r["count"] for r in s1.groupBy("lang").count().collect()
    }
    totals = {r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()}
    for lang, total in totals.items():
        frac = per_lang.get(lang, 0) / total
        assert 0.25 <= frac <= 0.75, f"{lang}: {frac}"


def test_split_is_stable_under_corpus_growth(spark, sf_small):
    """The hash split must not move documents when the corpus grows —
    the whole point of hashing over random assignment."""
    from learn_etl_data_warehouse_spark.operators.sampling import (
        train_val_test_split,
    )
    from pyspark.sql import functions as F2

    docs = load_table(spark, sf_small, "documents")
    small = docs.filter(F2.col("doc_id") < 100)
    full_split = {
        r["doc_id"]: r["split"]
        for r in train_val_test_split(docs).select("doc_id", "split").collect()
    }
    small_split = {
        r["doc_id"]: r["split"]
        for r in train_val_test_split(small).select("doc_id", "split").collect()
    }
    assert all(full_split[k] == v for k, v in small_split.items())
    from collections import Counter

    dist = Counter(full_split.values())
    assert dist["train"] > dist["val"] and dist["train"] > dist["test"]


@pytest.mark.slow
def test_clean_corpus_stages(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    clean, stats = clean_corpus(docs, minhash_threshold=0.7, quality_threshold=0.3)
    s = stats.collect()[0]
    # monotone shrink through the stages
    assert s["n_input"] >= s["n_after_exact"] >= s["n_after_neardup"] >= s["n_clean"]
    assert s["n_input"] == 500
    # near-dup stage actually removed something (fixture has near-dups)
    assert s["n_after_neardup"] < s["n_after_exact"]
    assert clean.count() == s["n_clean"] > 0
    # survivor rule: exactly the minimum id of each near-dup component
    # survives the near-dup stage (before the quality gate)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.7)
    comp = {
        (r["id"], r["component"])
        for r in dedup.connected_components(pairs).collect()
    }
    # python-side reference components (tiny graph)
    adj: dict[int, set[int]] = {}
    for r in pairs.collect():
        adj.setdefault(r["id_a"], set()).add(r["id_b"])
        adj.setdefault(r["id_b"], set()).add(r["id_a"])
    seen: set[int] = set()
    expected = set()
    for start in adj:
        if start in seen:
            continue
        stack, members = [start], set()
        while stack:
            n = stack.pop()
            if n in members:
                continue
            members.add(n)
            stack.extend(adj[n] - members)
        seen |= members
        rep = min(members)
        expected |= {(m, rep) for m in members}
    assert comp == expected

    # and the PIPELINE's output is exactly (survivors ∩ gate-passers):
    # a regression that drops winners instead of losers must fail here
    from learn_etl_data_warehouse_spark.operators import text as text_ops
    from pyspark.sql import functions as F

    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    dropped = {m for m, rep in expected if m != rep}
    survivors = all_ids - dropped
    gate = text_ops.add_text_features(docs).filter(
        (F.col("quality") >= 0.3) & (F.col("lang_pred") != "und")
    )
    gate_pass = {r["doc_id"] for r in gate.select("doc_id").collect()}
    clean_ids = {r["doc_id"] for r in clean.select("doc_id").collect()}
    assert clean_ids == (survivors & gate_pass)
    # output schema carries the features downstream jobs need
    assert {"doc_id", "lang_pred", "quality", "token_count"} <= set(clean.columns)


def test_quality_weighted_sample_rate_tracks_quality(spark, sf_small):
    """Keep-rate must track the quality score: the kept fraction of
    above-median-quality docs exceeds that of below-median docs, and the
    decision is deterministic across runs."""
    from learn_etl_data_warehouse_spark.operators.sampling import (
        quality_weighted_sample,
    )
    from learn_etl_data_warehouse_spark.operators.text import quality_score
    from learn_etl_data_warehouse_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_small, "documents")
    scored = docs.select("doc_id", quality_score(F.col("text")).alias("q"))
    kept = {r["doc_id"] for r in quality_weighted_sample(docs).collect()}
    again = {r["doc_id"] for r in quality_weighted_sample(docs).collect()}
    assert kept == again  # RNG-free
    rows = scored.collect()
    med = sorted(r["q"] for r in rows)[len(rows) // 2]
    hi = [r for r in rows if r["q"] > med]
    lo = [r for r in rows if r["q"] <= med]
    rate = lambda grp: sum(1 for r in grp if r["doc_id"] in kept) / len(grp)
    assert rate(hi) > rate(lo)
    assert 0 < len(kept) < len(rows)


def test_bag_of_words_dedup_collapses_permutations(spark):
    from learn_etl_data_warehouse_spark.operators.dedup import (
        dedup_bag_of_words,
        dedup_exact,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "gamma beta alpha"),   # permutation of 1 → collapses
            (3, "alpha beta beta"),    # different multiset → kept
            (4, "Alpha  beta   gamma"),  # case/ws-normalized perm of 1
        ],
        "doc_id LONG, text STRING",
    )
    bag = sorted(r["doc_id"] for r in dedup_bag_of_words(docs).collect())
    assert bag == [1, 3]  # min-id winner per multiset class
    exact = sorted(r["doc_id"] for r in dedup_exact(docs).collect())
    assert 2 in exact  # order-sensitive dedup keeps the permutation


def test_dataset_card_diff_statuses_and_deltas(spark):
    """r7: added/removed/changed/unchanged statuses, coalesced-to-zero
    deltas for one-sided sources, and top-language flips counting as
    changed."""
    from learn_etl_data_warehouse_spark.plans.corpus import (
        dataset_card_diff,
    )

    old = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "en", "web"),
            (2, "alpha beta gamma", "en", "web"),      # dup of 1
            (3, "uno dos tres cuatro", "es", "books"),
            (4, "removed source text here", "en", "old_src"),
            (5, "stable text", "en", "stable"),
        ],
        ["doc_id", "text", "lang", "source"],
    )
    new = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "en", "web"),       # dedup'd: one copy
            (3, "uno dos tres cuatro", "es", "books"),
            (6, "mas texto en espanol aqui", "es", "books"),
            (7, "brand new source doc", "en", "new_src"),
            (5, "stable text", "en", "stable"),
        ],
        ["doc_id", "text", "lang", "source"],
    )
    rows = {r["source"]: r for r in dataset_card_diff(old, new).collect()}
    assert rows["new_src"]["status"] == "added"
    assert rows["new_src"]["n_docs_old"] is None
    assert rows["new_src"]["n_docs_delta"] == 1
    assert rows["old_src"]["status"] == "removed"
    assert rows["old_src"]["n_docs_delta"] == -1
    assert rows["stable"]["status"] == "unchanged"
    assert rows["stable"]["n_docs_delta"] == 0
    # web lost its duplicate: docs 2→1, dup_ppm 500000→0
    assert rows["web"]["status"] == "changed"
    assert rows["web"]["n_docs_delta"] == -1
    assert rows["web"]["dup_ppm_old"] == 500_000
    assert rows["web"]["dup_ppm_new"] == 0
    assert rows["web"]["dup_ppm_delta"] == -500_000
    assert rows["books"]["n_docs_delta"] == 1


def test_dataset_card_diff_across_manifest_snapshots(spark, tmp_path):
    """The production composition: two manifest-warehouse txns of the
    same documents table, diffed via as-of snapshot reads — the new
    ingest batch shows up as that source's docs/token delta."""
    from learn_etl_data_warehouse_spark.plans import manifest_warehouse as mw
    from learn_etl_data_warehouse_spark.plans.corpus import (
        dataset_card_diff,
    )

    import os

    table = str(tmp_path / "docs_table")
    os.makedirs(table)
    sink = mw.manifest_stream_sink(table)
    v1 = spark.createDataFrame(
        [(1, "one two three", "en", "web"),
         (2, "cuatro cinco seis", "es", "books")],
        ["doc_id", "text", "lang", "source"],
    )
    sink(v1, 0)
    t1 = mw.read_manifest(table)["txn"]
    v2_extra = spark.createDataFrame(
        [(3, "seven eight nine ten", "en", "web")],
        ["doc_id", "text", "lang", "source"],
    )
    sink(v2_extra, 1)

    old = mw.read_snapshot(spark, table, as_of=t1)
    new = mw.read_snapshot(spark, table)
    rows = {r["source"]: r
            for r in dataset_card_diff(old, new).collect()}
    assert rows["web"]["status"] == "changed"
    assert rows["web"]["n_docs_delta"] == 1
    assert rows["web"]["total_tokens_delta"] == 4
    assert rows["books"]["status"] == "unchanged"
