"""Property-based tests for the r4c corpus operators: c4_filters fuzzed
over arbitrary unicode text (flag consistency + no crashes), and
shuffle_shards / domain_mix fuzzed over arbitrary id sets (bijectivity,
membership determinism, growth stability).

Same batching strategy as test_property_cleaning.py: each hypothesis
example is a whole batch evaluated in ONE Spark job.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

texts = st.lists(
    st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs",)  # no lone surrogates
        ),
        max_size=200,
    ),
    min_size=1,
    max_size=20,
)
id_sets = st.lists(
    st.integers(0, 2**40), min_size=1, max_size=60, unique=True
)


@pytest.mark.slow
@given(batch=texts)
@SETTINGS
def test_c4_filters_flag_consistency(spark, batch):
    from learn_etl_data_warehouse_spark.operators.text import c4_filters

    df = spark.createDataFrame(
        list(enumerate(batch)), "doc_id LONG, text STRING"
    )
    rows = c4_filters(df).collect()
    assert len(rows) == len(batch)
    for r in rows:
        txt = batch[r["doc_id"]]
        # flags agree with a direct python model
        assert r["has_brace"] == ("{" in txt or "}" in txt)
        assert r["has_lorem"] == ("lorem ipsum" in txt.lower())
        assert r["n_words"] >= 0 and 0.0 <= r["line_term_frac"] <= 1.0
        if r["kept"]:
            assert 10 <= r["n_words"] <= 100_000
            assert 2.0 <= r["mean_word_len"] <= 12.0
            assert not r["has_brace"] and not r["has_lorem"]


@pytest.mark.slow
@given(ids=id_sets)
@SETTINGS
def test_shuffle_shards_bijective_on_arbitrary_ids(spark, ids):
    from learn_etl_data_warehouse_spark.operators.sampling import (
        shuffle_shards,
    )

    df = spark.createDataFrame([(i,) for i in ids], "doc_id LONG")
    out = shuffle_shards(df, n_shards=4).collect()
    assert sorted(r["global_pos"] for r in out) == list(
        range(1, len(ids) + 1)
    )
    assert {r["doc_id"] for r in out} == set(ids)


@pytest.mark.slow
@given(ids=id_sets, rate_ppm=st.integers(0, 1_000_000))
@SETTINGS
def test_domain_mix_membership_is_pointwise_deterministic(
    spark, ids, rate_ppm
):
    from learn_etl_data_warehouse_spark.operators.sampling import domain_mix

    rate = rate_ppm / 1_000_000
    df = spark.createDataFrame(
        [(i, "d") for i in ids], "doc_id LONG, source STRING"
    )
    kept = {r["doc_id"] for r in domain_mix(df, {"d": rate}).collect()}
    # growth stability: any subset keeps exactly its members' fates
    half = df.filter(F.col("doc_id") % 2 == 0)
    kept_half = {r["doc_id"] for r in domain_mix(half, {"d": rate}).collect()}
    assert kept_half == {i for i in kept if i % 2 == 0}
    # boundary rates
    if rate_ppm == 1_000_000:
        assert kept == set(ids)
    if rate_ppm == 0:
        assert kept == set()


# token streams with a deliberately tiny vocabulary so hot spans actually
# occur across random docs
token_texts = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "dd", "ee"]), min_size=0, max_size=30
    ).map(" ".join),
    min_size=1,
    max_size=12,
)


@pytest.mark.slow
@given(batch=token_texts)
@SETTINGS
def test_hot_span_scrub_conservation(spark, batch):
    """Invariants for any corpus: every doc emits exactly one row;
    n_kept + n_removed == doc token count; text_clean is a subsequence
    of the doc's tokens (order preserved) with exactly n_kept tokens."""
    from learn_etl_data_warehouse_spark.operators.dedup import hot_span_scrub

    df = spark.createDataFrame(
        list(enumerate(batch)), "doc_id LONG, text STRING"
    )
    rows = {r["doc_id"]: r for r in hot_span_scrub(df, span_len=3, max_df=1).collect()}
    assert len(rows) == len(batch)
    for i, text in enumerate(batch):
        toks = text.split() if text.strip() else [""]
        r = rows[i]
        assert r["n_kept"] + r["n_removed"] == len(toks)
        kept = r["text_clean"].split(" ") if r["text_clean"] != "" else []
        if r["n_kept"] > 0 or toks == [""]:
            kept_expected_len = r["n_kept"]
            # blank-doc sentinel: the single empty token joins to ""
            if toks == [""]:
                assert r["text_clean"] == ""
            else:
                assert len(kept) == kept_expected_len
                # subsequence check
                it = iter(toks)
                assert all(tok in it for tok in kept)


@pytest.mark.slow
@given(batch=texts)
@SETTINGS
def test_gopher_rules_flag_consistency(spark, batch):
    """Fuzz gopher_rules over arbitrary unicode: no crashes, ratios in
    range, kept == the conjunction recomputed from the emitted metrics."""
    from learn_etl_data_warehouse_spark.operators.text import gopher_rules

    df = spark.createDataFrame(
        list(enumerate(batch)), "doc_id LONG, text STRING"
    )
    rows = gopher_rules(
        df, min_words=3, min_mean_word_len=1.0, max_mean_word_len=50.0,
        min_stopwords=0,
    ).collect()
    assert len(rows) == len(batch)
    for r in rows:
        assert r["n_words"] >= 0
        assert 0.0 <= r["alpha_word_frac"] <= 1.0
        assert r["symbol_ratio"] >= 0.0
        assert 0 <= r["n_stopwords"] <= 8
        expect = (
            3 <= r["n_words"] <= 100_000
            and 1.0 <= r["mean_word_len"] <= 50.0
            and r["symbol_ratio"] <= 0.1
            and r["alpha_word_frac"] >= 0.8
        )
        assert r["kept"] == expect, r
