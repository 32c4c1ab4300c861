"""Unigram-LM (SentencePiece-style) tokenizer conformance tests.

The Spark trainer (``operators/unigram.py``) is conformance-tested
against a pure-Python implementation of the SAME algorithm (seed →
fixed EM rounds of Viterbi + usage re-count), the way ``bpe_train`` is
tested against a Sennrich-style reference. The driver-side helpers
(``select_vocab`` / ``costs_from_counts``) are shared by construction —
they run in one interpreter for both paths; what this file verifies is
that the distributed Viterbi kernel and usage counting match the
sequential reference EXACTLY (same costs, same tie-breaks, same
segmentations).
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import pytest
from pyspark.sql import functions as F

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from learn_etl_data_warehouse_spark.operators import unigram as U
from learn_etl_data_warehouse_spark.sources.parquet import load_table


def ref_viterbi(w, cost, max_len=4, unk=U.UNK_COST_MICROS):
    """Sequential Viterbi with the module's exact tie-break: minimal
    (total cost, start-of-last-piece) per prefix."""
    n = len(w)
    dp = [(0, 0)]
    for i in range(1, n + 1):
        cands = []
        for j in range(max(1, i - max_len + 1), i + 1):
            c = cost.get(w[j - 1 : i])
            if c is None and i == j:
                c = unk
            if c is None:
                continue
            cands.append((dp[j - 1][0] + c, j))
        dp.append(min(cands))
    bounds = [n]
    while bounds[0] > 0:
        bounds.insert(0, dp[bounds[0]][1] - 1)
    return (
        [w[bounds[k] : bounds[k + 1]] for k in range(len(bounds) - 1)],
        dp[n][0],
    )


def ref_train(word_freqs, rounds, vocab_size, max_len, min_seed):
    seed = Counter()
    for w, f in word_freqs.items():
        for j in range(len(w)):
            for l in range(1, min(max_len, len(w) - j) + 1):
                seed[w[j : j + l]] += f
    vocab = U.select_vocab(list(seed.items()), vocab_size, min_seed)
    costs = dict(U.costs_from_counts(vocab))
    for _ in range(rounds):
        usage = Counter()
        for w, f in word_freqs.items():
            pieces, _ = ref_viterbi(w, costs, max_len)
            for p in pieces:
                usage[p] += f
        vocab = U.select_vocab(
            [(p, usage.get(p, 0)) for p, _ in vocab], vocab_size, 1
        )
        costs = dict(U.costs_from_counts(vocab))
    return vocab, costs


def _word_freqs(docs):
    wf = Counter()
    for r in docs.select("text").collect():
        for w in (r["text"] or "").lower().split():
            wf[w] += 1
    return wf


def test_unigram_train_matches_reference(spark, sf_small):
    docs = load_table(spark, sf_small, "documents").filter(
        F.col("doc_id") < 200
    )
    wf = _word_freqs(docs)
    got_vocab, got_seg = U.unigram_train(
        docs, rounds=2, vocab_size=150, max_len=4
    )
    want_vocab, want_costs = ref_train(
        wf, rounds=2, vocab_size=150, max_len=4, min_seed=2
    )
    assert [(p, n) for p, n, _ in got_vocab] == want_vocab
    assert {p: c for p, _, c in got_vocab} == want_costs

    # the final segmentation table matches per-word reference Viterbi
    got_rows = {
        r["w"]: (tuple(r["pieces"]), int(r["cost_micros"]))
        for r in got_seg.collect()
    }
    assert set(got_rows) == set(wf)
    for w in wf:
        pieces, cost = ref_viterbi(w, want_costs)
        assert got_rows[w] == (tuple(pieces), cost), w


def test_unigram_encode_reassembles_documents(spark, sf_small):
    docs = load_table(spark, sf_small, "documents").filter(
        F.col("doc_id") < 120
    )
    vocab, _ = U.unigram_train(docs, rounds=1, vocab_size=80)
    costs = dict(U.costs_from_counts([(p, n) for p, n, _ in vocab]))
    enc = U.unigram_encode(docs, vocab)
    rows = {r["doc_id"]: r for r in enc.collect()}
    for r in docs.select("doc_id", "text").collect():
        words = (r["text"] or "").lower().split()
        if not words:
            assert r["doc_id"] not in rows  # blank docs have no words
            continue
        want = []
        for w in words:
            want.extend(ref_viterbi(w, costs)[0])
        got = rows[r["doc_id"]]
        assert got["n_words"] == len(words)
        assert list(got["tokens"]) == want
        assert got["n_tokens"] == len(want)
    # concatenated pieces reproduce each document's words exactly
    bad = enc.join(
        docs.select(
            "doc_id",
            F.concat_ws(
                "", F.split(F.trim(F.lower("text")), r"\s+")
            ).alias("joined"),
        ),
        "doc_id",
    ).filter(F.concat_ws("", F.col("tokens")) != F.col("joined"))
    assert bad.count() == 0


def test_unigram_unknown_char_falls_back_to_unk(spark):
    docs = spark.createDataFrame(
        [(1, "abc abc ab"), (2, "abc zq")], "doc_id long, text string"
    )
    vocab, _ = U.unigram_train(
        docs.filter("doc_id = 1"), rounds=1, vocab_size=10
    )
    enc = U.unigram_encode(docs, vocab)
    r = {x["doc_id"]: list(x["tokens"]) for x in enc.collect()}
    # 'z'/'q' were never seen in training: each decodes as its own
    # single-char UNK-cost piece rather than crashing or dropping
    assert r[2][-2:] == ["z", "q"]
    costs = dict(U.costs_from_counts([(p, n) for p, n, _ in vocab]))
    pieces, cost = ref_viterbi("zq", costs)
    assert pieces == ["z", "q"] and cost == 2 * U.UNK_COST_MICROS


def test_unigram_tie_breaks_prefer_longer_last_piece(spark):
    # 'abab': with equal costs everywhere, (cost, start) lexicographic
    # min prefers the SMALLEST start of the last piece at equal cost —
    # pinned here so an engine change can't silently flip tie-breaks.
    costs = {"a": 100, "b": 100, "ab": 100, "ba": 100, "abab": 100}
    pieces, cost = ref_viterbi("abab", costs)
    assert (pieces, cost) == (["abab"], 100)
    df = U.viterbi_segment(
        spark.createDataFrame([("abab", 1)], "w string, freq long"),
        spark.createDataFrame(
            sorted(costs.items()), "piece string, cost_micros long"
        ),
    )
    row = df.collect()[0]
    assert list(row["pieces"]) == ["abab"]
    assert row["cost_micros"] == 100


def ref_loss_prune(counts, vocab_size, max_len=4):
    costs = dict(U.costs_from_counts(counts))
    singles = [(p, n) for p, n in counts if len(p) == 1]
    multis = []
    for p, n in counts:
        if len(p) == 1:
            continue
        without = {q: c for q, c in costs.items() if q != p}
        _, alt = ref_viterbi(p, without, max_len)
        multis.append((p, n, n * (alt - costs[p])))
    kept = sorted(multis, key=lambda x: (-x[2], x[0]))[:vocab_size]
    return sorted(singles + [(p, n) for p, n, _ in kept])


@pytest.mark.slow
def test_unigram_loss_prune_matches_reference(spark, sf_small):
    """r8: the SentencePiece loss-delta prune rule — trainer vs a
    reference EM loop whose alt-costs come from the test's OWN Viterbi.
    vocab_size is small enough that pruning genuinely bites."""
    docs = load_table(spark, sf_small, "documents").filter(
        F.col("doc_id") < 150
    )
    wf = _word_freqs(docs)
    got_vocab, got_seg = U.unigram_train(
        docs, rounds=2, vocab_size=60, max_len=4, prune="loss"
    )
    # reference: same seed, loss-prune each round with ref_viterbi
    seed = Counter()
    for w, f in wf.items():
        for j in range(len(w)):
            for l in range(1, min(4, len(w) - j) + 1):
                seed[w[j : j + l]] += f
    vocab = U.select_vocab(list(seed.items()), 60, 2)
    costs = dict(U.costs_from_counts(vocab))
    for _ in range(2):
        usage = Counter()
        for w, f in wf.items():
            for p in ref_viterbi(w, costs)[0]:
                usage[p] += f
        vocab = ref_loss_prune(
            [(p, usage.get(p, 0)) for p, _ in vocab], 60
        )
        costs = dict(U.costs_from_counts(vocab))
    assert [(p, n) for p, n, _ in got_vocab] == vocab
    assert {p: c for p, _, c in got_vocab} == costs
    got_rows = {
        r["w"]: (tuple(r["pieces"]), int(r["cost_micros"]))
        for r in got_seg.collect()
    }
    for w in wf:
        pieces, cost = ref_viterbi(w, costs)
        assert got_rows[w] == (tuple(pieces), cost), w
    # the two prune rules genuinely differ on this corpus (else the
    # test proves nothing)
    count_vocab, _ = U.unigram_train(
        docs, rounds=2, vocab_size=60, max_len=4, prune="count"
    )
    assert [p for p, _, _ in got_vocab] != [p for p, _, _ in count_vocab]
