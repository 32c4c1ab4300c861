"""Unigram-LM (SentencePiece-style) tokenizer training and encoding.

The missing tokenizer family next to BPE (``text.py::bpe_train``) and
the bigram/Kneser-Ney LMs: seed a substring vocabulary, then run fixed
EM rounds of Viterbi segmentation + usage re-counting, and encode a
corpus with the final piece table.

Determinism contract (the repo's fixed-point style):
- Piece COUNTS are exact integers end to end (seeding, usage, pruning).
- Piece COSTS are integer micro neg-logs computed ONCE per round at the
  DRIVER in Python (``costs_from_counts``) over the vocab-bounded count
  table — the only float op in the algorithm runs in one interpreter,
  so the Spark path and the pure-Python conformance reference consume
  IDENTICAL integer cost tables (no JVM-vs-libm log drift).
- Viterbi ties break deterministically: minimal total cost, then the
  SMALLEST start index of the last piece (prefer-longer-piece), encoded
  as a lexicographic ``array_min`` over ``struct(cost, start)``.

Scale shape (100 TB posture):
- Training state is the WORD-FREQUENCY table (vocabulary-bounded, not
  corpus-bounded) — the corpus is tokenized once, exactly like
  ``bpe_train``.
- The per-round Viterbi is pure narrow Column work: candidate pieces
  are exploded per distinct word, costed via a BROADCAST join against
  the (bounded) piece table, reassembled into a per-word cost map, and
  the DP itself is an ``aggregate`` fold — no Python in the loop, no
  shuffle beyond the word-grain hash aggs.
- Only the vocab-bounded usage-count table reaches the driver each
  round (the same bounded-driver-state pattern as BPE's argmax row and
  k-means centroids).

Reference parity: the reference engine ships no tokenizer trainer; this
extends the text stack the same way bpe_train does (SURVEY.md §2 text
family), conformance-tested against a pure-Python implementation in
``tests/test_unigram.py``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .text import _c, tokens

#: cost charged for a single character absent from the piece table
#: (only reachable at encode time on chars unseen in training).
UNK_COST_MICROS = 25_000_000

#: start-index multiplier for the per-word candidate cost-map key
#: ``j * _KEY_BASE + i`` (supports words up to 999,999 chars).
_KEY_BASE = 1_000_000


def word_freq_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, freq) over lowercase whitespace words — the training state."""
    return (
        df.select(F.explode(tokens(F.lower(_c(text_col)))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def _piece_explode(max_len: int) -> str:
    """SQL for all substrings of ``w`` with length 1..max_len as
    (j, i, piece) structs — j/i are 1-based inclusive char positions."""
    return (
        f"flatten(transform(sequence(1, length(w)), j ->"
        f" transform(sequence(j, least(length(w), j + {max_len - 1})),"
        f"  i -> named_struct('j', j, 'i', i,"
        f"       'piece', substring(w, j, i - j + 1)))))"
    )


def unigram_seed_counts(
    df: DataFrame, text_col: str = "text", max_len: int = 4
) -> DataFrame:
    """Seed statistics: exact corpus occurrence counts of every word
    substring of length 1..``max_len`` (weighted by word frequency —
    identical to counting over raw word occurrences, one shuffle
    cheaper). Returns (piece, n). This is the segment-stats surface the
    t29 oracle checks."""
    wf = word_freq_table(df, text_col)
    pieces = wf.select(
        "freq", F.explode(F.expr(_piece_explode(max_len))).alias("c")
    ).select("freq", F.col("c.piece").alias("piece"))
    return pieces.groupBy("piece").agg(
        F.sum("freq").cast("long").alias("n")
    )


def select_vocab(
    counts: list[tuple[str, int]], vocab_size: int, min_count: int = 2
) -> list[tuple[str, int]]:
    """Driver-side vocabulary selection over the bounded count table:
    ALL single characters are always kept (so every word stays
    segmentable without the UNK fallback); multi-char pieces need
    ``min_count`` and compete for ``vocab_size`` slots under the strict
    order (n DESC, piece ASC)."""
    singles = [(p, n) for p, n in counts if len(p) == 1]
    multis = sorted(
        ((p, n) for p, n in counts if len(p) > 1 and n >= min_count),
        key=lambda x: (-x[1], x[0]),
    )[:vocab_size]
    return sorted(singles + multis)


def _viterbi_py(
    w: str,
    cost: dict[str, int],
    max_len: int = 4,
    unk: int = UNK_COST_MICROS,
) -> int:
    """Driver-side Viterbi TOTAL COST of one string — used only by the
    loss-pruning pass, which runs over the vocab-bounded PIECE table
    (never the corpus; the corpus-side Viterbi is the distributed
    Column fold in :func:`viterbi_segment`). Same recurrence, same
    (cost, start) tie-break."""
    n = len(w)
    dp = [0] * (n + 1)
    for i in range(1, n + 1):
        best = None
        for j in range(max(1, i - max_len + 1), i + 1):
            c = cost.get(w[j - 1 : i])
            if c is None and i == j:
                c = unk
            if c is None:
                continue
            cand = dp[j - 1] + c
            if best is None or cand < best:
                best = cand
        dp[i] = best
    return dp[n]


def loss_prune(
    counts: list[tuple[str, int]],
    vocab_size: int,
    max_len: int = 4,
) -> list[tuple[str, int]]:
    """SentencePiece's REAL prune criterion (the upgrade over count
    ranking): a multi-char piece's value is the LOSS DELTA its removal
    would cost — ``usage · (alt_cost − own_cost)`` where ``alt_cost``
    re-segments the piece's own string with the rest of the vocabulary.
    Keep the ``vocab_size`` highest-delta multis under the strict
    (delta DESC, piece ASC) order; single chars always survive.

    Integer-exact: usage, alt and own costs are all integers, so the
    ranking is engine- and platform-portable. Runs at the DRIVER over
    the vocab-bounded table only (|vocab| Viterbi calls over ≤max_len·
    a-few-chars strings — microseconds), the same bounded-driver-state
    posture as the cost table itself."""
    costs = dict(costs_from_counts(counts))
    singles = [(p, n) for p, n in counts if len(p) == 1]
    multis = []
    for p, n in counts:
        if len(p) == 1:
            continue
        without = {q: c for q, c in costs.items() if q != p}
        alt = _viterbi_py(p, without, max_len)
        multis.append((p, n, n * (alt - costs[p])))
    kept = sorted(multis, key=lambda x: (-x[2], x[0]))[:vocab_size]
    return sorted(singles + [(p, n) for p, n, _ in kept])


def costs_from_counts(
    counts: list[tuple[str, int]]
) -> list[tuple[str, int]]:
    """Integer micro neg-log costs with add-one smoothing:
    cost(p) = round(-ln((n_p + 1) / total) * 1e6). Runs at the driver in
    ONE interpreter for both the Spark path and the conformance
    reference — the single float evaluation in the algorithm."""
    total = sum(n + 1 for _, n in counts)
    return [
        (p, int(round(-math.log((n + 1) / total) * 1_000_000)))
        for p, n in sorted(counts)
    ]


def viterbi_segment(
    words: DataFrame,
    cost_df: DataFrame,
    max_len: int = 4,
    unk_cost_micros: int = UNK_COST_MICROS,
) -> DataFrame:
    """Viterbi-segment every word in ``words`` (columns w, freq) against
    the piece table ``cost_df`` (columns piece, cost_micros).

    Plan: explode candidate substrings per distinct word, broadcast-join
    the bounded piece table, fold a per-word cost map, then run the DP
    and the backpointer walk as pure Column ``aggregate`` folds — all
    JVM-side, no UDFs. Returns (w, freq, pieces array<string>,
    cost_micros bigint)."""
    distinct_w = words.select("w").distinct()
    cands = (
        distinct_w.select(
            "w", F.explode(F.expr(_piece_explode(max_len))).alias("c")
        )
        .select("w", "c.j", "c.i", F.col("c.piece").alias("piece"))
        .join(F.broadcast(cost_df), "piece")
    )
    maps = cands.groupBy("w").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (
                        F.col("j").cast("long") * _KEY_BASE + F.col("i")
                    ).alias("k"),
                    F.col("cost_micros").cast("long").alias("v"),
                )
            )
        ).alias("m")
    )
    dp_expr = f"""
      aggregate(
        sequence(1, length(w)),
        array(named_struct('c', CAST(0 AS BIGINT), 'b', 0)),
        (acc, i) -> concat(acc, array(
          array_min(filter(
            transform(sequence(greatest(1, i - {max_len} + 1), i),
              j -> named_struct(
                'c', element_at(acc, j).c + coalesce(
                       element_at(m, CAST(j AS BIGINT) * {_KEY_BASE} + i),
                       IF(j = i, CAST({unk_cost_micros} AS BIGINT),
                          CAST(NULL AS BIGINT))),
                'b', j)),
            x -> x.c IS NOT NULL)))))
    """
    bounds_expr = """
      aggregate(
        sequence(1, length(w)),
        array(length(w)),
        (acc, x) -> IF(element_at(acc, 1) <= 0, acc,
          concat(array(element_at(dp, element_at(acc, 1) + 1).b - 1),
                 acc)))
    """
    pieces_expr = """
      transform(sequence(1, size(bounds) - 1),
        k -> substring(w, element_at(bounds, k) + 1,
                       element_at(bounds, k + 1) - element_at(bounds, k)))
    """
    return (
        words.join(maps, "w", "left")
        .withColumn("dp", F.expr(dp_expr))
        .withColumn("bounds", F.expr(bounds_expr))
        .select(
            "w",
            "freq",
            F.expr(pieces_expr).alias("pieces"),
            F.expr("element_at(dp, length(w) + 1).c")
            .cast("long")
            .alias("cost_micros"),
        )
    )


def _cost_frame(
    spark: SparkSession, costs: list[tuple[str, int]]
) -> DataFrame:
    return spark.createDataFrame(
        sorted(costs), "piece string, cost_micros long"
    )


def unigram_train(
    df: DataFrame,
    rounds: int = 3,
    vocab_size: int = 200,
    max_len: int = 4,
    text_col: str = "text",
    min_seed_count: int = 2,
    prune: str = "count",
) -> tuple[list[tuple[str, int, int]], DataFrame]:
    """Fixed-round unigram-LM tokenizer training.

    Seed vocabulary = :func:`select_vocab` over the exact substring
    counts; each EM round Viterbi-segments the word-frequency table
    with the current integer costs, re-counts piece usage (weighted by
    word frequency), prunes back to ``vocab_size`` and recomputes
    costs. Only the vocab-bounded count table reaches the driver.

    ``prune`` selects the per-round survivor rule: ``"count"`` ranks
    multis by raw usage; ``"loss"`` is SentencePiece's criterion —
    rank by the integer loss delta removal would cost
    (:func:`loss_prune`).

    Returns (vocab, segmented) where vocab is [(piece, usage_n,
    cost_micros)] sorted by piece and segmented is the final (w, freq,
    pieces, cost_micros) word table."""
    if prune not in ("count", "loss"):
        raise ValueError("prune must be 'count' or 'loss'")
    spark = df.sparkSession
    wf = word_freq_table(df, text_col).localCheckpoint(eager=True)
    seed_rows = [
        (r["piece"], int(r["n"]))
        for r in unigram_seed_counts(df, text_col, max_len).collect()
    ]
    vocab = select_vocab(seed_rows, vocab_size, min_seed_count)
    costs = costs_from_counts(vocab)
    seg = None
    for _ in range(rounds):
        seg = viterbi_segment(wf, _cost_frame(spark, costs), max_len)
        usage = (
            seg.select("freq", F.explode("pieces").alias("piece"))
            .groupBy("piece")
            .agg(F.sum("freq").cast("long").alias("n"))
        )
        rows = [(r["piece"], int(r["n"])) for r in usage.collect()]
        # usage can only cover vocab pieces (+ UNK singles at encode
        # time, impossible here because every seen char is in vocab);
        # pieces that received zero usage drop out of the count table —
        # re-select so unused multi-char pieces are pruned while single
        # chars survive at their smoothed floor.
        seen = dict(rows)
        kept = [(p, seen.get(p, 0)) for p, _ in vocab]
        if prune == "loss":
            vocab = loss_prune(kept, vocab_size, max_len)
        else:
            vocab = select_vocab(kept, vocab_size, min_count=1)
        costs = costs_from_counts(vocab)
    final_seg = viterbi_segment(wf, _cost_frame(spark, costs), max_len)
    cost_map = dict(costs)
    out = [(p, n, cost_map[p]) for p, n in vocab]
    return out, final_seg


def unigram_encode(
    df: DataFrame,
    costs: list[tuple[str, int]] | list[tuple[str, int, int]],
    max_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode a corpus with a trained piece table: segment each DISTINCT
    word once (the same Viterbi kernel), then join segmentations back by
    word and reassemble documents in token order. Accepts either
    (piece, cost_micros) pairs or unigram_train's (piece, n,
    cost_micros) triples. Returns (id, n_words, n_tokens, tokens).

    Documents whose text is empty or whitespace-only contribute NO
    words, so they produce NO output row (not a row with n_tokens=0) —
    left-join the result back to the input on ``id_col`` if every
    document must survive. Pinned by the blank-doc test in
    tests/test_unigram.py."""
    spark = df.sparkSession
    pairs = [(t[0], int(t[-1])) for t in costs]
    doc_words = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.lower(_c(text_col)))).alias("pos", "w"),
    ).filter(F.col("w") != "")
    words = doc_words.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )
    seg = viterbi_segment(words, _cost_frame(spark, pairs), max_len)
    joined = doc_words.join(
        seg.select("w", "pieces"), "w"
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.flatten(
                F.array_sort(
                    F.collect_list(F.struct("pos", "pieces"))
                ).pieces
            ).alias("tokens"),
        )
        .withColumn("n_tokens", F.size("tokens").cast("long"))
        .select(id_col, "n_words", "n_tokens", "tokens")
    )
