"""Unigram-LM (SentencePiece-style) tokenizer seed statistics.

A unigram-LM trainer starts from a substring vocabulary: every word
substring up to a maximum length, counted over the corpus. This module
computes that seed table (``unigram_seed_counts``, query t29)
from the word-frequency table (``word_freq_table``).

Scale shape (100 TB posture): the corpus is tokenized once into the
WORD-FREQUENCY table (vocabulary-bounded, not corpus-bounded), and the
substring explode runs per distinct word, weighted by its frequency —
one word-grain aggregation and one piece-grain aggregation, no Python
in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import _c, tokens


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
