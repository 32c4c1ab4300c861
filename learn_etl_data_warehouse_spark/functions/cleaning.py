"""Cleaning layer as native Column expressions (SURVEY §2.2, P1-P12).

The reference implements these as row-at-a-time Python UDFs applied with
``Series.apply`` (reference transformer.py:2-54, applied server.py:59-98).
Every one of them is expressible as a native Spark expression — the whole
chain stays inside whole-stage codegen and pipelines into the scan, which
is the single biggest semantic-preserving performance win over the
reference (SURVEY §4 "Vectorization").

Each function documents the exact reference semantics it reproduces,
including the warts (string-surgery scientific notation, truncation
masquerading as rounding, the ``'nan'``-string artifact).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def clean_sci_notation_id(col: Column | str) -> Column:
    """P1 — kelurahan ids arriving as ``'6.171031002E9'`` → 6171031002.

    Reference semantics (transformer.py:2-6): **string surgery**, not float
    parsing — delete the literal ``.`` and the literal ``E9``, then parse
    int. A plain 10-digit string passes through unchanged. We reproduce
    replace-then-parse exactly.
    """
    return (
        F.regexp_replace(F.regexp_replace(_c(col), r"\.", ""), "E9", "")
        .cast("long")
    )


def remove_after_dot(col: Column | str) -> Column:
    """P2 — ``'6171010003.0'`` → ``'6171010003'`` (split on '.', take [0]).

    Reference transformer.py:9-11, applied to merchant ``kelurahan_id``
    after ``astype(str)`` — so a null becomes the literal string ``'nan'``
    and survives (the reference's ``# TODO: Hapus nan`` wart,
    server.py:45). This function is wart-free (string in, string out);
    null handling is the caller's choice via :func:`empty_to_null`.
    """
    return F.substring_index(_c(col), ".", 1)


def split_date_start(col: Column | str) -> Column:
    """P3 — ``'<start> s/d <end>'`` → start timestamp.

    Reference transformer.py:16-20 splits on the literal ``' s/d '``
    (Indonesian "sampai dengan", i.e. "until") and parses element [0].
    The reference uses a row-wise ``df.apply(axis=1)`` (server.py:59-63);
    that is an artifact — this is a per-column narrow expression.
    """
    return F.to_timestamp(F.split(_c(col), " s/d ").getItem(0), "yyyy-MM-dd HH:mm:ss")


def split_date_end(col: Column | str) -> Column:
    """P3 — ``'<start> s/d <end>'`` → end timestamp (transformer.py:26-30)."""
    return F.to_timestamp(F.split(_c(col), " s/d ").getItem(1), "yyyy-MM-dd HH:mm:ss")


def get_lat(col: Column | str) -> Column:
    """P4 — ``'lat,lng'`` → double lat (transformer.py:33-42).

    Pre-clean strips tabs and spaces; the reference's no-comma fallback
    branch is dead on real data (0 rows lack a comma — SURVEY P4), so the
    engine implements the live path: text before the first comma.
    """
    return (
        F.split(F.regexp_replace(_c(col), r"[\t ]", ""), ",")
        .getItem(0)
        .cast("double")
    )


def get_lng(col: Column | str) -> Column:
    """P5 — lng from ``'lat,lng'`` including the corrupt 31-tab variant.

    10/1878 reference rows look like ``'<lat>,<lng> \\t×31<lat>'``
    (transformer.py:45-54). Taking text before the first tab, trimming,
    taking the first space-separated field, then the post-comma part
    reproduces the reference's clean → split-space → split-comma chain for
    both clean and corrupt rows.
    """
    first_field = F.split(
        F.trim(F.substring_index(_c(col), "\t", 1)), " "
    ).getItem(0)
    return F.split(first_field, ",").getItem(1).cast("double")


def rounded_dist(col: Column | str) -> Column:
    """P6 — ``int(float('5.55'))`` → 5: truncation toward zero, despite the
    reference name ``get_rounded_dist`` (transformer.py:22-24). Spark's
    double→long cast also truncates toward zero, so the cast IS the
    semantics (documented + tested for negatives)."""
    return _c(col).cast("double").cast("long")


def duration_minutes(start: Column | str, end: Column | str) -> Column:
    """P7 — ``(end - start).total_seconds() / 60`` then int-truncate
    (transformer.py:13-14, server.py:88-90)."""
    secs = F.unix_timestamp(_c(end)) - F.unix_timestamp(_c(start))
    return (secs / F.lit(60)).cast("long")


def is_male(col: Column | str) -> Column:
    """P8 — ``user_gender == 'L'`` boolean derivation (server.py:33,49)."""
    return _c(col) == F.lit("L")


def empty_to_null(col: Column | str) -> Column:
    """J3 prerequisite — the fact's ``merchant_id`` is ``''`` for every
    BIKE/CAR row (931/1878); an empty-string key must not join. Null it
    before the join (SURVEY §2.3 J3)."""
    return F.nullif(_c(col), F.lit(""))
