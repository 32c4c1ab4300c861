"""Contribution / concentration analytics: ABC (Pareto) classification.

Reference parity: the reference's pandas layer sorts a revenue series and
tags cumulative-share classes driver-side (single-node sort + cumsum);
here the same semantics are distributed with NO global-order window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["abc_classification"]


def abc_classification(
    df: DataFrame,
    value_col: str,
    key_col: str,
) -> DataFrame:
    """Classic ABC / Pareto contribution classes over a NON-NEGATIVE
    integer measure: rank rows by value descending, cumulative share of
    the grand total ≤ 80% → 'A', ≤ 95% → 'B', else 'C'. Ties are broken by ``key_col`` ascending, so the
    classification is fully deterministic.

    Scale design — the textbook formulation is a single global-order
    running sum, which Spark executes as ONE partition holding every
    row. Instead the running sum is computed in two levels:

    1. Rows bucket by ``(digit_count, first_two_digits)`` of the integer
       value. For non-negative integers that bucket key orders STRICTLY
       by value across buckets (same digit count + larger 2-digit prefix
       ⇒ larger number; equal values always share a bucket), and the
       bucket count is bounded by the value's digit budget (≤ ~1.1k for
       BIGINT), never by row count.
    2. Bucket totals (a tiny frame) take a running sum ordered by bucket
       rank descending — the only unpartitioned window, over ≤ ~1.1k
       rows at ANY data size. Row-level running sums are then windows
       PARTITIONED by bucket (value-range partitions), offset by the
       strictly-higher buckets' total.

    All accumulation is DECIMAL(38,0) (a BIGINT cumsum overflows around
    1e19 — reachable summing micro-unit money at 100 TB); the class
    predicates are pure integer comparisons (``cum·100 ≤ total·pct``),
    so an external engine with HUGEINT arithmetic agrees exactly.

    Returns (``key_col``, ``value_col``, abc_class STRING).
    """
    lo, hi = (80, 95)
    if not (0 < lo < hi <= 100):
        raise ValueError("abc_classification: need 0 < lo < hi <= 100")
    v = df.select(
        F.col(key_col).alias("_key"), F.col(value_col).cast("long").alias("_val")
    )
    s = F.col("_val").cast("string")
    bucketed = v.select(
        "_key",
        "_val",
        F.length(s).alias("_dc"),
        F.substring(s, 1, 2).cast("int").alias("_p2"),
    )

    dec = F.col("_val").cast("decimal(38,0)")
    totals = bucketed.groupBy("_dc", "_p2").agg(F.sum(dec).alias("_bt"))
    # tiny frame: one row per (digit-count, 2-digit prefix) bucket
    rank_order = Window.orderBy(F.desc("_dc"), F.desc("_p2"))
    above = F.sum("_bt").over(
        rank_order.rowsBetween(Window.unboundedPreceding, -1)
    )
    grand = F.sum("_bt").over(
        Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    totals = totals.select(
        "_dc",
        "_p2",
        F.coalesce(above, F.lit(0).cast("decimal(38,0)")).alias("_above"),
        grand.alias("_grand"),
    )

    in_bucket = Window.partitionBy("_dc", "_p2").orderBy(
        F.desc("_val"), F.asc("_key")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = (F.col("_above") + F.sum(dec).over(in_bucket)).alias("_cum")
    ranked = bucketed.join(F.broadcast(totals), ["_dc", "_p2"]).select(
        "_key", "_val", "_grand", cum
    )
    cls = (
        F.when(F.col("_cum") * 100 <= F.col("_grand") * lo, "A")
        .when(F.col("_cum") * 100 <= F.col("_grand") * hi, "B")
        .otherwise("C")
    )
    return ranked.select(
        F.col("_key").alias(key_col),
        F.col("_val").alias(value_col),
        cls.alias("abc_class"),
    )
