"""Deterministic aggregate helpers.

Floating-point sums are order-dependent, and Spark's partial aggregation
sums partitions in nondeterministic order — two runs (or two engines) can
disagree in the last ulp, which matters the moment the result is rounded
at a boundary (observed: a revenue sum landing on x.795 rounding to .79
in one engine and .80 in the other).

``fixed_point_sum`` removes the nondeterminism for decimal-valued
measures (money, quantities): round each term to a fixed scale, sum exact
integers (associative, order-independent), scale back once.

A second, subtler hazard: even on IDENTICAL doubles, engines can round
differently at half boundaries — Spark rounds the exact decimal
expansion of the double (BigDecimal HALF_UP) while DuckDB rounds via
float multiply — observed live at a 6th-decimal centroid boundary
(0.0032135). The cure is to perform the FINAL rounding in integer
space too: divide exact integers so any half boundary lands on an
exactly-representable binary value (m.5 with small m), where both
algorithms agree. ``fixed_point_sum`` and ``fixed_point_avg`` below do
this; the oracle SQL mirrors the same arithmetic.

Magnitude precondition (documented, generous): intermediate integers
must stay below 2^53 so the double arithmetic on them is exact —
≈ 9e15, i.e. sums up to ~90 trillion cents. Beyond that, switch the
helpers to DecimalType.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _half_up_div(num: Column, den: Column | int) -> Column:
    """Exact round-half-away-from-zero of integer ``num / den``
    (den a positive integer column or literal), computed with floor on
    exactly representable doubles: floor((2|n| + d) / (2d)), sign
    restored."""
    d = F.lit(den).cast("long") if isinstance(den, int) else den
    mag = F.floor((2 * F.abs(num) + d) / (2 * d)).cast("long")
    return F.when(num < 0, -mag).otherwise(mag)


def fixed_point_sum(col: Column, scale: int = 10_000) -> Column:
    """Order-independent, engine-exact sum of a decimal-valued double
    column, reported at 2 decimals.

    The BIGINT accumulator has per-GROUP headroom 2⁶³/(|value|·scale)
    rows — ~6×10⁹ rows/group for TPC-H prices at the default scale
    (≈ SF1000 for q01's four groups). Past it the sum raises under ANSI
    mode, Spark 4's default, instead of overflowing silently; and
    `_half_up_div`'s double floor is exact only while 2·|sum| < 2⁵³."""
    out_scale = 100
    f = scale // out_scale
    s = F.sum(F.round(col * scale).cast("long"))
    if f <= 1:
        # the integer sum is already at (or finer than) the output scale
        return F.round(s.cast("double") / F.lit(scale), 2)
    # integer rounding to the output scale, then one exact scale-back
    return _half_up_div(s, f).cast("double") / F.lit(out_scale)


def fixed_point_avg(
    col: Column, scale: int = 100, round_to: int = 4
) -> Column:
    """Order-independent, engine-exact average: round-half-up of
    (sum_scaled * 10^round_to) / (scale * count) in integer space, then
    one exact scale-back. Avoids the cross-engine half-boundary
    divergence a float division + round would reintroduce."""
    s = F.sum(F.round(col * scale).cast("long"))
    n = F.count(F.lit(1))
    out_scale = 10**round_to
    num = s * F.lit(out_scale)
    den = F.lit(scale).cast("long") * n
    return _half_up_div(num, den).cast("double") / F.lit(out_scale)


def exact_percentiles_selection(
    df, value_col: str, qs: tuple[int, ...] = (50, 95, 99)
):
    """EXACT nearest-rank percentiles of a non-negative integer column
    with NO global sort/window — the two-scan distributed selection:

    1. rows bucket by (digit_count, 2-digit prefix) — the a26 value-
       ordered bucketing, ≤ ~1.1k buckets at any size — and one small
       agg counts each bucket; the bucket CDF locates, per q, the
       bucket containing global rank ``ceil(q·n/100)``;
    2. ONLY the target buckets' rows are re-aggregated per distinct
       VALUE (a hash agg, still no row-level ordering) and the
       within-bucket value CDF — a window over the bucket's DISTINCT
       values — names the exact answer.

    The classic formulation (`a11`, `a20`) ranks every row in one
    total order: a single partition holding the table. Here the only
    ordered frames are the bucket list and one bucket's distinct
    values. Equal-value mass is free (it collapses in the hash agg);
    the residual skew case — one bucket holding many DISTINCT values —
    is bounded by the 2-digit bucket width (one decade/10) of the
    value domain, not by row count.

    Returns a 1-row DataFrame (p{q} BIGINT per q). Engine-exact: pure
    integer ranks (ceil via (q·n + 99) div 100), so a SQL oracle using
    global nearest-rank agrees.
    """
    from pyspark.sql import Window

    v = F.col(value_col).cast("long")
    s = v.cast("string")
    bucketed = df.select(
        v.alias("_v"), F.length(s).alias("_dc"),
        F.substring(s, 1, 2).cast("int").alias("_p2"),
    )
    border = Window.orderBy("_dc", "_p2")
    counts = (
        bucketed.groupBy("_dc", "_p2")
        .agg(F.count(F.lit(1)).alias("_bn"))
        .withColumn(
            "_cum",
            F.sum("_bn").over(
                border.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn(
            "_below",
            F.col("_cum") - F.col("_bn"),
        )
        .withColumn(
            "_n",
            F.sum("_bn").over(
                Window.partitionBy().rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    # per q: the unique bucket where the target rank lands
    targets = counts.select(
        "_dc", "_p2", "_below", "_n",
        F.col("_cum"),
        *[
            (
                (F.expr(f"({q} * _n + 99) div 100") > F.col("_below"))
                & (F.expr(f"({q} * _n + 99) div 100") <= F.col("_cum"))
            ).alias(f"_is_q{q}")
            for q in qs
        ],
    )
    hosts_a_target = targets[f"_is_q{qs[0]}"]
    for q in qs[1:]:
        hosts_a_target = hosts_a_target | targets[f"_is_q{q}"]
    targets = targets.filter(hosts_a_target)
    refined = bucketed.join(
        F.broadcast(targets), ["_dc", "_p2"]
    ).groupBy(
        "_dc", "_p2", "_below", "_n",
        *[f"_is_q{q}" for q in qs],
        F.col("_v"),
    ).agg(F.count(F.lit(1)).alias("_vn"))
    in_bucket = Window.partitionBy("_dc", "_p2").orderBy("_v")
    refined = refined.withColumn(
        "_vcum",
        F.col("_below")
        + F.sum("_vn").over(
            in_bucket.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    aggs = [
        F.min(
            F.when(
                F.col(f"_is_q{q}")
                & (F.col("_vcum") >= F.expr(f"({q} * _n + 99) div 100")),
                F.col("_v"),
            )
        ).alias(f"p{q}")
        for q in qs
    ]
    return refined.groupBy().agg(*aggs)
