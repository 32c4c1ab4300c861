"""Per-group statistics as native window and aggregate expressions:
z-scores, correlation, MAD outliers, min-max scaling, concentration and
two-regressor OLS.

Scale note: each operator shuffles once on the group key and streams the
partition through window or aggregate functions — no per-group pandas
frame is held in memory, so power-law groups cost sort time, not heap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def zscore_native(
    df: DataFrame,
    key: str = "o_custkey",
    val: str = "o_totalprice",
    id_col: str = "o_orderkey",
) -> DataFrame:
    """Per-group z-score via window aggregates (sample stddev, ddof=1).
    Single-member groups and zero-variance groups yield null."""
    w = Window.partitionBy(key)
    mean = F.avg(val).over(w)
    std = F.stddev_samp(F.col(val)).over(w)
    z = F.when(std > 0, (F.col(val) - mean) / std)
    return df.select(
        F.col(key), F.col(id_col), F.round(z, 6).alias("zscore")
    )


def grouped_corr(
    df: DataFrame,
    keys: list[str],
    x: str,
    y: str,
    scale: int = 100,
) -> DataFrame:
    """Per-group Pearson correlation and least-squares slope, engine-exact.

    ``F.corr`` (and DuckDB's ``corr``) accumulate double moments in
    partition order — nondeterministic in the last ulp, so the two
    engines can disagree after rounding. Instead accumulate the five
    moment sums (n, Σx, Σy, Σx², Σy², Σxy) over *integers* (values
    rounded at ``scale``, products in DECIMAL(38,0) — exact, associative,
    order-free), then evaluate the closed forms once per group on the
    exact moments. The single double-precision evaluation of identical
    exact inputs is IEEE-deterministic across engines; results are
    rounded to 6 decimals.

        corr  = (nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²))
        slope = (nΣxy − ΣxΣy) / (nΣx²−(Σx)²)        (y on x)

    Scale note: this is one partial-aggregated shuffle on the group key —
    the same plan shape as any groupBy().agg(); the moment trick adds no
    extra pass. Magnitudes: Σ(xy) for cent-scaled TPC-H measures stays
    ~1e16–1e17 ≪ the 1e38 decimal ceiling.

    Zero-variance (or singleton) groups yield null corr/slope.
    """
    xi = F.round(F.col(x) * scale).cast("long").cast("decimal(38,0)")
    yi = F.round(F.col(y) * scale).cast("long").cast("decimal(38,0)")
    agg = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(xi).alias("_sx"),
        F.sum(yi).alias("_sy"),
        F.sum(xi * xi).alias("_sxx"),
        F.sum(yi * yi).alias("_syy"),
        F.sum(xi * yi).alias("_sxy"),
    )
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    cov_num = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    corr = F.when(
        (var_x > 0) & (var_y > 0),
        F.round(cov_num / (F.sqrt(var_x) * F.sqrt(var_y)), 6),
    )
    slope = F.when(var_x > 0, F.round(cov_num / var_x, 6))
    return agg.select(
        *keys,
        F.col("_n").alias("n"),
        corr.alias("corr_xy"),
        slope.alias("slope_yx"),
    )


def mad_outliers(
    df: DataFrame,
    keys: list[str],
    value: str,
    scale: int = 10_000,
    k: float = 3.0,
) -> DataFrame:
    """Per-group robust outlier stats via median absolute deviation.

    The z-score flags outliers against mean/stddev, which outliers
    themselves corrupt; the MAD rule (|v − median| > k·MAD) is the
    robust version. Engine-exact by the same discipline as
    ``grouped_corr``: values are fixed-point longs (``round(v·scale)``),
    and exact percentiles over integers interpolate to exact binary
    fractions (x or x±0.5 for the median of longs, quarters for the MAD
    of those deviations), so the doubles are bit-stable cross-engine —
    the DuckDB twin is ``quantile_cont``.

    Three aggregations + two joins, all on the same group key — one
    logical shuffle partitioning reused across stages. Exact percentile
    sorts within each group's partition; bounded-cardinality keys
    (event_type) mean few large groups, which is exactly the
    single-pass-sort shape ``percentile`` handles without driver state.

    Returns ``(keys…, n, median_fp, mad_fp, n_outliers)`` — the fixed
    -point stats are left unscaled so every column is hash-exact.
    """
    vfp = F.round(F.col(value) * scale).cast("long")
    base = df.select(*keys, vfp.alias("_v"))
    med = base.groupBy(*keys).agg(F.percentile("_v", 0.5).alias("_med"))
    dev = base.join(med, keys).select(
        *keys,
        F.col("_med"),
        F.abs(F.col("_v").cast("double") - F.col("_med")).alias("_dev"),
    )
    mad = dev.groupBy(*keys).agg(F.percentile("_dev", 0.5).alias("_mad"))
    return (
        dev.join(mad, keys)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("_med").alias("median_fp"),
            F.min("_mad").alias("mad_fp"),
            F.count(F.when(F.col("_dev") > F.lit(k) * F.col("_mad"), 1))
            .alias("n_outliers"),
        )
    )


def minmax_normalize(
    df: DataFrame,
    key: str = "o_orderstatus",
    val: str = "o_totalprice",
    id_col: str = "o_orderkey",
) -> DataFrame:
    """Per-group min-max feature scaling to [0, 1], engine-exact.

    The normalized value ``(x − min) / (max − min)`` is evaluated ONCE
    in doubles over exact integer (cent-scaled) operands: integers
    below 2^53 are exact in double, the subtraction of exact integers
    is exact, and the single division is correctly rounded — so both
    engines produce bit-identical doubles before the 6-decimal round
    (the a15 contract). Zero-range groups (max == min) yield null.

    Plan shape: one partial-aggregated groupBy for the per-group
    bounds, then one key-equality join back. Deliberately NOT a
    partition-wide window: a low-cardinality key (3 order statuses)
    would funnel each group through a single window task, while the
    agg+join form keeps the data pass fully parallel and the bounds
    table tiny (it broadcasts when small, shuffles when the key is
    high-cardinality — both correct).

    Returns (key, id_col, cents, norm_01).
    """
    cents = F.round(F.col(val) * 100).cast("long")
    bounds = df.groupBy(key).agg(
        F.min(cents).alias("_mn"), F.max(cents).alias("_mx")
    )
    out = df.select(F.col(key), F.col(id_col), cents.alias("cents")).join(
        bounds, key
    )
    norm = F.when(
        F.col("_mx") > F.col("_mn"),
        F.round(
            (F.col("cents") - F.col("_mn")).cast("double")
            / (F.col("_mx") - F.col("_mn")).cast("double"),
            6,
        ),
    )
    return out.select(key, id_col, "cents", norm.alias("norm_01"))


def gini_concentration(
    df: DataFrame,
    key: str,
    val_cents: str,
) -> DataFrame:
    """Per-group Gini coefficient of an integer measure, engine-exact.

    Inequality-of-spend in one number per group (0 = everyone equal,
    →1 = one member holds everything), via the sorted-rank closed form

        G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ)

    with xᵢ ascending and i = 1..n the DENSE position under the strict
    order (value, then input row order made strict by the caller's id —
    ties in x contribute symmetrically, so any strict tiebreak yields
    the same G; row_number here is ordered by value only and remains
    correct because equal values are interchangeable in the formula).

    Both moment sums run as DECIMAL(38,0) over exact integers (rank ×
    cents products overflow BIGINT near 2^63 for ~1e9-member groups);
    the closed form is ONE double evaluation + 6-decimal round (the
    a15 contract). Empty/zero-total groups yield null.

    Scale shape: one shuffle to the (key, member) grain, one per-group
    ordered window for ranks, one moment agg on the key. The window
    partitions by group — bounded by members-per-group; for a single
    global Gini over ~1e9 members switch the rank to the d14 two-pass
    per-shard offset pattern.

    Returns (key, n_members, total_cents, gini).
    """
    x = F.col(val_cents).cast("decimal(38,0)")
    w = Window.partitionBy(key).orderBy(F.col(val_cents).asc())
    ranked = df.select(
        F.col(key),
        x.alias("_x"),
        F.row_number().over(w).cast("decimal(38,0)").alias("_i"),
    )
    agg = ranked.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("_x").alias("_sx"),
        F.sum(F.col("_i") * F.col("_x")).alias("_six"),
    )
    n = F.col("n_members").cast("double")
    sx = F.col("_sx").cast("double")
    six = F.col("_six").cast("double")
    gini = F.when(
        F.col("_sx") > 0,
        F.round((2.0 * six - (n + 1.0) * sx) / (n * sx), 6),
    )
    return agg.select(
        key,
        "n_members",
        F.col("_sx").cast("long").alias("total_cents"),
        gini.alias("gini"),
    )


def grouped_ols2(
    df: DataFrame,
    keys: list[str],
    x1: str,
    x2: str,
    y: str,
    y_scale: int = 100,
) -> DataFrame:
    """Per-group TWO-FEATURE least squares (ŷ = b0 + b1·x1 + b2·x2) via
    the normal equations on exact integer moments — `grouped_corr`'s
    discipline extended from one regressor to two: accumulate the ten
    moment sums (n, Σx1, Σx2, Σy, Σx1², Σx2², Σx1x2, Σx1y, Σx2y, Σy²)
    over integers (x1/x2 already integral, y rounded at ``y_scale``;
    products in DECIMAL(38,0) — exact, associative, order-free), then
    evaluate the closed forms ONCE per group in double precision. The
    double expression shapes are mirrored token-for-token in the
    oracle, so the single IEEE evaluation of identical exact inputs is
    cross-engine deterministic (the a15/pf05/g11 pattern).

        A11 = nΣx1²−(Σx1)²   A22 = nΣx2²−(Σx2)²   A12 = nΣx1x2−Σx1Σx2
        C1  = nΣx1y−Σx1Σy    C2  = nΣx2y−Σx2Σy    det = A11·A22−A12²
        b1 = (A22·C1−A12·C2)/det      b2 = (A11·C2−A12·C1)/det
        R² = (b1·C1 + b2·C2)/(nΣy²−(Σy)²)

    Collinear or degenerate groups (det ≤ 0, Gram determinant — never
    negative in exact arithmetic) yield NULL slopes; zero-variance y
    yields NULL R². One partial-aggregated shuffle on the group key —
    the same plan shape as any groupBy().agg(); slopes are in
    y-units-per-x-unit at ``y_scale`` granularity, rounded to 6
    decimals.
    """
    x1i = F.col(x1).cast("long").cast("decimal(38,0)")
    x2i = F.col(x2).cast("long").cast("decimal(38,0)")
    yi = F.round(F.col(y) * y_scale).cast("long").cast("decimal(38,0)")
    agg = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x1i).alias("_s1"),
        F.sum(x2i).alias("_s2"),
        F.sum(yi).alias("_sy"),
        F.sum(x1i * x1i).alias("_s11"),
        F.sum(x2i * x2i).alias("_s22"),
        F.sum(x1i * x2i).alias("_s12"),
        F.sum(x1i * yi).alias("_s1y"),
        F.sum(x2i * yi).alias("_s2y"),
        F.sum(yi * yi).alias("_syy"),
    )
    n = F.col("_n").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    sy = F.col("_sy").cast("double")
    s11 = F.col("_s11").cast("double")
    s22 = F.col("_s22").cast("double")
    s12 = F.col("_s12").cast("double")
    s1y = F.col("_s1y").cast("double")
    s2y = F.col("_s2y").cast("double")
    syy = F.col("_syy").cast("double")
    a11 = n * s11 - s1 * s1
    a22 = n * s22 - s2 * s2
    a12 = n * s12 - s1 * s2
    c1 = n * s1y - s1 * sy
    c2 = n * s2y - s2 * sy
    det = a11 * a22 - a12 * a12
    sst = n * syy - sy * sy
    b1u = (a22 * c1 - a12 * c2) / det
    b2u = (a11 * c2 - a12 * c1) / det
    b1 = F.when(det > 0, F.round(b1u, 6))
    b2 = F.when(det > 0, F.round(b2u, 6))
    r2 = F.when(
        (det > 0) & (sst > 0), F.round((b1u * c1 + b2u * c2) / sst, 6)
    )
    return agg.select(
        *keys,
        F.col("_n").cast("long").alias("n"),
        b1.alias("b1"),
        b2.alias("b2"),
        r2.alias("r2"),
    )
