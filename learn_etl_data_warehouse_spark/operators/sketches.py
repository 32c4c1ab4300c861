"""Mergeable sketch state — the sublinear summaries a 100 TB pipeline
keeps when exact state would be another fact table.

Complements the native sketch surface already in the registry (HLL
``approx_count_distinct`` in a09, ``approx_top_k`` in
a25, KLL percentiles in a14) with daily HLL rollups, mergeable value
histograms, KMV set estimates, a Bloom membership audit, the AMS F2
estimate and a Count-Min audit. Sketches that merge additively —
per-partition / per-day states sum into the global one — stay one
small table whose counts add.

Determinism: the md5-derived sketches take every bucket and register
from ``md5`` of the value, so they are reproducible across runs and
cluster sizes and have exact DuckDB twins. The DataSketches HLL rollups
are engine-specific binaries, so their queries are rows-only.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def daily_hll_sketches(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-day HLL sketch of distinct ``key_col`` — the MERGEABLE
    distinct-count state (Spark's native Apache DataSketches HLL,
    ``hll_sketch_agg``). One sketch row per day; sketches union
    losslessly, so any window/rollup over days is a state-sized
    re-aggregation — the 100 TB answer to exact sliding distinct
    (e21's day-grain pair reduction re-scans pairs; this re-scans
    ~1 KB sketches)."""
    us_day = 86_400_000_000
    return df.groupBy(
        F.expr(f"unix_micros({ts_col}) div {us_day}")
        .cast("long")
        .alias("day")
    ).agg(F.expr(f"hll_sketch_agg({key_col})").alias("sk"))


def rolling_distinct_hll(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """Sliding-window distinct estimate: union the member days'
    sketches per window end and estimate — the approximate twin of the
    exact e21 query (conformance-tested within HLL error bounds).
    Rows-only by nature: the sketch binary is engine-specific.

    Returns (day, n_users_est BIGINT)."""
    daily = daily_hll_sketches(df, key_col, ts_col)
    spine = daily.select(F.col("day").alias("w_day")).distinct()
    j = daily.join(
        F.broadcast(spine),
        (F.col("day") <= F.col("w_day"))
        & (F.col("day") >= F.col("w_day") - (int(window_days) - 1)),
    )
    return (
        j.groupBy(F.col("w_day").alias("day"))
        .agg(F.expr("hll_union_agg(sk)").alias("u"))
        .select(
            "day",
            F.expr("hll_sketch_estimate(u)").cast("long").alias(
                "n_users_est"
            ),
        )
    )


def value_histogram_state(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Mergeable log-bucket value histogram at day grain — the
    percentile-dashboard state the hourly_preagg pattern can't carry
    (quantiles aren't mergeable, but BUCKET COUNTS are). Buckets are
    (digit_count, first_digit) of the non-negative integer cent value:
    ~2-significant-figure resolution, ≤ ~180 buckets for BIGINT range,
    purely integer-derived (string length + first char — no libm log),
    so any engine buckets identically. Day states merge to ANY coarser
    grain by summing counts.

    Returns (key, day BIGINT — epoch days, dc, fd, n BIGINT).
    """
    cents = F.round(F.col(value_col) * 100).cast("long")
    s = cents.cast("string")
    us_day = 86_400_000_000
    return (
        events.select(
            F.col(key_col).alias("key"),
            F.expr(f"unix_micros({ts_col}) div {us_day}")
            .cast("long")
            .alias("day"),
            F.length(s).alias("dc"),
            F.substring(s, 1, 1).cast("int").alias("fd"),
        )
        .groupBy("key", "day", "dc", "fd")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def histogram_percentiles(
    state: DataFrame, qs: tuple[int, ...] = (50, 95, 99)
) -> DataFrame:
    """Answer p{q} per key from merged histogram states: the first
    bucket whose cumulative count covers q% of the total, reported as
    the bucket's integer lower bound (fd·10^(dc−1) cents, built by
    string repetition — no float pow). Nearest-rank on buckets via the
    pure integer predicate cum·100 ≥ q·total, so the answer is exact
    over the bucketing (±one bucket of true, i.e. ~2 significant
    figures) and engine-identical. The cumsum window is per-key over a
    BOUNDED bucket alphabet — never over rows."""
    from pyspark.sql import Window

    merged = state.groupBy("key", "dc", "fd").agg(
        F.sum("n").cast("long").alias("n")
    )
    w = (
        Window.partitionBy("key")
        .orderBy("dc", "fd")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("key")
    lb = F.concat(
        F.col("fd").cast("string"), F.repeat(F.lit("0"), F.col("dc") - 1)
    ).cast("long")
    scored = merged.select(
        "key",
        lb.alias("_lb"),
        F.sum("n").over(w).alias("_cum"),
        F.sum("n").over(tot).alias("_tot"),
    )
    aggs = [
        F.min(
            F.when(F.col("_cum") * 100 >= q * F.col("_tot"), F.col("_lb"))
        ).alias(f"p{q}_cents_lb")
        for q in qs
    ]
    return scored.groupBy("key").agg(*aggs)


def md5_hll_registers(
    df: DataFrame,
    key_col: str,
    group_col,
    group_alias: str = "grp",
    m: int = 64,
) -> DataFrame:
    """Deterministic HyperLogLog register state per group — md5-derived
    (the d11/st01 portable-hash discipline), so unlike the native
    ``approx_count_distinct``/``hll_sketch_agg`` family (a09/e22,
    rows-only by nature) the whole sketch AND its estimate are
    reproducible cross-engine and therefore oracle-backable.

    Per key: 4 hex chars of ``md5(key)`` pick the register (uniform —
    16 bits divisible by ``m`` for power-of-two m), the next 6 hex
    chars give a 21-bit value ``v``; ``rho`` = leading zeros of the
    21-bit string + 1 = ``22 − length(bin(v))`` (``bin`` strips leading
    zeros identically on both engines; v = 0 pins rho = 22). Register
    state = max(rho) — MAX-MERGEABLE: sketches of disjoint batches (or
    replays of the SAME batch) fold by per-register max, so a replay
    needs no ledger.

    One hash agg at (group, register) grain; output ≤ m rows per group.
    """
    if m & (m - 1) or m > 65536:
        raise ValueError(f"m must be a power of two <= 65536, got {m}")
    grp = F.col(group_col) if isinstance(group_col, str) else group_col
    h = F.md5(F.col(key_col).cast("string").cast("binary"))
    reg = F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % m
    v = F.conv(F.substring(h, 5, 6), 16, 10).cast("long") % (1 << 21)
    rho = F.when(v == 0, F.lit(22)).otherwise(22 - F.length(F.bin(v)))
    return (
        df.select(grp.alias(group_alias), reg.alias("reg"), rho.alias("_r"))
        .groupBy(group_alias, "reg")
        .agg(F.max("_r").cast("long").alias("rho_max"))
    )


def md5_hll_estimate(regs: DataFrame, group_alias: str = "grp", m: int = 64):
    """Raw HLL estimate from a register table, all-integer: with S =
    Σ 2^(40−rho) over all m registers (absent registers contribute
    2^40, i.e. rho = 0), est = (alpha·m²·2^40) div (1000·S) with alpha
    the standard HLL bias constant as a per-thousand rational
    (673/697/709 for m = 16/32/64); every operand stays under 2^63 for
    m ≤ 64 — larger m would overflow and raises (move to DECIMAL(38,0)
    first). NO small-range (linear-counting) correction
    — ``n_zero_registers`` is emitted so a consumer can apply it; the
    raw estimate is what the oracle pins.
    """
    alpha_ppt = {16: 673, 32: 697, 64: 709}
    if m not in alpha_ppt:
        raise ValueError(
            f"m={m} unsupported: the BIGINT estimate constant needs"
            " m in (16, 32, 64)"
        )
    shifted = F.expr("shiftleft(CAST(1 AS BIGINT), 40 - CAST(rho_max AS INT))")
    agg = regs.groupBy(group_alias).agg(
        F.count(F.lit(1)).cast("long").alias("_n_used"),
        F.sum(shifted).cast("long").alias("_s_present"),
    )
    num = alpha_ppt[m] * m * m * (1 << 40)
    s = (
        f"(_s_present + ({m} - _n_used) * CAST({1 << 40} AS BIGINT))"
    )
    return agg.select(
        group_alias,
        (m - F.col("_n_used")).cast("long").alias("n_zero_registers"),
        F.expr(f"CAST({num} AS BIGINT) div (1000 * {s})")
        .cast("long")
        .alias("est_ndv"),
    )


def kmv_set_estimates(
    df: DataFrame,
    key_col: str,
    group_col: str,
    group_a,
    group_b,
    k: int = 256,
) -> DataFrame:
    """K-MINIMUM-VALUES set-operation estimates for two groups — the
    sketch that answers what HLL structurally can't: DISTINCT-count
    estimates for the UNION and INTERSECTION of two sets (Beyer et al.
    2007; the Theta-sketch ancestor). Per group, the sketch is the k
    smallest 48-bit md5 values of the distinct keys; est_ndv =
    (k−1)·2^48 div h_k for a full sketch (a short sketch IS the set —
    estimate = its size, exact). The union sketch is the k smallest of
    the merged value sets; intersection ≈ (matches · est_union) div kU
    where matches counts union-sketch members present in BOTH sides.
    Deterministic md5 + pure integer arithmetic end to end, so the
    whole sketch AND every estimate is oracle-exact (the sk01
    discipline); exact twins ride along for self-audit.

    Scale design: the k-smallest selection never window-ranks a
    data-proportional partition — distinct hashes are pre-filtered to
    h < min(2^48, (2^48·4k) div n) (n = the group's exact NDV, one
    agg), a deterministic threshold that keeps ~4k survivors (Chernoff
    concentration), and only that O(k) set is ranked. Both engines
    apply the identical filter, so parity is immune to the (vanishing)
    chance of the filter under-keeping — only estimate quality would
    degrade, never cross-engine agreement.

    Returns ONE row: (k, est_a, exact_a, est_b, exact_b, est_union,
    est_intersection, exact_intersection).
    """
    if k < 2:
        raise ValueError("kmv_set_estimates: k must be >= 2")
    two48 = 1 << 48
    grp = F.col(group_col)
    h = F.conv(
        F.substring(
            F.md5(F.col(key_col).cast("string").cast("binary")), 1, 12
        ),
        16,
        10,
    ).cast("long")
    base = (
        df.filter(grp.isin([group_a, group_b]))
        .select(
            F.when(grp == group_a, F.lit("a")).otherwise(F.lit("b")).alias(
                "_g"
            ),
            h.alias("_h"),
        )
        .distinct()
    )
    sizes = base.groupBy("_g").agg(F.count(F.lit(1)).cast("long").alias("_n"))
    thr = F.expr(
        f"least(CAST({two48} AS BIGINT),"
        f" (CAST({two48} AS BIGINT) * {4 * k}) div greatest(_n, 1))"
    )
    surv = base.join(F.broadcast(sizes), "_g").filter(F.col("_h") < thr)
    w = Window.partitionBy("_g").orderBy(F.asc("_h"))
    sk = surv.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )

    def est_for(tag):
        s = sk.filter(F.col("_g") == tag)
        agg = s.agg(
            F.count(F.lit(1)).cast("long").alias("_sz"),
            F.max(F.when(F.col("_rn") == k, F.col("_h"))).alias("_hk"),
        )
        return agg.select(
            F.when(
                F.col("_sz") < k, F.col("_sz")
            )
            .otherwise(
                F.expr(f"(CAST({k - 1} AS BIGINT) * {two48}) div _hk")
            )
            .cast("long")
            .alias(f"est_{tag}")
        )

    union_vals = sk.select("_h").distinct()
    uw = Window.orderBy(F.asc("_h"))
    usk = union_vals.withColumn("_urn", F.row_number().over(uw)).filter(
        F.col("_urn") <= k
    )
    in_a = sk.filter(F.col("_g") == "a").select("_h").distinct()
    in_b = sk.filter(F.col("_g") == "b").select("_h").distinct()
    marked = (
        usk.join(in_a.withColumn("_ia", F.lit(1)), "_h", "left")
        .join(in_b.withColumn("_ib", F.lit(1)), "_h", "left")
    )
    uagg = marked.agg(
        F.count(F.lit(1)).cast("long").alias("_ku"),
        F.max(F.when(F.col("_urn") == k, F.col("_h"))).alias("_uhk"),
        F.sum(
            F.when(F.col("_ia").isNotNull() & F.col("_ib").isNotNull(), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("_matches"),
    ).select(
        F.when(F.col("_ku") < k, F.col("_ku"))
        .otherwise(F.expr(f"(CAST({k - 1} AS BIGINT) * {two48}) div _uhk"))
        .cast("long")
        .alias("est_union"),
        "_ku",
        "_matches",
    )
    exact = (
        df.filter(grp.isin([group_a, group_b]))
        .select(
            F.when(grp == group_a, F.lit("a")).otherwise(F.lit("b")).alias(
                "_g"
            ),
            F.col(key_col).alias("_k"),
        )
        .distinct()
        .groupBy("_k")
        .agg(
            F.max(F.when(F.col("_g") == "a", 1).otherwise(0)).alias("_a"),
            F.max(F.when(F.col("_g") == "b", 1).otherwise(0)).alias("_b"),
        )
        .agg(
            F.sum("_a").cast("long").alias("exact_a"),
            F.sum("_b").cast("long").alias("exact_b"),
            F.sum(F.col("_a") * F.col("_b")).cast("long").alias(
                "exact_intersection"
            ),
        )
    )
    out = (
        est_for("a")
        .crossJoin(est_for("b"))
        .crossJoin(uagg)
        .crossJoin(F.broadcast(exact))
    )
    return out.select(
        F.lit(int(k)).cast("long").alias("k"),
        "est_a",
        "exact_a",
        "est_b",
        "exact_b",
        "est_union",
        F.expr("(_matches * est_union) div greatest(_ku, 1)")
        .cast("long")
        .alias("est_intersection"),
        "exact_intersection",
    )


def bloom_membership_audit(
    df: DataFrame,
    key_col: str,
    group_col: str,
    group_a,
    group_b,
    m_bits: int = 8192,
    k_hashes: int = 2,
) -> DataFrame:
    """BLOOM-FILTER membership audit — the fourth sketch next to
    Count-Min (frequency), HLL (cardinality) and KMV (set ops): an
    ``m_bits``-bit filter with ``k_hashes`` deterministic md5 hash
    functions is built from group A's distinct keys, then EVERY group-B
    distinct key probes it; the audit reports the measured
    false-positive rate against exact membership — the per-corpus
    evidence behind choosing m/k (the same instrument d36 is for LSH).
    Deterministic md5 slices end to end (the sk01 discipline), so the
    whole filter AND the audit row are oracle-exact; no false negative
    is possible by construction (a member's bits are all set), which
    the audit exposes as n_in_bloom ≥ n_members.

    Scale shape: the filter is the DISTINCT (bit-position) set — at
    most ``m_bits`` rows, never data-proportional after the distinct;
    probes are a bounded explode (k per key) + one broadcastable join
    on position. Returns ONE row: (m_bits, k_hashes, n_a, n_b,
    bits_set, n_in_bloom, n_members, n_false_pos, fp_ppm) where fp_ppm
    is over the true non-members."""
    if k_hashes < 1:
        raise ValueError("bloom_membership_audit: k_hashes must be >= 1")
    grp = F.col(group_col)
    base = (
        df.filter(grp.isin([group_a, group_b]))
        .select(
            F.when(grp == group_a, F.lit("a")).otherwise(F.lit("b")).alias(
                "_g"
            ),
            F.col(key_col).cast("string").alias("_k"),
        )
        .distinct()
    )

    def pos(j: int):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit(f"bf{j}:"), F.col("_k")).cast(
                            "binary"
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % int(m_bits)
        )

    a_keys = base.filter(F.col("_g") == "a").select("_k")
    b_keys = base.filter(F.col("_g") == "b").select("_k")
    bits = (
        a_keys.select(
            F.explode(F.array(*[pos(j) for j in range(k_hashes)])).alias(
                "_p"
            )
        )
        .distinct()
        .withColumn("_set", F.lit(1))
    )
    probes = b_keys.select(
        "_k",
        F.explode(
            F.array_distinct(F.array(*[pos(j) for j in range(k_hashes)]))
        ).alias("_p"),
    )
    hit = (
        probes.join(bits, "_p", "left")
        .groupBy("_k")
        .agg(
            (
                F.count(F.lit(1)) == F.sum(F.coalesce(F.col("_set"), F.lit(0)))
            )
            .cast("long")
            .alias("_in_bloom")
        )
    )
    member = a_keys.select(F.col("_k"), F.lit(1).alias("_member"))
    audit = hit.join(member, "_k", "left").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum("_in_bloom").cast("long").alias("n_in_bloom"),
        F.sum(F.coalesce(F.col("_member"), F.lit(0)))
        .cast("long")
        .alias("n_members"),
        F.sum(
            F.when(
                (F.col("_in_bloom") == 1) & F.col("_member").isNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_false_pos"),
    )
    na = a_keys.agg(F.count(F.lit(1)).cast("long").alias("n_a"))
    nbits = bits.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))
    return (
        audit.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nbits))
        .select(
            F.lit(int(m_bits)).cast("long").alias("m_bits"),
            F.lit(int(k_hashes)).cast("long").alias("k_hashes"),
            "n_a",
            "n_b",
            "bits_set",
            "n_in_bloom",
            "n_members",
            "n_false_pos",
            F.expr(
                "(1000000 * n_false_pos) div greatest(n_b - n_members, 1)"
            )
            .cast("long")
            .alias("fp_ppm"),
        )
    )


def ams_f2_estimate(
    df: DataFrame, key_col: str, k: int = 16
) -> DataFrame:
    """AMS (Alon–Matias–Szegedy) F₂ SECOND-MOMENT sketch: estimates
    Σ count(key)² — the SELF-JOIN SIZE, the number a join planner wants
    before joining a key with itself (and the classic skew indicator:
    F₂ ≫ N²/ndv means hot keys). Each of ``k`` estimators draws a
    deterministic ±1 sign per key from an md5 slice (s08's sign trick),
    folds Z_j = Σ sign_j·count into ONE key-grain agg, and the estimate
    is the mean of Z_j² — E[Z²] = F₂ exactly. Everything integer
    (squares in DECIMAL(38,0) — a 100 TB Z² exceeds BIGINT; the a31
    lesson), so estimate AND exact twin are oracle-exact — the fifth
    sketch (CM frequency / HLL cardinality / KMV set ops / Bloom
    membership / AMS join size).

    One key-grain hash agg + one k-column fold to a single row.
    Returns ONE row: (k, n_rows, n_keys, f2_exact, f2_est,
    err_ppm) with err_ppm signed vs exact."""
    if k < 1:
        raise ValueError("ams_f2_estimate: k must be >= 1")
    counts = df.groupBy(
        F.col(key_col).cast("string").alias("_k")
    ).agg(F.count(F.lit(1)).cast("long").alias("_n"))
    sign = lambda j: (  # noqa: E731
        1
        - 2
        * (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit(f"ams{j}:"), F.col("_k")).cast(
                            "binary"
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
        )
    )
    aggs = [
        F.sum(sign(j) * F.col("_n")).cast("long").alias(f"_z{j}")
        for j in range(int(k))
    ] + [
        F.sum("_n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.expr("CAST(_n AS DECIMAL(38,0)) * _n")).alias("_f2"),
    ]
    row = counts.agg(*aggs)
    zsq = " + ".join(
        f"CAST(_z{j} AS DECIMAL(38,0)) * _z{j}" for j in range(int(k))
    )
    return row.select(
        F.lit(int(k)).cast("long").alias("k"),
        "n_rows",
        "n_keys",
        F.col("_f2").cast("long").alias("f2_exact"),
        F.expr(f"({zsq}) div {int(k)}").cast("long").alias("f2_est"),
        F.expr(
            f"(CAST(1000000 AS DECIMAL(38,0)) * (({zsq}) div {int(k)})"
            " - CAST(1000000 AS DECIMAL(38,0)) * _f2) div _f2"
        )
        .cast("long")
        .alias("err_ppm"),
    )


def md5_cm_sketch(
    df: DataFrame, key_col: str, width: int = 256, depth: int = 3
) -> DataFrame:
    """Deterministic md5-derived Count-Min sketch (sk05): md5 buckets
    keep it oracle-backable (xxhash64 buckets no DuckDB twin can
    reproduce). Per depth row j, the
    bucket is 4 hex chars of ``md5("j:" || key)`` mod ``width``
    (uniform — 65536 must divide evenly; the sk01 discipline).
    Output ≤ depth·width rows; counts are ADDITIVE per (row, bucket)
    — per-shard / per-day sketches merge by summing.
    """
    if width < 1 or 65536 % width:
        raise ValueError(
            f"width must divide 65536 for uniform hex buckets, got {width}"
        )
    parts = []
    for j in range(depth):
        h = F.md5(
            F.concat(
                F.lit(f"{j}:"), F.col(key_col).cast("string")
            ).cast("binary")
        )
        parts.append(
            df.select(
                F.lit(j).alias("row"),
                (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % width)
                .alias("bucket"),
            )
        )
    return (
        reduce(lambda a, b: a.unionByName(b), parts)
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def md5_cm_estimate_audit(
    df: DataFrame,
    key_col: str,
    width: int = 256,
    depth: int = 3,
    top: int = 25,
) -> DataFrame:
    """Count-Min estimate-vs-exact audit (sk05): for the ``top``
    heaviest keys (exact count DESC, key ASC — a total order), the
    sketch's min-over-rows estimate next to the exact frequency, the
    signed-free overestimate (CM NEVER underestimates — est ≥ exact
    is the structural invariant a failing hash would break) and
    truncating err_ppm. The d36/s15 audit posture applied to the
    frequency sketch: the md5 buckets make the ESTIMATE ITSELF
    oracle-exact, so a regression in the CM math is
    driver-detectable — the sketch audit matrix joins the ANN one.

    Plan shape: one full-scan sketch build (depth projections of one
    scan, AQE-reused exchange) + one exact count agg; the estimate
    join touches only |distinct keys| · depth address rows against
    the ≤ depth·width broadcast-sized sketch.

    Returns (key, exact_n, est_n, overest, err_ppm), all BIGINT.
    """
    sketch = md5_cm_sketch(df, key_col, width=width, depth=depth)
    exact = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("exact_n")
    )
    addrs = []
    for j in range(depth):
        h = F.md5(
            F.concat(F.lit(f"{j}:"), F.col("key").cast("string")).cast(
                "binary"
            )
        )
        addrs.append(
            exact.select(
                "key",
                F.lit(j).alias("row"),
                (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % width)
                .alias("bucket"),
            )
        )
    est = (
        reduce(lambda a, b: a.unionByName(b), addrs)
        .join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("key")
        .agg(F.min("cnt").cast("long").alias("est_n"))
    )
    return (
        exact.join(est, "key")
        .select(
            "key",
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).cast("long").alias(
                "overest"
            ),
            F.expr("(1000000 * (est_n - exact_n)) div exact_n")
            .cast("long")
            .alias("err_ppm"),
        )
        .orderBy(F.desc("exact_n"), F.asc("key"))
        .limit(top)
    )
