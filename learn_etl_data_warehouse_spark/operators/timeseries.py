"""Time-spine gap filling (hypertable `time_bucket_gapfill` analog).

Hourly aggregates have holes wherever a key saw no events; downstream
consumers (dashboards, rollup merges, forecasting features) want a dense
series with explicit zeros / carried-forward values. Spark has no
``GAPFILL`` operator — the Spark-first composition is:

1. aggregate to the hourly grain (one shuffle on ``(key, hour)``),
2. derive each key's ``[min_hour, max_hour]`` from that *aggregate*
   (tiny — one row per key),
3. explode a per-key ``sequence(min, max, interval 1 hour)`` spine
   (narrow generation, no shuffle: the spine is built from the bounds
   row, never from raw events),
4. left-join the hourly aggregate back onto the spine (key-equality),
5. zero-fill counts; forward-fill measures with
   ``last(col, ignorenulls=True)`` over a per-key ordered window.

Scale notes (100 TB): the expensive input pass is the grain aggregation,
which any rollup needs anyway; the spine adds O(keys × hours) rows that
never touch raw data. The forward-fill window partitions by key — fine
for high-cardinality keys (users, devices); for a *low*-cardinality key
(like ``event_type`` here) each partition holds only the key's hour
range, which is bounded by calendar time, not data volume, so a single
task per key is acceptable. Multi-year spines at sub-minute grain should
raise the grain or split the spine by (key, month) before the window.

The whole plan is native Column expressions — deterministic and
oracle-twinnable (DuckDB ``generate_series`` + ``last_value IGNORE
NULLS``); measures go through ``fixed_point_sum`` so the filled values
are engine-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from learn_etl_data_warehouse_spark.functions.aggregates import fixed_point_sum


def hourly_gapfill(df: DataFrame) -> DataFrame:
    """Dense per-key hourly series with zero-filled counts and
    forward-filled sums.

    Returns ``(event_type, hour, n_events, filled_sum, is_gap)`` where ``hour``
    covers every hour in the key's own [first, last] active range,
    ``n_events`` is 0 on gap hours, ``filled_sum`` carries the last
    observed hourly sum forward (never null: the range starts at an
    observed hour), and ``is_gap`` flags synthesized rows (BIGINT 0/1 so
    the driver's canonicalizer sees a scalar).
    """
    hourly = (
        df.groupBy(
            F.col("event_type"), F.date_trunc("hour", F.col("ts")).alias("hour")
        )
        .agg(
            F.count(F.lit(1)).alias("_n"),
            fixed_point_sum(F.col("value"), 100).alias("_hour_sum"),
        )
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("hour").alias("_mn"), F.max("hour").alias("_mx")
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence(F.col("_mn"), F.col("_mx"), F.expr("interval 1 hour"))
        ).alias("hour"),
    )
    joined = spine.join(hourly, ["event_type", "hour"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        F.col("event_type"),
        F.col("hour"),
        F.coalesce("_n", F.lit(0)).alias("n_events"),
        F.last("_hour_sum", ignorenulls=True).over(w).alias("filled_sum"),
        F.col("_n").isNull().cast("long").alias("is_gap"),
    )


def autocorrelation(df: DataFrame) -> DataFrame:
    """Lag-k autocorrelation of each key's hourly activity series.

    The per-key hourly event counts form a time series; its
    autocorrelation at small lags is the standard "is activity bursty
    or periodic" diagnostic (a forecasting-feature input). Pairs are
    formed only where BOTH hours were observed (pairwise-present
    semantics — no imputation; compose with ``hourly_gapfill`` first if
    zero-filled semantics are wanted), then the exact-moment Pearson
    form from ``grouped_corr`` runs per (key, lag), so the result is
    engine-exact: counts are integers, moment sums are DECIMAL(38,0),
    and the single double evaluation of identical exact operands is
    IEEE-stable cross-engine (native ``corr()`` is partition-order
    nondeterministic — same contract as a15).

    The hour index is ``unix_micros div 3600000000`` — pure BIGINT
    arithmetic (a double epoch would lose ulps above 2^53 µs; both
    engines floor the same non-negative division).

    Plan shape: one shuffle to the (key, hour) grain, a narrow explode
    of the bounded lag list, one key-equality self-join of the hourly
    aggregate (tiny: O(keys × active hours), never raw events), one
    moment shuffle on (key, lag). At 100 TB the only data-volume pass
    is the grain aggregation; everything after runs on the aggregate.
    """
    from learn_etl_data_warehouse_spark.operators.grouped import grouped_corr

    us_per_hour = 3_600_000_000
    hourly = (
        df.groupBy(
            F.col("event_type"),
            F.expr(f"unix_micros(ts) div {us_per_hour}").alias("_hr"),
        )
        .agg(F.count(F.lit(1)).alias("_x"))
    )
    lagged = hourly.withColumn(
        "lag",
        F.explode(F.array(*[F.lit(int(l)).cast("long") for l in (1, 2, 3)])),
    )
    probe = hourly.select(
        F.col("event_type").alias("_k2"),
        F.col("_hr").alias("_hr2"),
        F.col("_x").alias("_y"),
    )
    pairs = lagged.join(
        probe,
        (F.col("event_type") == F.col("_k2"))
        & (F.col("_hr2") == F.col("_hr") + F.col("lag")),
    ).select("event_type", "lag", F.col("_x").alias("x"), F.col("_y").alias("y"))
    return grouped_corr(pairs, keys=["event_type", "lag"], x="x", y="y", scale=1)


def dyadic_ewma(df: DataFrame) -> DataFrame:
    """Exponentially-weighted hourly activity, in pure integers.

    The classic EWMA recurrence is float-accumulation-order-sensitive —
    useless for an oracle-checked engine. The fixed-point reformulation:
    weight lag ``k`` by ``2^(3 - k)`` (a halving decay, the α=0.5
    EWMA truncated at 3), accumulate the weighted-count
    numerator and the present-lag weight denominator as BIGINTs, and
    report the smoothed rate as truncating-ppm ``(1e6·num) div den``.
    Missing hours contribute nothing and shrink the denominator
    (pairwise-present, same contract as :func:`autocorrelation`);
    only observed hours appear in the output.

    Plan shape: one shuffle to the hourly grain, a bounded explode of
    the 4 contribution offsets, one re-agg on the target
    hour, one key-equality join back to the grain (keeps observed
    hours, attaches the raw count). Everything after the grain agg runs
    on O(keys × active hours) rows — the 100 TB pass is the grain agg
    only.

    Returns (key, hr, x, ewma_ppm): ``x`` the raw hourly count,
    ``ewma_ppm`` the smoothed count in parts-per-million units.
    """
    us_per_hour = 3_600_000_000
    hourly = df.groupBy(
        F.col("event_type"),
        F.expr(f"unix_micros(ts) div {us_per_hour}").alias("hr"),
    ).agg(F.count(F.lit(1)).alias("x"))
    offsets = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("k"),
                F.lit(2 ** (3 - k)).cast("long").alias("w"),
            )
            for k in range(4)
        ]
    )
    contrib = hourly.select(
        F.col("event_type").alias("_k2"),
        F.col("hr").alias("_src_hr"),
        F.col("x").alias("_xs"),
        F.explode(offsets).alias("o"),
    ).select(
        "_k2",
        (F.col("_src_hr") + F.col("o.k")).alias("_tgt_hr"),
        (F.col("_xs") * F.col("o.w")).alias("_wx"),
        F.col("o.w").alias("_w"),
    )
    smoothed = contrib.groupBy("_k2", "_tgt_hr").agg(
        F.sum("_wx").alias("_num"), F.sum("_w").alias("_den")
    )
    return hourly.join(
        smoothed,
        (F.col("event_type") == F.col("_k2")) & (F.col("hr") == F.col("_tgt_hr")),
    ).select(
        "event_type",
        "hr",
        "x",
        F.expr("(1000000 * _num) div _den").alias("ewma_ppm"),
    )


def rolling_anomalies(df: DataFrame) -> DataFrame:
    """Trailing-window spike detection over the hourly activity series.

    Each observed hour is compared against the moments of its previous
    24 OBSERVED hours (ROWS frame — gaps are skipped, not
    imputed; compose with :func:`hourly_gapfill` upstream for dense
    semantics). The z-score uses the population form on exact integer
    window sums:  z = (n·x − sx) / √(n·sxx − sx²)  — one double
    evaluation of exact operands (a15's contract).

    The spike FLAG never touches a float: ``z > 3`` is evaluated
    as the integer predicate ``d > 0 AND d² > sigmas²·(n·sxx − sx²)``
    with ``d = n·x − sx`` — engine-exact even at the boundary, where a
    rounded double comparison could flip between engines.

    Plan shape: one shuffle to the hourly grain, one per-key ordered
    window with a bounded ROWS frame (state is 24 rows per
    key, never data-volume). Low-cardinality keys concentrate each
    key's series in one task — bounded by calendar hours, same caveat
    as ``hourly_gapfill``.

    Returns (key, hr, x, n_prev, z, is_spike); hours with fewer than
    6 trailing observations or zero trailing variance yield
    null z / false flag.
    """
    return anomalies_from_hourly(
        hourly_counts(df)
    )


def hourly_counts(df: DataFrame) -> DataFrame:
    """The (key, hr, x) hourly-count grain — the additive STATE the
    time-series diagnostics derive from (one shuffle; hr is BIGINT
    ``unix_micros div 3.6e9``). Counts merge under addition, so the
    diagnostics can be re-derived from this table at state-size cost,
    never re-scanning the event history."""
    us_per_hour = 3_600_000_000
    return df.groupBy(
        F.col("event_type"),
        F.expr(f"unix_micros(ts) div {us_per_hour}").alias("hr"),
    ).agg(F.count(F.lit(1)).alias("x"))


def anomalies_from_hourly(hourly: DataFrame) -> DataFrame:
    """:func:`rolling_anomalies` on a pre-aggregated (key, hr, x)
    table — the read side of the incremental split (cost is
    state-sized, input-volume-free)."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-24, -1)
    )
    m = hourly.select(
        "event_type",
        "hr",
        "x",
        F.count(F.lit(1)).over(w).alias("_n"),
        F.sum("x").over(w).alias("_sx"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("_sxx"),
    ).filter(F.col("_n") >= 6)
    d = F.col("_n") * F.col("x") - F.col("_sx")
    var_num = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    z = F.when(
        var_num > 0,
        F.round(d.cast("double") / F.sqrt(var_num.cast("double")), 6),
    )
    spike = (
        (var_num > 0) & (d > 0) & (d * d > F.lit(9) * var_num)
    )
    return m.select(
        "event_type",
        "hr",
        "x",
        F.col("_n").alias("n_prev"),
        z.alias("z"),
        spike.alias("is_spike"),
    )


def seasonal_hourly_anomaly(df: DataFrame) -> DataFrame:
    """Seasonal (hour-of-day) baseline anomalies over the hourly grain.

    Complements :func:`rolling_anomalies` (trailing-window spikes):
    here each observed hour is compared against the mean of the SAME
    hour-of-day across the whole period — the daily-seasonality
    baseline (3 AM traffic is judged against other 3 AMs, not against
    the preceding afternoon). A bucket is ``hot`` when
    x > 2 · mean, ``cold`` when 2 · x < mean.

    Exact-integer contract: mean_micros = (Σx · 1e6) div n_obs on
    non-negative operands (truncating ≡ flooring), and both flags are
    integer predicates — no float ever decides a boundary.

    Plan shape: one shuffle to the hourly grain, one (key, hod) agg
    over it (24 · |keys| groups), one key-equality join back — the
    profile side is tiny and broadcast-eligible at any SF; the hourly
    grain is calendar-bounded, same caveat as ``hourly_gapfill``.

    Returns (key, hr, hod, x, n_obs, mean_micros, status) for flagged
    buckets only.
    """
    h = hourly_counts(df).withColumn(
        "hod", F.expr("hr % 24").cast("long")
    )
    p = h.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.expr("(sum(x) * 1000000) div count(1)")
        .cast("long")
        .alias("mean_micros"),
    )
    j = h.join(F.broadcast(p), ["event_type", "hod"])
    hot = F.col("x") * 1_000_000 > F.lit(2) * F.col(
        "mean_micros"
    )
    cold = F.col("x") * F.lit(2 * 1_000_000) < F.col(
        "mean_micros"
    )
    return j.filter(hot | cold).select(
        "event_type",
        "hr",
        "hod",
        "x",
        "n_obs",
        "mean_micros",
        F.when(hot, F.lit("hot")).otherwise(F.lit("cold")).alias("status"),
    )


def time_weighted_average(df: DataFrame) -> DataFrame:
    """Per-(key, day) time-weighted average — each observation's value
    holds until the next observation (the last one holds to midnight),
    so sparse bursts don't dominate the day the way a plain mean lets
    them (the TWAP/metrics-gauge semantics).

    Exact-integer contract: weights are µs gaps from a lead() window
    under a TOTAL order (ts, then id — equal timestamps would make
    lead() partition-order nondeterministic), values are rounded
    cents, and the weighted mean is
    ``(Σ cents·weight · 10000) div Σ weight`` — micro-units, numerator
    in DECIMAL(38,0)/HUGEINT (per-row cents·weight alone can pass
    1e15), every operand non-negative so truncating ≡ flooring.

    Plan shape: one per-(key, day) ordered window for the lead, one
    aggregation — same grain discipline as the other daily rollups.

    Returns (key, day, n_events, span_us, twap_micros).
    """
    us_day = 86_400_000_000
    base = df.select(
        F.col("event_type"),
        F.col("event_id").alias("_id"),
        F.expr("unix_micros(ts)").alias("_us"),
        F.round(F.col("value") * 100).cast("long").alias("_cents"),
    ).withColumn("day", F.expr(f"_us div {us_day}").cast("long"))
    w = Window.partitionBy("event_type", "day").orderBy("_us", "_id")
    weighted = base.withColumn(
        "_w",
        F.coalesce(F.lead("_us").over(w), (F.col("day") + 1) * us_day)
        - F.col("_us"),
    )
    return weighted.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("_w").cast("long").alias("span_us"),
        F.expr(
            "CAST(sum(CAST(_cents AS DECIMAL(38,0)) * _w) * 10000"
            " div sum(_w) AS BIGINT)"
        ).alias("twap_micros"),
    )


def gap_histogram(df: DataFrame) -> DataFrame:
    """Inter-event gap distribution per key, bucketed by decimal order
    of magnitude — the burstiness profile (are arrivals ~seconds or
    ~hours apart, and how heavy is each tail?).

    The bucket is ``digits(gap_µs)`` = the string length of the
    non-negative integer gap — floor(log10)+1 without touching a libm
    log (integer→string is identical across engines). Gaps come from
    one lag() under the TOTAL (ts, id) order per key (the e18
    discipline: equal timestamps would make lag() partition-order
    nondeterministic).

    One per-key ordered window + one (key, bucket) aggregation;
    low-cardinality keys concentrate a key's series in one task —
    calendar/event-bounded, the standard hourly-grain caveat.

    Returns (key, bucket, n, min_gap_us, max_gap_us).
    """
    w = Window.partitionBy("event_type").orderBy(
        F.expr("unix_micros(ts)"), F.col("event_id")
    )
    us = F.expr("unix_micros(ts)")
    g = df.select(
        F.col("event_type"),
        (us - F.lag(us).over(w)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return g.groupBy(
        "event_type",
        F.length(F.col("gap_us").cast("string")).cast("long").alias("bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
    )


def cusum_changepoint(events: DataFrame) -> DataFrame:
    """CUSUM changepoint detection over each key's hourly count series:
    the hour where the cumulative deviation from the series mean peaks
    — the classic level-shift locator (did this event type's rate
    change, and when?).

    Engine-exact integer formulation: the float CUSUM
    S_t = Σ(n_i − mean) is accumulation-order nondeterministic, so the
    deviations are multiplied through by the series length T —
    S'_t = Σ(n_i·T − total) = T·S_t — which preserves the argmax
    exactly and keeps every operand an integer. Accumulation runs in
    DECIMAL(38,0) (n_i·T reaches ~1e14 at warehouse scale and the
    running sum adds ~1e5 terms — past BIGINT's 9.2e18 margin).

    Observed hours only (an all-zero hour contributes no row; the gap
    semantics are "per observed-hour counts", matching
    :func:`autocorrelation`'s grain). Ties on |S'| break to the
    EARLIEST hour. Windows are partitioned by key — no global order.

    Returns (key, cp_hour TIMESTAMP, cusum_peak BIGINT — signed S' at
    the peak, n_hours BIGINT).
    """
    hourly = events.groupBy(
        F.col("event_type").alias("key"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))

    per_key = Window.partitionBy("key")
    run = (
        Window.partitionBy("key")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = (
        F.col("n").cast("decimal(38,0)") * F.col("t")
        - F.col("total").cast("decimal(38,0)")
    )
    scored = (
        hourly.withColumn("t", F.count(F.lit(1)).over(per_key))
        .withColumn("total", F.sum("n").over(per_key))
        .withColumn("s", F.sum(dev).over(run))
    )
    pick = Window.partitionBy("key").orderBy(
        F.abs(F.col("s")).desc(), F.asc("hour")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(pick))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("key").alias("event_type"),
            F.col("hour").alias("cp_hour"),
            F.col("s").cast("long").alias("cusum_peak"),
            F.col("t").cast("long").alias("n_hours"),
        )
    )


def daily_open_intervals(intervals: DataFrame) -> DataFrame:
    """Concurrent-interval counting: how many intervals are OPEN on each
    day — the order-backlog / active-ticket / occupancy query. Classic
    sweep-line reformulation: each interval emits (+1 at start_day,
    −1 at end_day + 1), one aggregation nets the deltas per day, one
    running sum over the day axis yields the open count. Exact, and
    never materializes an (interval × day) explosion — an interval
    spanning 3 years costs 2 delta rows, not 1,095.

    Output rows are the CHANGE days only ``(day, net_change,
    open_count)``; the count holds between consecutive change days
    (gap-fill with e09's spine pattern when a dense series is needed).

    Scale shape: one hash agg on day (the sweep events), then one
    ordered running-sum window over distinct days — bounded by the
    calendar span, not the interval count; the same benign
    single-ordered-partition shape as e17's day axis.
    """
    deltas = intervals.select(
        F.col("start_day").alias("day"), F.lit(1).alias("_d")
    ).unionAll(
        intervals.select(
            (F.col("end_day") + 1).alias("day"), F.lit(-1).alias("_d")
        )
    )
    per_day = deltas.groupBy("day").agg(F.sum("_d").alias("net_change"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        F.col("day").cast("long").alias("day"),
        F.col("net_change").cast("long").alias("net_change"),
        F.sum("net_change").over(w).cast("long").alias("open_count"),
    )


def theilsen_trend(hourly: DataFrame) -> DataFrame:
    """Theil–Sen robust trend per key: the MEDIAN of all pairwise
    slopes over the hourly-count grid — the robust-regression sibling
    of the MAD outlier family (one extreme hour cannot move a median
    of slopes, where it drags a least-squares fit arbitrarily).

    Integer-exact across engines: the slope is a FLOOR division
    ``floor(dy·1e6 / dx)`` — dy is signed, and Spark's ``div``
    truncates while DuckDB's ``//`` floors, so the Spark side
    reconstructs flooring as ``(d − pmod(d, g)) div g`` (pmod is
    non-negative for positive g, the difference is exactly divisible,
    and div on an exact multiple is exact). The median is nearest-rank
    (lower) over the per-key slope set — deterministic under ties.

    Scale shape: the pair join is per-key over the HOURLY grid, which
    is calendar-bounded, not data-bounded (a year is 8,760 rows per
    key regardless of corpus size); the windows run over that bounded
    pair set. Returns (key, n_pairs, median_slope_micro) — micro-units
    of count per hour."""
    from pyspark.sql import Window

    a = hourly.select(
        F.col("event_type"), F.col("hr").alias("_ah"), F.col("x").alias("_ax")
    )
    b = hourly.select(
        F.col("event_type").alias("_bk"),
        F.col("hr").alias("_bh"),
        F.col("x").alias("_bx"),
    )
    pairs = a.join(
        b, (F.col("event_type") == F.col("_bk")) & (F.col("_ah") < F.col("_bh"))
    ).select(
        "event_type",
        (
            (F.col("_bx") - F.col("_ax")).cast("long") * 1_000_000
        ).alias("_d"),
        (F.col("_bh") - F.col("_ah")).cast("long").alias("_g"),
    )
    slopes = pairs.select(
        "event_type",
        F.expr("(_d - pmod(_d, _g)) div _g").cast("long").alias("slope"),
    )
    w = Window.partitionBy("event_type").orderBy("slope")
    ranked = slopes.select(
        "event_type",
        "slope",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("_np"),
    )
    return ranked.filter(
        F.col("_rn") == F.expr("(_np + 1) div 2")
    ).select(
        "event_type",
        F.col("_np").cast("long").alias("n_pairs"),
        F.col("slope").alias("median_slope_micro"),
    )


def forecast_hourly(hourly: DataFrame) -> DataFrame:
    """Integer additive point forecast per key: the next 24
    hours as ``profile(hod) + slope · Δh`` — the hour-of-day profile
    mean carries level + seasonality, the Theil–Sen median slope
    (:func:`theilsen_trend`) extrapolates the trend from the last
    observed hour. The decomposition every ops dashboard forecast
    starts from, in the engine's fixed-point style: the profile is a
    truncating micro mean of non-negative counts, the trend term is a
    SIGNED multiply-add (no division near a negative), so the forecast
    is exact cross-engine.

    Scale shape: everything runs on the hourly grid (calendar-bounded);
    the spine is a bounded per-key sequence explode. Returns (key,
    h_future, hod, forecast_micro) — micro-counts per hour, possibly
    negative under a declining trend (clamp downstream if needed)."""
    slopes = theilsen_trend(hourly).select(
        "event_type", "median_slope_micro"
    )
    profile = (
        hourly.withColumn("hod", F.pmod(F.col("hr"), F.lit(24)))
        .groupBy("event_type", "hod")
        .agg(
            F.expr("(1000000 * sum(x)) div count(*)")
            .cast("long")
            .alias("profile_micro")
        )
    )
    anchor = hourly.groupBy("event_type").agg(F.max("hr").alias("_anchor"))
    spine = anchor.select(
        "event_type",
        "_anchor",
        F.explode(
            F.sequence(F.lit(1), F.lit(24))
        ).alias("_step"),
    ).select(
        "event_type",
        (F.col("_anchor") + F.col("_step")).cast("long").alias("h_future"),
        F.col("_step").cast("long").alias("_dh"),
    )
    return (
        spine.withColumn("hod", F.pmod(F.col("h_future"), F.lit(24)).cast("long"))
        .join(profile, ["event_type", "hod"], "left")
        .join(slopes, "event_type")
        .select(
            "event_type",
            "h_future",
            "hod",
            (
                F.coalesce("profile_micro", F.lit(0))
                + F.col("median_slope_micro") * F.col("_dh")
            ).cast("long").alias("forecast_micro"),
        )
    )


def forecast_backtest(hourly: DataFrame) -> DataFrame:
    """Rolling-origin BACKTEST of :func:`forecast_hourly` (single
    origin): hold out the trailing 24 hours of the grid
    (global cutoff = max hr − horizon), forecast from the remaining
    history, and score each key's forecast against the actual hourly
    counts — the accuracy surface a forecasting deployment watches
    (is the profile+trend model still earning its keep?).

    Integer-exact: the error is forecast_micro − actual·1e6 (signed
    subtraction of evaluated integers); MAE divides a NON-NEGATIVE
    |err| sum by the positive hour count (truncating ≡ floor), while
    the signed bias is reported as the UNDIVIDED sum (a signed mean
    would hit the Spark-div-vs-DuckDB-floor trap e28 reconstructs
    around — not worth it for a diagnostic). Hours with no events
    score as actual 0 (truthful: the grid omits empty hours).

    Per-key anchors come from the TRAIN grid, so a key that went quiet
    before the cutoff is scored on its own next-24 hours —
    which for a stale key lie AT OR BEFORE the global cutoff, i.e.
    inside the nominal train region, where actuals are trivially 0 and
    the "backtest" measures nothing about the trailing holdout (r9
    ADVICE item). The per-key staleness is therefore emitted as
    ``anchor_gap`` = global cutoff − per-key anchor (0 for keys active
    through the cutoff) so consumers can filter or down-weight stale
    keys; keys with no train history produce no row. Scale shape:
    fc01's calendar-bounded plan + one left join against the hourly
    grid + one key-grain agg + one key-grain gap join. Returns (key,
    n_hours, mae_micro, sum_err_micro, n_over, anchor_gap)."""
    cut = hourly.agg(
        (F.max("hr") - F.lit(24)).alias("_cut")
    )
    train = (
        hourly.crossJoin(F.broadcast(cut))
        .filter(F.col("hr") <= F.col("_cut"))
        .select("event_type", "hr", "x")
    )
    fc = forecast_hourly(train)
    actual = hourly.select(
        F.col("event_type"), F.col("hr").alias("h_future"), F.col("x").alias("_ax")
    )
    j = fc.join(actual, ["event_type", "h_future"], "left").select(
        F.col("event_type"),
        (
            F.col("forecast_micro")
            - F.coalesce(F.col("_ax"), F.lit(0)) * 1_000_000
        ).cast("long").alias("_err"),
    )
    scored = j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.expr("sum(abs(_err)) div count(1)").cast("long").alias("mae_micro"),
        F.sum("_err").cast("long").alias("sum_err_micro"),
        F.sum(F.when(F.col("_err") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_over"),
    )
    gap = (
        train.groupBy("event_type")
        .agg(F.max("hr").alias("_anchor"))
        .crossJoin(F.broadcast(cut))
        .select(
            "event_type",
            (F.col("_cut") - F.col("_anchor")).cast("long").alias("anchor_gap"),
        )
    )
    return scored.join(gap, "event_type")


def seasonal_decomposition(hourly: DataFrame) -> DataFrame:
    """STL-lite additive decomposition of the hourly grid: observed =
    seasonal + trend + residual, all in integer micro-counts — the
    diagnostic VIEW behind the family's point tools (e16 flags hot/cold
    hours against the profile, fc01 projects forward, e28 fits the
    trend; this lays the components side by side per observation so a
    consumer sees WHY an hour is anomalous).

    Components: ``seasonal_micro`` is the key's hour-of-day profile
    mean (truncating micro div on non-negative sums — e16's
    discipline); ``trend_micro`` is the Theil–Sen median slope
    (:func:`theilsen_trend`, floor-reconstructed for signed dy) times
    the hour offset from the key's FIRST grid hour (signed
    multiply-add, exact); ``residual_micro`` is the signed remainder
    x·1e6 − seasonal − trend. Keys with a single grid hour have no
    pairwise slope and are left out (no trend is estimable — the
    theilsen contract).

    Scale shape: fc01's calendar-bounded plan — one hod-grain agg, one
    calendar-bounded pair join for the slope, one key-grain anchor agg,
    all broadcast back onto the grid. Returns (key, hr, x,
    seasonal_micro, trend_micro, residual_micro)."""
    us = 1_000_000
    profile = hourly.select(
        F.col("event_type"), F.pmod(F.col("hr"), F.lit(24)).alias("hod"), "x"
    ).groupBy("event_type", "hod").agg(
        F.expr(f"({us} * sum(x)) div count(*)")
        .cast("long")
        .alias("seasonal_micro")
    )
    slopes = theilsen_trend(hourly).select(
        "event_type", "median_slope_micro"
    )
    anchor = hourly.groupBy("event_type").agg(F.min("hr").alias("_hr0"))
    return (
        hourly.withColumn("hod", F.pmod(F.col("hr"), F.lit(24)))
        .join(profile, ["event_type", "hod"], "left")
        .join(slopes, "event_type")
        .join(anchor, "event_type")
        .select(
            F.col("event_type"),
            F.col("hr").cast("long").alias("hr"),
            F.col("x").cast("long").alias("x"),
            "seasonal_micro",
            (
                F.col("median_slope_micro")
                * (F.col("hr") - F.col("_hr0"))
            ).cast("long").alias("trend_micro"),
            (
                F.col("x") * us
                - F.col("seasonal_micro")
                - F.col("median_slope_micro") * (F.col("hr") - F.col("_hr0"))
            ).cast("long").alias("residual_micro"),
        )
    )


def intermittent_demand_rate(demand: DataFrame) -> DataFrame:
    """Intermittent-demand rate estimation — the Croston-family
    long-run estimator for sparse demand series (most parts sell on a
    few scattered days; a naive daily mean over the calendar is
    dominated by zeros and an hourly profile is meaningless). Per key,
    from its demand events only: mean nonzero demand size z = Σq/n,
    mean inter-demand interval p = (d_last − d_first)/(n−1), and the
    demand RATE per day z/p = Σq·(n−1) / (n·(d_last − d_first)) —
    all reported in truncating micro units on non-negative integer
    operands (flooring-oracle-exact). Croston's original smooths z and
    p with SES; the long-run mean is its fixed point and is
    order-free, hence exactly aggregable in one pass.

    Keys with a single demand day have no interval — they report
    NULL interval/rate (both engines), the fc02 degenerate-input
    discipline. One hash agg at key grain; no window, no join.

    Returns (key, n_demands, total_qty, span_days, mean_qty_micro,
    mean_interval_micro_days, rate_micro_per_day)."""
    us = 1_000_000
    g = demand.groupBy(F.col("part_id").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_demands"),
        F.sum(F.col("qty").cast("long")).cast("long").alias("total_qty"),
        (F.max("d") - F.min("d")).cast("long").alias("span_days"),
    )
    multi = F.col("n_demands") >= 2
    return g.select(
        F.col("key").alias("part_id"),
        "n_demands",
        "total_qty",
        "span_days",
        F.expr(f"({us} * total_qty) div n_demands")
        .cast("long")
        .alias("mean_qty_micro"),
        F.when(
            multi & (F.col("span_days") > 0),
            F.expr(f"({us} * span_days) div (n_demands - 1)"),
        ).cast("long").alias("mean_interval_micro_days"),
        F.when(
            multi & (F.col("span_days") > 0),
            # numerator in DECIMAL(38,0): us·Σq·(n−1) passes BIGINT
            # around 10⁷ demand rows per key
            F.expr(
                f"({us} * CAST(total_qty AS DECIMAL(38,0))"
                " * (n_demands - 1)) div (n_demands * span_days)"
            ),
        ).cast("long").alias("rate_micro_per_day"),
    )


def ewma_smooth(hourly: DataFrame) -> DataFrame:
    """Exponentially-weighted moving average over each key's DENSE
    hourly grid (gaps zero-filled, e09's spine), with the halving
    weight alpha = 1/2 kept in INTEGER micro: s₀ = x₀·10⁶, s_t =
    (x_t·10⁶ + s_{t−1}) div 2 — the truncating step recursion is
    exact cross-engine (non-negative operands), which a float EWMA
    never is (every alternative accumulates rounding in engine order).
    Alpha = 1/2 is the one smoothing weight whose fixed-point
    recursion needs no scaling tricks — each step is an add and a
    shift; the level converges to ~2·x within ~20 steady hours.

    The recursion is genuinely sequential, so it runs as a Column
    ``aggregate`` fold over the per-key hour array — per-key state is
    the CALENDAR-bounded grid (the e18/fc01 contract: hours in the
    key's active range, never data-proportional rows). The DuckDB twin
    is a recursive CTE over the same grid index.

    Returns (key, hr, n, ewma_micro) — the full smoothed series.
    """
    bounds = hourly.groupBy("event_type").agg(
        F.min("hr").alias("_mn"), F.max("hr").alias("_mx")
    )
    spine = bounds.select(
        "event_type", F.explode(F.sequence(F.col("_mn"), F.col("_mx"))).alias("hr")
    )
    g = spine.join(hourly, ["event_type", "hr"], "left").select(
        "event_type",
        "hr",
        F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"),
    )
    arr = g.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("hr", "x"))).alias("_a")
    )
    ew = F.expr(
        "aggregate(_a, CAST(array() AS array<bigint>), (acc, e) ->"
        " array_append(acc, CASE WHEN size(acc) = 0"
        " THEN e.x * CAST(1000000 AS BIGINT)"
        " ELSE (e.x * CAST(1000000 AS BIGINT) + element_at(acc, -1))"
        " div 2 END))"
    )
    z = arr.select(
        "event_type",
        F.explode(F.arrays_zip(F.col("_a"), ew.alias("_e"))).alias("_z"),
    )
    return z.select(
        "event_type",
        F.col("_z._a.hr").cast("long").alias("hr"),
        F.col("_z._a.x").cast("long").alias("n"),
        F.col("_z._e").cast("long").alias("ewma_micro"),
    )


def rising_streaks(hourly: DataFrame) -> DataFrame:
    """Maximal runs of STRICTLY RISING consecutive hours per key over
    the dense zero-filled grid (gap hours are real zeros, so a gap
    breaks a streak honestly) — the monotone-trend micro-pattern scan
    (≥ 2 rising steps = ≥ 3 increasing values),
    the sustained-ramp alarm e16's point anomalies and e23's mean-shift
    CUSUM both miss. Classic gaps-and-islands (r06's idiom): the island
    key is ``hr − row_number()`` over the rising rows only; windows are
    per-key over the CALENDAR-bounded grid.

    Returns one row per streak: (key, start_hr, end_hr, steps) where
    start_hr is the hour the rise started from (first rising hour − 1).
    """
    bounds = hourly.groupBy("event_type").agg(
        F.min("hr").alias("_mn"), F.max("hr").alias("_mx")
    )
    spine = bounds.select(
        "event_type", F.explode(F.sequence(F.col("_mn"), F.col("_mx"))).alias("hr")
    )
    g = spine.join(hourly, ["event_type", "hr"], "left").select(
        "event_type", "hr", F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    rising = g.withColumn("_rise", F.col("x") > F.lag("x").over(w)).filter(
        F.col("_rise")
    )
    isl = rising.withColumn(
        "_island", F.col("hr") - F.row_number().over(w)
    )
    return (
        isl.groupBy("event_type", "_island")
        .agg(
            (F.min("hr") - 1).cast("long").alias("start_hr"),
            F.max("hr").cast("long").alias("end_hr"),
            F.count(F.lit(1)).cast("long").alias("steps"),
        )
        .filter(F.col("steps") >= 2)
        .select("event_type", "start_hr", "end_hr", "steps")
    )


def decomposition_fit(decomp: DataFrame) -> DataFrame:
    """Model-fit strength of the e29 decomposition, per key: fit_ppm =
    10⁶ − (10⁶·n·Σresidual²) div ((n·Σx² − (Σx)²)·10¹²) — the R² of
    seasonal+trend against the mean-only model, in truncating ppm (the
    forecastability score: ~10⁶ means profile+trend explain the series,
    ≤ 0 means they fit WORSE than the flat mean — possible and kept
    signed). The centered denominator uses the a15 moment identity
    (n·Σx² − (Σx)² = n²·Var exactly, no float mean); the 10¹² factor
    aligns count² units with micro² residuals. Zero-variance keys
    yield NULL. Magnitudes: micro²·hours² must stay under the
    DECIMAL(38,0) ceiling — at 10⁹ events/hour and a 10-year hourly
    grid the numerator is ~10³⁶, still inside.

    One group agg over e29's output — calendar-bounded like everything
    in the family. Returns (key, n_hours, fit_ppm).
    """
    xd = F.col("x").cast("long").cast("decimal(38,0)")
    rd = F.col("residual_micro").cast("decimal(38,0)")
    m = decomp.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum(xd).alias("_sx"),
        F.sum(xd * xd).alias("_sxx"),
        F.sum(rd * rd).alias("_srr"),
    )
    ssdev = (
        "(n_hours * _sxx - _sx * _sx) * CAST(1000000000000 AS DECIMAL(38,0))"
    )
    return m.select(
        "event_type",
        "n_hours",
        F.expr(
            f"CASE WHEN {ssdev} > 0 THEN 1000000 -"
            f" (1000000 * n_hours * _srr) div ({ssdev}) END"
        )
        .cast("long")
        .alias("fit_ppm"),
    )


def holt_smooth(hourly: DataFrame) -> DataFrame:
    """HOLT'S LINEAR TREND (double exponential smoothing) over each
    key's dense hourly grid, alpha = beta = 1/2 in integer micro — the
    two coupled halving recursions

        l_t = ⌊(x_t·10⁶ + l_{t−1} + b_{t−1}) / 2⌋
        b_t = ⌊(l_t − l_{t−1} + b_{t−1}) / 2⌋

    (l₀ = x₀·10⁶, b₀ = 0; the halving is TRUNCATING division). fc04's
    EWMA tracks a LEVEL and lags any sustained ramp by design; Holt's
    second recursion tracks the slope so the one-step forecast l + b
    catches up — the classic trend-aware upgrade, and the missing
    middle of the family (fc01 seasonal profile+trend, fc04 level-only
    IIR). The trend difference is SIGNED; both engines TRUNCATE toward
    zero (Spark ``div`` ≡ DuckDB BIGINT ``//``, probed r11: −5 // 2 =
    −2 in both), so the plain div recursion is exact cross-engine —
    no pmod reconstruction needed (that idiom is for mirroring a
    FLOORING reference; here the recursion itself is defined with
    symmetric truncation).

    Same sequential-fold shape as :func:`ewma_smooth` (per-key Column
    aggregate over the calendar-bounded grid; oracle = recursive CTE).
    Returns (key, hr, n, level_micro, trend_micro, forecast_micro)
    with forecast_micro = level + trend, the one-step-ahead value.
    """
    bounds = hourly.groupBy("event_type").agg(
        F.min("hr").alias("_mn"), F.max("hr").alias("_mx")
    )
    spine = bounds.select(
        "event_type", F.explode(F.sequence(F.col("_mn"), F.col("_mx"))).alias("hr")
    )
    g = spine.join(hourly, ["event_type", "hr"], "left").select(
        "event_type",
        "hr",
        F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"),
    )
    arr = g.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("hr", "x"))).alias("_a")
    )
    prev_l = "element_at(acc, -1).l"
    prev_b = "element_at(acc, -1).b"
    v1 = f"(e.x * CAST(1000000 AS BIGINT) + {prev_l} + {prev_b})"
    lvl = f"({v1} div 2)"
    v2 = f"({lvl} - {prev_l} + {prev_b})"
    trd = f"({v2} div 2)"
    fold = F.expr(
        "aggregate(_a, CAST(array() AS array<struct<l:bigint,b:bigint>>),"
        " (acc, e) -> array_append(acc, CASE WHEN size(acc) = 0"
        " THEN named_struct('l', e.x * CAST(1000000 AS BIGINT),"
        "                   'b', CAST(0 AS BIGINT))"
        f" ELSE named_struct('l', {lvl}, 'b', {trd}) END))"
    )
    z = arr.select(
        "event_type",
        F.explode(F.arrays_zip(F.col("_a"), fold.alias("_s"))).alias("_z"),
    )
    return z.select(
        "event_type",
        F.col("_z._a.hr").cast("long").alias("hr"),
        F.col("_z._a.x").cast("long").alias("n"),
        F.col("_z._s.l").cast("long").alias("level_micro"),
        F.col("_z._s.b").cast("long").alias("trend_micro"),
        (F.col("_z._s.l") + F.col("_z._s.b"))
        .cast("long")
        .alias("forecast_micro"),
    )


def local_extrema(hourly: DataFrame) -> DataFrame:
    """STRICT LOCAL EXTREMA over each key's dense zero-filled hourly
    grid — hours strictly above (peak) or strictly below (valley) both
    calendar neighbors, the turning-point pattern scan that complements
    the family's level shifts (e23 CUSUM), ramps (w08 streaks) and
    point outliers (e16): a reversal is none of those. Plateau edges
    are NOT extrema (strict comparisons), and the grid's first/last
    hour have one neighbor only, so they never qualify — both
    conventions mirrored in the oracle. One per-key window over the
    calendar-bounded grid. Returns (key, hr, x, kind ∈ {peak, valley}).
    """
    bounds = hourly.groupBy("event_type").agg(
        F.min("hr").alias("_mn"), F.max("hr").alias("_mx")
    )
    spine = bounds.select(
        "event_type", F.explode(F.sequence(F.col("_mn"), F.col("_mx"))).alias("hr")
    )
    g = spine.join(hourly, ["event_type", "hr"], "left").select(
        "event_type", "hr", F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    flagged = g.select(
        "event_type",
        "hr",
        "x",
        F.lag("x").over(w).alias("_p"),
        F.lead("x").over(w).alias("_n"),
    ).filter(F.col("_p").isNotNull() & F.col("_n").isNotNull())
    return flagged.filter(
        ((F.col("x") > F.col("_p")) & (F.col("x") > F.col("_n")))
        | ((F.col("x") < F.col("_p")) & (F.col("x") < F.col("_n")))
    ).select(
        "event_type",
        "hr",
        "x",
        F.when(
            (F.col("x") > F.col("_p")) & (F.col("x") > F.col("_n")), "peak"
        )
        .otherwise("valley")
        .alias("kind"),
    )


def capped_sessions(events: DataFrame) -> DataFrame:
    """Sessionization with BOTH break rules real analytics tools apply
    (the GA/Adobe convention): a session ends after 30 minutes of
    inactivity OR when it has lasted 120 minutes since ITS OWN
    FIRST EVENT — the cap e03's gap-only windows can't express, because
    whether an event starts a new session depends on where the current
    session STARTED, which depends on every earlier break: a genuinely
    sequential recurrence (the fc04/fc05 class), run as a per-user
    Column aggregate fold over the (ts, id)-ordered event array; the
    DuckDB twin is a recursive CTE over the per-user event index.

    Per-user state is the user's event list — bounded by per-user
    activity, the same contract as e03's per-user windows (a 100 TB
    deployment shards pathological actors first). Returns one row per
    session: (user, session_no, start_us, end_us, n_events), all
    integer µs."""
    gap_us = 30 * 60_000_000
    cap_us = 120 * 60_000_000
    ev = events.select(
        F.col("user_id").alias("_u"),
        F.expr("unix_micros(ts)").alias("_t"),
        F.col("event_id").alias("_id"),
    )
    arr = ev.groupBy("_u").agg(
        F.sort_array(F.collect_list(F.struct("_t", "_id"))).alias("_a")
    )
    last = "element_at(acc, -1)"
    new_sess = (
        f"(e._t - {last}.end_us > {gap_us})"
        f" OR (e._t - {last}.start_us > {cap_us})"
    )
    fold = F.expr(
        "aggregate(_a,"
        " CAST(array() AS"
        "  array<struct<start_us:bigint,end_us:bigint,n:bigint>>),"
        " (acc, e) -> CASE"
        " WHEN size(acc) = 0 THEN"
        "  array(named_struct('start_us', e._t, 'end_us', e._t,"
        "                     'n', CAST(1 AS BIGINT)))"
        f" WHEN {new_sess} THEN"
        "  array_append(acc, named_struct('start_us', e._t,"
        "    'end_us', e._t, 'n', CAST(1 AS BIGINT)))"
        " ELSE concat(slice(acc, 1, size(acc) - 1),"
        f"  array(named_struct('start_us', {last}.start_us,"
        f"    'end_us', e._t, 'n', {last}.n + 1))) END)"
    )
    z = arr.select(
        F.col("_u"), F.posexplode(fold).alias("_i", "_s")
    )
    return z.select(
        F.col("_u").alias("user_id"),
        (F.col("_i") + 1).cast("long").alias("session_no"),
        F.col("_s.start_us").cast("long").alias("start_us"),
        F.col("_s.end_us").cast("long").alias("end_us"),
        F.col("_s.n").cast("long").alias("n_events"),
    )


def holt_winters_smooth(
    hourly: DataFrame, key: str = "event_type", period: int = 24
) -> DataFrame:
    """HOLT–WINTERS ADDITIVE smoothing (level + trend + ``period``-slot
    seasonal state) with every weight 1/2, in integer micro — the
    forecasting family's capstone recursion (fc04 level, fc05
    level+trend, fc06 adds the seasonal component e16/e29 estimate only
    as a STATIC profile; here it ADAPTS):

        l_t = ⌊(x_t·10⁶ − s_{t−1}[h] + l_{t−1} + b_{t−1}) / 2⌋
        b_t = ⌊(l_t − l_{t−1} + b_{t−1}) / 2⌋
        s_t[h] = ⌊(x_t·10⁶ − l_t + s_{t−1}[h]) / 2⌋   (h = hr mod period)

    (l₀ = x₀·10⁶, b₀ = 0, s₀ ≡ 0; all divisions TRUNCATE — Spark div ≡
    DuckDB BIGINT //, the fc05 probe). Genuinely sequential with an
    ARRAY state, so the fold's accumulator is struct(history, s[]);
    the seasonal slot updates via transform-with-index. The DuckDB twin
    is a recursive CTE carrying the seasonal LIST, updated with a
    range-comprehension. Per-key state = the calendar-bounded grid +
    ``period`` longs.

    Returns (key, hr, n, level_micro, trend_micro, season_micro) with
    season_micro the UPDATED seasonal for the row's slot; the one-step
    forecast for hour t+1 is level + trend + s[h_{t+1}].
    """
    p = int(period)
    bounds = hourly.groupBy(key).agg(
        F.min("hr").alias("_mn"), F.max("hr").alias("_mx")
    )
    spine = bounds.select(
        key, F.explode(F.sequence(F.col("_mn"), F.col("_mx"))).alias("hr")
    )
    g = spine.join(hourly, [key, "hr"], "left").select(
        key,
        "hr",
        F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"),
    )
    arr = g.groupBy(key).agg(
        F.sort_array(F.collect_list(F.struct("hr", "x"))).alias("_a")
    )
    hod = f"CAST(pmod(e.hr, {p}) AS INT)"
    s_old = f"element_at(acc.s, {hod} + 1)"
    prev_l = "element_at(acc.hist, -1).l"
    prev_b = "element_at(acc.hist, -1).b"
    xl = "e.x * CAST(1000000 AS BIGINT)"
    lvl = f"(({xl} - {s_old} + {prev_l} + {prev_b}) div 2)"
    trd = f"(({lvl} - {prev_l} + {prev_b}) div 2)"
    sup = f"(({xl} - {lvl} + {s_old}) div 2)"
    fold = F.expr(
        "aggregate(_a,"
        " named_struct("
        "  'hist', CAST(array() AS"
        "   array<struct<l:bigint,b:bigint,su:bigint>>),"
        f"  's', array_repeat(CAST(0 AS BIGINT), {p})),"
        " (acc, e) -> CASE WHEN size(acc.hist) = 0 THEN named_struct("
        f"  'hist', array(named_struct('l', {xl},"
        "    'b', CAST(0 AS BIGINT), 'su', CAST(0 AS BIGINT))),"
        "  's', acc.s)"
        " ELSE named_struct("
        f"  'hist', array_append(acc.hist, named_struct('l', {lvl},"
        f"    'b', {trd}, 'su', {sup})),"
        f"  's', transform(acc.s, (v, i) -> IF(i = {hod}, {sup}, v)))"
        " END,"
        " acc -> acc.hist)"
    )
    z = arr.select(
        key,
        F.explode(F.arrays_zip(F.col("_a"), fold.alias("_h"))).alias("_z"),
    )
    return z.select(
        key,
        F.col("_z._a.hr").cast("long").alias("hr"),
        F.col("_z._a.x").cast("long").alias("n"),
        F.col("_z._h.l").cast("long").alias("level_micro"),
        F.col("_z._h.b").cast("long").alias("trend_micro"),
        F.col("_z._h.su").cast("long").alias("season_micro"),
    )


def hw_residual_anomalies(hourly: DataFrame) -> DataFrame:
    """MODEL-BASED anomaly detection: each hour scored against the
    ONE-STEP-AHEAD Holt–Winters forecast — the production upgrade over
    e16 (static profile vs mean) and e23 (level shifts): an adaptive
    model absorbs trend and drifting seasonality, so only genuine
    surprises flag. Composition, not a new kernel:

    - forecast_t = l_{t−1} + b_{t−1} + s_old[h_t], where l/b lag one
      grid row and s_old is the PREVIOUS occurrence's updated seasonal
      (a lag over the (key, slot) partition — fc06 emits the
      post-update value, and slot h's pre-update state at hour t IS
      its post-update state at the slot's previous occurrence);
    - resid_t = x_t·10⁶ − forecast_t (the first grid hour has no
      forecast and never flags);
    - threshold = 3 · (per-key lower nearest-rank median of
      |resid|) — median ABSOLUTE residual, non-negative by
      construction so no signed-bucket machinery is needed; the
      per-key rank window runs over the CALENDAR-BOUNDED grid (the
      e18/fc01 contract), never data-proportional rows.

    Returns (key, hr, n, forecast_micro, resid_micro, mar_micro,
    is_anomaly ∈ {0,1}); flag = |resid| > k·mar, mar > 0 (a key whose
    residuals are majority-zero never flags — the st06 degeneracy
    convention).
    """
    hw = holt_winters_smooth(hourly)
    w_grid = Window.partitionBy("event_type").orderBy("hr")
    w_slot = Window.partitionBy(
        "event_type", F.pmod(F.col("hr"), F.lit(24))
    ).orderBy("hr")
    scored = hw.select(
        "event_type",
        "hr",
        "n",
        (
            F.lag("level_micro").over(w_grid)
            + F.lag("trend_micro").over(w_grid)
            + F.coalesce(
                F.lag("season_micro").over(w_slot), F.lit(0)
            )
        ).alias("forecast_micro"),
    ).withColumn(
        "resid_micro",
        F.col("n") * F.lit(1_000_000) - F.col("forecast_micro"),
    )
    ranked = scored.filter(F.col("forecast_micro").isNotNull()).select(
        "event_type",
        F.abs(F.col("resid_micro")).alias("_ar"),
    )
    w_rank = Window.partitionBy("event_type").orderBy("_ar")
    # lower nearest-rank median of |resid| per key: rank the
    # calendar-bounded frame, pick rank (n+1) div 2 via a count join
    counts = ranked.groupBy("event_type").agg(F.count(F.lit(1)).alias("_nk"))
    med = (
        ranked.withColumn("_rn", F.row_number().over(w_rank))
        .join(counts, "event_type")
        .filter(F.col("_rn") == F.expr("(_nk + 1) div 2"))
        .select("event_type", F.col("_ar").alias("mar_micro"))
    )
    return (
        scored.join(med, "event_type", "left")
        .select(
            "event_type",
            "hr",
            "n",
            "forecast_micro",
            "resid_micro",
            F.coalesce("mar_micro", F.lit(0)).cast("long").alias(
                "mar_micro"
            ),
            F.when(
                F.col("forecast_micro").isNotNull()
                & (F.coalesce("mar_micro", F.lit(0)) > 0)
                & (
                    F.abs(F.col("resid_micro"))
                    > F.lit(3) * F.coalesce("mar_micro", F.lit(0))
                ),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("is_anomaly"),
        )
    )


def hw_final_state(hw_rows: DataFrame, key: str = "event_type",
                   period: int = 24) -> DataFrame:
    """Collapse :func:`holt_winters_smooth` output to one carried-state
    row per key: (key, last_hr, level_micro, trend_micro, season) with
    ``season`` the full ``period``-slot array (each slot's LAST update,
    0 where never updated) — the carried state the forecasts extend.
    Bounded: one window over the calendar grid, output = one row per
    key."""
    p = int(period)
    w = Window.partitionBy(key).orderBy(F.desc("hr"))
    last = (
        hw_rows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(key, F.col("hr").alias("last_hr"), "level_micro",
                "trend_micro")
    )
    ws = Window.partitionBy(key, F.pmod(F.col("hr"), F.lit(p))).orderBy(
        F.desc("hr")
    )
    slots = (
        hw_rows.withColumn("_rn", F.row_number().over(ws))
        .filter(F.col("_rn") == 1)
        .groupBy(key)
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        F.pmod(F.col("hr"), F.lit(p)).cast("int").alias("k"),
                        F.col("season_micro").alias("v"),
                    )
                )
            ).alias("_m")
        )
        .select(
            key,
            F.expr(
                f"transform(sequence(0, {p - 1}),"
                " i -> coalesce(_m[i], CAST(0 AS BIGINT)))"
            ).alias("season"),
        )
    )
    return last.join(slots, key)


def mann_kendall(hourly: DataFrame) -> DataFrame:
    """MANN–KENDALL trend test per key over the observed hourly grid —
    the nonparametric significance companion to :func:`theilsen_trend`
    (same pairwise geometry: Theil–Sen estimates the slope, the MK S
    statistic says whether a monotone trend exists at all).

    Pure integers end to end: ``S = Σ_{i<j} sign(x_j − x_i)`` over
    time-ordered pairs, and the variance's NUMERATOR kept undivided
    (the fc02 signed-sum discipline) —

        var18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)

    over the tie groups t (hours sharing a count value); the consumer
    divides by 18 and square-roots in its own float world. No float,
    no sign-division anywhere.

    Scale shape: the pair join is the e28/theilsen calendar-bounded
    grid self-join — O(T²) per key where T is the HOUR COUNT of the
    time span, independent of corpus row volume; tie groups are one
    value-grain agg. Returns (key, n_hours, s_stat, var18_numer)."""
    a = hourly.select(
        F.col("event_type"), F.col("hr").alias("_ah"), F.col("x").alias("_ax")
    )
    b = hourly.select(
        F.col("event_type").alias("_bk"),
        F.col("hr").alias("_bh"),
        F.col("x").alias("_bx"),
    )
    s = (
        a.join(
            b, (F.col("event_type") == F.col("_bk")) & (F.col("_ah") < F.col("_bh"))
        )
        .select(
            "event_type",
            F.when(F.col("_bx") > F.col("_ax"), F.lit(1))
            .when(F.col("_bx") < F.col("_ax"), F.lit(-1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("_sgn"),
        )
        .groupBy("event_type")
        .agg(F.sum("_sgn").cast("long").alias("s_stat"))
    )
    ties = (
        hourly.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("_t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.lit(1)).cast("long").alias("_ngroups"),
            F.sum("_t").cast("long").alias("n_hours"),
            F.sum(
                F.col("_t")
                * (F.col("_t") - 1)
                * (2 * F.col("_t") + 5)
            )
            .cast("long")
            .alias("_tie_term"),
        )
    )
    return (
        s.join(ties, "event_type")
        .select(
            "event_type",
            "n_hours",
            "s_stat",
            (
                F.col("n_hours")
                * (F.col("n_hours") - 1)
                * (2 * F.col("n_hours") + 5)
                - F.col("_tie_term")
            )
            .cast("long")
            .alias("var18_numer"),
        )
    )


def hw_mase_backtest(hourly: DataFrame) -> DataFrame:
    """MASE backtest of the Holt–Winters forecaster (fc07): hold out
    each key's trailing 24 hours (dense), fit
    :func:`holt_winters_smooth` on the rest, score the multi-step
    forecast ``level + h·trend + s[hod]`` against actuals, and scale
    by the SEASONAL-NAIVE error (|x_t − x_{t−period}| over the same
    holdout) — the standard scale-free forecast-accuracy number
    (Hyndman's MASE, seasonal-naive variant on the holdout window).

    Integer discipline: both error masses stay UNDIVIDED micro sums
    (the fc02 rule — a signed division would hit the truncate/floor
    trap); the single ratio is non-negative ``(1e6·sae_hw) div
    sae_naive``, NULL when the naive error is zero (a perfectly
    seasonal holdout has no honest scale). Forecast arithmetic is
    signed multiply-add only.

    Returns (key, n_holdout, sae_hw_micro, sae_naive_micro, mase_ppm):
    mase_ppm < 1e6 means HW beats seasonal-naive on the holdout.
    Calendar-bounded throughout (the e28/fc06 grid posture)."""
    p = 24
    # r14 (guide §2.4): hourly (itself an aggregation over the event
    # stream) is consumed four times below (max-hr, train, actuals,
    # seasonal-naive lags) and mx twice — lazy checkpoints run each
    # once (A/B in OPTIMIZATION_r14.md, fc07).
    hourly = hourly.localCheckpoint(eager=False)
    mx = hourly.groupBy("event_type").agg(F.max("hr").alias("_mx"))
    mx = mx.localCheckpoint(eager=False)
    train = (
        hourly.join(mx, "event_type")
        .filter(F.col("hr") <= F.col("_mx") - p)
        .select("event_type", "hr", "x")
    )
    state = hw_final_state(
        holt_winters_smooth(train, "event_type", p), "event_type", p
    )
    hold = mx.select(
        "event_type",
        "_mx",
        F.explode(
            F.sequence(F.col("_mx") - (p - 1), F.col("_mx"))
        ).alias("hr"),
    )
    act = (
        hold.join(hourly, ["event_type", "hr"], "left")
        .select("event_type", "hr", F.coalesce("x", F.lit(0)).cast("long").alias("x"))
    )
    prev = hourly.select(
        F.col("event_type"),
        (F.col("hr") + p).alias("hr"),
        F.col("x").alias("_x24"),
    )
    scored = (
        act.join(prev, ["event_type", "hr"], "left")
        .join(state, "event_type")
        .select(
            "event_type",
            "hr",
            "x",
            F.coalesce("_x24", F.lit(0)).cast("long").alias("x24"),
            (
                F.col("level_micro")
                + (F.col("hr") - F.col("last_hr")) * F.col("trend_micro")
                + F.element_at(
                    F.col("season"),
                    (F.pmod(F.col("hr"), F.lit(p)) + 1).cast("int"),
                )
            ).cast("long").alias("fhat"),
        )
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_holdout"),
            F.sum(F.abs(F.col("x") * 1_000_000 - F.col("fhat")))
            .cast("long")
            .alias("sae_hw_micro"),
            F.sum(F.abs(F.col("x") - F.col("x24")) * 1_000_000)
            .cast("long")
            .alias("sae_naive_micro"),
        )
        .select(
            "event_type",
            "n_holdout",
            "sae_hw_micro",
            "sae_naive_micro",
            F.when(
                F.col("sae_naive_micro") > 0,
                F.expr("(1000000 * sae_hw_micro) div sae_naive_micro"),
            ).cast("long").alias("mase_ppm"),
        )
    )


def littles_law_check(intervals: DataFrame) -> DataFrame:
    """LITTLE'S LAW conservation audit (ops04) over (start_day,
    end_day) inclusive service intervals: time-in-system mass computed
    TWO independent ways —

    - per entity: Σ (end − start + 1)
    - per day: the backlog sweep integrated over the horizon
      (±1 deltas at start / end+1, cumulative count × run length
      between change days)

    — which must agree EXACTLY (each interval contributes exactly its
    own days to the area), giving L = λ·W in undivided integer form:
    backlog_area = sum_time_in_system, so avg_backlog = (n/horizon) ×
    (area/n). The audit emits both masses plus the two micro rates; a
    mismatch means interval data is corrupt (end < start, double
    counting), which is the point of computing both sides.

    Scale shape: one hash agg for the per-entity mass, the sweep is
    the ops02 ±1-delta pattern — an interval spanning years costs two
    delta rows; the cumsum window runs over CHANGE DAYS (calendar-
    bounded, single partition by design like a26's bucket totals).
    Returns ONE row: (n_intervals, horizon_days,
    sum_time_in_system_days, backlog_area_days, avg_backlog_micro,
    avg_time_in_system_micro)."""
    per = intervals.agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum(F.col("end_day") - F.col("start_day") + 1)
        .cast("long")
        .alias("sum_time_in_system_days"),
        (F.max("end_day") - F.min("start_day") + 1)
        .cast("long")
        .alias("horizon_days"),
    )
    deltas = (
        intervals.select(
            F.col("start_day").alias("day"), F.lit(1).alias("_d")
        )
        .unionByName(
            intervals.select(
                (F.col("end_day") + 1).alias("day"),
                F.lit(-1).alias("_d"),
            )
        )
        .groupBy("day")
        .agg(F.sum("_d").alias("_net"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    runs = deltas.select(
        "day",
        F.sum("_net").over(w).alias("_open"),
        F.lead("day").over(Window.orderBy("day")).alias("_next"),
    )
    area = runs.agg(
        F.coalesce(
            F.sum(F.col("_open") * (F.col("_next") - F.col("day"))),
            F.lit(0),
        )
        .cast("long")
        .alias("backlog_area_days")
    )
    return per.join(area).select(
        "n_intervals",
        "horizon_days",
        "sum_time_in_system_days",
        "backlog_area_days",
        F.expr("(1000000 * backlog_area_days) div horizon_days")
        .cast("long")
        .alias("avg_backlog_micro"),
        F.expr("(1000000 * sum_time_in_system_days) div n_intervals")
        .cast("long")
        .alias("avg_time_in_system_micro"),
    )


def runs_test(hourly: DataFrame) -> DataFrame:
    """WALD–WOLFOWITZ runs test per key over the hourly series (st09):
    dichotomize each hour against the key's nearest-rank-LOWER median
    count (hours equal to the median drop, the classic treatment),
    then count RUNS — maximal stretches of one sign in time order. Few
    runs = trending/clumped, many = oscillating; with st08 this
    completes the trend-test pair (MK asks "is there a trend", runs
    asks "is the sequence random at all").

    Pure integers: the median comes from a per-key rank walk over the
    calendar-bounded grid (the theilsen window posture), runs from one
    lag over the surviving hours. The z-score's moments stay with the
    consumer — n_above, n_below, n_runs are the sufficient statistics
    and they are exact. Returns (key, n_above, n_below, n_runs)."""
    wr = Window.partitionBy("event_type").orderBy("x", "hr")
    wn = Window.partitionBy("event_type")
    med = (
        hourly.withColumn("_rn", F.row_number().over(wr))
        .withColumn("_n", F.count(F.lit(1)).over(wn))
        .filter(F.col("_rn") == F.expr("(_n + 1) div 2"))
        .select(F.col("event_type"), F.col("x").alias("_med"))
    )
    signed = (
        hourly.join(med, "event_type")
        .filter(F.col("x") != F.col("_med"))
        .select(
            F.col("event_type"),
            "hr",
            (F.col("x") > F.col("_med")).cast("int").alias("_s"),
        )
    )
    wt = Window.partitionBy("event_type").orderBy("hr")
    flips = signed.select(
        F.col("event_type"),
        "_s",
        F.when(
            F.lag("_s").over(wt).isNull()
            | (F.lag("_s").over(wt) != F.col("_s")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("_new_run"),
    )
    return flips.groupBy("event_type").agg(
        F.sum("_s").cast("long").alias("n_above"),
        F.sum(1 - F.col("_s")).cast("long").alias("n_below"),
        F.sum("_new_run").cast("long").alias("n_runs"),
    )


def peak_window(hourly: DataFrame) -> DataFrame:
    """Busiest 3-hour window per key (e35): rolling sum over
    the DENSE hourly grid (zero-filled gaps — a quiet hour inside the
    window counts), argmax with the earliest-window tie-break — the
    "when does load peak" ops number, and the capacity-planning
    companion to e16's per-hour anomalies.

    Explicit ROWS frame (the w06 both-engines discipline); windows are
    only scored once fully inside the key's observed span (no partial
    leading windows). Calendar-bounded everywhere. Returns (key,
    peak_start_hr, peak_end_hr, peak_count)."""
    w = 3
    bounds = hourly.groupBy("event_type").agg(
        F.min("hr").alias("_mn"), F.max("hr").alias("_mx")
    )
    spine = bounds.select(
        "event_type", "_mn",
        F.explode(F.sequence(F.col("_mn"), F.col("_mx"))).alias("hr"),
    )
    g = spine.join(hourly, ["event_type", "hr"], "left").select(
        "event_type", "_mn", "hr",
        F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"),
    )
    wr = Window.partitionBy("event_type").orderBy("hr").rowsBetween(-(w - 1), 0)
    roll = g.select(
        "event_type", "_mn", "hr", F.sum("x").over(wr).cast("long").alias("_roll")
    ).filter(F.col("hr") >= F.col("_mn") + (w - 1))
    wk = Window.partitionBy("event_type").orderBy(F.desc("_roll"), F.asc("hr"))
    return (
        roll.withColumn("_rn", F.row_number().over(wk))
        .filter(F.col("_rn") == 1)
        .select(
            "event_type",
            (F.col("hr") - (w - 1)).cast("long").alias("peak_start_hr"),
            F.col("hr").cast("long").alias("peak_end_hr"),
            F.col("_roll").alias("peak_count"),
        )
    )

def hourly_metric_pair(df: DataFrame) -> DataFrame:
    """The (key, hr, x, y) TWO-metric hourly grain the correlation
    diagnostics run on: x = event count, y = distinct active users —
    "does volume move with audience?" is the shape st10/st11 answer.
    One shuffle; y is a per-hour COUNT(DISTINCT), exact at hour grain
    (the e21 day-grain precedent)."""
    us_per_hour = 3_600_000_000
    return df.groupBy(
        F.col("event_type"),
        F.expr(f"unix_micros(ts) div {us_per_hour}").alias("hr"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.countDistinct("user_id").cast("long").alias("y"),
    )


def kendall_tau(hourly: DataFrame) -> DataFrame:
    """KENDALL tau-b concordance counts between two hourly metrics per
    key (st10) — with :func:`mann_kendall` (x vs TIME) this completes
    the pairwise-concordance pair: does metric y move WITH metric x?

    Pure integers end to end, every divisor-bearing quantity kept
    UNDIVIDED (the fc02/st08 discipline): per time-ordered pair,
    dx = sign(x_j − x_i), dy = sign(y_j − y_i); the outputs are the
    raw pair classes — concordant (dx·dy = 1), discordant (dx·dy = −1),
    ties_x / ties_y (tied in exactly one metric), ties_xy (tied in
    both) — plus s_stat = C − D and n_pairs = n(n−1)/2. The consumer
    assembles tau-b = S / sqrt((n_pairs − Tx − Txy)(n_pairs − Ty −
    Txy)) in its own float world.

    Scale shape: the st08/e28 calendar-bounded grid self-join —
    O(T²) per key in the HOUR COUNT of the span, independent of
    corpus row volume."""
    a = hourly.select(
        F.col("event_type"),
        F.col("hr").alias("_ah"),
        F.col("x").alias("_ax"),
        F.col("y").alias("_ay"),
    )
    b = hourly.select(
        F.col("event_type").alias("_bk"),
        F.col("hr").alias("_bh"),
        F.col("x").alias("_bx"),
        F.col("y").alias("_by"),
    )
    dx = (
        F.when(F.col("_bx") > F.col("_ax"), F.lit(1))
        .when(F.col("_bx") < F.col("_ax"), F.lit(-1))
        .otherwise(F.lit(0))
    )
    dy = (
        F.when(F.col("_by") > F.col("_ay"), F.lit(1))
        .when(F.col("_by") < F.col("_ay"), F.lit(-1))
        .otherwise(F.lit(0))
    )
    pairs = (
        a.join(
            b, (F.col("event_type") == F.col("_bk")) & (F.col("_ah") < F.col("_bh"))
        )
        .select("event_type", dx.alias("_dx"), dy.alias("_dy"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum((F.col("_dx") * F.col("_dy") == 1).cast("long"))
            .cast("long")
            .alias("concordant"),
            F.sum((F.col("_dx") * F.col("_dy") == -1).cast("long"))
            .cast("long")
            .alias("discordant"),
            F.sum(
                ((F.col("_dx") == 0) & (F.col("_dy") != 0)).cast("long")
            )
            .cast("long")
            .alias("ties_x"),
            F.sum(
                ((F.col("_dy") == 0) & (F.col("_dx") != 0)).cast("long")
            )
            .cast("long")
            .alias("ties_y"),
            F.sum(
                ((F.col("_dx") == 0) & (F.col("_dy") == 0)).cast("long")
            )
            .cast("long")
            .alias("ties_xy"),
        )
    )
    n = hourly.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_hours"))
    return n.join(pairs, "event_type").select(
        "event_type",
        "n_hours",
        "n_pairs",
        "concordant",
        "discordant",
        (F.col("concordant") - F.col("discordant")).cast("long").alias(
            "s_stat"
        ),
        "ties_x",
        "ties_y",
        "ties_xy",
    )


def spearman_rho(hourly: DataFrame) -> DataFrame:
    """SPEARMAN rank correlation between two hourly metrics per key
    (st11) — Pearson (a15) on values, Kendall (st10) on concordance,
    Spearman on RANKS completes the correlation triple.

    Determinism: tied values take AVERAGE ranks kept integral by
    DOUBLING (the st05 discipline — a row with ``lt`` strictly-smaller
    rows and ``n_v`` equals has doubled rank ``2·lt + n_v + 1`` =
    ``2·rank() + count_equal − 1``); all five moments of the doubled
    ranks accumulate in DECIMAL(38,0) (HUGEINT twin), and rho is ONE
    token-mirrored double evaluation num / sqrt(den_x · den_y) — IEEE
    sqrt/divide are correctly rounded, the a15/ml07 precedent. NULL
    when either metric is constant (zero denominator).

    Scale shape: rank windows are partitioned BY KEY and the per-key
    row count is CALENDAR-bounded (hours of span — the e-family
    justification), so no data-proportional single partition exists;
    two windows + one agg per key."""
    wx = Window.partitionBy("event_type").orderBy(F.asc("x"))
    wy = Window.partitionBy("event_type").orderBy(F.asc("y"))
    cx = Window.partitionBy("event_type", "x")
    cy = Window.partitionBy("event_type", "y")
    rx = (
        F.lit(2) * F.rank().over(wx) + F.count(F.lit(1)).over(cx) - 1
    ).cast("long")
    ry = (
        F.lit(2) * F.rank().over(wy) + F.count(F.lit(1)).over(cy) - 1
    ).cast("long")
    ranked = hourly.select(
        F.col("event_type"), rx.alias("_rx"), ry.alias("_ry")
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum(d("_rx")).alias("_sx"),
        F.sum(d("_ry")).alias("_sy"),
        F.sum(d("_rx") * d("_rx")).alias("_sxx"),
        F.sum(d("_ry") * d("_ry")).alias("_syy"),
        F.sum(d("_rx") * d("_ry")).alias("_sxy"),
    )
    n = F.col("n_hours").cast("decimal(38,0)")
    num = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den_x = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    den_y = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    return m.select(
        "event_type",
        "n_hours",
        num.cast("long").alias("num"),
        den_x.cast("long").alias("den_x"),
        den_y.cast("long").alias("den_y"),
    ).select(
        "event_type",
        "n_hours",
        "num",
        "den_x",
        "den_y",
        F.when(
            (F.col("den_x") > 0) & (F.col("den_y") > 0),
            F.col("num").cast("double")
            / F.sqrt(
                F.col("den_x").cast("double") * F.col("den_y").cast("double")
            ),
        ).alias("rho"),
    )

def burst_viterbi(hourly: DataFrame) -> DataFrame:
    """BURST detection as an exact integer two-state Viterbi (e36) —
    the Kleinberg burst-model shape with the float Poisson
    log-likelihoods replaced by L1 deviation costs so the optimal path
    is cross-engine exact: state s0 emits at the key's base rate
    r0 = total div n_hours, state s1 at the burst rate r1 = 2·r0 + 1,
    emitting count x in state s costs |x − r_s|, and switching states
    costs λ = r0 + 1. e16/e23/e15 flag POINT anomalies; the Viterbi
    path finds sustained episodes — a run of mildly-hot hours that no
    single-hour test fires on — because the switch penalty amortizes
    over the episode length.

    The DP carries (c0, b0, c1, b1) — best cost ending in each state
    plus the burst-hours count along that best path — with the
    deterministic stay-on-tie rule (stay ⟺ stay-cost ≤ switch-cost),
    so the counted path is THE canonical optimum in both engines. The
    recursion is genuinely sequential → a Column aggregate fold over
    the dense zero-filled per-key hour array (the fc04/fc06 posture;
    calendar-bounded state); the oracle twin is a recursive CTE over
    the same grid index.

    Returns (key, n_hours, base_rate, switch_cost, total_cost,
    burst_hours)."""
    bounds = hourly.groupBy("event_type").agg(
        F.min("hr").alias("_mn"), F.max("hr").alias("_mx")
    )
    spine = bounds.select(
        "event_type", F.explode(F.sequence(F.col("_mn"), F.col("_mx"))).alias("hr")
    )
    g = spine.join(hourly, ["event_type", "hr"], "left").select(
        "event_type",
        "hr",
        F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"),
    )
    rates = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.expr("sum(x) div count(1)").cast("long").alias("_r0"),
    ).select(
        "event_type",
        "n_hours",
        "_r0",
        (F.lit(2) * F.col("_r0") + 1).cast("long").alias("_r1"),
        (F.col("_r0") + 1).cast("long").alias("_lam"),
    )
    arr = g.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("hr", "x"))).alias("_a")
    ).join(rates, "event_type")
    fold = F.expr(
        "aggregate(_a,"
        " named_struct('c0', CAST(0 AS BIGINT), 'b0', CAST(0 AS BIGINT),"
        "              'c1', _lam, 'b1', CAST(0 AS BIGINT)),"
        " (acc, e) -> named_struct("
        "   'c0', least(acc.c0, acc.c1 + _lam) + abs(e.x - _r0),"
        "   'b0', IF(acc.c0 <= acc.c1 + _lam, acc.b0, acc.b1),"
        "   'c1', least(acc.c1, acc.c0 + _lam) + abs(e.x - _r1),"
        "   'b1', IF(acc.c1 <= acc.c0 + _lam, acc.b1, acc.b0) + 1))"
    )
    return arr.select(
        "event_type",
        "n_hours",
        F.col("_r0").alias("base_rate"),
        F.col("_lam").alias("switch_cost"),
        fold.alias("_f"),
    ).select(
        "event_type",
        "n_hours",
        "base_rate",
        "switch_cost",
        F.when(
            F.col("_f.c0") <= F.col("_f.c1"), F.col("_f.c0")
        ).otherwise(F.col("_f.c1")).cast("long").alias("total_cost"),
        F.when(
            F.col("_f.c0") <= F.col("_f.c1"), F.col("_f.b0")
        ).otherwise(F.col("_f.b1")).cast("long").alias("burst_hours"),
    )

def lttb_downsample(hourly: DataFrame, k: int = 12) -> DataFrame:
    """LTTB (Largest-Triangle-Three-Buckets) downsampling of each
    key's hourly series to ``k`` representative points (e38) — the
    standard dashboard decimation: first/last kept, the n−2 middle
    points split into k−2 equal buckets, each bucket contributing the
    point forming the LARGEST triangle with the previously selected
    point and the NEXT bucket's average. At 100 TB a dashboard can't
    ship the raw series; LTTB keeps the visual shape (peaks survive,
    flats collapse).

    Exact-integer form: the float "next-bucket average" is cleared by
    multiplying the doubled-area comparison through by the next
    bucket's count —

        A = |(t_prev·cnt − Σt)·(x_c − x_prev) − (t_prev − t_c)·(Σx − x_prev·cnt)|

    an integer identical in both engines; argmax ties break to the
    EARLIEST hour, so the selection chain is canonical. The chain is
    sequential in the k−2 buckets (each argmax needs the previous
    winner) → unrolled as k−2 chained 1-row-per-key joins (the
    cl01/g02 unroll posture; bucket count is a fixed budget, never
    data-sized); the oracle twin is the same chain as CTEs. Products
    stay under BIGINT for calendar-bounded hour spans and counts below
    ~10⁹/hr; past that, lift the area to DECIMAL(38,0).

    Contract: every key must have at least k points (k ≥ 3 — the
    bucketing needs n−2 ≥ k−2 so no middle bucket is empty). Returns
    (key, bucket, hr, x) — exactly k rows per key, bucket 0..k−1 in
    time order."""
    if k < 3:
        raise ValueError("lttb_downsample needs k >= 3")
    pts = hourly.select(
        F.col("event_type"),
        F.col("hr").cast("long").alias("hr"),
        F.col("x").cast("long").alias("x"),
    )
    w = Window.partitionBy("event_type").orderBy(F.asc("hr"))
    idx = pts.withColumn("_i", F.row_number().over(w) - 1)
    n = pts.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("_n"))
    p = idx.join(n, "event_type")
    mid = k - 2
    bucket = (
        F.when(F.col("_i") == 0, F.lit(0))
        .when(F.col("_i") == F.col("_n") - 1, F.lit(k - 1))
        .otherwise(
            F.lit(1)
            + F.expr(f"((_i - 1) * {mid}) div (_n - 2)")
        )
        .cast("long")
    )
    b = p.select("event_type", "hr", "x", bucket.alias("_b"))
    # next-bucket aggregates for each middle bucket: bucket i's "next"
    # is bucket i+1 (bucket k-1 = the fixed last point, cnt 1)
    nxt = (
        b.filter(F.col("_b") >= 1)
        .groupBy("event_type", "_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_cnt"),
            F.sum("hr").cast("long").alias("_st"),
            F.sum("x").cast("long").alias("_sx"),
        )
        .select(
            "event_type",
            (F.col("_b") - 1).alias("_b"),
            "_cnt",
            "_st",
            "_sx",
        )
    )
    sel = b.filter(F.col("_b") == 0).select(
        "event_type",
        F.lit(0).cast("long").alias("bucket"),
        "hr",
        "x",
    )
    out = [sel]
    prev = sel.select(
        F.col("event_type"), F.col("hr").alias("_ph"), F.col("x").alias("_px")
    )
    for i in range(1, mid + 1):
        area = F.abs(
            (F.col("_ph") * F.col("_cnt") - F.col("_st"))
            * (F.col("x") - F.col("_px"))
            - (F.col("_ph") - F.col("hr"))
            * (F.col("_sx") - F.col("_px") * F.col("_cnt"))
        )
        cand = (
            b.filter(F.col("_b") == i)
            .join(prev, "event_type")
            .join(nxt.filter(F.col("_b") == i).drop("_b"), "event_type")
            .select("event_type", "hr", "x", area.alias("_a"))
        )
        wi = Window.partitionBy("event_type").orderBy(F.desc("_a"), F.asc("hr"))
        s = (
            cand.withColumn("_rn", F.row_number().over(wi))
            .filter(F.col("_rn") == 1)
            .select(
                F.col("event_type"),
                F.lit(i).cast("long").alias("bucket"),
                "hr",
                "x",
            )
        )
        out.append(s)
        prev = s.select(
            F.col("event_type"), F.col("hr").alias("_ph"), F.col("x").alias("_px")
        )
    last = b.filter(F.col("_b") == k - 1).select(
        "event_type",
        F.lit(k - 1).cast("long").alias("bucket"),
        "hr",
        "x",
    )
    out.append(last)
    res = out[0]
    for s in out[1:]:
        res = res.unionByName(s)
    return res

def lagged_crosscorr(hourly: DataFrame) -> DataFrame:
    """LAGGED cross-correlation function (st12) between two hourly
    metrics per key — "does x LEAD y?": for each lag L in
    [−6, 6], the Pearson correlation of (x_t, y_{t+L})
    over the hours where both exist. e13 is the autocorrelation of one
    series; st10/st11 are the lag-0 association; the CCF locates the
    lag where the association PEAKS (e.g. volume spikes preceding
    audience growth by L hours).

    The a15/st11 determinism discipline: per (key, lag), the five
    moments of the matched pairs accumulate in DECIMAL(38,0)
    (HUGEINT twin), r is ONE token-mirrored double
    num / sqrt(den_x · den_y) (IEEE-exact both engines), NULL when
    either side is constant. The lag join is the st08 calendar-bounded
    self-join against a broadcast (2·6+1)-row grid — O(T·lags)
    per key, corpus-volume independent. Returns (key, lag, n_pairs,
    num, den_x, den_y, r)."""
    spark = hourly.sparkSession
    a = hourly.select(
        F.col("event_type"),
        F.col("hr").alias("_ah"),
        F.col("x").alias("_ax"),
    )
    b = hourly.select(
        F.col("event_type").alias("_bk"),
        F.col("hr").alias("_bh"),
        F.col("y").alias("_by"),
    )
    grid = F.broadcast(
        spark.createDataFrame(
            [(v,) for v in range(-6, 7)], "lag long"
        )
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = (
        grid.join(a)
        .join(
            b,
            (F.col("event_type") == F.col("_bk"))
            & (F.col("_bh") == F.col("_ah") + F.col("lag")),
        )
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(d("_ax")).alias("_sx"),
            F.sum(d("_by")).alias("_sy"),
            F.sum(d("_ax") * d("_ax")).alias("_sxx"),
            F.sum(d("_by") * d("_by")).alias("_syy"),
            F.sum(d("_ax") * d("_by")).alias("_sxy"),
        )
    )
    n = F.col("n_pairs").cast("decimal(38,0)")
    return (
        m.select(
            "event_type",
            "lag",
            "n_pairs",
            (n * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
            .cast("long")
            .alias("num"),
            (n * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
            .cast("long")
            .alias("den_x"),
            (n * F.col("_syy") - F.col("_sy") * F.col("_sy"))
            .cast("long")
            .alias("den_y"),
        )
        .select(
            "event_type",
            "lag",
            "n_pairs",
            "num",
            "den_x",
            "den_y",
            F.when(
                (F.col("den_x") > 0) & (F.col("den_y") > 0),
                F.col("num").cast("double")
                / F.sqrt(
                    F.col("den_x").cast("double")
                    * F.col("den_y").cast("double")
                ),
            ).alias("r"),
        )
    )

def forecast_coherence(hourly: DataFrame) -> DataFrame:
    """HIERARCHICAL forecast coherence audit (fc09): the classic
    reconciliation question — do the per-key fc01 forecasts ADD UP to
    the forecast of the total? Independent per-series models never
    cohere exactly (each key fits its own profile + median slope; the
    total fits the summed series), and the signed gap per future hour
    is the number a reconciliation step (MinT/top-down) would
    distribute. Pure composition of :func:`forecast_hourly`: once per
    key, once on the summed series (total hourly x = Σ keys' x), both
    in the engine's exact fixed-point arithmetic, so the gap is
    engine-exact — a real modeling diagnostic computed with zero float
    drift.

    Alignment is by ABSOLUTE future hour: the audit reports each hour
    of the TOTAL's spine with the count and sum of per-key forecasts
    landing on it (keys whose history ends earlier forecast other
    hours and honestly drop out of the sum — n_keys shows it).
    Returns (h_future, hod, n_keys, sum_keys_micro, total_micro,
    gap_micro) with gap = sum − total, UNDIVIDED (the fc02 signed-sum
    discipline)."""
    per = forecast_hourly(hourly).select(
        F.col("h_future"), F.col("forecast_micro").alias("_fk")
    )
    tot_h = hourly.groupBy("hr").agg(
        F.sum("x").cast("long").alias("x")
    ).withColumn("event_type", F.lit("ALL"))
    tot = forecast_hourly(tot_h).select(
        "h_future", "hod", F.col("forecast_micro").alias("_ft")
    )
    agg = per.groupBy("h_future").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("_fk").cast("long").alias("sum_keys_micro"),
    )
    return (
        tot.join(agg, "h_future", "left")
        .select(
            F.col("h_future"),
            F.col("hod"),
            F.coalesce(F.col("n_keys"), F.lit(0)).cast("long").alias(
                "n_keys"
            ),
            F.coalesce(F.col("sum_keys_micro"), F.lit(0)).cast("long")
            .alias("sum_keys_micro"),
            F.col("_ft").alias("total_micro"),
            (
                F.coalesce(F.col("sum_keys_micro"), F.lit(0))
                - F.col("_ft")
            ).cast("long").alias("gap_micro"),
        )
    )

def weekly_profile(hourly: DataFrame) -> DataFrame:
    """WEEKLY seasonality grid (w11): mean hourly volume per (key,
    day-of-week, hour-of-day) over the dense zero-filled grid — the
    weekly axis e16's hour-of-day profile folds away (a Monday-9am
    spike and a Sunday-9am lull average into the same hod bucket
    there). The grid is what a staffing/capacity dashboard heatmaps,
    and the per-key PEAK cell is flagged (earliest (dow, hod)
    tie-break).

    Conventions mirrored in the oracle: dow = (epoch_day + 3) mod 7
    with 0 = Monday (1970-01-01 was a Thursday = 3); the profile mean
    is the truncating micro mean over the key's DENSE grid hours (gap
    hours are real zeros — a profile computed only over observed hours
    overstates quiet cells). Returns (key, dow, hod, n_hours,
    sum_x, mean_micro, is_peak) with is_peak BIGINT 0/1."""
    bounds = hourly.groupBy("event_type").agg(
        F.min("hr").alias("_mn"), F.max("hr").alias("_mx")
    )
    spine = bounds.select(
        "event_type", F.explode(F.sequence(F.col("_mn"), F.col("_mx"))).alias("hr")
    )
    g = spine.join(hourly, ["event_type", "hr"], "left").select(
        "event_type",
        "hr",
        F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"),
    )
    cells = (
        g.select(
            "event_type",
            F.pmod(F.expr("hr div 24") + 3, F.lit(7)).cast("long").alias(
                "dow"
            ),
            F.pmod(F.col("hr"), F.lit(24)).cast("long").alias("hod"),
            "x",
        )
        .groupBy("event_type", "dow", "hod")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum("x").cast("long").alias("sum_x"),
        )
        .select(
            "event_type",
            "dow",
            "hod",
            "n_hours",
            "sum_x",
            F.expr("(1000000 * sum_x) div n_hours").cast("long").alias(
                "mean_micro"
            ),
        )
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("mean_micro"), F.asc("dow"), F.asc("hod")
    )
    return cells.withColumn(
        "is_peak",
        (F.row_number().over(w) == 1).cast("long"),
    )


def ohlc_bars(df: DataFrame) -> DataFrame:
    """Daily OHLC bars (e37): per (key, epoch day) the open / high /
    low / close of the event ``value`` stream plus volume — the
    candlestick grain every market-data / metering pipeline rolls raw
    ticks into before charting or gap analysis. high/low/volume are
    plain aggregates; OPEN and CLOSE are the values at the first and
    last tick under the TOTAL (ts, event_id) order (the pm-family
    discipline — the (ts, event_id) grain is tie-free, so "first" is
    well-defined cross-engine).

    Values ride as exact cents (round(value*100), the e18 convention).
    Spark side needs NO window and NO sort: open = the c field of
    min(struct(ts, event_id, c)) — struct comparison is lexicographic,
    so the min struct IS the earliest tick — one hash aggregation, one
    shuffle on (key, day). The oracle pins the same semantics via
    row_number; any engine may pick its own physical strategy.

    Returns (key, day, n_events, open_cents, high_cents, low_cents,
    close_cents, volume_cents), all BIGINT.
    """
    return ohlc_from_state(ohlc_state(df))


def ohlc_state(df: DataFrame) -> DataFrame:
    """The MERGEABLE state grain behind :func:`ohlc_bars`: per
    (key, day) the counted parts (n, volume — additive), the extrema
    (high/low — max/min mergeable) and the open/close WITNESS TICKS
    carried as (ts, event_id, cents) columns — min/max-of-struct
    mergeable, so two disjoint batches' states fold to the full build's
    state without revisiting raw events.

    Returns (key, day, n_events, volume_cents, high_cents, low_cents,
    open_ts, open_id, open_cents, close_ts, close_id, close_cents).
    """
    us_per_day = 86_400_000_000
    b = df.select(
        F.col("event_type"),
        F.expr(f"unix_micros(ts) div {us_per_day}").alias("day"),
        F.struct(F.col("ts"), F.col("event_id"), F.round(F.col("value") * 100)
                 .cast("long").alias("c")).alias("tick"),
    )
    return b.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("tick.c").cast("long").alias("volume_cents"),
        F.max("tick.c").cast("long").alias("high_cents"),
        F.min("tick.c").cast("long").alias("low_cents"),
        F.min("tick").alias("_o"),
        F.max("tick").alias("_cl"),
    ).select(
        "event_type",
        "day",
        "n_events",
        "volume_cents",
        "high_cents",
        "low_cents",
        F.col("_o.ts").alias("open_ts"),
        F.col("_o.event_id").cast("long").alias("open_id"),
        F.col("_o.c").cast("long").alias("open_cents"),
        F.col("_cl.ts").alias("close_ts"),
        F.col("_cl.event_id").cast("long").alias("close_id"),
        F.col("_cl.c").cast("long").alias("close_cents"),
    )


def ohlc_from_state(state: DataFrame) -> DataFrame:
    """Finalize an OHLC state table to the e37 output shape (key, day,
    n_events, open/high/low/close cents, volume)."""
    return state.select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("open_cents").cast("long").alias("open_cents"),
        F.col("high_cents").cast("long").alias("high_cents"),
        F.col("low_cents").cast("long").alias("low_cents"),
        F.col("close_cents").cast("long").alias("close_cents"),
        F.col("volume_cents").cast("long").alias("volume_cents"),
    )


def forecast_interval_coverage(hourly: DataFrame) -> DataFrame:
    """Empirical prediction-interval coverage audit (fc10): does the
    fc01 model's UNCERTAINTY estimate hold up, not just its point
    forecast (fc02's MAE)? Two rolling origins: the model trained to
    cutoff − 2·horizon forecasts the MIDDLE window, whose signed
    residuals give per-key nearest-rank band quantiles (a20 ceil
    ranks — rank = (pct·n + 99) div 100, pure integers); the model
    trained to cutoff − horizon forecasts the FINAL window, and each
    actual is scored against [forecast − r_hi, forecast − r_lo]
    (residual = forecast − actual, so the actual's band inverts the
    residual band). Reported per key: hours, hits, truncating
    coverage ppm, and the band width — a well-calibrated 10/90 band
    should cover ~80%; a too-narrow band (overconfident model) shows
    coverage far below nominal.

    All integer end-to-end: residuals are signed micro differences of
    evaluated fixed-point forecasts, band edges are order statistics
    (values, not interpolations), coverage is a non-negative
    truncating div. Keys without enough double-horizon history
    produce no row (the fc02 staleness posture — absent, never
    silently wrong). Scale: two calendar-bounded fc01 plans + one
    horizon-bounded per-key window; nothing data-proportional beyond
    the hourly grid.

    Returns (key, n_hours, n_inside, coverage_ppm, r_lo_micro,
    r_hi_micro, band_width_micro).
    """
    cuts = hourly.agg(
        (F.max("hr") - F.lit(24)).alias("_cb"),
        (F.max("hr") - F.lit(2 * 24)).alias("_ca"),
    )
    train_a = (
        hourly.crossJoin(F.broadcast(cuts))
        .filter(F.col("hr") <= F.col("_ca"))
        .select("event_type", "hr", "x")
    )
    train_b = (
        hourly.crossJoin(F.broadcast(cuts))
        .filter(F.col("hr") <= F.col("_cb"))
        .select("event_type", "hr", "x")
    )
    actual = hourly.select(
        F.col("event_type"), F.col("hr").alias("h_future"), F.col("x").alias("_ax")
    )
    resid = (
        forecast_hourly(train_a)
        .join(actual, ["event_type", "h_future"], "left")
        .select(
            F.col("event_type"),
            F.col("h_future"),
            (
                F.col("forecast_micro")
                - F.coalesce(F.col("_ax"), F.lit(0)) * 1_000_000
            ).cast("long").alias("_r"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("_r", "h_future")
    ranked = resid.select(
        "event_type",
        "_r",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("_np"),
    )
    band = ranked.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("_rn")
                == F.expr("(10 * _np + 99) div 100"),
                F.col("_r"),
            )
        ).cast("long").alias("r_lo_micro"),
        F.max(
            F.when(
                F.col("_rn")
                == F.expr("(90 * _np + 99) div 100"),
                F.col("_r"),
            )
        ).cast("long").alias("r_hi_micro"),
    )
    audit = (
        forecast_hourly(train_b)
        .join(actual, ["event_type", "h_future"], "left")
        .join(band, "event_type")
        .select(
            F.col("event_type"),
            "r_lo_micro",
            "r_hi_micro",
            F.when(
                (
                    F.coalesce(F.col("_ax"), F.lit(0)) * 1_000_000
                    >= F.col("forecast_micro") - F.col("r_hi_micro")
                )
                & (
                    F.coalesce(F.col("_ax"), F.lit(0)) * 1_000_000
                    <= F.col("forecast_micro") - F.col("r_lo_micro")
                ),
                1,
            ).otherwise(0).alias("_in"),
        )
    )
    return audit.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("_in").cast("long").alias("n_inside"),
        F.expr("(1000000 * sum(_in)) div count(1)").cast("long").alias(
            "coverage_ppm"
        ),
        F.max("r_lo_micro").cast("long").alias("r_lo_micro"),
        F.max("r_hi_micro").cast("long").alias("r_hi_micro"),
        (F.max("r_hi_micro") - F.max("r_lo_micro")).cast("long").alias(
            "band_width_micro"
        ),
    )


def anomaly_overlap(df: DataFrame) -> DataFrame:
    """Cross-series anomaly co-occurrence (e39): for every key pair
    that was EVER anomalous in the same hour (e16's seasonal flags),
    the co-flagged hour count, the same-status subset (both hot /
    both cold — a shared traffic surge vs one key cannibalizing
    another) and the truncating Jaccard ppm of their flagged-hour
    sets. The cross-series diagnostic the per-key anomaly family
    lacked: platform-wide incidents light up MANY keys at once, and
    high-Jaccard pairs share a cause.

    Pairs that never co-flag produce no row (absent, never a zero
    spray over |keys|²). The hr-equality self-join runs on the
    FLAGGED set only — anomaly-sparse by construction, bounded by the
    hourly grid, never the event log. Returns (key_a, key_b, n_a,
    n_b, n_both, n_same_status, jaccard_ppm) with key_a < key_b.
    """
    fl = seasonal_hourly_anomaly(
        df
    ).select(F.col("event_type").alias("_k"), "hr", "status")
    a = fl.select(
        F.col("_k").alias("key_a"), "hr", F.col("status").alias("_sa")
    )
    b = fl.select(
        F.col("_k").alias("key_b"), "hr", F.col("status").alias("_sb")
    )
    both = (
        a.join(b, "hr")
        .filter(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_both"),
            F.sum(
                (F.col("_sa") == F.col("_sb")).cast("long")
            ).cast("long").alias("n_same_status"),
        )
    )
    counts = fl.groupBy(F.col("_k")).agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    return (
        both.join(
            counts.select(F.col("_k").alias("key_a"),
                          F.col("_n").alias("n_a")),
            "key_a",
        )
        .join(
            counts.select(F.col("_k").alias("key_b"),
                          F.col("_n").alias("n_b")),
            "key_b",
        )
        .select(
            "key_a",
            "key_b",
            "n_a",
            "n_b",
            "n_both",
            "n_same_status",
            F.expr(
                "(1000000 * n_both) div (n_a + n_b - n_both)"
            ).cast("long").alias("jaccard_ppm"),
        )
    )


def sign_test_am_pm(hourly: DataFrame) -> DataFrame:
    """Paired SIGN TEST (st14): per key, each calendar day pairs its
    AM (hours 0-11) and PM (hours 12-23) volumes, and the statistic
    counts which half wins — the distribution-free PAIRED companion
    to st05's unpaired rank-sum: pairing by day removes day-to-day
    level shifts (growth, weekday mix) that contaminate an unpaired
    compare, and the sign test needs no symmetry assumption.

    All integer: n_pos (PM > AM), n_neg, n_tie, and the signed
    s_stat = n_pos − n_neg UNDIVIDED (the st08/fc02 posture — the
    consumer normalizes; no float, no binomial tail here: C(n, k)
    passes DECIMAL(38,0) by n ≈ 130). Days are those the key has ANY
    observed hour (unobserved half-days are honest zeros). One hash
    agg to (key, day) with conditional sums, one key re-agg.

    Returns (key, n_pairs, n_pos, n_neg, n_tie, s_stat), all BIGINT.
    """
    d = hourly.groupBy(
        F.col("event_type"), F.expr("hr div 24").cast("long").alias("_d")
    ).agg(
        F.sum(F.when(F.expr("hr % 24") < 12, F.col("x")).otherwise(0))
        .cast("long").alias("_am"),
        F.sum(F.when(F.expr("hr % 24") >= 12, F.col("x")).otherwise(0))
        .cast("long").alias("_pm"),
    )
    return d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("_pm") > F.col("_am"), 1).otherwise(0))
        .cast("long").alias("n_pos"),
        F.sum(F.when(F.col("_pm") < F.col("_am"), 1).otherwise(0))
        .cast("long").alias("n_neg"),
        F.sum(F.when(F.col("_pm") == F.col("_am"), 1).otherwise(0))
        .cast("long").alias("n_tie"),
        (
            F.sum(F.when(F.col("_pm") > F.col("_am"), 1).otherwise(0))
            - F.sum(F.when(F.col("_pm") < F.col("_am"), 1).otherwise(0))
        ).cast("long").alias("s_stat"),
    )


def max_drawdown(df: DataFrame) -> DataFrame:
    """Max drawdown & record days of the daily value series (e40): per
    key, the deepest peak-to-trough fall of daily volume (in cents)
    and the count of record-setting days — the resilience pair every
    financial/capacity dashboard wants next to e37's bars: "how bad
    did the worst slump get, and how often do we still set highs".

    Series = daily volume_cents (Σ round(value·100) per (key, epoch
    day), observed days only). running peak = max over days ≤ d (a
    key-partitioned CALENDAR-BOUNDED window — days, not events);
    drawdown_d = peak − v_d; the reported max breaks ties on the
    EARLIEST day via one max(struct(dd, −day)) aggregate (no second
    pass); a record day strictly exceeds all previous days (the first
    day is vacuously a record). All integer.

    Returns (key, n_days, n_record_days, peak_cents,
    max_drawdown_cents, drawdown_day), all BIGINT.
    """
    us_per_day = 86_400_000_000
    daily = (
        df.select(
            F.col("event_type"),
            F.expr(f"unix_micros(ts) div {us_per_day}").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").cast("long").alias("v"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    prev_max = F.max("v").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    run_max = F.max("v").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = daily.select(
        "event_type",
        "day",
        "v",
        (F.col("v") > F.coalesce(prev_max, F.lit(-1))).cast("long").alias(
            "_rec"
        ),
        (run_max - F.col("v")).cast("long").alias("_dd"),
    )
    agg = scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("_rec").cast("long").alias("n_record_days"),
        F.max("v").cast("long").alias("peak_cents"),
        F.max(F.struct(F.col("_dd"), (-F.col("day")).alias("_nd"))).alias(
            "_m"
        ),
    )
    return agg.select(
        "event_type",
        "n_days",
        "n_record_days",
        "peak_cents",
        F.col("_m._dd").cast("long").alias("max_drawdown_cents"),
        (-F.col("_m._nd")).cast("long").alias("drawdown_day"),
    )


def week_over_week(hourly: DataFrame) -> DataFrame:
    """Week-over-week change (e41): volume per (key, calendar week)
    with the signed delta and ppm change against the PREVIOUS
    calendar week — the discrete-week BI staple next to w04's rolling
    window (a rolling 7-day sum smears week boundaries; a Monday
    launch reads cleanly only on calendar weeks). Week index =
    (epoch_day + 3) div 7 — Monday-start, the w11 dow convention
    (1970-01-01 = Thursday), non-negative so div ≡ flooring.

    The lag is over the key's OBSERVED weeks in week order (a fully
    silent week yields a gap — the consumer sees the week index jump;
    gap-filling to zero weeks is e09's job). Signed delta stays
    UNDIVIDED alongside the ppm (numerator in DECIMAL(38,0), the a31
    class; signed div ≡ //); the first observed week and zero-volume
    previous weeks yield NULL change columns. One (key, week) agg +
    one calendar-bounded lag window.

    Returns (key, week, n_events, prev_week, prev_n, delta,
    change_ppm), all BIGINT.
    """
    wk = (
        hourly.select(
            F.col("event_type"),
            F.expr("((hr div 24) + 3) div 7").cast("long").alias("week"),
            F.col("x"),
        )
        .groupBy("event_type", "week")
        .agg(F.sum("x").cast("long").alias("n_events"))
    )
    w = Window.partitionBy("event_type").orderBy("week")
    lg = wk.select(
        "event_type",
        "week",
        "n_events",
        F.lag("week").over(w).cast("long").alias("prev_week"),
        F.lag("n_events").over(w).cast("long").alias("prev_n"),
    )
    return lg.select(
        "event_type",
        "week",
        "n_events",
        "prev_week",
        "prev_n",
        (F.col("n_events") - F.col("prev_n")).cast("long").alias("delta"),
        F.expr(
            "CASE WHEN prev_n IS NULL OR prev_n = 0 THEN NULL"
            " ELSE (CAST(1000000 AS DECIMAL(38,0)) * (n_events - prev_n))"
            " div prev_n END"
        ).cast("long").alias("change_ppm"),
    )


def forecast_disagreement(hourly: DataFrame) -> DataFrame:
    """Model-disagreement audit (fc11): the profile+trend forecaster
    (fc01) and the Holt–Winters forecaster (fc06) fit on the SAME
    history, their next-24 forecasts laid side by side with
    the signed UNDIVIDED gap — the cheapest ensemble diagnostic
    there is: where independent models agree, trust the number;
    where they diverge, the gap per hour-of-day says WHICH structure
    (seasonal profile vs adaptive level/trend) is driving the
    disagreement. Both models anchor at the key's own last grid hour,
    so the h_future spines align by construction.

    Engine-exact end to end: fc01's fixed-point forecast joins the
    HW final state's signed multiply-add (the fc07 formula: level +
    h·trend + season[hod]) — no float, no division at all. Calendar-
    bounded everywhere. Returns (key, h_future, hod,
    f_profile_micro, f_hw_micro, gap_micro), all BIGINT.
    """
    p = 24
    fc = forecast_hourly(hourly)
    state = hw_final_state(holt_winters_smooth(hourly, "event_type", p), "event_type", p)
    return (
        fc.join(state, "event_type")
        .select(
            F.col("event_type"),
            F.col("h_future").cast("long").alias("h_future"),
            F.pmod(F.col("h_future"), F.lit(24)).cast("long").alias("hod"),
            F.col("forecast_micro").cast("long").alias("f_profile_micro"),
            (
                F.col("level_micro")
                + (F.col("h_future") - F.col("last_hr"))
                * F.col("trend_micro")
                + F.element_at(
                    F.col("season"),
                    (F.pmod(F.col("h_future"), F.lit(p)) + 1).cast("int"),
                )
            ).cast("long").alias("f_hw_micro"),
        )
        .withColumn(
            "gap_micro",
            (F.col("f_profile_micro") - F.col("f_hw_micro")).cast("long"),
        )
    )
