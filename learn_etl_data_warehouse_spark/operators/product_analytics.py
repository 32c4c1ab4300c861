"""Product-analytics operators over the event stream: cohort retention,
growth accounting, and the event-transition matrix.

These are the standard "how is the user base behaving" queries a
warehouse serves next to the revenue rollups (reference analog: the
per-quarter / per-mode endpoint aggregations of server.py:152-299,
lifted to the event-log domain). All three are pure native-Column
compositions — one or two key-shuffles each, no UDFs, no collect — and
every output column is an integer count, a DATE, or a single rounded
ratio of exact integers, so each has an exact DuckDB oracle twin.

Scale notes (100 TB):
- ``cohort_retention`` / ``growth_accounting`` shuffle on ``user_id``
  (the first-touch aggregation) and then on the calendar grain. The
  calendar-grain side is bounded by days-in-range, not data volume, so
  its final join is broadcast-safe by construction.
- ``growth_accounting``'s cumulative window is unpartitioned but runs
  over the per-day aggregate (≤ one row per calendar day) — the same
  bounded-window shape as the d14 shard-offset table, benign at any SF.
- ``transition_matrix`` is one window shuffle on ``user_id`` (sort
  within user by time) followed by a partial-aggregated count shuffle on
  the bounded (from, to) pair — power-law users cost sort time within
  their partition but state never leaves the executor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cohort_retention(
    df: DataFrame,
    user: str = "user_id",
    ts: str = "ts",
) -> DataFrame:
    """Weekly retention matrix keyed by first-touch cohort day.

    Each user is assigned to the cohort of their first event's calendar
    day; every later event lands in ``offset_week =
    floor(days_since_cohort / 7)``. Returns one row per (cohort_day,
    offset_week): distinct active users, the cohort's size, and the
    retention ratio. ``offset_week`` 0 always contains the whole cohort.
    """
    firsts = df.groupBy(user).agg(F.min(ts).alias("_first_ts"))
    cohorts = firsts.select(
        F.col(user), F.to_date("_first_ts").alias("cohort_day")
    )
    sizes = cohorts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    cells = (
        df.select(F.col(user), F.to_date(ts).alias("_day"))
        .join(cohorts, user)
        .groupBy(
            "cohort_day",
            F.floor(F.datediff("_day", F.col("cohort_day")) / 7)
            .cast("long")
            .alias("offset_week"),
        )
        .agg(F.countDistinct(user).alias("active_users"))
    )
    # sizes has ≤ one row per calendar day — bounded, broadcastable.
    # Day grain is exposed as midnight TIMESTAMP (cross-engine-stable in
    # the hash compare; DATE round-trips differently through Arrow).
    return cells.join(F.broadcast(sizes), "cohort_day").select(
        F.col("cohort_day").cast("timestamp").alias("cohort_day"),
        "offset_week",
        "active_users",
        "cohort_size",
        F.round(
            F.col("active_users").cast("double")
            / F.col("cohort_size").cast("double"),
            6,
        ).alias("retention"),
    )


def growth_accounting(
    df: DataFrame,
    user: str = "user_id",
    ts: str = "ts",
) -> DataFrame:
    """Daily active / new / cumulative user counts.

    Returns one row per calendar day with events: ``dau`` (distinct
    active users), ``new_users`` (users whose first-ever event is that
    day), and ``cum_users`` (running total of new users — the
    cumulative-distinct trick: first occurrence per user, then a running
    sum, because COUNT(DISTINCT) OVER a growing frame is not a
    window-able aggregate).
    """
    days = df.select(F.to_date(ts).alias("day"), F.col(user))
    dau = days.groupBy("day").agg(F.countDistinct(user).alias("dau"))
    news = (
        days.groupBy(user)
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("_new"))
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    new_users = F.coalesce("_new", F.lit(0)).cast("long")
    return (
        dau.join(news, "day", "left")
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "dau",
            new_users.alias("new_users"),
            F.sum(new_users).over(w).cast("long").alias("cum_users"),
        )
    )


def transition_matrix(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    state: str = "event_type",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Per-key consecutive-state transition counts (the Markov view of
    user journeys): for each user's time-ordered event sequence, count
    (state → next state) bigrams and the per-source transition
    probability. ``tiebreak`` pins the order of same-timestamp events so
    the result is deterministic.
    """
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    nxt = F.lead(state).over(w)
    pairs = (
        df.select(F.col(state).alias("from_state"), nxt.alias("to_state"))
        .filter(F.col("to_state").isNotNull())
        .groupBy("from_state", "to_state")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wp = Window.partitionBy("from_state")
    return pairs.select(
        "from_state",
        "to_state",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wp).cast("double"),
            6,
        ).alias("p"),
    )


def session_paths(
    events: DataFrame,
    gap_minutes: int = 30,
    max_steps: int = 3,
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Top-of-session path analysis: the first ``max_steps`` event
    types of each session, joined with '>', counted across sessions.

    Sessionization is the same gaps-and-islands pattern as
    streaming/events.py::session_windows_batch (lag → new-session flag
    → running sum), so paths and session windows agree by
    construction. Ordering inside a session is (ts, event_id) — total,
    so the path string is deterministic cross-engine.

    Scale shape: two key-partitioned windows + two hash aggs; the path
    alphabet (event types) is bounded, so the final count table is
    tiny regardless of input size.
    """
    from pyspark.sql import Window

    gap_us = gap_minutes * 60 * 1_000_000
    byk = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col("event_id").asc()
    )
    flagged = events.withColumn(
        "_new",
        (
            F.coalesce(
                F.unix_micros(F.col(ts_col))
                - F.unix_micros(F.lag(ts_col).over(byk)),
                F.lit(gap_us + 1),
            )
            > gap_us
        ).cast("long"),
    ).withColumn(
        "_sid",
        F.sum("_new").over(
            byk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    rn = F.row_number().over(
        Window.partitionBy(key_col, "_sid").orderBy(
            F.col(ts_col).asc(), F.col("event_id").asc()
        )
    )
    steps = flagged.withColumn("_rn", rn).filter(
        F.col("_rn") <= int(max_steps)
    )
    paths = steps.groupBy(key_col, "_sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col(ts_col),
                            F.col("event_id"),
                            F.col(type_col),
                        )
                    )
                ),
                lambda s: s[type_col],
            ),
            ">",
        ).alias("path")
    )
    return paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.countDistinct(key_col).alias("n_users"),
    )


def cumulative_new_actors(
    df: DataFrame, actor_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """Cumulative-distinct growth curve: per day, how many actors were
    seen for the FIRST time, and the running total of distinct actors
    to date — the audience-growth chart, computed exactly without any
    per-day COUNT(DISTINCT) rescan.

    The trick is the first-touch reduction: min(epoch-day) per actor
    (one partial-aggregated shuffle on the actor), then a day-grain
    count and one running sum over the day axis. The final window is a
    single ordered partition over |days| rows — calendar-bounded, the
    pf03 CDF-grid posture, never data-volume.

    Returns (day BIGINT epoch-day, n_new, cum_actors).
    """
    us_per_day = 86_400_000_000
    fd = df.groupBy(F.col(actor_col).alias("_a")).agg(
        F.expr(f"min(unix_micros({ts_col}) div {us_per_day})").alias("day")
    )
    daily = fd.groupBy("day").agg(F.count(F.lit(1)).alias("n_new"))
    w = Window.orderBy("day")
    return daily.select(
        "day",
        "n_new",
        F.sum("n_new").over(w).cast("long").alias("cum_actors"),
    )


def rfm_segments(
    orders: DataFrame,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    recency_days: tuple[int, int, int] = (30, 180, 365),
    frequency_orders: tuple[int, int, int] = (2, 5, 10),
    monetary_cents: tuple[int, int, int] = (
        10_000_00,
        50_000_00,
        200_000_00,
    ),
) -> DataFrame:
    """RFM customer segmentation with FIXED business-rule bins: score
    1-4 per dimension (4 = best), segment = 'R{r}F{f}M{m}'.

    Deliberately NOT quantile-binned: global exact quartiles need a
    total-order rank (one partition holding every customer) and make
    scores data-drift-relative; fixed cutoffs are how production RFM
    is usually specified, are stable across reruns, and keep the whole
    plan one aggregation + pure per-row predicates — no global window,
    embarrassingly scalable. (For drift-relative bins see a13's
    quantile buckets.)

    Recency anchors to max(date) over the INPUT (one tiny agg,
    broadcast back), so the operator is reproducible on a frozen
    snapshot rather than wall-clock-dependent. Money is compared in
    integer cents. Returns (cust, recency_days, n_orders,
    total_cents, r_score, f_score, m_score, segment).
    """
    per_cust = orders.groupBy(F.col(cust_col).alias("cust")).agg(
        F.max(date_col).alias("_last"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col(amount_col) * 100).cast("long")).alias(
            "total_cents"
        ),
    )
    anchor = orders.agg(F.max(date_col).alias("_anchor"))
    scored = per_cust.crossJoin(F.broadcast(anchor)).withColumn(
        "recency_days", F.datediff(F.col("_anchor"), F.col("_last")).cast("long")
    )

    def _score(col, cuts, ascending_good):
        lo, mid, hi = cuts
        if ascending_good:  # bigger value = better (freq, monetary)
            return (
                F.when(col >= hi, 4)
                .when(col >= mid, 3)
                .when(col >= lo, 2)
                .otherwise(1)
            )
        return (  # smaller value = better (recency)
            F.when(col <= lo, 4)
            .when(col <= mid, 3)
            .when(col <= hi, 2)
            .otherwise(1)
        )

    r = _score(F.col("recency_days"), recency_days, False)
    f = _score(F.col("n_orders"), frequency_orders, True)
    m = _score(F.col("total_cents"), monetary_cents, True)
    return scored.select(
        "cust",
        "recency_days",
        "n_orders",
        "total_cents",
        r.cast("long").alias("r_score"),
        f.cast("long").alias("f_score"),
        m.cast("long").alias("m_score"),
        F.concat(
            F.lit("R"), r.cast("string"),
            F.lit("F"), f.cast("string"),
            F.lit("M"), m.cast("string"),
        ).alias("segment"),
    )


def topn_with_others(
    df: DataFrame,
    group_col: str,
    key_col: str,
    measure_col,
    n: int = 3,
) -> DataFrame:
    """Top-N keys per group by an integer measure, plus one 'OTHERS'
    rollup row per group carrying the remainder — the standard
    "top 3 parts per nation and everything else" report shape, so a
    consumer sees both the leaders and the conserved group total.

    ``measure_col`` must be an integer Column expression (aggregated
    per (group, key) first). Rank ties break by key ascending. One
    shuffle for the (group, key) agg, one group-partitioned window —
    no global order anywhere.

    Returns (group, key STRING — the key cast to string or 'OTHERS',
    measure BIGINT, rnk BIGINT — OTHERS carries rnk 0).
    """
    per_key = df.groupBy(
        F.col(group_col).alias("grp"), F.col(key_col).alias("_key")
    ).agg(measure_col.cast("long").alias("measure"))
    w = Window.partitionBy("grp").orderBy(
        F.desc("measure"), F.asc("_key")
    )
    ranked = per_key.withColumn("_rnk", F.row_number().over(w))
    top = ranked.filter(F.col("_rnk") <= n).select(
        "grp",
        F.col("_key").cast("string").alias("key"),
        "measure",
        F.col("_rnk").cast("long").alias("rnk"),
    )
    others = (
        ranked.filter(F.col("_rnk") > n)
        .groupBy("grp")
        .agg(F.sum("measure").cast("long").alias("measure"))
        .select(
            "grp",
            F.lit("OTHERS").alias("key"),
            "measure",
            F.lit(0).cast("long").alias("rnk"),
        )
    )
    return top.unionByName(others)


def rfm_transitions(
    orders: DataFrame,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
) -> DataFrame:
    """Customer-lifecycle TRANSITION matrix: split the order history at
    the integer midpoint epoch-day, score both halves with
    :func:`rfm_segments` (each half anchors recency to ITS OWN max
    date — period-relative, snapshot-reproducible), and count customers
    per (segment_from, segment_to) cell. Customers absent from a half
    surface as the 'NEW' / 'CHURNED' pseudo-segments, so the matrix is
    customer-conserving.

    Deterministic: the split day is ``(min_day + max_day) div 2`` over
    non-negative epoch days (``datediff`` against 1970-01-01 — the NTZ-
    safe idiom; ``unix_micros`` THROWS on the TIMESTAMP_NTZ flavor this
    fixture ships); bins are ca01's fixed business rules. One extra
    aggregation pair over the ca01 plan; the full-outer join is
    customer-grain. Returns (segment_from, segment_to, n_customers)."""
    day = F.datediff(F.col(date_col), F.lit("1970-01-01")).cast("long")
    bounds = orders.agg(
        F.min(day).alias("_mn"), F.max(day).alias("_mx")
    )
    wm = orders.crossJoin(
        F.broadcast(bounds.select(F.expr("(_mn + _mx) div 2").alias("_mid")))
    ).withColumn("_day", day)
    first = wm.filter(F.col("_day") <= F.col("_mid")).drop("_mid", "_day")
    second = wm.filter(F.col("_day") > F.col("_mid")).drop("_mid", "_day")
    sa = rfm_segments(first, cust_col, date_col, amount_col).select(
        "cust", F.col("segment").alias("segment_from")
    )
    sb = rfm_segments(second, cust_col, date_col, amount_col).select(
        F.col("cust").alias("_cb"), F.col("segment").alias("segment_to")
    )
    joined = sa.join(sb, sa["cust"] == sb["_cb"], "full_outer")
    return (
        joined.select(
            F.coalesce("segment_from", F.lit("NEW")).alias("segment_from"),
            F.coalesce("segment_to", F.lit("CHURNED")).alias("segment_to"),
        )
        .groupBy("segment_from", "segment_to")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


def decile_lift(units: DataFrame, cents_col: str = "cents") -> DataFrame:
    """GAINS / LIFT TABLE: units bucketed into value deciles by the
    EXACT nearest-rank decile thresholds from the two-scan selection
    kernel (a29 — no global sort, no single-partition window at any
    size), each decile reporting its unit count, value share and lift
    vs the overall mean — the marketing/ops concentration artifact
    next to a23's single Gini number and a26's ABC classes.

    Decile assignment is THRESHOLD-bucketed: decile = 1 + |{q :
    value > p_q}| over the nine broadcast thresholds, so tied values
    land deterministically in the lowest decile containing them (the
    nearest-rank convention; deciles are therefore within ties of
    N/10 each, never re-ranked per row). lift_ppm = (sum_d·N·10⁶) div
    (n_d·S) in DECIMAL(38,0) — the d-mean over the overall mean.

    Returns ≤ 10 rows: (decile, n_units, sum_cents, share_ppm,
    lift_ppm)."""
    from learn_etl_data_warehouse_spark.functions.aggregates import (
        exact_percentiles_selection,
    )

    qs = tuple(range(10, 100, 10))
    thr = exact_percentiles_selection(units, cents_col, qs=qs)
    v = F.col(cents_col).cast("long")
    dec = F.lit(1)
    for q in qs:
        dec = dec + (v > F.col(f"p{q}")).cast("int")
    per = (
        units.crossJoin(F.broadcast(thr))
        .select(v.alias("_v"), dec.cast("long").alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_units"),
            F.sum("_v").cast("long").alias("sum_cents"),
        )
    )
    tot = units.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(v).cast("long").alias("_s"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_units",
        "sum_cents",
        # DECIMAL(38,0) numerator: 10⁶·sum_cents overflows BIGINT once a
        # decile holds ~10¹³ cents (the 16× growth probe hit it — a
        # plain 100 TB input would too); DECIMAL div BIGINT returns long
        F.expr("(CAST(1000000 AS DECIMAL(38,0)) * sum_cents) div _s")
        .cast("long")
        .alias("share_ppm"),
        F.expr(
            "(CAST(sum_cents AS DECIMAL(38,0)) * _n * 1000000)"
            " div (CAST(n_units AS DECIMAL(38,0)) * _s)"
        )
        .cast("long")
        .alias("lift_ppm"),
    )


def mix_shift_decomposition(
    units: DataFrame,
    dim_col: str = "dim",
    period_col: str = "period",
    cents_col: str = "cents",
    prior: str | int = 0,
    current: str | int = 1,
) -> DataFrame:
    """PERIOD-OVER-PERIOD revenue decomposition per segment — the BI
    "why did revenue move" bridge: for each dimension value, the delta
    between ``prior`` and ``current`` splits into a VOLUME effect
    (unit-count change at the prior per-unit rate) and a RATE effect
    (defined as the exact remainder, so per-segment conservation
    volume + rate = delta holds by CONSTRUCTION — no float allocation
    drift, and Σ segments = the total bridge). rate_prior is the
    truncating per-unit cents rate; segments present in only one
    period decompose with rate_prior = 0 (pure volume on entry, pure
    rate on exit is avoided by the remainder definition — the exit
    case books the loss in volume at the prior rate and the remainder
    in rate).

    One (dim, period) hash agg + one pivot-shaped self-join on dim.
    Returns (dim, n_prior, n_current, rev_prior, rev_current, delta,
    volume_effect, rate_effect)."""
    g = (
        units.filter(F.col(period_col).isin([prior, current]))
        .groupBy(
            F.col(dim_col).alias("dim"),
            F.when(F.col(period_col) == prior, F.lit("p"))
            .otherwise(F.lit("c"))
            .alias("_w"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum(F.col(cents_col)).cast("long").alias("_rev"),
        )
    )
    wide = g.groupBy("dim").agg(
        F.coalesce(
            F.max(F.when(F.col("_w") == "p", F.col("_n"))), F.lit(0)
        ).alias("n_prior"),
        F.coalesce(
            F.max(F.when(F.col("_w") == "c", F.col("_n"))), F.lit(0)
        ).alias("n_current"),
        F.coalesce(
            F.max(F.when(F.col("_w") == "p", F.col("_rev"))), F.lit(0)
        ).alias("rev_prior"),
        F.coalesce(
            F.max(F.when(F.col("_w") == "c", F.col("_rev"))), F.lit(0)
        ).alias("rev_current"),
    )
    rate_p = F.expr(
        "CASE WHEN n_prior = 0 THEN 0 ELSE rev_prior div n_prior END"
    )
    vol = ((F.col("n_current") - F.col("n_prior")) * rate_p).cast("long")
    delta = (F.col("rev_current") - F.col("rev_prior")).cast("long")
    return wide.select(
        "dim",
        F.col("n_prior").cast("long").alias("n_prior"),
        F.col("n_current").cast("long").alias("n_current"),
        F.col("rev_prior").cast("long").alias("rev_prior"),
        F.col("rev_current").cast("long").alias("rev_current"),
        delta.alias("delta"),
        vol.alias("volume_effect"),
        (delta - vol).cast("long").alias("rate_effect"),
    )


def inter_purchase_gap_stats(
    df: DataFrame,
    segment_col: str = "segment",
    cust_col: str = "cust",
    day_col: str = "day",
    id_col: str = "oid",
) -> DataFrame:
    """Inter-purchase cadence per segment (ca04): exact nearest-rank
    MEDIAN and P90 of the day gaps between a customer's consecutive
    orders — the repeat-cycle number CRM reorder nudges and stock
    planning key on (ca01 bins recency once; this measures the
    customer clock itself).

    Gaps come from one lag under the per-customer total order
    (day, id — same-day orders gap 0, deterministic); quantiles use
    BOUNDED-DOMAIN selection: gaps are integer days bounded by the
    calendar horizon, so per segment the (gap -> count) table is a
    few-thousand-row frame and the nearest-rank walk is a cumsum over
    it — no per-row global rank anywhere (the a28/st06 selection
    posture). Rank convention is a20's ceil form: value at rank
    (q·n + 99) div 100.

    Returns (segment, n_gaps, median_gap_days, p90_gap_days)."""
    w = Window.partitionBy(cust_col).orderBy(
        F.col(day_col).asc(), F.col(id_col).asc()
    )
    gaps = (
        df.select(
            F.col(segment_col).alias("_seg"),
            F.col(cust_col).alias("_c"),
            F.col(day_col).alias("_d"),
            F.col(id_col).alias("_i"),
        )
        .select(
            "_seg",
            (F.col("_d") - F.lag("_d").over(
                Window.partitionBy("_c").orderBy(
                    F.col("_d").asc(), F.col("_i").asc()
                )
            )).alias("_gap"),
        )
        .filter(F.col("_gap").isNotNull())
    )
    counts = gaps.groupBy("_seg", "_gap").agg(
        F.count(F.lit(1)).cast("long").alias("_cnt")
    )
    ws = Window.partitionBy("_seg").orderBy("_gap").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy("_seg")
    cum = counts.select(
        "_seg",
        "_gap",
        F.sum("_cnt").over(ws).alias("_cum"),
        F.sum("_cnt").over(wn).alias("_n"),
    )
    return (
        cum.groupBy("_seg")
        .agg(
            F.max("_n").cast("long").alias("n_gaps"),
            F.min(
                F.when(
                    F.col("_cum") >= F.expr("(50 * _n + 99) div 100"),
                    F.col("_gap"),
                )
            ).cast("long").alias("median_gap_days"),
            F.min(
                F.when(
                    F.col("_cum") >= F.expr("(90 * _n + 99) div 100"),
                    F.col("_gap"),
                )
            ).cast("long").alias("p90_gap_days"),
        )
        .select(
            F.col("_seg").alias("segment"),
            "n_gaps",
            "median_gap_days",
            "p90_gap_days",
        )
    )

def backlog_aging(
    orders: DataFrame,
    open_statuses: tuple[str, ...] = ("O", "P"),
    bounds: tuple[int, int, int] = (30, 90, 365),
) -> DataFrame:
    """BACKLOG AGING report (ops05): open orders bucketed by days
    outstanding as of the dataset's latest order date — the classic
    operations artifact next to ops01's lag SLA (how late do we ship)
    and ops02's backlog sweep (how much is open over time): WHERE does
    the open book age, and how much value sits in each band.

    Age is exact integer days via the portable epoch-day idiom
    (datediff vs 1970-01-01 — o_orderdate reads as TIMESTAMP_NTZ and
    unix_micros THROWS on NTZ, the r7 lesson); the as-of anchor is the
    global max order date (1-row broadcast). Fixed half-open bands
    0..b1 / b1+1..b2 / b2+1..b3 / b3+1.. (business bins by design, the
    ca01 posture). Returns (priority, age_bucket, n_orders,
    value_cents) with value in exact cents."""
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
    base = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("_st"),
        day.cast("long").alias("_d"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("_c"),
    )
    anchor = F.broadcast(
        base.agg(F.max("_d").cast("long").alias("_mx"))
    )
    b1, b2, b3 = (int(b) for b in bounds)
    age = F.col("_mx") - F.col("_d")
    bucket = (
        F.when(age <= b1, F.lit(f"0-{b1}"))
        .when(age <= b2, F.lit(f"{b1 + 1}-{b2}"))
        .when(age <= b3, F.lit(f"{b2 + 1}-{b3}"))
        .otherwise(F.lit(f"{b3 + 1}+"))
    )
    return (
        base.filter(F.col("_st").isin(*open_statuses))
        .crossJoin(anchor)
        .select("priority", bucket.alias("age_bucket"), "_c")
        .groupBy("priority", "age_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("_c").cast("long").alias("value_cents"),
        )
    )


def hhi_concentration(
    units: DataFrame,
    group_col: str = "grp",
    entity_col: str = "entity",
    cents_col: str = "cents",
) -> DataFrame:
    """Herfindahl–Hirschman concentration index per group (a34): with
    per-entity mass v_i (exact cents), HHI = Σ (v_i/Σv)² — reported as
    the EXACT truncating ppm  (1e6 · Σ v_i²) div (Σv)²  rather than a
    sum of pre-rounded squared shares (squaring ppm shares first loses
    the cross terms; the exact rational needs one numerator and one
    denominator). The antitrust/market-structure scalar next to a23's
    Gini (inequality of the whole distribution) and a31's decile
    lift (where the mass sits): HHI answers "how few entities IS this
    market, effectively".

    Overflow posture (the a31 lesson): v_i² runs in DECIMAL(38,0)
    (HUGEINT on the oracle side) — a BIGINT square dies at ~3e9 cents
    per entity; the ×1e6 numerator stays decimal until the final
    truncating div. top_share_ppm = (1e6 · max v) div Σv rides along
    as the single-firm-dominance view of the same table.

    Plan shape: one shuffle to (group, entity) mass, one re-agg to
    group grain — |groups| rows out, nothing global.

    Returns (grp, n_entities, total_cents, hhi_ppm, top_share_ppm),
    all BIGINT.
    """
    per_entity = units.groupBy(
        F.col(group_col).alias("grp"), F.col(entity_col).alias("_e")
    ).agg(F.sum(cents_col).cast("long").alias("_v"))
    g = per_entity.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_entities"),
        F.sum("_v").cast("long").alias("total_cents"),
        F.sum(
            F.col("_v").cast("decimal(38,0)") * F.col("_v")
        ).alias("_sq"),
        F.max("_v").cast("long").alias("_mx"),
    )
    return g.select(
        "grp",
        "n_entities",
        "total_cents",
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * _sq)"
            " div (CAST(total_cents AS DECIMAL(38,0)) * total_cents)"
            " AS BIGINT)"
        ).alias("hhi_ppm"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * _mx)"
            " div CAST(total_cents AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("top_share_ppm"),
    )


def new_returning_revenue(
    orders: DataFrame,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    price_col: str = "o_totalprice",
) -> DataFrame:
    """New-vs-returning revenue bridge (ca05): per calendar month, how
    much revenue came from customers placing their FIRST-EVER order
    that month vs the installed base — the acquisition-vs-retention
    split e11 computes for event users, lifted to the ORDER/revenue
    grain (a growth chart whose 'new' slice shrinks while total holds
    is a retention business; the reverse is an acquisition treadmill).

    month = year·100 + month (integer key, NTZ-safe — year()/month()
    never touch unix_micros); a customer is NEW in exactly their
    min-month (computed as a customer-grain AGGREGATE + broadcast-less
    equi-join back — no window over the order history). Revenue in
    exact cents; the share's ×1e6 numerator is born in DECIMAL(38,0)
    (the a31 overflow class — 1e6·monthly-cents passes 2^63 at fleet
    scale) with one truncating div.

    Returns (month_key, n_orders, n_new_orders, revenue_cents,
    new_revenue_cents, returning_revenue_cents, new_share_ppm), all
    BIGINT.
    """
    b = orders.select(
        F.col(cust_col).alias("_c"),
        (
            F.year(F.col(date_col)) * 100 + F.month(F.col(date_col))
        ).cast("long").alias("mk"),
        F.expr(f"CAST(round({price_col} * 100) AS BIGINT)").alias("_r"),
    )
    fm = b.groupBy("_c").agg(F.min("mk").alias("_fm"))
    j = b.join(fm, "_c").withColumn(
        "_new", (F.col("mk") == F.col("_fm")).cast("long")
    )
    return j.groupBy(F.col("mk").alias("month_key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("_new").cast("long").alias("n_new_orders"),
        F.sum("_r").cast("long").alias("revenue_cents"),
        F.sum(F.col("_new") * F.col("_r")).cast("long").alias(
            "new_revenue_cents"
        ),
        F.sum((1 - F.col("_new")) * F.col("_r")).cast("long").alias(
            "returning_revenue_cents"
        ),
        F.expr(
            "CASE WHEN sum(_r) = 0 THEN NULL"
            " ELSE (CAST(1000000 AS DECIMAL(38,0)) * sum(_new * _r))"
            " div sum(_r) END"
        ).cast("long").alias("new_share_ppm"),
    )


def fulfillment_span(
    lineitem: DataFrame, orders: DataFrame
) -> DataFrame:
    """Order fulfillment span report (ops06): per priority class, how
    LONG an order stays open across its shipments — span = last minus
    first ship date in integer days at ORDER grain (ops01 times each
    line against order placement; the span is the multi-shipment
    spread both miss), with the single-shipment share (span = 0: the
    one-and-done orders a split-shipment cost model excludes).

    Epoch-day idiom for NTZ safety; span mean as truncating micro on
    non-negative operands; fact pre-aggregated to order grain BEFORE
    the orders join (one fact shuffle, the a34 discipline).

    Returns (priority, n_orders, one_shot_ppm, mean_span_micro,
    max_span_days), all BIGINT.
    """
    per_order = lineitem.groupBy("l_orderkey").agg(
        (
            F.max(F.datediff(F.col("l_shipdate"), F.lit("1970-01-01")))
            - F.min(F.datediff(F.col("l_shipdate"), F.lit("1970-01-01")))
        ).cast("long").alias("_span")
    )
    j = per_order.join(
        orders.select(
            F.col("o_orderkey"), F.col("o_orderpriority").alias("priority")
        ),
        per_order["l_orderkey"] == F.col("o_orderkey"),
    )
    return j.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.expr(
            "(1000000 * sum(CASE WHEN _span = 0 THEN 1 ELSE 0 END))"
            " div count(1)"
        ).cast("long").alias("one_shot_ppm"),
        F.expr("(1000000 * sum(_span)) div count(1)").cast("long").alias(
            "mean_span_micro"
        ),
        F.max("_span").cast("long").alias("max_span_days"),
    )
