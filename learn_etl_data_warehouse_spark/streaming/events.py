"""Windowed aggregation over the events surface.

The reference has no streaming (its ETL runs once at import; SURVEY
§2.7); the events table is the driver's extension surface. Every windowed
operator here runs on a bounded DataFrame and is oracle-checkable
against SQL.

Window keys use Spark's native ``window``/``session_window`` functions
(struct of start/end); the operators also expose epoch-bucket variants
whose arithmetic (``epoch_us`` integer math) is bit-exact across engines
for oracle comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.aggregates import fixed_point_sum


def tumbling_window_batch(events: DataFrame, minutes: int = 10) -> DataFrame:
    """Tumbling count/sum per (window, event_type). Uses native
    ``F.window``; window start surfaces as a timestamp column."""
    w = F.window(F.col("ts"), f"{minutes} minutes")
    return (
        events.groupBy(w.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fixed_point_sum(F.col("value"), 100).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_window_batch(
    events: DataFrame,
    window_minutes: int = 10,
    slide_minutes: int = 5,
) -> DataFrame:
    """Sliding (hopping) window counts: each event lands in
    window/slide overlapping windows."""
    w = F.window(F.col("ts"), f"{window_minutes} minutes", f"{slide_minutes} minutes")
    return (
        events.groupBy(w.alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def session_windows_batch(
    events: DataFrame,
    gap_minutes: int = 30,
) -> DataFrame:
    """Sessionization, batch form: consecutive events of one key belong to
    one session while gaps stay under ``gap_minutes``.

    Implemented with the gaps-and-islands window pattern (lag → new-session
    flag → running sum as session id) rather than ``session_window`` so the
    SQL oracle can express the identical computation. One shuffle
    (partition by key); session_end follows Spark's session_window
    convention: last event + gap.
    """
    gap_us = gap_minutes * 60 * 1_000_000
    from pyspark.sql import Window

    byk = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    flagged = events.withColumn(
        "_new",
        (
            F.coalesce(
                F.unix_micros(F.col("ts"))
                - F.unix_micros(F.lag("ts").over(byk)),
                F.lit(gap_us + 1),
            )
            > gap_us
        ).cast("long"),
    ).withColumn(
        "session_seq",
        F.sum("_new").over(
            byk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        flagged.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("last_event"),
            F.count(F.lit(1)).alias("n_events"),
            fixed_point_sum(F.col("value"), 100).alias("sum_value"),
        )
        .withColumn(
            "session_end",
            F.timestamp_micros(F.unix_micros(F.col("last_event")) + gap_us),
        )
        .drop("last_event")
    )


def attribution_pairs_batch(
    events: DataFrame, attribution_minutes: int = 30
) -> DataFrame:
    """Click→purchase attribution: every (click, purchase) pair of one
    user where the purchase lands within ``attribution_minutes`` after
    the click; oracle-checkable.

    The time bound is compared in integer microseconds (``unix_micros``)
    so the oracle (``epoch_us``) is bit-exact; the join itself is an
    equi-join on user_id with the range as a post-join filter, which
    Spark executes as one hash shuffle per side — never a cross join.
    """
    lag_bound_us = attribution_minutes * 60 * 1_000_000
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    lag_us = F.unix_micros(F.col("purchase_ts")) - F.unix_micros(
        F.col("click_ts")
    )
    return (
        clicks.join(purchases, "user_id")
        .filter((lag_us >= 0) & (lag_us <= lag_bound_us))
        .select(
            "user_id",
            "click_id",
            "purchase_id",
            lag_us.alias("lag_us"),
        )
    )


def attribution_outer_batch(
    events: DataFrame, attribution_minutes: int = 30
) -> DataFrame:
    """LEFT-OUTER attribution: every click, with its in-window purchases
    when they exist and nulls when none arrived — the 'campaign touch
    without conversion' report; oracle-checkable (plain LEFT JOIN
    with the time bound inside the join condition, so unmatched clicks
    survive — a post-join WHERE would silently turn it inner)."""
    lag_bound_us = attribution_minutes * 60 * 1_000_000
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    lag_us = F.unix_micros(F.col("purchase_ts")) - F.unix_micros(
        F.col("click_ts")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (lag_us >= 0)
        & (lag_us <= lag_bound_us),
        "left",
    )
    return joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        lag_us.alias("lag_us"),
        F.col("purchase_id").isNotNull().alias("attributed"),
    )


def multitouch_credit_batch(
    events: DataFrame, attribution_minutes: int = 30
) -> DataFrame:
    """Linear multi-touch attribution with EXACT integer credit splits.

    Each purchase's value is divided evenly (in micro-currency units)
    across every click of the same user in the preceding
    ``attribution_minutes`` window; the integer remainder goes to the
    EARLIEST click (ties broken by click_id) so per-purchase credit is
    conserved to the micro: sum(credit_micros) == round(value·100)·10⁴.

    Same join shape as :func:`attribution_pairs_batch` (user_id
    equi-join + microsecond range filter); the split needs only
    purchase-partitioned windows, so state stays inside the purchase's
    click group. Deterministic integer arithmetic end-to-end →
    oracle-checkable.
    """
    from pyspark.sql import Window

    lag_bound_us = attribution_minutes * 60 * 1_000_000
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        (F.round(F.col("value") * 100).cast("long") * 10_000).alias(
            "value_micros"
        ),
    )
    lag_us = F.unix_micros(F.col("purchase_ts")) - F.unix_micros(
        F.col("click_ts")
    )
    pairs = clicks.join(purchases, "user_id").filter(
        (lag_us >= 0) & (lag_us <= lag_bound_us)
    )
    wn = Window.partitionBy("purchase_id")
    wr = Window.partitionBy("purchase_id").orderBy(
        F.col("click_ts"), F.col("click_id")
    )
    return (
        pairs.withColumn("n_touches", F.count(F.lit(1)).over(wn))
        .withColumn("_rn", F.row_number().over(wr))
        .select(
            "user_id",
            "purchase_id",
            "click_id",
            "n_touches",
            (
                F.expr("value_micros div n_touches")
                + F.when(
                    F.col("_rn") == 1,
                    F.expr("value_micros % n_touches"),
                ).otherwise(F.lit(0))
            ).alias("credit_micros"),
        )
    )


def attribution_full_batch(events: DataFrame) -> DataFrame:
    """FULL-OUTER attribution: clicks without conversions AND
    conversions without a preceding click (the organic-purchase rows a
    left join drops) in one report. The time bound lives inside the
    join condition (a post-join WHERE would silently drop the
    unmatched rows from both sides), and the user key is coalesced
    across sides so every row still carries its user."""
    lag_bound_us = 30 * 60 * 1_000_000
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    lag_us = F.unix_micros(F.col("purchase_ts")) - F.unix_micros(
        F.col("click_ts")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (lag_us >= 0)
        & (lag_us <= lag_bound_us),
        "full",
    )
    return joined.select(
        F.coalesce(F.col("user_id"), F.col("p_user_id")).alias("user_id"),
        "click_id",
        "purchase_id",
        lag_us.alias("lag_us"),
        (
            F.col("click_id").isNotNull()
            & F.col("purchase_id").isNotNull()
        ).alias("attributed"),
    )
