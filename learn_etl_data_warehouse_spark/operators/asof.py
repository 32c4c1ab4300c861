"""As-of and range joins — operators Spark lacks natively, composed from
built-in DataFrame ops (no UDF, no cartesian product).

As-of join (``asof_join``): for each left row, the single latest right
row with ``right.ts <= left.ts`` within the same key. Implemented with
the union-and-carry-forward trick: tag both inputs, union, sort within
key by (ts, side), and carry the last right-side payload forward with
``last(..., ignorenulls=True)``. One shuffle on the key — the same cost
as a regular join, versus the quadratic blowup of a naive inequality
join. Right rows at the exact same timestamp sort before left rows, so
the match is inclusive (>=).

Range pair join (``event_pairs_within``): all pairs of rows sharing a
key within a time tolerance. Implemented by bucketing time into
tolerance-sized buckets and equi-joining on (key, bucket) for the bucket
and its successor — candidates are O(pairs-in-window), then an exact
filter. This is the bucketize-then-verify pattern that keeps range joins
shuffle-based at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    payload_cols: list[str],
) -> DataFrame:
    """Left as-of join: every left row, plus the payload of the latest
    right row with ``right.ts <= left.ts`` for the same key (nulls when
    no prior right row exists).

    ``left`` and ``right`` must share the ``key`` and ``ts`` column
    names; ``payload_cols`` are taken from ``right``. If ``right`` can
    hold several rows per (key, ts), dedupe it first — the match would
    otherwise be ambiguous.
    """
    lcols = [c for c in left.columns]
    tagged_left = left.select(
        *lcols,
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_p_{c}") for c in payload_cols],
    )
    tagged_right = right.select(
        *[
            F.col(c) if c in (key, ts) else F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
        ],
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_p_{c}") for c in payload_cols],
    )
    unioned = tagged_left.unionByName(tagged_right)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        *lcols,
        F.col("_side"),
        *[
            F.last(f"_p_{c}", ignorenulls=True).over(w).alias(c)
            for c in payload_cols
        ],
    )
    return carried.filter(F.col("_side") == 1).drop("_side")


def event_pairs_within(
    df: DataFrame,
    key: str,
    ts: str,
    id_col: str,
    tolerance_seconds: int,
) -> DataFrame:
    """All pairs (id_a < id_b) of rows sharing ``key`` with
    ``|ts_a - ts_b| <= tolerance``. Bucketized candidate join: a pair
    within tolerance is always in the same or adjacent bucket, so joining
    bucket b to buckets {b, b+1} covers every pair exactly once after
    the exact filter + id ordering."""
    tol_us = tolerance_seconds * 1_000_000
    base = df.select(
        F.col(key).alias("_k"),
        F.col(id_col).alias("_id"),
        F.unix_micros(F.col(ts)).alias("_us"),
        (F.unix_micros(F.col(ts)) / F.lit(tol_us)).cast("long").alias("_b"),
    )
    a = base.alias("a")
    # Candidates: the id ordering (a._id < b._id) is independent of time
    # order, so b may sit one bucket before OR after a — probe all three
    # neighbor buckets. Each true pair matches exactly one exploded row.
    b = base.select(
        F.col("_k"),
        F.col("_id"),
        F.col("_us"),
        F.explode(
            F.array(F.col("_b") - 1, F.col("_b"), F.col("_b") + 1)
        ).alias("_b"),
    ).alias("b")
    return (
        a.join(
            b,
            (F.col("a._k") == F.col("b._k"))
            & (F.col("a._b") == F.col("b._b"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .filter(F.abs(F.col("a._us") - F.col("b._us")) <= tol_us)
        .select(
            F.col("a._k").alias(key),
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.abs(F.col("a._us") - F.col("b._us")).alias("delta_us"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def nearest_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    left_id: str,
    payload_cols: list[str],
    tolerance_seconds: int,
) -> DataFrame:
    """Nearest-neighbor-in-time join: every left row, plus the payload of
    the single right row (same key) CLOSEST in time within ±tolerance —
    either direction, unlike :func:`asof_join`'s backward-only match.
    Left rows with no right row in range keep null payload.

    Same bucketize-then-verify shape as :func:`event_pairs_within`
    (candidates from the three neighbor tolerance-buckets, exact filter),
    then an argmin per left row: ``row_number`` ordered by (|Δt|, right
    ts) — deterministic given ``right`` deduped per (key, ts) and
    ``left_id`` unique. One key-equality shuffle plus a per-left-row
    window whose partition is bounded by the rows inside one tolerance
    window — never quadratic.
    """
    tol_us = tolerance_seconds * 1_000_000
    lid = left_id
    l = left.withColumn("_us", F.unix_micros(F.col(ts)))
    r = right.select(
        F.col(key),
        F.unix_micros(F.col(ts)).alias("_rus"),
        F.col(ts).alias("_rts"),
        *[F.col(c) for c in payload_cols],
    ).withColumn(
        "_b",
        F.explode(
            F.array(
                (F.col("_rus") / tol_us).cast("long") - 1,
                (F.col("_rus") / tol_us).cast("long"),
                (F.col("_rus") / tol_us).cast("long") + 1,
            )
        ),
    )
    cand = (
        l.withColumn("_b", (F.col("_us") / tol_us).cast("long"))
        .join(r, [key, "_b"])
        .filter(F.abs(F.col("_us") - F.col("_rus")) <= tol_us)
        .dropDuplicates([lid, "_rus"])
    )
    w = Window.partitionBy(lid).orderBy(
        F.abs(F.col("_us") - F.col("_rus")).asc(), F.col("_rus").asc()
    )
    best = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(lid, F.col("_rts"), *[F.col(c) for c in payload_cols])
    )
    out = l.join(
        best.withColumnRenamed("_rts", "nearest_ts"), lid, "left"
    )
    return out.drop("_us", "_b")


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    payload_cols: list[str],
) -> DataFrame:
    """Forward as-of join: every left row, plus the payload of the
    EARLIEST right row with ``right.ts >= left.ts`` for the same key
    (nulls when no later right row exists) — pandas
    ``merge_asof(direction='forward')`` semantics, the "next event
    after" lookup (:func:`asof_join` is the backward twin).

    Same union-and-carry construction, mirrored: one shuffle on the
    key, first_value-ignorenulls over the FOLLOWING frame; left rows
    sort before right rows at equal ts so the match is inclusive.
    """
    lcols = [c for c in left.columns]
    tagged_left = left.select(
        *lcols,
        F.lit(0).alias("_side"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"_p_{c}")
            for c in payload_cols
        ],
    )
    tagged_right = right.select(
        *[
            F.col(c)
            if c in (key, ts)
            else F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
        ],
        F.lit(1).alias("_side"),
        *[F.col(c).alias(f"_p_{c}") for c in payload_cols],
    )
    unioned = tagged_left.unionByName(tagged_right)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_side").asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = unioned.select(
        *lcols,
        F.col("_side"),
        *[
            F.first(f"_p_{c}", ignorenulls=True).over(w).alias(c)
            for c in payload_cols
        ],
    )
    return carried.filter(F.col("_side") == 0).drop("_side")
