"""Star-schema joins (SURVEY §2.3).

The reference declares its join surface in the ERD and the denormalized
CSV exports but never executes a join in code — the engine implements the
declared surface. Every dim is bounded (5-84 rows in the reference; the
fixture dims are likewise tiny relative to the fact), so the correct
physical strategy at any scale is a **broadcast hash join**: no shuffle of
the fact side at all. ``F.broadcast`` is applied explicitly; AQE would
pick it anyway under the configured threshold, but being explicit keeps
the plan stable when dim stats are missing.

Null-key semantics (J3): the reference fact carries ``''`` merchant keys
on every BIKE/CAR row; an empty string must not match a dimension row.
``functions/cleaning.py::empty_to_null`` runs before the join, and joins
are left-outer so dimension-less facts survive.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def broadcast_left_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Column,
    how: str = "left",
) -> DataFrame:
    """Left join against a broadcast dim (J1/J2 pattern)."""
    return fact.join(F.broadcast(dim), on, how)


def roleplay_join(
    fact: DataFrame,
    dim: DataFrame,
    roles: dict[str, tuple[str, str]],
    dim_key: str,
    payload_cols: list[str],
) -> DataFrame:
    """J5 — the same dimension joined under several roles (reference:
    kelurahan as both trip origin and destination).

    ``roles`` maps role name → (fact_key_col, output_prefix). Each role is
    an independently aliased broadcast join; payload columns come out
    prefixed (``from_kelurahan_name``, ``to_kelurahan_name``, ...).
    """
    out = fact
    for role, (fact_key, prefix) in roles.items():
        aliased = dim.select(
            F.col(dim_key).alias(f"__{role}_key"),
            *[F.col(c).alias(f"{prefix}{c}") for c in payload_cols],
        )
        out = out.join(
            F.broadcast(aliased),
            F.col(fact_key) == F.col(f"__{role}_key"),
            "left",
        ).drop(f"__{role}_key")
    return out


def interval_overlap_join(
    intervals: DataFrame,
    key: str,
    start: str,
    end: str,
    id_col: str,
) -> DataFrame:
    """Self-join of [start, end] intervals that OVERLAP within a key.

    Returns (k, id_a, id_b, s_a, e_a, s_b, e_b) with id_a < id_b and
    s_a <= e_b AND s_b <= e_a (closed-interval overlap). The interval ×
    interval complement of asof.py's point-pair range join (r02).

    Scale shape: an equi-join on ``key`` followed by the non-equi
    overlap filter — per-key quadratic, so the key must bound group
    size (orders-per-customer is a constant in TPC-H-shaped data
    regardless of SF). For unkeyed interval joins, grid-block on a
    time-bucket key first exactly as spatial.py::grid_radius_join does
    in space.
    """
    a = intervals.select(
        F.col(key).alias("k"),
        F.col(id_col).alias("id_a"),
        F.col(start).alias("s_a"),
        F.col(end).alias("e_a"),
    )
    b = intervals.select(
        F.col(key).alias("k"),
        F.col(id_col).alias("id_b"),
        F.col(start).alias("s_b"),
        F.col(end).alias("e_b"),
    )
    return a.join(b, "k").filter(
        (F.col("id_a") < F.col("id_b"))
        & (F.col("s_a") <= F.col("e_b"))
        & (F.col("s_b") <= F.col("e_a"))
    )


def fifo_allocate(
    supplies: DataFrame,
    demands: DataFrame,
    part_col: str = "part_id",
    qty_col: str = "qty",
    order_cols: tuple[str, ...] = ("ts", "row_id"),
    id_col: str = "row_id",
) -> DataFrame:
    """FIFO quantity allocation — match each demand against supplies in
    arrival order (first-in-first-out inventory costing / lot
    matching), the allocation join ERP pipelines hand-loop row by row,
    re-expressed as ONE interval-overlap join in cumulative-quantity
    coordinates: per part, supply i owns the cum-qty interval
    [Σq_{<i}, Σq_{≤i}) and demand j consumes [Σq_{<j}, Σq_{≤j});
    FIFO allocates exactly their overlap, so the pair set is
    { (i, j) : intervals overlap } with qty = min(hi) − max(lo) —
    r04's interval-overlap idiom on running sums instead of
    timestamps. Each side's running sum is a per-part window under
    the caller's TOTAL ``order_cols`` order (the e18 determinism
    posture); all quantities integer.

    Chain-overlap structure bounds the pair volume: allocations ≤
    n_supplies + n_demands per part (each allocation closes at least
    one interval), so the join is row-linear, never quadratic.
    Unmatched tails (oversupply / unmet demand) simply produce no
    allocation row — read them back as Σalloc < qty on either side.

    Returns (part, supply_id, demand_id, qty_alloc > 0).
    """
    from pyspark.sql import Window

    def cum(df: DataFrame, tag: str) -> DataFrame:
        w = (
            Window.partitionBy(part_col)
            .orderBy(*[F.col(c) for c in order_cols])
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        hi = F.sum(F.col(qty_col)).over(w).cast("long")
        return df.select(
            F.col(part_col).alias("_part"),
            F.col(id_col).alias(f"{tag}_id"),
            (hi - F.col(qty_col)).alias(f"{tag}_lo"),
            hi.alias(f"{tag}_hi"),
        )

    s = cum(supplies, "supply")
    d = cum(demands, "demand")
    qty = F.least(F.col("supply_hi"), F.col("demand_hi")) - F.greatest(
        F.col("supply_lo"), F.col("demand_lo")
    )
    return (
        s.join(
            d,
            (s["_part"] == d["_part"])
            & (F.col("supply_lo") < F.col("demand_hi"))
            & (F.col("demand_lo") < F.col("supply_hi")),
        )
        .select(
            s["_part"].alias("part"),
            "supply_id",
            "demand_id",
            qty.cast("long").alias("qty_alloc"),
        )
        .filter(F.col("qty_alloc") > 0)
    )
