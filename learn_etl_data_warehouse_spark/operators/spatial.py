"""Spatial operators: grid-blocked radius joins on integer coordinates.

Coordinates are BIGINT micro-degrees (fixed-point, like the repo's
money-in-cents rule) so distance arithmetic is exact integer math —
dx² + dy² ≤ r² compares BIGINTs, never floats, and an external SQL
engine reproduces the pair set bit-for-bit.

Scale shape is the canonical spatial blocking: with cell size == the
search radius, any qualifying pair lies in the same or an adjacent
cell, so expanding ONE side to its 3×3 cell neighborhood and hash-
joining on the cell key bounds candidates by local density — no
all-pairs cross join at any scale. Each true pair is emitted exactly
once (the un-expanded side's cell is unique, so the pair matches on
exactly one expanded key; no distinct needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def grid_radius_join(pts: DataFrame, radius: int) -> DataFrame:
    """All point pairs within ``radius`` (inclusive, Euclidean) of each
    other — (id_a < id_b, dist_sq). Coordinates must be non-negative
    BIGINT fixed-point units (floor(x / cell) via double division is
    exact for ints < 2⁵², and non-negativity sidesteps the truncating-
    vs-flooring division split between engines)."""
    if radius <= 0:
        raise ValueError("radius must be positive")
    cell = F.lit(radius)
    base = pts.select(
        F.col("pid").alias("_id"),
        F.col("x").cast("long").alias("_x"),
        F.col("y").cast("long").alias("_y"),
        F.floor(F.col("x") / cell).alias("_cx"),
        F.floor(F.col("y") / cell).alias("_cy"),
    )
    offsets = F.expr(
        "explode(transform(sequence(0, 8),"
        " i -> struct(i div 3 - 1 AS dx, i % 3 - 1 AS dy)))"
    )
    expanded = pts.select(
        F.col("pid").alias("_id2"),
        F.col("x").cast("long").alias("_x2"),
        F.col("y").cast("long").alias("_y2"),
        F.floor(F.col("x") / cell).alias("_ecx"),
        F.floor(F.col("y") / cell).alias("_ecy"),
        offsets.alias("_o"),
    ).select(
        "_id2",
        "_x2",
        "_y2",
        (F.col("_ecx") + F.col("_o.dx")).alias("_ecx"),
        (F.col("_ecy") + F.col("_o.dy")).alias("_ecy"),
    )
    dx = F.col("_x") - F.col("_x2")
    dy = F.col("_y") - F.col("_y2")
    dist_sq = dx * dx + dy * dy
    return (
        base.join(
            expanded,
            (F.col("_cx") == F.col("_ecx"))
            & (F.col("_cy") == F.col("_ecy"))
            & (F.col("_id") < F.col("_id2")),
        )
        .filter(
            dist_sq
            <= F.lit(int(radius)).cast("long") * F.lit(int(radius)).cast("long")
        )
        .select(
            F.col("_id").alias("id_a"),
            F.col("_id2").alias("id_b"),
            dist_sq.cast("long").alias("dist_sq"),
        )
    )


def grid_nearest_join(
    queries: DataFrame,
    refs: DataFrame,
    radius: int,
) -> DataFrame:
    """Nearest-reference-point join: for each query point, THE closest
    reference point within ``radius`` (the geo-attach step — "which
    depot/cell-tower/store serves this event"), or no row when none is
    in range.

    Same exact-integer grid blocking as :func:`grid_radius_join` —
    cell == radius, query side expanded to its 3×3 neighborhood, one
    hash join on the cell key — then a per-query argmin ordered by
    ``(dist_sq, ref id)``: a total order, so the winner is unique and
    engine-portable (a brute-force SQL twin with the same row_number
    agrees exactly). Candidates are bounded by local reference density;
    the window partitions by query id over those candidates only.

    Returns (``pid``, ref_id, dist_sq), one row per query point with
    ≥1 in-range reference.
    """
    from pyspark.sql import Window

    if radius <= 0:
        raise ValueError("radius must be positive")
    cell = F.lit(radius)
    offsets = F.expr(
        "explode(transform(sequence(0, 8),"
        " i -> struct(i div 3 - 1 AS dx, i % 3 - 1 AS dy)))"
    )
    q = queries.select(
        F.col("pid").alias("_qid"),
        F.col("x").cast("long").alias("_qx"),
        F.col("y").cast("long").alias("_qy"),
        F.floor(F.col("x") / cell).alias("_qcx"),
        F.floor(F.col("y") / cell).alias("_qcy"),
        offsets.alias("_o"),
    ).select(
        "_qid",
        "_qx",
        "_qy",
        (F.col("_qcx") + F.col("_o.dx")).alias("_cx"),
        (F.col("_qcy") + F.col("_o.dy")).alias("_cy"),
    )
    r = refs.select(
        F.col("pid").alias("_rid"),
        F.col("x").cast("long").alias("_rx"),
        F.col("y").cast("long").alias("_ry"),
        F.floor(F.col("x") / cell).alias("_cx"),
        F.floor(F.col("y") / cell).alias("_cy"),
    )
    dx = F.col("_qx") - F.col("_rx")
    dy = F.col("_qy") - F.col("_ry")
    dist_sq = dx * dx + dy * dy
    cand = (
        q.join(r, ["_cx", "_cy"])
        .filter(
            dist_sq
            <= F.lit(int(radius)).cast("long") * F.lit(int(radius)).cast("long")
        )
        .select("_qid", "_rid", dist_sq.cast("long").alias("dist_sq"))
    )
    w = Window.partitionBy("_qid").orderBy(F.asc("dist_sq"), F.asc("_rid"))
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("_qid").alias("pid"),
            F.col("_rid").alias("ref_id"),
            "dist_sq",
        )
    )
