"""Histogram aggregate (SURVEY §2.4 A3) — the reference's only real
aggregation.

The reference hands the raw column to ``plt.hist`` (server.py:158-186):
matplotlib computes 10 equal-width bins over [min, max] with the last bin
right-closed, *after shipping every value to the renderer*. The engine
computes the binned counts itself so only ``bins`` rows ever leave the
executors — the 100 TB-safe formulation.

Two-phase plan:
1. one reduce for (min, max) — a cheap columnar scan aggregate;
2. one hash aggregate on the computed bin index.

The result holds at most ``nbins`` rows, so it is ordered by collapsing
it to one partition and sorting there: no range exchange, and so neither
its sampling job nor its shuffle stage. (``categorical_histogram`` keeps
``orderBy``: its key set is unbounded.) Collecting a histogram runs three
Spark jobs: the (min, max) shuffle, the bin-aggregate shuffle, and the
result.

Matplotlib edge semantics reproduced exactly: bins are left-closed,
right-open, except the last bin which includes the max
(``x == max → bin = nbins - 1``).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def histogram_expr(value: Column, vmin: Column, vmax: Column, nbins: int) -> Column:
    """Bin index expression: floor((x - min) / width) clamped to the last
    bin, so ``x == max`` lands in bin nbins-1 (matplotlib parity)."""
    width = (vmax - vmin) / F.lit(nbins)
    raw = F.floor((value - vmin) / width)
    return F.least(raw, F.lit(nbins - 1)).cast("long")


def histogram(df: DataFrame, col: str, nbins: int = 10) -> DataFrame:
    """10-bin (default) equal-width histogram → (bin, bin_start, bin_end,
    n) rows, ordered by bin in a single partition. Degenerate case
    min==max: all values in bin 0.
    """
    c = F.col(col)
    stats = df.agg(F.min(c).alias("vmin"), F.max(c).alias("vmax"))
    # The stats row is a 1-partition, 1-row DataFrame: cross-join it so the
    # bin expression stays fully distributed — no driver round-trip. A
    # cartesian product reads that row from the stats shuffle inside each
    # bin-aggregate task; a broadcast would collect it first, one more job.
    joined = df.select(c.alias("_v")).crossJoin(stats.hint("shuffle_replicate_nl"))
    width = (F.col("vmax") - F.col("vmin")) / F.lit(nbins)
    binned = joined.select(
        F.when(
            F.col("vmax") == F.col("vmin"), F.lit(0).cast("long")
        )
        .otherwise(histogram_expr(F.col("_v"), F.col("vmin"), F.col("vmax"), nbins))
        .alias("bin"),
        F.col("vmin"),
        width.alias("_w"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("vmin").alias("_vmin"),
            F.first("_w").alias("_ww"),
        )
        .select(
            "bin",
            (F.col("_vmin") + F.col("bin") * F.col("_ww")).alias("bin_start"),
            (F.col("_vmin") + (F.col("bin") + 1) * F.col("_ww")).alias("bin_end"),
            "n",
        )
        .coalesce(1)
        .sortWithinPartitions("bin")
    )


#: Matches the sugar form ``SELECT HISTOGRAM(col, nbins) FROM source``
#: (source = a table/view name). Deliberately narrow: the macro is sugar
#: for the canonical call shape, not a general rewriter.
_HISTOGRAM_SUGAR = re.compile(
    r"^\s*SELECT\s+HISTOGRAM\(\s*([A-Za-z_][\w]*)\s*,\s*(\d+)\s*\)\s+FROM\s+"
    r"([A-Za-z_][\w.]*)\s*;?\s*$",
    re.IGNORECASE,
)


def register_histogram_sql(spark) -> None:
    """Register ``histogram_bin(x, vmin, vmax, nbins)`` as a pure SQL UDF
    (Spark 4 ``CREATE FUNCTION ... RETURN``): the body is inlined into the
    caller's plan at analysis time, so it constant-folds and stays inside
    whole-stage codegen — zero Python in the path, unlike a @udf."""
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION histogram_bin(
    x DOUBLE, vmin DOUBLE, vmax DOUBLE, nbins INT) RETURNS BIGINT
    RETURN CASE WHEN vmax = vmin THEN CAST(0 AS BIGINT)
           ELSE least(CAST(floor((x - vmin) / ((vmax - vmin) / nbins)) AS BIGINT),
                      CAST(nbins - 1 AS BIGINT)) END"""
    )


def expand_histogram_sql(sql: str) -> str:
    """Expand the ``SELECT HISTOGRAM(col, n) FROM source`` sugar into the
    two-phase min/max + bin plan (the same shape :func:`histogram` builds
    with the DataFrame API). Returns non-matching statements unchanged so
    the expander can sit in front of every ``spark.sql`` call."""
    m = _HISTOGRAM_SUGAR.match(sql)
    if not m:
        return sql
    col, nbins, source = m.group(1), int(m.group(2)), m.group(3)
    return f"""
WITH s AS (SELECT min({col}) AS vmin, max({col}) AS vmax FROM {source}),
b AS (SELECT histogram_bin(CAST(t.{col} AS DOUBLE), s.vmin, s.vmax, {nbins}) AS bin,
             s.vmin AS vmin, (s.vmax - s.vmin) / {nbins} AS w
      FROM {source} t CROSS JOIN s)
SELECT bin, vmin + bin * w AS bin_start, vmin + (bin + 1) * w AS bin_end,
       count(*) AS n
FROM b GROUP BY bin, vmin, w ORDER BY bin"""


def histogram_sql(spark, source: str, col: str, nbins: int = 10) -> DataFrame:
    """Run the HISTOGRAM sugar end-to-end: register the SQL UDF, expand
    the macro, execute. Equivalent to :func:`histogram` over the same
    table (conformance-pinned in tests and the a03c oracle query)."""
    register_histogram_sql(spark)
    return spark.sql(expand_histogram_sql(f"SELECT HISTOGRAM({col}, {nbins}) FROM {source}"))


def categorical_histogram(df: DataFrame, col: str) -> DataFrame:
    """The reference also feeds the categorical ``mode`` column to
    ``plt.hist`` (server.py:167) — semantically a value-count. Plain hash
    aggregate, ordered for deterministic display (SURVEY §2.5: pandas
    groupby sorts keys)."""
    return df.groupBy(col).agg(F.count(F.lit(1)).alias("n")).orderBy(col)
