"""EP2/EP3 dashboard queries (reference server.py:152-299) — the two
parameterized HTTP endpoints that ARE the reference's query workload.

The engine computes exactly what crosses the wire in the reference's
charts: binned counts (A3), hour extractions, the geo scatter projection,
the full-table payload, and the nav key lists. Rendering (matplotlib/
Jinja) stays at the serving edge per SURVEY §7.2; everything here returns
DataFrames whose only driver-bound rows are chart-sized.

At scale the ``quarter``/``mode`` filters hit the partitioned warehouse
layout (`sharded_etl.atomic_replace_warehouse`) as partition-pruned
scans — the engine's replacement for the reference's dict-of-DataFrames
lookup.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.datetime_fns import hour_of
from ..functions.histogram import categorical_histogram, histogram  # noqa: F401
from ..operators.rollups import distinct_keys


def _build(
    makers: dict[str, Callable[[], DataFrame]], entries: Iterable[str] | None
) -> dict[str, DataFrame]:
    """Build the named entries, in the order asked for; ``None`` builds
    every entry in declaration order. An unknown name raises KeyError."""
    names = list(makers) if entries is None else list(entries)
    unknown = [n for n in names if n not in makers]
    if unknown:
        raise KeyError(f"no dashboard entries {unknown}; have {list(makers)}")
    return {n: makers[n]() for n in names}


def quarterly_dashboard(
    cleaned: DataFrame, quarter: str, entries: Iterable[str] | None = None
) -> dict[str, DataFrame]:
    """EP2 — ``GET /quarterly/<q>`` (server.py:152-220): 4 histograms,
    2 geo scatters, the table, nav keys. ``entries`` names the ones to
    build (one chart for a PNG request); the default builds them all."""
    part = cleaned.filter(F.col("quarter") == quarter)
    return _build({
        "hist_amount_delivery": lambda: histogram(part, "amount_delivery", 10),
        "hist_mode": lambda: categorical_histogram(part, "mode"),
        "hist_distance_rounded": lambda: histogram(part, "distance_rounded", 10),
        "hist_duration": lambda: histogram(part, "duration", 10),
        "geo_from": lambda: part.select("from_lat", "from_lng", "mode"),
        "geo_to": lambda: part.select("to_lat", "to_lng", "mode"),
        "table": lambda: part,
        # the reference template renders BOTH nav lists (server.py:216-220)
        "nav_quarters": lambda: distinct_keys(cleaned, "quarter"),
        "nav_modes": lambda: distinct_keys(cleaned, "mode"),
    }, entries)


def mode_dashboard(
    cleaned: DataFrame, mode: str, entries: Iterable[str] | None = None
) -> dict[str, DataFrame]:
    """EP3 — ``GET /mode/<m>`` (server.py:223-299): like EP2 but keyed by
    transport mode, plus the hour-of-day histograms (the reference's only
    query-time date-part extraction, server.py:250-264). ``entries`` as in
    :func:`quarterly_dashboard`."""
    part = cleaned.filter(F.col("mode") == mode)

    def hours(col: str) -> DataFrame:
        return part.select(hour_of(col).alias("h"))

    return _build({
        "hist_amount_delivery": lambda: histogram(part, "amount_delivery", 10),
        "hist_distance_rounded": lambda: histogram(part, "distance_rounded", 10),
        "hist_duration": lambda: histogram(part, "duration", 10),
        # the reference feeds numeric hours to plt.hist → 10 equal-width
        # bins over [min_hour, max_hour], NOT per-hour value counts
        "hist_hour_start": lambda: histogram(hours("date_start"), "h", 10),
        "hist_hour_end": lambda: histogram(hours("date_end"), "h", 10),
        "geo_from": lambda: part.select("from_lat", "from_lng"),
        "geo_to": lambda: part.select("to_lat", "to_lng"),
        "table": lambda: part,
        # both nav lists, as in the reference template (server.py:296-299)
        "nav_quarters": lambda: distinct_keys(cleaned, "quarter"),
        "nav_modes": lambda: distinct_keys(cleaned, "mode"),
    }, entries)
