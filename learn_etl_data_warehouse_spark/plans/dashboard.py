"""EP2/EP3 dashboard queries (reference server.py:152-299) — the two
parameterized HTTP endpoints that ARE the reference's query workload.

The engine computes exactly what crosses the wire in the reference's
charts: binned counts (A3), hour extractions, the geo scatter projection,
the full-table payload, and the nav key lists. Rendering (matplotlib/
Jinja) stays at the serving edge per SURVEY §7.2; everything here returns
DataFrames whose only driver-bound rows are chart-sized.

At scale the ``quarter``/``mode`` filters hit the partitioned warehouse
layout (`sharded_etl.build_sharded_warehouse`) as partition-pruned
scans — the engine's replacement for the reference's dict-of-DataFrames
lookup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.datetime_fns import hour_of
from ..functions.histogram import categorical_histogram, histogram  # noqa: F401
from ..operators.rollups import distinct_keys


def quarterly_dashboard(cleaned: DataFrame, quarter: str) -> dict[str, DataFrame]:
    """EP2 — ``GET /quarterly/<q>`` (server.py:152-220): 4 histograms,
    2 geo scatters, the table, nav keys."""
    part = cleaned.filter(F.col("quarter") == quarter)
    return {
        "hist_amount_delivery": histogram(part, "amount_delivery", 10),
        "hist_mode": categorical_histogram(part, "mode"),
        "hist_distance_rounded": histogram(part, "distance_rounded", 10),
        "hist_duration": histogram(part, "duration", 10),
        "geo_from": part.select("from_lat", "from_lng", "mode"),
        "geo_to": part.select("to_lat", "to_lng", "mode"),
        "table": part,
        # the reference template renders BOTH nav lists (server.py:216-220)
        "nav_quarters": distinct_keys(cleaned, "quarter"),
        "nav_modes": distinct_keys(cleaned, "mode"),
    }


def mode_dashboard(cleaned: DataFrame, mode: str) -> dict[str, DataFrame]:
    """EP3 — ``GET /mode/<m>`` (server.py:223-299): like EP2 but keyed by
    transport mode, plus the hour-of-day histograms (the reference's only
    query-time date-part extraction, server.py:250-264)."""
    part = cleaned.filter(F.col("mode") == mode)
    hours_start = part.select(hour_of("date_start").alias("h"))
    hours_end = part.select(hour_of("date_end").alias("h"))
    return {
        "hist_amount_delivery": histogram(part, "amount_delivery", 10),
        "hist_distance_rounded": histogram(part, "distance_rounded", 10),
        "hist_duration": histogram(part, "duration", 10),
        # the reference feeds numeric hours to plt.hist → 10 equal-width
        # bins over [min_hour, max_hour], NOT per-hour value counts
        "hist_hour_start": histogram(hours_start, "h", 10),
        "hist_hour_end": histogram(hours_end, "h", 10),
        "geo_from": part.select("from_lat", "from_lng"),
        "geo_to": part.select("to_lat", "to_lng"),
        "table": part,
        # both nav lists, as in the reference template (server.py:296-299)
        "nav_quarters": distinct_keys(cleaned, "quarter"),
        "nav_modes": distinct_keys(cleaned, "mode"),
    }
