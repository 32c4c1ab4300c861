"""Property-based tests (SURVEY §5): the cleaning functions fuzzed over
the corruption grammar from FIXTURES.md — sci-notation ids, ' s/d '
date ranges, tab-corrupted latlng, float-string distances — checking the
native expressions against an independent Python model of the reference
semantics.

Strategy: hypothesis generates batches of corrupted strings; each batch
becomes ONE Spark job evaluating every function (per-example Spark jobs
would be prohibitively slow). max_examples kept small — each example is
a batch of 20 strings.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from learn_etl_data_warehouse_spark.functions import cleaning as c

SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# --- grammar pieces (FIXTURES.md A1) ---------------------------------------

kelurahan_digits = st.integers(6_171_000_000, 6_171_999_999)
sci_or_plain = st.builds(
    lambda n, sci: (f"{n / 1e9:.9f}".rstrip("0") + "E9") if sci else str(n),
    kelurahan_digits,
    st.booleans(),
)
lat = st.floats(-0.09, 0.01, allow_nan=False).map(lambda v: round(v, 7))
lng = st.floats(109.27, 109.38, allow_nan=False).map(lambda v: round(v, 7))
corrupt_flag = st.booleans()
latlng_str = st.builds(
    lambda la, lo, bad: f"{la},{lo} " + "\t" * 31 + f"{la}" if bad else f"{la},{lo}",
    lat,
    lng,
    corrupt_flag,
)
dist = st.floats(0, 762.13, allow_nan=False).map(lambda v: str(round(v, 2)))


def model_sci(s: str) -> int:
    # reference transformer semantics: delete '.' and literal 'E9', parse int
    return int(s.replace(".", "").replace("E9", ""))


def model_lat(s: str) -> float:
    return float(s.replace("\t", "").replace(" ", "").split(",")[0])


def model_lng(s: str) -> float:
    return float(s.split("\t")[0].strip().split(" ")[0].split(",")[1])


def model_dist(s: str) -> int:
    return int(float(s))


@pytest.mark.slow
@given(st.lists(st.tuples(sci_or_plain, latlng_str, dist), min_size=1, max_size=20))
@SETTINGS
def test_cleaning_matches_reference_model(spark, batch):
    df = spark.createDataFrame(batch, ["sci", "latlng", "dist"])
    rows = df.select(
        "sci",
        "latlng",
        "dist",
        c.clean_sci_notation_id("sci").alias("kid"),
        c.get_lat("latlng").alias("lat"),
        c.get_lng("latlng").alias("lng"),
        c.rounded_dist("dist").alias("dr"),
    ).collect()
    for r in rows:
        assert r["kid"] == model_sci(r["sci"]), r
        assert r["lat"] == model_lat(r["latlng"]), r
        assert r["lng"] == model_lng(r["latlng"]), r
        assert r["dr"] == model_dist(r["dist"]), r


dt = st.datetimes(
    min_value=__import__("datetime").datetime(2018, 7, 1),
    max_value=__import__("datetime").datetime(2019, 3, 31),
).map(lambda d: d.replace(microsecond=0))


@pytest.mark.slow
@given(st.lists(st.tuples(dt, st.integers(5, 30_160)), min_size=1, max_size=20))
@SETTINGS
def test_date_process_roundtrip(spark, batch):
    import datetime

    rows_in = [
        (
            f"{start:%Y-%m-%d %H:%M:%S} s/d "
            f"{start + datetime.timedelta(minutes=mins):%Y-%m-%d %H:%M:%S}",
            start,
            mins,
        )
        for start, mins in batch
    ]
    df = spark.createDataFrame(rows_in, ["dp", "start", "mins"])
    out = df.select(
        "start",
        "mins",
        c.split_date_start("dp").alias("s"),
        c.duration_minutes(
            c.split_date_start("dp"), c.split_date_end("dp")
        ).alias("d"),
    ).collect()
    for r in out:
        assert r["s"] == r["start"], r
        assert r["d"] == r["mins"], r
