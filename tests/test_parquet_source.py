"""``sources/parquet.py::load_table`` reads each parquet file's footer
schema once: a second load of an unchanged file plans its scan without a
Spark job, a rewritten file has its schema read again, and the events
timestamp normalization is the same either way."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from learn_etl_data_warehouse_spark.sources.parquet import load_table

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _load_counting_jobs(spark, job_count, sf_dir, name):
    before = job_count()
    df = load_table(spark, sf_dir, name)
    return df, job_count() - before


def test_second_load_runs_no_job_and_rewrite_rereads(spark, job_count, tmp_path):
    path = tmp_path / "orders.parquet"
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), path)
    first, jobs = _load_counting_jobs(spark, job_count, str(tmp_path), "orders")
    assert jobs >= 1  # the footer read
    second, jobs = _load_counting_jobs(spark, job_count, str(tmp_path), "orders")
    assert jobs == 0
    assert second.schema == first.schema
    assert sorted(map(tuple, second.collect())) == [(1, "a"), (2, "b"), (3, "c")]

    pq.write_table(pa.table({"k": [7], "w": [2.5], "x": [True]}), path)
    third, jobs = _load_counting_jobs(spark, job_count, str(tmp_path), "orders")
    assert jobs >= 1
    assert third.dtypes == [("k", "bigint"), ("w", "double"), ("x", "boolean")]
    assert [tuple(r) for r in third.collect()] == [(7, 2.5, True)]


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_timestamp_normalized_on_every_load(spark, job_count, tmp_path, unit):
    """NANOS (read as long, floored to µs) and µs NTZ (cast under the UTC
    session) both arrive as TIMESTAMP, on the first load and on the
    cached-schema load alike, and the nanos setting is restored."""
    nanos = [1_534_000_000_123_456_789, 1_534_000_060_000_000_999]
    if unit == "ns":
        ts = pa.array(nanos, pa.timestamp("ns"))
    else:
        ts = pa.array([n // 1000 for n in nanos], pa.timestamp("us"))
    pq.write_table(pa.table({"user_id": [1, 2], "ts": ts}), tmp_path / "events.parquet",
                   version="2.6")
    prior = spark.conf.get(NANOS_AS_LONG, None)
    want = [
        (1, dt.datetime(2018, 8, 11, 15, 6, 40, 123456)),
        (2, dt.datetime(2018, 8, 11, 15, 7, 40, 0)),
    ]
    for expect_jobs in (True, False):
        df, jobs = _load_counting_jobs(spark, job_count, str(tmp_path), "events")
        assert (jobs >= 1) == expect_jobs
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert spark.conf.get(NANOS_AS_LONG, None) == prior
        got = sorted(map(tuple, df.select("user_id", "ts").collect()))
        assert got == want
