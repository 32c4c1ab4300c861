"""Query construction cost: the py4j commands Python sends the JVM while
it builds DataFrames, before anything runs.

The engine session turns off PySpark's per-call origin capture, and
``clean_fact`` is two projections. Both are pinned here by command
budgets, counted as ``scripts/build_cost.py`` counts them, over a seeded
``perfbench/ojolgen.py`` landing zone, so the tests run on any host."""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from learn_etl_data_warehouse_spark.functions.cleaning import (
    clean_sci_notation_id,
    duration_minutes,
    empty_to_null,
    get_lat,
    get_lng,
    rounded_dist,
    split_date_end,
    split_date_start,
)
from learn_etl_data_warehouse_spark.functions.datetime_fns import quarter_key
from learn_etl_data_warehouse_spark.plans.dashboard import quarterly_dashboard
from learn_etl_data_warehouse_spark.plans.sharded_etl import read_sharded_fact
from learn_etl_data_warehouse_spark.plans.warehouse import clean_fact
from scripts.build_cost import count_commands

@pytest.fixture(scope="module")
def landing(tmp_path_factory, ojolgen) -> str:
    """A 1x seeded ojol fact landed as 8 CSV shards."""
    path = str(tmp_path_factory.mktemp("build_cost") / "landing")
    ojolgen.write_landing(ojolgen.generate(1.0, seed=7), path)
    return path


def _chained_clean_fact(raw):
    """The per-column formulation ``clean_fact`` replaced, kept as its
    plan and value oracle."""
    return (
        raw.withColumn("date_start", split_date_start("date_process"))
        .withColumn("date_end", split_date_end("date_process"))
        .withColumn("from_kelurahanid", clean_sci_notation_id("from_kelurahanid"))
        .withColumn("to_kelurahanid", clean_sci_notation_id("to_kelurahanid"))
        .withColumn("from_lat", get_lat("transaction_from_latlng"))
        .withColumn("from_lng", get_lng("transaction_from_latlng"))
        .withColumn("to_lat", get_lat("transaction_to_latlng"))
        .withColumn("to_lng", get_lng("transaction_to_latlng"))
        .withColumn("distance", F.col("distance").cast("double"))
        .withColumn("distance_rounded", rounded_dist("distance"))
        .withColumn("amount_delivery", F.col("amount_delivery").cast("double"))
        .withColumn("amount_merchant", F.col("amount_merchant").cast("double"))
        .withColumn(
            "transaction_amount_total",
            F.col("transaction_amount_total").cast("double"),
        )
        .withColumn("duration", duration_minutes("date_start", "date_end"))
        .withColumn("merchant_id", empty_to_null("merchant_id"))
        .withColumn("quarter", quarter_key("date_start"))
        .drop("date_process", "transaction_from_latlng", "transaction_to_latlng")
    )


def _optimized_plan(df) -> str:
    return re.sub(r"#\d+", "#N", df._jdf.queryExecution().optimizedPlan().toString())


def test_engine_session_skips_origin_capture(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_clean_fact_and_chart_build_budgets(spark, landing):
    """Commands to build the cleaned fact, and one numeric chart over it.
    They count 373 and 198; before the session turned origin capture
    off and ``clean_fact`` became two projections they counted 819 and
    628. The budgets are about 1.5x the counts."""
    with count_commands() as clean:
        cleaned = clean_fact(read_sharded_fact(spark, landing))
    with count_commands() as chart:
        quarterly_dashboard(cleaned, "2018Q4", ["hist_amount_delivery"])
    assert clean[0] <= 560, clean[0]
    assert chart[0] <= 300, chart[0]


def test_clean_fact_matches_chained_formulation(spark, landing):
    """Same optimized plan, same columns and types, same rows."""
    got = clean_fact(read_sharded_fact(spark, landing))
    want = _chained_clean_fact(read_sharded_fact(spark, landing))
    assert got.dtypes == want.dtypes
    assert _optimized_plan(got) == _optimized_plan(want)
    assert Counter(got.collect()) == Counter(want.collect())
