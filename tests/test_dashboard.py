"""EP2/EP3 dashboard parity against the reference's golden warehouse
numbers (the dashboards are the reference's entire query workload).

The fact is the reference's SQLite, or the ``ojolgen`` export of it when
the reference is absent; ``ojolgen`` reproduces the reference's quarter
and mode partition sizes, so every check but the golden money total runs
on either."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from learn_etl_data_warehouse_spark.plans.dashboard import (
    mode_dashboard,
    quarterly_dashboard,
)
from learn_etl_data_warehouse_spark.plans.warehouse import clean_fact
from learn_etl_data_warehouse_spark.sources.sqlite import read_sqlite_table

REF_DB = "/root/reference/assets/oltp/dummy_ojol_transactions_raw_only.sqlite"
FACT_TABLE = "dummy_ojol_transactions_raw_only_query_get_transaction_list_koto"


@pytest.fixture(scope="module")
def cleaned(spark, ojol_db):
    raw = read_sqlite_table(spark, ojol_db, FACT_TABLE, all_string=True)
    df = clean_fact(raw).cache()
    yield df
    df.unpersist()


def test_quarterly_dashboard_2018q4(cleaned):
    dash = quarterly_dashboard(cleaned, "2018Q4")
    assert dash["table"].count() == 1113  # golden partition size
    # histogram = exactly what plt.hist computes on the partition
    vals = np.array(
        [r[0] for r in dash["table"].select("amount_delivery").collect()]
    )
    want, _ = np.histogram(vals, bins=10)
    got = {r["bin"]: r["n"] for r in dash["hist_amount_delivery"].collect()}
    assert got == {i: int(c) for i, c in enumerate(want) if c > 0}
    # the categorical mode histogram sums to the partition size
    mode_counts = {r["mode"]: r["n"] for r in dash["hist_mode"].collect()}
    assert sum(mode_counts.values()) == 1113
    # nav keys: ordered quarters (pandas groupby sorts keys — parity)
    navs = [r["quarter"] for r in dash["nav_quarters"].collect()]
    assert navs == ["2018Q3", "2018Q4", "2019Q1"]
    # geo scatter carries exactly the plotted columns
    assert dash["geo_from"].columns == ["from_lat", "from_lng", "mode"]


def test_mode_dashboard_bike(cleaned):
    import numpy as np

    dash = mode_dashboard(cleaned, "BIKE")
    assert dash["table"].count() == 594  # golden mode size
    # hour chart = plt.hist on numeric hours: 10 equal-width bins
    hour_vals = np.array(
        [r[0] for r in dash["table"].select(F.hour("date_start")).collect()]
    )
    want, _ = np.histogram(hour_vals, bins=10)
    got = {r["bin"]: r["n"] for r in dash["hist_hour_start"].collect()}
    assert got == {i: int(c) for i, c in enumerate(want) if c > 0}
    navs = [r["mode"] for r in dash["nav_modes"].collect()]
    assert navs == ["BIKE", "CAR", "FOOD", "SHOP"]
    assert [r["quarter"] for r in dash["nav_quarters"].collect()] == [
        "2018Q3",
        "2018Q4",
        "2019Q1",
    ]


@pytest.mark.skipif(not os.path.exists(REF_DB), reason="reference assets not present")
def test_mode_dashboard_bike_golden_amount_total(cleaned):
    # fixed-point, order-independent money check (CLAUDE.md invariant 1)
    from learn_etl_data_warehouse_spark.functions.aggregates import fixed_point_sum

    dash = mode_dashboard(cleaned, "BIKE")
    total = dash["table"].agg(
        fixed_point_sum(F.col("amount_delivery"), 100).alias("s")
    ).collect()[0]["s"]
    assert total == 4_137_000.0
