"""Golden end-to-end: rebuild the reference's ojol warehouse from its own
shipped inputs and verify the SURVEY §5 golden checksums.

Reads only from /root/reference (read-only). The SQLite fact is always
available via stdlib sqlite3.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from learn_etl_data_warehouse_spark.plans.warehouse import clean_fact
from learn_etl_data_warehouse_spark.sources.sqlite import read_sqlite_table

REF_DB = "/root/reference/assets/oltp/dummy_ojol_transactions_raw_only.sqlite"
FACT_TABLE = "dummy_ojol_transactions_raw_only_query_get_transaction_list_koto"

pytestmark = pytest.mark.skipif(
    not os.path.exists(REF_DB), reason="reference assets not present"
)


@pytest.fixture(scope="module")
def cleaned(spark):
    raw = read_sqlite_table(spark, REF_DB, FACT_TABLE, all_string=True)
    df = clean_fact(raw).cache()
    yield df
    df.unpersist()


def test_row_count(cleaned):
    assert cleaned.count() == 1878


def test_quarter_partition_counts(cleaned):
    got = {
        r["quarter"]: r["n"]
        for r in cleaned.groupBy("quarter").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == {"2018Q3": 205, "2018Q4": 1113, "2019Q1": 560}


def test_mode_partition_counts(cleaned):
    got = {
        r["mode"]: r["n"]
        for r in cleaned.groupBy("mode").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == {"BIKE": 594, "CAR": 337, "FOOD": 506, "SHOP": 441}


def test_golden_checksums(cleaned):
    row = cleaned.agg(
        F.sum("duration").alias("sum_duration"),
        F.sum("distance_rounded").alias("sum_dist"),
    ).collect()[0]
    assert row["sum_duration"] == 498496
    assert row["sum_dist"] == 21927


def test_amount_delivery_by_mode(cleaned):
    got = {
        r["mode"]: int(r["s"])
        for r in cleaned.groupBy("mode")
        .agg(F.sum("amount_delivery").alias("s"))
        .collect()
    }
    assert got == {
        "BIKE": 4_137_000,
        "CAR": 4_779_000,
        "FOOD": 4_229_000,
        "SHOP": 3_905_000,
    }


def test_corrupt_latlng_rows_parsed(cleaned):
    """The 10 corrupt 31-tab rows must parse to valid coordinates (the
    whole point of P4/P5), and merchant_id is null for exactly the 931
    BIKE/CAR rows (J3 empty-string semantics)."""
    assert cleaned.filter(F.col("from_lat").isNull() | F.col("from_lng").isNull()).count() == 0
    null_merchants = cleaned.filter(F.col("merchant_id").isNull())
    assert null_merchants.count() == 931
    assert set(
        r["mode"] for r in null_merchants.select("mode").distinct().collect()
    ) == {"BIKE", "CAR"}


def test_warehouse_roundtrip(cleaned, tmp_path):
    """Partitioned write + partition-pruned read-back reconstitutes the
    fact (the reference's union-of-QUART_* invariant, SURVEY §2.5)."""
    out = str(tmp_path / "wh")
    cleaned.write.mode("overwrite").partitionBy("quarter").parquet(out)
    back = cleaned.sparkSession.read.parquet(out)
    assert back.count() == 1878
    one_q = back.filter(F.col("quarter") == "2018Q3")
    assert one_q.count() == 205
    # partition pruning visible in the plan
    plan = one_q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "partitionFilters" in plan
