"""Golden join parity (SURVEY §5 item 2): the J1-J5 denormalized output
must match the reference's shipped OLAP export
``dummy_ojol_transactions.csv`` row-for-row on its 1,017 ids.

The CSV covers a subset of the 1,878 fact rows (no derivable filter rule
— it is a different generation run), so the check joins on id and
asserts every CSV row finds an exact attribute match.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from learn_etl_data_warehouse_spark.plans.warehouse import (
    build_denorm,
    clean_fact,
    load_ojol_dims,
)
from learn_etl_data_warehouse_spark.sources.csv_dialect import (
    OJOL_CSV_TS_FORMAT,
    read_ojol_csv,
)
from learn_etl_data_warehouse_spark.sources.sqlite import read_sqlite_table

ASSETS = "/root/reference/assets/oltp"
REF_DB = f"{ASSETS}/dummy_ojol_transactions_raw_only.sqlite"
FACT_TABLE = "dummy_ojol_transactions_raw_only_query_get_transaction_list_koto"
GOLDEN_CSV = f"{ASSETS}/dummy_ojol_transactions.csv"

pytestmark = pytest.mark.skipif(
    not os.path.exists(GOLDEN_CSV), reason="reference assets not present"
)


@pytest.fixture(scope="module")
def denorm(spark):
    raw = read_sqlite_table(spark, REF_DB, FACT_TABLE, all_string=True)
    dims = load_ojol_dims(spark, ASSETS)
    return build_denorm(clean_fact(raw), dims).cache()


def _first_token_double(col):
    """The golden CSV exported the corrupt 31-tab latlng cells verbatim
    (10 rows); clean exactly like the engine's P5: before first tab, trim,
    first space-field, then cast."""
    tok = F.split(F.trim(F.substring_index(F.col(col), "\t", 1)), " ").getItem(0)
    return F.regexp_replace(tok, ",", ".").cast("double")


def _decimal_comma_double(col):
    return F.regexp_replace(F.col(col), ",", ".").cast("double")


@pytest.fixture(scope="module")
def golden(spark):
    df = read_ojol_csv(spark, GOLDEN_CSV).withColumn(
        "distance", _decimal_comma_double("distance")
    )
    for c in ["date_order", "date_finished"]:
        df = df.withColumn(c, F.to_timestamp(F.col(c), OJOL_CSV_TS_FORMAT))
    for c in ["from_lat", "from_lng", "to_lat", "to_lng"]:
        df = df.withColumn(c, _first_token_double(c))
    return (
        df.withColumn("id", F.col("id").cast("long"))
        .withColumn("customer_id", F.col("customer_id").cast("long"))
        .withColumn("driver_id", F.col("driver_id").cast("long"))
        .withColumn("merchant_id", F.col("merchant_id").cast("long"))
        .withColumn("amount_delivery", F.col("amount_delivery").cast("double"))
        .withColumn("amount_merchant", F.col("amount_merchant").cast("double"))
        .withColumn(
            "transaction_amount_total",
            F.col("transaction_amount_total").cast("double"),
        )
        .withColumn(
            "customer_birthdate", F.to_date("customer_birthdate", "dd/MM/yyyy")
        )
        .withColumn(
            "driver_birthdate", F.to_date("driver_birthdate", "dd/MM/yyyy")
        )
        .cache()
    )


COMPARE_COLS = [
    "date_order",
    "date_finished",
    "mode",
    "from_kelurahan",
    "from_kecamatan",
    "from_lat",
    "from_lng",
    "to_kelurahan",
    "to_kecamatan",
    "to_lat",
    "to_lng",
    "distance",
    "amount_delivery",
    "amount_merchant",
    "transaction_amount_total",
    "customer_id",
    "customer_name",
    "customer_gender",
    "customer_birthdate",
    "driver_id",
    "driver_name",
    "driver_gender",
    "driver_birthdate",
    "kendaraan_jenis",
    "kendaraan_merk",
    "merchant_id",
    "merchant_name",
    "merchant_category",
]


def test_every_golden_row_matches(denorm, golden):
    assert golden.count() == 1017
    ours = denorm.select(
        "id", *[F.col(c).alias(f"e_{c}") for c in COMPARE_COLS]
    )
    joined = golden.join(ours, "id", "left").cache()
    assert joined.count() == 1017
    assert joined.filter(F.col("e_mode").isNull()).count() == 0, "missing ids"

    # The export's coordinate precision is display-driven (Excel "General"
    # style, variable significant digits), so floats compare within 1e-6 —
    # ≈0.1 m for coordinates, far below any wrong-row/wrong-parse signal.
    approx = {"from_lat", "from_lng", "to_lat", "to_lng", "distance"}
    for c in COMPARE_COLS:
        if c in approx:
            cond = F.abs(F.col(c) - F.col(f"e_{c}")) <= 1e-6
        else:
            cond = F.col(c) == F.col(f"e_{c}")
        mismatch = joined.filter(
            ~(cond | (F.col(c).isNull() & F.col(f"e_{c}").isNull()))
        )
        n = mismatch.count()
        if n:
            sample = mismatch.select("id", c, f"e_{c}").limit(5).collect()
            raise AssertionError(f"{c}: {n} mismatches, e.g. {sample}")


def test_by_driver_projection_matches(spark, denorm):
    """A6 — the per-driver export (`dummy_ojol_transactions_by_driver.csv`)
    is a (year, month, mode, driver) projection of the same 1,017 rows.
    No row key exists, so compare as multisets (groupBy-all + count)."""
    by_driver = f"{ASSETS}/dummy_ojol_transactions_by_driver.csv"
    golden = read_ojol_csv(spark, by_driver)
    golden = golden.select(
        F.col("tahun").cast("long").alias("tahun"),
        F.col("bulan").cast("long").alias("bulan"),
        "mode",
        F.round(_decimal_comma_double("jarak"), 6).alias("jarak"),
        F.col("ongkir").cast("double").alias("ongkir"),
        F.col("belanja").cast("double").alias("belanja"),
        F.col("total biaya").cast("double").alias("total_biaya"),
        F.col("driver id").cast("long").alias("driver_id"),
        F.col("driver name").alias("driver_name"),
        F.col("driver gender").alias("driver_gender"),
    )
    # tahun/bulan derive from date_FINISHED (verified: the 6 trips that
    # cross a month boundary land in the end month in the export)
    ours = denorm.select(
        F.year("date_finished").cast("long").alias("tahun"),
        F.month("date_finished").cast("long").alias("bulan"),
        "mode",
        F.round("distance", 6).alias("jarak"),
        F.col("amount_delivery").alias("ongkir"),
        F.col("amount_merchant").alias("belanja"),
        F.col("transaction_amount_total").alias("total_biaya"),
        "driver_id",
        "driver_name",
        "driver_gender",
    )
    cols = golden.columns
    g = golden.groupBy(*cols).count()
    # restrict to the export's id subset by matching multiset difference:
    # every golden tuple must appear at least as often in our projection.
    o = ours.groupBy(*cols).count().withColumnRenamed("count", "ours")
    missing = g.join(o, cols, "left").filter(
        F.col("ours").isNull() | (F.col("ours") < F.col("count"))
    )
    n = missing.count()
    assert n == 0, f"{n} golden tuples unmatched, e.g. {missing.limit(3).collect()}"


def test_denorm_plan_is_all_broadcast(denorm):
    """Every dim join must be a broadcast hash join — no shuffle of the
    fact side (SURVEY §2.3)."""
    plan = denorm._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_j6_dim_denormalization_consistent(spark):
    """J6 (SURVEY §2.3): the masters carry denormalized kelurahan names;
    re-deriving them through the kelurahan dim must agree."""
    import os

    import pytest

    assets = "/root/reference/assets/oltp"
    if not os.path.exists(assets + "/master_user.xlsx"):
        pytest.skip("reference assets not present")
    from learn_etl_data_warehouse_spark.plans.warehouse import load_ojol_dims

    dims = load_ojol_dims(spark, assets)
    kel = dims["kelurahan"].select(
        F.col("kelurahan_id").alias("_kid"),
        F.col("kelurahan_name").alias("_kname"),
        F.col("kecamatan_name").alias("_cname"),
    )
    for name in ["user", "driver"]:
        joined = dims[name].join(
            F.broadcast(kel), dims[name]["kelurahan_id"] == F.col("_kid"), "left"
        )
        bad = joined.filter(
            (F.col("kelurahan_name") != F.col("_kname"))
            | (F.col("kecamatan_name") != F.col("_cname"))
        ).count()
        assert bad == 0, f"{name}: denormalized names disagree with the dim"
