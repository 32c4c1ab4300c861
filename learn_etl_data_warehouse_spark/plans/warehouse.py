"""The ojol warehouse pipeline — reference EP1 (server.py:26-130)
re-expressed as one declarative Spark plan.

Reference shape: extract → per-column cleaning UDF chain → drop raw cols →
TWO materializations of the same fact (dict-of-DataFrames by quarter AND by
mode) → 12 SQLite tables. Engine shape: one narrow expression chain that
pipelines into the scan (no shuffle until the write), then ONE logical
fact table partitioned by (shard, quarter) — written by
``plans/sharded_etl.py``: per-partition lookups become partition-pruned
scans instead of physical table-per-key (SURVEY §4 "Partition pruning" /
"Double-partition redundancy").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import (
    clean_sci_notation_id,
    duration_minutes,
    empty_to_null,
    get_lat,
    get_lng,
    rounded_dist,
    split_date_end,
    split_date_start,
)
from ..functions.datetime_fns import quarter_key
from ..operators.joins import broadcast_left_join, roleplay_join


def _select_replacing(
    df: DataFrame, names: list[str], replaced: dict, added: dict
) -> DataFrame:
    """One projection: ``names`` in order, each one found in ``replaced``
    swapped for that expression under the same name, then the ``added``
    expressions under their keys. ``df[name]`` costs one py4j call where
    a bare name costs three."""
    return df.select(
        *[replaced[c].alias(c) if c in replaced else df[c] for c in names],
        *[e.alias(c) for c, e in added.items()],
    )


def clean_fact(raw: DataFrame) -> DataFrame:
    """The full cleaning/derivation layer over the all-string raw fact
    (reference server.py:59-98). Entirely narrow — zero shuffles; every
    expression is whole-stage-codegen'd.

    Column-for-column parity with the reference's cleaned fact, plus the
    ``quarter`` partition key (the reference derives it later, at
    partition time, server.py:101-102).

    Two projections rather than a ``withColumn`` per column: each
    ``withColumn`` re-analyzes the whole plan, and a chain of 17 took
    twice as long to build (about 80 ms against 40 ms on a 4-core host)
    though it sends fewer py4j commands (299 against 373). The inner
    projection parses the raw strings; the outer one casts the amounts
    and derives from the parsed distance and dates. Catalyst collapses
    them into the chain's optimized plan (``tests/test_build_cost.py``
    keeps the chain as the oracle). Each cleaned column keeps its raw
    column's place, the derived ones follow, and the three raw columns
    they are parsed from are dropped."""
    sources = ("date_process", "transaction_from_latlng", "transaction_to_latlng")
    kept = [c for c in raw.columns if c not in sources]
    parsed = {
        "date_start": split_date_start("date_process"),
        "date_end": split_date_end("date_process"),
        "from_lat": get_lat("transaction_from_latlng"),
        "from_lng": get_lng("transaction_from_latlng"),
        "to_lat": get_lat("transaction_to_latlng"),
        "to_lng": get_lng("transaction_to_latlng"),
    }
    inner = _select_replacing(raw, kept, {
        "from_kelurahanid": clean_sci_notation_id("from_kelurahanid"),
        "to_kelurahanid": clean_sci_notation_id("to_kelurahanid"),
        "distance": F.col("distance").cast("double"),
    }, parsed)
    return _select_replacing(inner, kept + list(parsed), {
        "amount_delivery": F.col("amount_delivery").cast("double"),
        "amount_merchant": F.col("amount_merchant").cast("double"),
        "transaction_amount_total": F.col("transaction_amount_total").cast("double"),
        "merchant_id": empty_to_null("merchant_id"),
    }, {
        "distance_rounded": rounded_dist("distance"),
        "duration": duration_minutes("date_start", "date_end"),
        "quarter": quarter_key("date_start"),
    })


def _excel_serial_to_date(col):
    """Excel stores dates as styled day-serials (epoch 1899-12-30); the
    dims' birthdate columns arrive that way from the xlsx reader."""
    return F.date_add(F.to_date(F.lit("1899-12-30")), F.col(col).cast("int"))


def load_ojol_dims(spark, assets_dir: str) -> dict[str, DataFrame]:
    """Extract the five Excel dimension tables (reference server.py:26-48).

    Returned raw-shaped (source column names); derivations (is_male,
    birthdate dates) happen in the consumers, mirroring the reference's
    clean layer."""
    from ..sources.excel import read_excel

    return {
        name: read_excel(spark, f"{assets_dir}/master_{name}.xlsx")
        for name in ["kategori", "driver", "kelurahan", "merchant", "user"]
    }


def build_denorm(cleaned: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """The declared J1-J5 join surface (SURVEY §2.3) — the denormalized
    OLAP export the reference ships as ``dummy_ojol_transactions.csv``
    but never computes in code. Every dimension is bounded → every join
    is an explicit broadcast left join; the kelurahan dim role-plays as
    trip origin and destination (J5).

    Output column set matches the golden CSV (FIXTURES.md A7)."""
    user = dims["user"].select(
        F.col("user_id").alias("_cust_key"),
        F.col("user_name").alias("customer_name"),
        F.col("user_gender").alias("customer_gender"),
        _excel_serial_to_date("user_birthdate").alias("customer_birthdate"),
    )
    driver = dims["driver"].select(
        F.col("user_id").alias("_drv_key"),
        F.col("user_name").alias("driver_name"),
        F.col("user_gender").alias("driver_gender"),
        _excel_serial_to_date("user_birthdate").alias("driver_birthdate"),
        F.col("fleet_type").alias("kendaraan_jenis"),
        F.col("fleet_merk").alias("kendaraan_merk"),
    )
    merchant = dims["merchant"].select(
        F.col("merchant_id").alias("_mrc_key"),
        F.col("merchant_name"),
        F.col("category_id").alias("_cat_key"),
    )
    kategori = dims["kategori"].select(
        F.col("category_id").alias("_cat_key2"),
        F.col("category_name").alias("merchant_category"),
    )

    fact = (
        cleaned.withColumn("id", rounded_dist("id"))
        .withColumn("customer_id", rounded_dist("customer_id"))
        .withColumn("driver_id", rounded_dist("driver_id"))
        .withColumn("merchant_id", rounded_dist(empty_to_null("merchant_id")))
    )

    joined = broadcast_left_join(
        fact, user, fact.customer_id == user._cust_key
    )
    joined = broadcast_left_join(joined, driver, joined.driver_id == driver._drv_key)
    joined = broadcast_left_join(joined, merchant, joined.merchant_id == merchant._mrc_key)
    joined = broadcast_left_join(joined, kategori, F.col("_cat_key") == kategori._cat_key2)
    joined = roleplay_join(
        joined,
        dims["kelurahan"],
        roles={
            "from": ("from_kelurahanid", "from_"),
            "to": ("to_kelurahanid", "to_"),
        },
        dim_key="kelurahan_id",
        payload_cols=["kelurahan_name", "kecamatan_name"],
    )
    return joined.select(
        "id",
        F.col("date_start").alias("date_order"),
        F.col("date_end").alias("date_finished"),
        "mode",
        "from_alamat",
        F.col("from_kelurahan_name").alias("from_kelurahan"),
        F.col("from_kecamatan_name").alias("from_kecamatan"),
        "from_lat",
        "from_lng",
        "to_alamat",
        F.col("to_kelurahan_name").alias("to_kelurahan"),
        F.col("to_kecamatan_name").alias("to_kecamatan"),
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
    )
