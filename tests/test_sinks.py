"""Sink parity: SQLite replace-semantics (S4) and partitioned parquet."""

from __future__ import annotations

import sqlite3

from pyspark.sql import functions as F

from learn_etl_data_warehouse_spark.sources.parquet import load_table
from learn_etl_data_warehouse_spark.sources.sqlite import (
    read_sqlite_table,
    write_sqlite_table,
)


def test_sqlite_sink_replace_semantics(spark, sf_small, tmp_path):
    """The reference's ``to_sql(if_exists='replace')`` drops and recreates
    per table — writing twice must leave exactly one copy."""
    db = str(tmp_path / "wh.db")
    nation = load_table(spark, sf_small, "nation")
    write_sqlite_table(nation, db, "dim_nation")
    write_sqlite_table(nation, db, "dim_nation")  # replace, not append
    con = sqlite3.connect(db)
    try:
        n = con.execute("SELECT count(*) FROM dim_nation").fetchone()[0]
    finally:
        con.close()
    assert n == 25


def test_sqlite_roundtrip_preserves_values(spark, sf_small, tmp_path):
    db = str(tmp_path / "rt.db")
    region = load_table(spark, sf_small, "region")
    write_sqlite_table(region, db, "region")
    back = read_sqlite_table(spark, db, "region", all_string=False)
    got = sorted(map(tuple, back.collect()))
    want = sorted(map(tuple, region.collect()))
    assert got == want


def test_partitioned_write_prunes(spark, sf_small, tmp_path):
    """partitionBy + key filter → the scan must list only the matching
    partition directory (SURVEY §4 partition pruning)."""
    out = str(tmp_path / "orders_by_status")
    orders = load_table(spark, sf_small, "orders")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "O")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert back.count() == orders.filter(F.col("o_orderstatus") == "O").count()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan or "o_orderstatus" in plan.split("PartitionFilters")[1][:120]


def test_sqlite_jdbc_probe_is_safe_and_shim_forced(spark, sf_small, tmp_path):
    """The jar probe must never throw, and force_shim must pin the
    sqlite3 path regardless of classpath (the golden parity tests'
    byte-level expectations depend on the shim's str() formatting)."""
    from learn_etl_data_warehouse_spark.sources.sqlite import (
        sqlite_jdbc_available,
    )

    assert sqlite_jdbc_available(spark) in (True, False)
    db = str(tmp_path / "p.db")
    nation = load_table(spark, sf_small, "nation")
    write_sqlite_table(nation, db, "nation")
    shim = read_sqlite_table(spark, db, "nation", force_shim=True)
    assert shim.count() == 25
    assert all(f.dataType.typeName() == "string" for f in shim.schema.fields)


def test_sqlite_jdbc_partitioned_read_matches_shim(spark, sf_small, tmp_path):
    """JDBC path (jar present only): partitioned rowid-range extract must
    return the same all-string rows as the shim, across >1 partition."""
    import pytest

    from learn_etl_data_warehouse_spark.sources.sqlite import (
        sqlite_jdbc_available,
    )

    if not sqlite_jdbc_available(spark):
        pytest.skip(
            "sqlite-jdbc jar not on the session classpath (documented: "
            "absent from this image; see CLAUDE.md r5 notes)"
        )
    db = str(tmp_path / "j.db")
    customer = load_table(spark, sf_small, "customer")
    write_sqlite_table(customer, db, "customer")
    jdbc = read_sqlite_table(spark, db, "customer", num_partitions=4)
    shim = read_sqlite_table(spark, db, "customer", force_shim=True)
    assert jdbc.rdd.getNumPartitions() > 1
    assert sorted(jdbc.columns) == sorted(shim.columns)
    assert jdbc.count() == shim.count()
