"""Catalog-level multi-table transaction tests (plans/catalog.py):
all-or-nothing publication across tables, cross-table snapshot
isolation for pinned readers, crash recovery at every window, and the
repair-before-vacuum safety property."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from learn_etl_data_warehouse_spark.plans import catalog as cat
from learn_etl_data_warehouse_spark.plans import manifest_warehouse as mw


def _fact(spark, version: int, n: int = 40):
    return spark.range(n).select(
        F.col("id").alias("k"),
        F.concat(F.lit("p"), (F.col("id") % 4).cast("string")).alias("part"),
        (F.col("id") * version).cast("double").alias("amount"),
    )


def _rollup(spark, fact_df):
    return fact_df.groupBy("part").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("amount") * 100).cast("long")).alias("amount_fp"),
    )


def _commit_pair(spark, cdir, version: int):
    fact = _fact(spark, version)
    return cat.catalog_commit(
        cdir,
        {
            "fact": (fact, ["part"]),
            "rollup": (_rollup(spark, fact), []),  # unpartitioned member
        },
    )


def test_multi_table_commit_is_all_or_nothing(spark, tmp_path):
    cdir = str(tmp_path / "wh")
    t1 = _commit_pair(spark, cdir, version=1)
    # a reader pinned to t1 keeps a mutually-consistent pair across a
    # later commit (cross-table snapshot isolation)
    t2 = _commit_pair(spark, cdir, version=3)
    fact_t1 = cat.catalog_read(spark, cdir, "fact", as_of=t1)
    roll_t1 = cat.catalog_read(spark, cdir, "rollup", as_of=t1)
    recomputed = {
        (r["part"], r["n"], r["amount_fp"])
        for r in _rollup(spark, fact_t1).collect()
    }
    stored = {
        (r["part"], r["n"], r["amount_fp"]) for r in roll_t1.collect()
    }
    assert recomputed == stored, "pinned fact and rollup must be one txn's pair"
    # the live catalog view is the t2 pair, also mutually consistent
    fact_now = cat.catalog_read(spark, cdir, "fact")
    roll_now = cat.catalog_read(spark, cdir, "rollup")
    assert {
        (r["part"], r["n"], r["amount_fp"])
        for r in _rollup(spark, fact_now).collect()
    } == {(r["part"], r["n"], r["amount_fp"]) for r in roll_now.collect()}
    assert t1 != t2


def test_crash_before_catalog_swap_publishes_neither_table(
    spark, tmp_path, monkeypatch
):
    cdir = str(tmp_path / "wh")
    _commit_pair(spark, cdir, version=1)
    before = cat.read_catalog(cdir)
    real_replace = os.replace

    def crash_on_catalog(src, dst):
        if os.path.basename(dst) == cat.CATALOG:
            raise OSError("injected crash: died before catalog swap")
        return real_replace(src, dst)

    monkeypatch.setattr(cat.os, "replace", crash_on_catalog)
    with pytest.raises(OSError, match="injected crash"):
        _commit_pair(spark, cdir, version=9)
    monkeypatch.setattr(cat.os, "replace", real_replace)
    # catalog unchanged → both tables still read the old pair
    assert cat.read_catalog(cdir) == before
    fact = cat.catalog_read(spark, cdir, "fact")
    assert fact.agg(F.max("amount")).first()[0] == 39.0  # version=1 values
    # the orphaned staged versions are garbage; vacuum collects them and
    # the published snapshot survives intact
    removed = sum(mw.vacuum(os.path.join(cdir, name)) for name in ("fact", "rollup"))
    assert removed > 0
    assert cat.catalog_read(spark, cdir, "fact").count() == 40


def test_crash_between_swap_and_live_flips_is_repaired(
    spark, tmp_path, monkeypatch
):
    cdir = str(tmp_path / "wh")
    _commit_pair(spark, cdir, version=1)

    real_flip = cat._flip_live_manifest

    def crash_flip(table, manifest):
        raise OSError("injected crash: died before live-manifest flips")

    monkeypatch.setattr(cat, "_flip_live_manifest", crash_flip)
    with pytest.raises(OSError, match="injected crash"):
        _commit_pair(spark, cdir, version=5)
    monkeypatch.setattr(cat, "_flip_live_manifest", real_flip)
    # the catalog DID publish (swap precedes the flips) — catalog readers
    # already see the new consistent pair
    fact = cat.catalog_read(spark, cdir, "fact")
    assert fact.agg(F.max("amount")).first()[0] == 39.0 * 5
    # live per-table manifests are stale → a raw vacuum would collect the
    # catalog's data; repair re-flips them, so a vacuum after it must NOT
    # break the published pair
    stale = mw.read_manifest(os.path.join(cdir, "fact"))["txn"]
    assert stale != cat.read_catalog(cdir)["tables"]["fact"]
    assert cat.repair_catalog_tables(cdir) == ["fact", "rollup"]
    assert cat.repair_catalog_tables(cdir) == []  # idempotent
    for name in ("fact", "rollup"):
        mw.vacuum(os.path.join(cdir, name))
    assert (
        mw.read_manifest(os.path.join(cdir, "fact"))["txn"]
        == cat.read_catalog(cdir)["tables"]["fact"]
    )
    assert cat.catalog_read(spark, cdir, "fact").count() == 40
    assert cat.catalog_read(spark, cdir, "rollup").count() == 4


def test_partition_upsert_mode_and_layout_guard(spark, tmp_path):
    cdir = str(tmp_path / "wh")
    _commit_pair(spark, cdir, version=1)
    # upsert only partition part=0 with new amounts; other parts keep data
    patch = _fact(spark, version=7).filter(F.col("part") == "p0")
    cat.catalog_commit(cdir, {"fact": (patch, ["part"])}, replace=False)
    fact = cat.catalog_read(spark, cdir, "fact")
    assert fact.count() == 40
    assert (
        fact.filter(F.col("part") == "p0").agg(F.max("amount")).first()[0]
        == 36.0 * 7
    )
    assert (
        fact.filter(F.col("part") == "p1").agg(F.max("amount")).first()[0]
        == 37.0
    )
    # rollup carried forward untouched by the partial commit
    assert cat.catalog_read(spark, cdir, "rollup").count() == 4
    with pytest.raises(ValueError, match="does not match existing layout"):
        cat.catalog_commit(cdir, {"fact": (patch, ["k"])}, replace=False)


def test_unknown_table_and_empty_commit_fail_loudly(spark, tmp_path):
    cdir = str(tmp_path / "wh")
    with pytest.raises(ValueError, match="at least one table"):
        cat.catalog_commit(cdir, {})
    _commit_pair(spark, cdir, version=1)
    with pytest.raises(FileNotFoundError, match="not in catalog"):
        cat.catalog_read(spark, cdir, "nope")


def test_concurrent_catalog_commit_detected(spark, tmp_path, monkeypatch):
    """Two catalog writers race: the one that publishes second must get
    ConcurrentWriteError, not silently swallow the first one's tables."""
    cdir = str(tmp_path / "wh")
    _commit_pair(spark, cdir, version=1)

    orig_stage = cat._stage_table
    fired = {"done": False}

    def race(table, df, partition_by, txn_id, replace):
        staged = orig_stage(table, df, partition_by, txn_id, replace)
        if not fired["done"]:
            fired["done"] = True
            # a competing multi-table commit lands while this one stages
            monkeypatch.setattr(cat, "_stage_table", orig_stage)
            _commit_pair(spark, cdir, version=11)
            monkeypatch.setattr(cat, "_stage_table", race)
        return staged

    monkeypatch.setattr(cat, "_stage_table", race)
    with pytest.raises(mw.ConcurrentWriteError, match="catalog moved"):
        _commit_pair(spark, cdir, version=2)
    monkeypatch.setattr(cat, "_stage_table", orig_stage)
    # the competing commit's pair is live and mutually consistent
    fact = cat.catalog_read(spark, cdir, "fact")
    assert fact.agg(F.max("amount")).first()[0] == 39.0 * 11
    # retry succeeds
    _commit_pair(spark, cdir, version=3)
    assert cat.catalog_read(spark, cdir, "fact").agg(
        F.max("amount")
    ).first()[0] == 39.0 * 3


def test_register_catalog_views_pins_one_txn(spark, tmp_path):
    cdir = str(tmp_path / "wh")
    t1 = _commit_pair(spark, cdir, version=1)
    pinned = cat.register_catalog_views(spark, cdir)
    assert pinned == t1
    # plain SQL over the governed pair — and the pair is consistent
    joined = spark.sql(
        """SELECT f.part, count(*) AS n
           FROM fact f JOIN rollup r ON f.part = r.part
           GROUP BY f.part"""
    )
    assert joined.count() > 0
    sql_rollup = {
        (r["part"], r["n"], r["amount_fp"]) for r in spark.sql(
            """SELECT part, count(*) AS n,
                      sum(CAST(round(amount * 100) AS BIGINT)) AS amount_fp
               FROM fact GROUP BY part"""
        ).collect()
    }
    stored = {
        (r["part"], r["n"], r["amount_fp"]) for r in spark.sql(
            "SELECT part, n, amount_fp FROM rollup"
        ).collect()
    }
    assert sql_rollup == stored

    # a NEW commit must not shift the already-registered views...
    t2 = _commit_pair(spark, cdir, version=3)
    still = {
        (r["part"], r["n"], r["amount_fp"]) for r in spark.sql(
            "SELECT part, n, amount_fp FROM rollup"
        ).collect()
    }
    assert still == stored
    # ...but re-registration advances to the new pinned txn
    assert cat.register_catalog_views(spark, cdir) == t2
    advanced = {
        (r["part"], r["n"], r["amount_fp"]) for r in spark.sql(
            "SELECT part, n, amount_fp FROM rollup"
        ).collect()
    }
    assert advanced != stored

    # historical pin reproduces the t1 view exactly
    assert cat.register_catalog_views(spark, cdir, as_of=t1) == t1
    assert {
        (r["part"], r["n"], r["amount_fp"]) for r in spark.sql(
            "SELECT part, n, amount_fp FROM rollup"
        ).collect()
    } == stored
