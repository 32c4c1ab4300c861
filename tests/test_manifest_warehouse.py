"""Manifest-versioned warehouse: cross-partition snapshot isolation
without Delta/Iceberg jars. The properties under test are exactly the
ones the rename-swap path can't give: a whole-table-consistent view, a
stable snapshot across concurrent commits, and all-or-nothing
publication via the atomic swap. The ojol fact is written through the
catalog (``catalog_commit``); a shard backfill is its partition-level
upsert. The fact is the reference's SQLite export when it is present,
and otherwise a seeded ``perfbench/ojolgen.py`` export of the same
shape, so every test runs on any host."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from learn_etl_data_warehouse_spark.plans.catalog import catalog_commit, read_catalog
from learn_etl_data_warehouse_spark.plans.manifest_warehouse import (
    read_manifest,
    read_snapshot,
    vacuum,
)
from learn_etl_data_warehouse_spark.plans.sharded_etl import (
    SHARD_COL,
    read_sharded_fact,
    write_sharded_exports,
)
from learn_etl_data_warehouse_spark.plans.warehouse import clean_fact

FACT_TABLE = "dummy_ojol_transactions_raw_only_query_get_transaction_list_koto"


@pytest.fixture()
def landings(spark, tmp_path, ojol_db):
    from learn_etl_data_warehouse_spark.sources.sqlite import read_sqlite_table

    raw = read_sqlite_table(spark, ojol_db, FACT_TABLE, all_string=True)
    landing = str(tmp_path / "landing")
    write_sharded_exports(raw, landing, n_shards=8)
    sharded = read_sharded_fact(spark, landing)
    redo = (
        sharded.filter(F.col(SHARD_COL) == 3)
        .withColumn(
            "distance", (F.col("distance").cast("double") * 2).cast("string")
        )
        .drop(SHARD_COL)
    )
    landing2 = str(tmp_path / "landing2")
    write_sharded_exports(redo, landing2, n_shards=8)
    return landing, landing2


def _commit(spark, landing: str, catalog_dir: str, shards=None) -> str:
    """Publish the cleaned (selected) shards of ``landing`` as the
    catalog table ``fact``, partitioned by (shard, quarter). A shard
    list is a partition-level upsert; ``None`` replaces the table.
    Returns the table's txn."""
    raw = read_sharded_fact(spark, landing)
    if shards is not None:
        raw = raw.filter(F.col(SHARD_COL).isin(shards))
    catalog_commit(
        catalog_dir,
        {"fact": (clean_fact(raw), [SHARD_COL, "quarter"])},
        replace=shards is None,
    )
    return read_catalog(catalog_dir)["tables"]["fact"]


def test_snapshot_is_all_or_nothing(spark, tmp_path, landings):
    landing, landing2 = landings
    cdir = str(tmp_path / "vtable")
    table = os.path.join(cdir, "fact")
    t1 = _commit(spark, landing, cdir)
    snap1 = read_snapshot(spark, table)
    n1 = snap1.count()
    assert n1 == 1878  # golden fact size
    assert read_manifest(table)["txn"] == t1

    # a second txn backfills shard 3 with doubled distances
    t2 = _commit(spark, landing2, cdir, shards=[3])
    snap2 = read_snapshot(spark, table)
    assert snap2.count() == n1
    # whole-table consistency: shard 3 is ENTIRELY t2, others entirely t1
    m = read_manifest(table)
    owners = {rel: txn for rel, txn in m["partitions"].items()}
    assert all(
        txn == (t2 if rel.startswith(f"{SHARD_COL}=3") else t1)
        for rel, txn in owners.items()
    )
    doubled = snap2.filter(F.col(SHARD_COL) == 3).agg(
        F.sum("distance")
    ).collect()[0][0]
    base = snap1.filter(F.col(SHARD_COL) == 3).agg(
        F.sum("distance")
    ).collect()[0][0]
    assert doubled == pytest.approx(2 * base)


def test_reader_snapshot_stable_across_concurrent_commit(
    spark, tmp_path, landings
):
    """A snapshot resolved BEFORE a new commit keeps reading the old
    version after it — the isolation property in-place swaps can't give."""
    landing, landing2 = landings
    cdir = str(tmp_path / "vtable2")
    table = os.path.join(cdir, "fact")
    _commit(spark, landing, cdir)
    snap_old = read_snapshot(spark, table)  # paths resolved NOW
    before = snap_old.filter(F.col(SHARD_COL) == 3).agg(
        F.sum("distance")
    ).collect()[0][0]

    _commit(spark, landing2, cdir, shards=[3])  # concurrent writer

    # the old reader's already-resolved snapshot is untouched
    after_old_reader = snap_old.filter(F.col(SHARD_COL) == 3).agg(
        F.sum("distance")
    ).collect()[0][0]
    assert after_old_reader == before
    # a fresh reader sees the new snapshot
    fresh = read_snapshot(spark, table).filter(F.col(SHARD_COL) == 3).agg(
        F.sum("distance")
    ).collect()[0][0]
    assert fresh == pytest.approx(2 * before)


def test_crash_before_manifest_swap_publishes_nothing(
    spark, tmp_path, landings, monkeypatch
):
    import learn_etl_data_warehouse_spark.plans.manifest_warehouse as mod

    landing, landing2 = landings
    cdir = str(tmp_path / "vtable3")
    table = os.path.join(cdir, "fact")
    _commit(spark, landing, cdir)
    m_before = read_manifest(table)

    real_replace = os.replace

    def crash_replace(src, dst):
        raise OSError("injected crash: died before manifest swap")

    monkeypatch.setattr(mod.os, "replace", crash_replace)
    with pytest.raises(OSError, match="injected crash"):
        _commit(spark, landing2, cdir, shards=[3])
    monkeypatch.setattr(mod.os, "replace", real_replace)

    # nothing published: manifest identical, snapshot identical
    assert read_manifest(table) == m_before
    assert read_snapshot(spark, table).count() == 1878
    # the orphaned txn dirs are garbage -> vacuum removes them
    removed = vacuum(table)
    assert removed > 0
    assert read_snapshot(spark, table).count() == 1878  # still intact


def test_vacuum_keeps_only_live_versions(spark, tmp_path, landings):
    landing, landing2 = landings
    cdir = str(tmp_path / "vtable4")
    table = os.path.join(cdir, "fact")
    _commit(spark, landing, cdir)
    _commit(spark, landing2, cdir, shards=[3])  # supersedes shard 3
    removed = vacuum(table)
    assert removed > 0  # shard 3's superseded t1 versions
    snap = read_snapshot(spark, table)
    assert snap.count() == 1878
    # second vacuum is a no-op
    assert vacuum(table) == 0


def test_time_travel_reads_prior_snapshot(spark, tmp_path, landings):
    landing, landing2 = landings
    cdir = str(tmp_path / "vtable5")
    table = os.path.join(cdir, "fact")
    t1 = _commit(spark, landing, cdir)
    t2 = _commit(spark, landing2, cdir, shards=[3])

    cur = read_snapshot(spark, table).filter(F.col(SHARD_COL) == 3)
    old = read_snapshot(spark, table, as_of=t1).filter(F.col(SHARD_COL) == 3)
    s_cur = cur.agg(F.sum("distance")).collect()[0][0]
    s_old = old.agg(F.sum("distance")).collect()[0][0]
    assert s_cur == pytest.approx(2 * s_old)
    assert read_manifest(table)["txn"] == t2
    # vacuum ends time travel to t1 (loudly, at open)
    vacuum(table)
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, table, as_of=t1)


def test_table_history_orders_and_counts_changes(spark, tmp_path, landings):
    from learn_etl_data_warehouse_spark.plans.manifest_warehouse import (
        table_history,
    )

    landing, landing2 = landings
    cdir = str(tmp_path / "wh_hist")
    table = os.path.join(cdir, "fact")
    t1 = _commit(spark, landing, cdir)
    t2 = _commit(spark, landing2, cdir, shards=[3])
    hist = table_history(table)
    assert [h["txn"] for h in hist] == [t2, t1]
    assert hist[0]["is_live"] and not hist[1]["is_live"]
    assert hist[0]["seq"] == hist[1]["seq"] + 1
    # every commit carries its wall-clock stamp, in commit order
    assert all(h["committed_at_us"] is not None for h in hist)
    assert hist[0]["committed_at_us"] >= hist[1]["committed_at_us"]
    # t2 rewrote only shard 3's partitions
    assert 0 < hist[0]["n_changed_partitions"] < hist[0]["n_partitions"]
    # the first commit changed every partition (no predecessor)
    assert hist[1]["n_changed_partitions"] == hist[1]["n_partitions"]
    # vacuum trims the log to the live snapshot
    vacuum(table)
    hist2 = table_history(table)
    assert [h["txn"] for h in hist2] == [t2]
