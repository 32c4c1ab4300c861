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
        spark,
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


def test_analyze_table_stats_and_staleness(spark, tmp_path, landings):
    from learn_etl_data_warehouse_spark.plans.manifest_warehouse import (
        analyze_table,
        broadcast_advice,
        table_stats,
    )

    landing, landing2 = landings
    cdir = str(tmp_path / "wh")
    table = os.path.join(cdir, "fact")
    _commit(spark, landing, cdir)
    snap = read_snapshot(spark, table)
    n = snap.count()

    assert table_stats(table) is None  # never analyzed
    analyze_table(spark, table)
    stats = table_stats(table)
    assert stats is not None and stats["row_count"] == n
    exact_ndv = snap.select("driver_id").distinct().count()
    got_ndv = stats["columns"]["driver_id"]["ndv"]
    assert abs(got_ndv - exact_ndv) <= max(1, int(0.05 * exact_ndv))
    assert all(v["nulls"] >= 0 for v in stats["columns"].values())

    # the analyze publish is metadata-only: data unchanged, history moves
    assert read_snapshot(spark, table).count() == n

    # small table + fresh stats -> broadcast; tiny threshold -> shuffle
    assert broadcast_advice(table)["strategy"] == "broadcast"
    assert broadcast_advice(table, threshold_bytes=1)["strategy"] == "shuffle"

    # any data commit makes the stats read as ABSENT, never silently wrong
    _commit(spark, landing2, cdir, shards=[3])
    assert table_stats(table) is None
    advice = broadcast_advice(table)
    assert advice["strategy"] == "shuffle" and "no fresh" in advice["reason"]

    # re-analyze heals
    analyze_table(spark, table)
    assert table_stats(table) is not None


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
    # t2 rewrote only shard 3's partitions
    assert 0 < hist[0]["n_changed_partitions"] < hist[0]["n_partitions"]
    # the first commit changed every partition (no predecessor)
    assert hist[1]["n_changed_partitions"] == hist[1]["n_partitions"]
    # vacuum trims the log to the live snapshot
    vacuum(table)
    hist2 = table_history(table)
    assert [h["txn"] for h in hist2] == [t2]


def test_kmv_join_cardinality_advice(spark, tmp_path):
    """r11 (r10 verdict item 4): sketch-driven join estimation. The
    advice CHANGES with measured key overlap — full overlap on a small
    dim broadcasts, provably-disjoint complete hash sets collapse the
    inner join to an empty LocalTableScan (no join operator in the
    plan), and any later data commit makes the advice fall back to
    shuffle-safe (absent, never wrong). Inexact sketches (NDV > 2k)
    estimate intersection NDV and join rows within KMV error."""
    from learn_etl_data_warehouse_spark.plans.manifest_warehouse import (
        analyze_table,
        join_cardinality_advice,
        manifest_stream_sink,
        read_join_advised,
    )

    ta, tb, tc = (str(tmp_path / n) for n in ("ta", "tb", "tc"))
    for t in (ta, tb, tc):
        os.makedirs(t)
    # ta: fact with keys 0..99 (3 rows each); tb: dim keys 0..99;
    # tc: dim keys 1000..1099 (disjoint from ta)
    manifest_stream_sink(ta)(
        spark.createDataFrame(
            [(i % 100, i) for i in range(300)], "k INT, v INT"
        ),
        0,
    )
    manifest_stream_sink(tb)(
        spark.createDataFrame(
            [(i, f"d{i}") for i in range(100)], "k INT, name STRING"
        ),
        0,
    )
    manifest_stream_sink(tc)(
        spark.createDataFrame(
            [(i, f"d{i}") for i in range(1000, 1100)],
            "k INT, name STRING",
        ),
        0,
    )
    for t in (ta, tb, tc):
        analyze_table(spark, t, sketch_columns=["k"])

    # full overlap, small dim -> broadcast, exact intersection = 100
    adv = join_cardinality_advice(ta, "k", tb, "k")
    assert adv["strategy"] == "broadcast"
    assert adv["intersection_exact"] and adv["est_intersection_ndv"] == 100
    # exact intersection x approx NDVs: 300*100*100/(ndv_a*ndv_b) ~ 300
    assert abs(adv["est_join_rows"] - 300) <= 30
    joined = read_join_advised(spark, ta, "k", tb, "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert joined.count() == 300

    # zero overlap between complete hash sets -> provably empty; the
    # inner join plans as an empty LocalTableScan, NO join operator
    adv2 = join_cardinality_advice(ta, "k", tc, "k")
    assert adv2["strategy"] == "provably_empty"
    assert adv2["est_intersection_ndv"] == 0
    empty = read_join_advised(spark, ta, "k", tc, "k")
    eplan = empty._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in eplan and "LocalTableScan" in eplan
    assert empty.count() == 0
    # semantics conformance: the real join IS empty
    assert (
        read_snapshot(spark, ta)
        .join(
            read_snapshot(spark, tc).withColumnRenamed("k", "k2"),
            F.col("k") == F.col("k2"),
        )
        .count()
        == 0
    )
    # a LEFT join never takes the empty shortcut: all 300 left rows
    left = read_join_advised(spark, ta, "k", tc, "k", how="left")
    assert left.count() == 300
    assert "Join" in left._jdf.queryExecution().executedPlan().toString()

    # staleness: one more committed batch -> advice absent, never wrong
    manifest_stream_sink(tc)(
        spark.createDataFrame([(0, "d0")], "k INT, name STRING"), 1
    )
    adv3 = join_cardinality_advice(ta, "k", tc, "k")
    assert adv3["strategy"] == "shuffle" and "no fresh" in adv3["reason"]
    # and the advised join is the PLAIN join (tc now overlaps at k=0)
    refreshed = read_join_advised(spark, ta, "k", tc, "k")
    assert refreshed.count() == 3

    # analyze without sketch_columns -> explicit missing-sketch reason
    analyze_table(spark, tc)
    adv4 = join_cardinality_advice(ta, "k", tc, "k")
    assert adv4["strategy"] == "shuffle" and "KMV" in adv4["reason"]


def test_kmv_advice_inexact_estimates(spark, tmp_path):
    """NDV > 2k exercises the estimator branch: 3,000-key sides with
    50% overlap — est intersection and join rows within KMV error
    (~1/sqrt(k) for k=256; assert a generous 25%)."""
    from learn_etl_data_warehouse_spark.plans.manifest_warehouse import (
        analyze_table,
        join_cardinality_advice,
        manifest_stream_sink,
    )

    ta, tb = str(tmp_path / "big_a"), str(tmp_path / "big_b")
    for t in (ta, tb):
        os.makedirs(t)
    manifest_stream_sink(ta)(
        spark.createDataFrame(
            [(i, i) for i in range(3000)], "k INT, v INT"
        ),
        0,
    )
    manifest_stream_sink(tb)(
        spark.createDataFrame(
            [(i, i) for i in range(1500, 4500)], "k INT, v INT"
        ),
        0,
    )
    for t in (ta, tb):
        analyze_table(spark, t, sketch_columns=["k"])
    adv = join_cardinality_advice(ta, "k", tb, "k")
    assert not adv["intersection_exact"]
    assert abs(adv["est_intersection_ndv"] - 1500) <= 375
    assert abs(adv["est_join_rows"] - 1500) <= 600  # ndv error compounds


def test_kmv_intersection_threshold_truncated():
    """r12 (ADVICE): an INEXACT sketch holding fewer than k values may
    be survivor-threshold-truncated (HLL ndv_hint overestimate), not
    genuinely complete — len(merged) < k must NOT collapse est_union to
    len(merged). With the stored `thr`, the estimator reads hash
    density in the jointly-complete region; legacy sketches without
    `thr` fall back to the order-statistic KMV estimate."""
    from learn_etl_data_warehouse_spark.plans.manifest_warehouse import (
        _kmv_intersection,
    )

    two48 = 1 << 48
    thr = two48 // 1000
    # 10 survivors below thr per side, 5 shared: k=256 never filled, but
    # the density says true NDV ~ 15,000 across the union.
    va = [i * (thr // 11) + 1 for i in range(10)]
    vb = va[:5] + [i * (thr // 11) + 7 for i in range(5, 10)]
    sa = {"k": 256, "exact": False, "values": va, "thr": thr}
    sb = {"k": 256, "exact": False, "values": vb, "thr": thr}
    out = _kmv_intersection(sa, sb)
    # union density: 15 survivors * 1000 = 15,000; 5/15 shared -> ~5,000
    assert 4000 <= out["est_intersection_ndv"] <= 6000
    assert not out["exact"] and not out["provably_empty"]

    # pre-fix behavior would have been est_union = 15 -> est_inter = 5
    assert out["est_intersection_ndv"] > 15

    # legacy sketches (no thr recorded): order-statistic fallback, still
    # never the biased-low "complete" shortcut
    sa_legacy = {"k": 256, "exact": False, "values": va}
    sb_legacy = {"k": 256, "exact": False, "values": vb}
    out2 = _kmv_intersection(sa_legacy, sb_legacy)
    assert out2["est_intersection_ndv"] > 1000

    # exact + truncated-inexact mix: density over min(thr) still applies
    out3 = _kmv_intersection(
        {"k": 256, "exact": True, "values": va}, sb
    )
    assert out3["est_intersection_ndv"] > 15
