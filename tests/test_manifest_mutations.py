"""Manifest warehouse mutations: DELETE partition-version rewrite, the
exactly-once streaming commit, optimistic concurrency, vacuum retention
and fsck.

The properties under test are the Delta/Iceberg ones the plain layout
can't give: keyed mutations that rewrite ONLY affected partition
versions and publish atomically, and a replayed micro-batch that
replaces itself instead of appending a duplicate."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from learn_etl_data_warehouse_spark.plans.manifest_warehouse import (
    delete_where,
    manifest_stream_sink,
    read_manifest,
    read_snapshot,
    vacuum,
)


@pytest.fixture()
def vtable(spark, tmp_path):
    """Synthetic two-batch manifest table with disjoint value ranges:
    batch 0 holds ids 0-9 (v 0-9, one NULL-v row), batch 1 holds ids
    100-109 (v 100-109)."""
    table = str(tmp_path / "vtable")
    os.makedirs(table)
    sink = manifest_stream_sink(table)
    b0 = spark.createDataFrame(
        [(i, float(i), "a" if i % 2 == 0 else "b") for i in range(10)]
        + [(99, None, "a")],
        "id INT, v DOUBLE, cat STRING",
    )
    b1 = spark.createDataFrame(
        [(i, float(i), "c") for i in range(100, 110)],
        "id INT, v DOUBLE, cat STRING",
    )
    sink(b0, 0)
    sink(b1, 1)
    return table, sink


def test_replayed_batch_is_exactly_once(spark, vtable):
    table, sink = vtable
    before = read_snapshot(spark, table).count()
    b0_again = spark.createDataFrame(
        [(i, float(i), "a" if i % 2 == 0 else "b") for i in range(10)]
        + [(99, None, "a")],
        "id INT, v DOUBLE, cat STRING",
    )
    sink(b0_again, 0)  # the retry: same batch id, fresh txn
    assert read_snapshot(spark, table).count() == before  # no duplicates
    assert vacuum(table) == 1  # exactly the superseded batch-0 version


def test_delete_where_rewrites_only_affected_partition(spark, vtable):
    table, _ = vtable
    t_b0_before = read_manifest(table)["partitions"]["batch_id=0"]
    txn = delete_where(spark, table, "v >= 100 AND v <= 104")
    m = read_manifest(table)
    assert m["txn"] == txn
    assert m["partitions"]["batch_id=1"] == txn  # rewritten
    assert m["partitions"]["batch_id=0"] == t_b0_before  # untouched
    assert read_snapshot(spark, table).count() == 16


def test_delete_where_null_condition_keeps_row(spark, vtable):
    table, _ = vtable
    # SQL DELETE semantics: rows where the predicate is NULL survive
    delete_where(spark, table, "v <= 3")
    snap = read_snapshot(spark, table)
    assert snap.count() == 21 - 4  # v in {0,1,2,3} gone, NULL-v row kept
    assert snap.filter(F.col("v").isNull()).count() == 1


def test_delete_where_drops_emptied_partition(spark, vtable):
    table, _ = vtable
    delete_where(spark, table, "id >= 100")
    m = read_manifest(table)
    assert "batch_id=1" not in m["partitions"]
    assert read_snapshot(spark, table).count() == 11


def test_delete_where_no_match_is_noop(spark, vtable):
    table, _ = vtable
    m_before = read_manifest(table)
    assert delete_where(spark, table, "v > 99999") is None
    assert read_manifest(table) == m_before


def test_delete_where_on_unpartitioned_table(spark, tmp_path):
    """An unpartitioned catalog member (manifest rel ``.``) is rewritten
    whole: the delete leaves the other rows, and deleting every row
    leaves an empty table, not a missing one."""
    from learn_etl_data_warehouse_spark.plans.catalog import catalog_commit

    d = str(tmp_path / "cat")
    catalog_commit(d, {"t": (spark.range(10), [])})
    table = d + "/t"
    assert delete_where(spark, table, "id < 3") is not None
    assert list(read_manifest(table)["partitions"]) == ["."]
    assert sorted(r.id for r in read_snapshot(spark, table).collect()) == list(
        range(3, 10)
    )
    assert delete_where(spark, table, "id > 100") is None
    assert delete_where(spark, table, "id >= 0") is not None
    assert read_snapshot(spark, table).count() == 0

def test_streaming_availablenow_commits_through_manifest(spark, tmp_path):
    src = str(tmp_path / "src")
    events = spark.createDataFrame(
        [(i, f"u{i % 3}") for i in range(30)], "seq INT, user STRING"
    )
    events.repartition(3).write.parquet(src)

    table = str(tmp_path / "stream_table")
    os.makedirs(table)
    q = (
        spark.readStream.schema("seq INT, user STRING")
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(src)
        .writeStream.foreachBatch(manifest_stream_sink(table))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    m = read_manifest(table)
    assert len(m["partitions"]) >= 2  # really ran as multiple batches
    snap = read_snapshot(spark, table)
    assert snap.count() == 30
    assert snap.agg(F.sum("seq")).collect()[0][0] == sum(range(30))


def _cdf(spark, table: str, from_txn: str):
    """Change rows from snapshot ``from_txn`` to the live one: the
    multiset row diff labeled ``_change_type`` insert/delete (an update
    is a delete+insert pair)."""
    old = read_snapshot(spark, table, as_of=from_txn)
    new = read_snapshot(spark, table)
    return new.exceptAll(old).withColumn("_change_type", F.lit("insert")).unionByName(
        old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
    )


@pytest.mark.slow
def test_incremental_rollup_maintenance_from_cdf(spark, tmp_path):
    """IVM end-to-end: a snapshot-diff CDF drives maintain_rollup /
    refresh_rollup_groups, and the maintained pre-agg must equal a full
    recompute over the new snapshot — including a delete that removes a
    group's maximum (the non-subtractable min/max path) and a group that
    disappears entirely."""
    from datetime import datetime

    from learn_etl_data_warehouse_spark.operators.rollups import (
        hourly_preagg,
        maintain_rollup,
        refresh_rollup_groups,
    )

    table = str(tmp_path / "etable")
    os.makedirs(table)
    sink = manifest_stream_sink(table)

    def t(h, m):
        return datetime(2026, 1, 1, h, m)

    b0 = spark.createDataFrame(
        [
            (t(10, 0), "click", 1.0),
            (t(10, 10), "click", 99.0),   # the 10:00/click max — deleted below
            (t(10, 20), "click", 2.0),
            (t(10, 5), "view", 5.0),      # whole group deleted below
            (t(11, 0), "click", 3.0),     # untouched group
        ],
        "ts TIMESTAMP, event_type STRING, value DOUBLE",
    )
    sink(b0, 0)
    t1 = read_manifest(table)["txn"]
    rollup1 = hourly_preagg(read_snapshot(spark, table, as_of=t1))

    delete_where(spark, table, F.col("value") >= 99.0)  # kills the max
    delete_where(spark, table, F.col("event_type") == "view")
    b1 = spark.createDataFrame(
        [
            (t(10, 30), "click", 0.5),    # insert into a dirty group
            (t(12, 0), "purchase", 7.0),  # brand-new group
        ],
        "ts TIMESTAMP, event_type STRING, value DOUBLE",
    )
    sink(b1, 1)

    cdf = _cdf(spark, table, from_txn=t1)
    maintained, dirty = maintain_rollup(rollup1, cdf)
    # the delete-touched group is flagged; insert-only groups are not
    dirty_keys = {(r["hour"], r["event_type"]) for r in dirty.collect()}
    assert (t(10, 0), "click") in dirty_keys
    assert (t(12, 0), "purchase") not in dirty_keys

    refreshed = refresh_rollup_groups(
        maintained, read_snapshot(spark, table), dirty
    )
    expected = hourly_preagg(read_snapshot(spark, table))
    as_set = lambda df: {
        (r["hour"], r["event_type"], r["n"], r["sum_fp"],
         r["min_value"], r["max_value"])
        for r in df.collect()
    }
    assert as_set(refreshed) == as_set(expected)
    # the vanished (view) group must not linger
    assert not any(k[1] == "view" for k in as_set(refreshed))


class TestOptimisticConcurrency:
    """Interleaved writers must never lose an update: the second
    committer's check-and-swap detects the moved snapshot and raises,
    leaving the table on the competing writer's state and the loser's
    staging as vacuumable garbage (Delta's optimistic contract)."""

    def test_interleaved_delete_raises_and_loses_nothing(
        self, spark, vtable, monkeypatch
    ):
        import learn_etl_data_warehouse_spark.plans.manifest_warehouse as mw

        table, sink = vtable
        competing = spark.createDataFrame(
            [(777, 7.0, "z")], "id INT, v DOUBLE, cat STRING"
        )
        orig = mw._rewrite_partitions

        def race(spark_, table_, manifest, new_rows, affected, part_cols, txn_id):
            # a competing commit lands AFTER delete_where read its
            # snapshot but BEFORE it publishes
            sink(competing, 7)
            return orig(
                spark_, table_, manifest, new_rows, affected, part_cols, txn_id
            )

        monkeypatch.setattr(mw, "_rewrite_partitions", race)
        with pytest.raises(mw.ConcurrentWriteError, match="snapshot moved"):
            delete_where(spark, table, "id = 3")
        monkeypatch.setattr(mw, "_rewrite_partitions", orig)
        # the competing commit SURVIVED (no lost update)…
        snap = read_snapshot(spark, table)
        assert snap.filter(F.col("id") == 777).count() == 1
        # …and the aborted delete published nothing
        assert snap.filter(F.col("id") == 3).count() == 1
        # retry against the new snapshot succeeds and keeps both effects
        assert delete_where(spark, table, "id = 3") is not None
        snap2 = read_snapshot(spark, table)
        assert snap2.filter(F.col("id") == 3).count() == 0
        assert snap2.filter(F.col("id") == 777).count() == 1
        # the loser's orphan staging/version dirs vacuum away cleanly
        vacuum(table)
        assert read_snapshot(spark, table).count() == snap2.count()

    def test_held_lock_times_out(self, spark, vtable):
        import learn_etl_data_warehouse_spark.plans.manifest_warehouse as mw

        table, sink = vtable
        lock = os.path.join(table, "_COMMIT.lock")
        os.mkdir(lock)  # a live committer holds the lock
        b = spark.createDataFrame([(1, 1.0, "a")], "id INT, v DOUBLE, cat STRING")
        with pytest.raises(mw.ConcurrentWriteError, match="commit lock"):
            with mw._commit_lock(table, timeout=0.3):
                pass
        os.rmdir(lock)
        sink(b, 9)  # lock released → commits flow again

    def test_stale_lock_is_stolen(self, spark, vtable):
        import time

        import learn_etl_data_warehouse_spark.plans.manifest_warehouse as mw

        table, sink = vtable
        lock = os.path.join(table, "_COMMIT.lock")
        os.mkdir(lock)  # a CRASHED committer left this behind
        old = time.time() - 3600
        os.utime(lock, (old, old))
        b = spark.createDataFrame([(2222, 2.0, "a")], "id INT, v DOUBLE, cat STRING")
        sink(b, 9)  # steals the stale lock instead of deadlocking
        assert read_snapshot(spark, table).filter(F.col("id") == 2222).count() == 1


class TestVacuumRetention:
    def test_keep_last_n_preserves_time_travel_window(self, spark, vtable):
        from learn_etl_data_warehouse_spark.plans.manifest_warehouse import (
            read_snapshot,
            vacuum,
        )

        table, sink = vtable
        t1 = read_manifest(table)["txn"]  # after batches 0+1
        b2 = spark.createDataFrame(
            [(300, 3.0, "r")], "id INT, v DOUBLE, cat STRING"
        )
        sink(b2, 2)
        t2 = read_manifest(table)["txn"]
        b0r = spark.createDataFrame(
            [(301, 4.0, "r")], "id INT, v DOUBLE, cat STRING"
        )
        sink(b0r, 0)  # REWRITES batch 0 → t1/t2's batch-0 version goes old
        t3 = read_manifest(table)["txn"]

        vacuum(table, keep_last=2)  # retain t3 (live) + t2
        # t2 still time travels, including the superseded batch-0 version
        snap_t2 = read_snapshot(spark, table, as_of=t2)
        assert snap_t2.filter(F.col("id") == 0).count() == 1  # old batch 0
        assert snap_t2.count() == 22
        # t1 fell out of the window: fails loudly at open
        with pytest.raises(OSError):
            read_snapshot(spark, table, as_of=t1)
        # live snapshot intact (rewritten batch 0 + batches 1, 2)
        live = read_snapshot(spark, table)
        assert live.filter(F.col("id") == 301).count() == 1
        assert live.filter(F.col("id") == 0).count() == 0

        vacuum(table)  # default: collapse to the live snapshot only
        with pytest.raises(OSError):
            read_snapshot(spark, table, as_of=t2)
        assert read_snapshot(spark, table).count() == live.count()
        assert read_manifest(table)["txn"] == t3

    def test_commit_seq_is_monotonic(self, spark, vtable):
        table, sink = vtable
        s0 = read_manifest(table)["seq"]
        sink(
            spark.createDataFrame([(1, 1.0, "a")], "id INT, v DOUBLE, cat STRING"),
            5,
        )
        assert read_manifest(table)["seq"] == s0 + 1


@pytest.mark.slow
def test_incremental_join_view_maintenance_from_cdf(spark, tmp_path):
    """Join-view IVM end-to-end: both sides of an inner equi-join
    mutate (fact inserts + a fact delete; dim delete + re-insert = an
    update), snapshot-diff CDFs drive maintain_join_view, and the
    maintained counted view must equal a counted recompute over the
    new snapshots — including duplicate fact keys (multiplicities),
    a view tuple that disappears, and delta×delta interaction (the
    inserted fact row joining the updated dim row)."""
    from learn_etl_data_warehouse_spark.operators.rollups import (
        counted_join_view,
        maintain_join_view,
    )

    ta = str(tmp_path / "facts")
    tb = str(tmp_path / "dims")
    os.makedirs(ta)
    os.makedirs(tb)
    sink_a = manifest_stream_sink(ta)
    sink_b = manifest_stream_sink(tb)

    sink_a(
        spark.createDataFrame(
            [(1, 10.0), (1, 11.0), (2, 20.0), (2, 20.0), (3, 30.0)],
            "k INT, amt DOUBLE",
        ),
        0,
    )
    sink_b(
        spark.createDataFrame(
            [(1, "gold"), (2, "silver"), (4, "bronze")], "k INT, tier STRING"
        ),
        0,
    )
    txn_a0 = read_manifest(ta)["txn"]
    txn_b0 = read_manifest(tb)["txn"]
    # project off the sink's batch_id bookkeeping column: both sides
    # carry it and the view requires disjoint non-key columns
    facts = lambda df: df.select("k", "amt")
    dims = lambda df: df.select("k", "tier")
    view0 = counted_join_view(
        facts(read_snapshot(spark, ta, as_of=txn_a0)),
        dims(read_snapshot(spark, tb, as_of=txn_b0)),
        "k",
    )

    # fact side: delete the k=3 row (no dim match — the view must not
    # change from it), insert k=4, a second k=1 (multiplicity), and a
    # k=2 (the key whose DIM row also changes: only the −ΔA⋈ΔB
    # correction keeps that tuple from double-counting)
    delete_where(spark, ta, F.col("amt") >= 30.0)
    sink_a(
        spark.createDataFrame(
            [(4, 40.0), (1, 10.0), (2, 25.0)], "k INT, amt DOUBLE"
        ),
        1,
    )
    # dim side: update tier of k=2 (delete + insert), drop nothing else
    delete_where(spark, tb, F.col("k") == 2)
    sink_b(
        spark.createDataFrame([(2, "platinum")], "k INT, tier STRING"), 1
    )

    maintained = maintain_join_view(
        view0,
        facts(read_snapshot(spark, ta)),
        dims(read_snapshot(spark, tb)),
        _cdf(spark, ta, from_txn=txn_a0).select("k", "amt", "_change_type"),
        _cdf(spark, tb, from_txn=txn_b0).select("k", "tier", "_change_type"),
        "k",
    )
    expected = counted_join_view(
        facts(read_snapshot(spark, ta)), dims(read_snapshot(spark, tb)), "k"
    )
    as_set = lambda df: {
        (r["k"], r["amt"], r["tier"], r["cnt"]) for r in df.collect()
    }
    got = as_set(maintained)
    assert got == as_set(expected)
    # the multiplicity path really exercised: k=1 amt=10.0 now counts 2
    assert (1, 10.0, "gold", 2) in got
    # inserted fact k=4 joined the pre-existing dim row
    assert (4, 40.0, "bronze", 1) in got
    # both-sides-changed key: exactly once (the −ΔA⋈ΔB correction)
    assert (2, 25.0, "platinum", 1) in got
    assert (2, 20.0, "platinum", 2) in got
    # updated dim tuple flows through; the old tier tuple is gone
    assert not any(t[2] == "silver" for t in got)


def test_fsck_clean_corrupted_and_orphaned(spark, vtable, tmp_path):
    """r13: fsck — a healthy table audits clean; deleting a referenced
    txn dir surfaces as `missing` (per retained manifest txn); an
    unreferenced txn dir surfaces as `orphaned` and matches exactly
    what vacuum would collect; a crashed staging root is reported."""
    import shutil

    from learn_etl_data_warehouse_spark.plans.manifest_warehouse import (
        fsck_table,
        read_manifest,
        vacuum,
    )

    table, sink = vtable
    rep = fsck_table(table)
    assert rep["ok"] and rep["n_manifests"] >= 1
    assert rep["missing"] == []
    # the two superseded snapshots (batch-0-only, then batch-0+1 before
    # any later commit) leave orphaned version dirs until vacuum
    baseline_orphans = rep["orphaned"]

    # orphan check equals vacuum's collection set (audit == collector)
    clone_rep = fsck_table(table)
    assert clone_rep["orphaned"] == baseline_orphans
    removed = vacuum(table, keep_last=1)
    after = fsck_table(table)
    assert after["orphaned"] == [] and after["ok"]
    assert removed == len(baseline_orphans)

    # corrupt: remove a referenced version dir -> missing, not ok
    m = read_manifest(table)
    rel, txn = sorted(m["partitions"].items())[0]
    shutil.rmtree(os.path.join(table, rel, f"txn={txn}"))
    broken = fsck_table(table)
    assert not broken["ok"]
    assert any(r["path"].startswith(rel) for r in broken["missing"])

    # crashed staging root is reported
    os.makedirs(os.path.join(table, ".txn-staging-deadbeef"))
    assert fsck_table(table)["staging_leftovers"] == [
        ".txn-staging-deadbeef"
    ]
