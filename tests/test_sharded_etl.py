"""Per-shard parallel ojol ETL: multi-shard ingest must equal the
single-source pipeline, shard filters must prune, and a shard backfill
must only rewrite that shard's partitions.

The engine tests read the reference's SQLite export when it is present,
and otherwise a seeded ``perfbench/ojolgen.py`` export with the same
shape and faulty rows, so they run on any host."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from learn_etl_data_warehouse_spark.plans.sharded_etl import (
    SHARD_COL,
    TABLE_NAME,
    atomic_replace_warehouse,
    commit_staged,
    read_sharded_fact,
    stage_sharded_warehouse,
    write_sharded_exports,
)
from learn_etl_data_warehouse_spark.plans.warehouse import clean_fact
from learn_etl_data_warehouse_spark.sources.sqlite import read_sqlite_table

FACT_TABLE = "dummy_ojol_transactions_raw_only_query_get_transaction_list_koto"


def test_sharded_ingest_matches_single_source(spark, tmp_path, ojol_db):
    raw = read_sqlite_table(spark, ojol_db, FACT_TABLE, all_string=True)
    landing = str(tmp_path / "landing")
    write_sharded_exports(raw, landing, n_shards=8)

    sharded = read_sharded_fact(spark, landing)
    # every shard materialized and discovered via the partition layout
    assert sharded.select(SHARD_COL).distinct().count() == 8
    assert sharded.count() == raw.count()

    # cleaned multi-shard output == cleaning the same rows single-source
    # (baseline goes through the same CSV round-trip so null semantics
    # match; the invariant under test is multi-file == one pipeline)
    got = clean_fact(sharded.drop(SHARD_COL))
    want = clean_fact(
        spark.read.csv(landing, sep=";", header=True, inferSchema=False).drop(
            SHARD_COL
        )
    )
    key = [r["id"] for r in got.select("id").collect()]
    assert sorted(key) == sorted([r["id"] for r in want.select("id").collect()])
    cols = sorted(got.columns)
    assert sorted(want.columns) == cols
    g = sorted(map(tuple, got.select(*cols).collect()))
    w = sorted(map(tuple, want.select(*cols).collect()))
    assert g == w


def test_shard_filter_prunes_scan(spark, tmp_path, ojol_db):
    raw = read_sqlite_table(spark, ojol_db, FACT_TABLE, all_string=True)
    landing = str(tmp_path / "landing")
    write_sharded_exports(raw, landing, n_shards=8)

    one = read_sharded_fact(spark, landing).filter(F.col(SHARD_COL) == 3)
    plan = one._jdf.queryExecution().executedPlan().toString()
    # the shard predicate must land in PartitionFilters (file pruning),
    # not as a post-scan row filter
    assert "PartitionFilters" in plan and "_shard" in plan.split("PartitionFilters")[1].split("]")[0]
    full = read_sharded_fact(spark, landing)
    assert one.count() == full.filter(F.col(SHARD_COL) == 3).count() > 0


def test_shard_backfill_rewrites_only_that_shard(spark, tmp_path, ojol_db):
    raw = read_sqlite_table(spark, ojol_db, FACT_TABLE, all_string=True)
    landing = str(tmp_path / "landing")
    wh = str(tmp_path / "wh")
    write_sharded_exports(raw, landing, n_shards=8)

    atomic_replace_warehouse(spark, landing, wh)
    table = f"{wh}/{TABLE_NAME}"
    before = spark.read.parquet(table)
    n_before = before.count()
    others_before = sorted(
        map(tuple, before.filter(F.col(SHARD_COL) != 3).select("id").collect())
    )
    # materialize NOW — the backfill commit deletes these files
    old_shard3 = {
        r["id"]: r["distance"]
        for r in before.filter(F.col(SHARD_COL) == 3)
        .select("id", "distance")
        .collect()
    }

    # backfill: shard 3 re-exports with distance doubled
    sharded = read_sharded_fact(spark, landing)
    redo = (
        sharded.filter(F.col(SHARD_COL) == 3)
        .withColumn(
            "distance",
            (F.col("distance").cast("double") * 2).cast("string"),
        )
        .drop(SHARD_COL)
    )
    landing2 = str(tmp_path / "landing2")
    write_sharded_exports(redo, landing2, n_shards=8)  # same hash -> shard 3
    atomic_replace_warehouse(spark, landing2, wh, shards=[3])

    after = spark.read.parquet(table)
    # untouched shards byte-identical, same total rows
    assert after.count() == n_before
    others_after = sorted(
        map(tuple, after.filter(F.col(SHARD_COL) != 3).select("id").collect())
    )
    assert others_after == others_before
    # shard 3 carries the backfilled values
    new_shard3 = {
        r["id"]: r["distance"]
        for r in after.filter(F.col(SHARD_COL) == 3)
        .select("id", "distance")
        .collect()
    }
    assert set(new_shard3) == set(old_shard3) and old_shard3
    for rid, d_old in old_shard3.items():
        if d_old and d_old > 0:
            assert new_shard3[rid] == pytest.approx(2 * d_old)


def _doubled_shard3_landing(spark, tmp_path, ojol_db):
    """Landing zones for the atomic-replace tests: the full export plus a
    shard-3 re-export with distance doubled (same fixture as the backfill
    test above)."""
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


def test_atomic_replace_precommit_crash_leaves_old_table_intact(
    spark, tmp_path, ojol_db
):
    """Kill the job between staging write and commit: the live table must
    be byte-identical to before — a reader never sees the torn write."""
    landing, landing2 = _doubled_shard3_landing(spark, tmp_path, ojol_db)
    wh = str(tmp_path / "wh")
    atomic_replace_warehouse(spark, landing, wh)
    table = f"{wh}/{TABLE_NAME}"
    before = sorted(
        map(tuple, spark.read.parquet(table).select("id", "distance").collect())
    )

    # CRASH INJECTION: stage the shard-3 backfill, then "die" (no commit)
    _, staging = stage_sharded_warehouse(spark, landing2, wh, shards=[3])
    assert os.path.isdir(staging)  # the staged bytes exist...
    after_crash = sorted(
        map(tuple, spark.read.parquet(table).select("id", "distance").collect())
    )
    assert after_crash == before  # ...but the live table is untouched

    # recovery: re-running the commit completes the transaction
    commit_staged(wh, staging)
    assert not os.path.exists(staging)
    after = spark.read.parquet(table)
    doubled = {
        r["id"]: r["distance"]
        for r in after.filter(F.col(SHARD_COL) == 3)
        .select("id", "distance")
        .collect()
    }
    old = dict(
        (rid, d) for rid, d in before
        if rid in doubled
    )
    assert doubled and all(
        doubled[rid] == pytest.approx(2 * d) for rid, d in old.items() if d and d > 0
    )
    # untouched shards identical
    after_others = sorted(
        map(
            tuple,
            after.filter(F.col(SHARD_COL) != 3).select("id", "distance").collect(),
        )
    )
    before_others = [t for t in before if t[0] not in doubled]
    assert after_others == sorted(before_others)


@pytest.mark.parametrize("with_exchange", [True, False])
def test_atomic_replace_midcommit_crash_is_recoverable(
    spark, tmp_path, monkeypatch, with_exchange, ojol_db
):
    """Kill the commit halfway through its swaps: every partition a
    reader sees is internally consistent (old or new, never torn — and
    with RENAME_EXCHANGE, never even absent), and re-running
    commit_staged finishes the transaction. The with_exchange=False leg
    pins the portable two-rename fallback's recovery."""
    import learn_etl_data_warehouse_spark.plans.sharded_etl as mod

    landing, landing2 = _doubled_shard3_landing(spark, tmp_path, ojol_db)
    wh = str(tmp_path / "wh")
    atomic_replace_warehouse(spark, landing, wh)
    table = f"{wh}/{TABLE_NAME}"
    n_before = spark.read.parquet(table).count()

    _, staging = stage_sharded_warehouse(spark, landing2, wh, shards=[3])
    n_parts = len(list(mod._staged_partitions(staging)))
    assert n_parts > 1

    if not with_exchange:
        monkeypatch.setattr(mod, "_exchange_dirs", lambda a, b: False)

    real_rename = os.rename
    calls = {"n": 0}

    def flaky_rename(src, dst):
        calls["n"] += 1
        if calls["n"] > 1:  # die partway through the partition swaps
            raise OSError("injected crash: power loss mid-commit")
        real_rename(src, dst)

    monkeypatch.setattr(mod.os, "rename", flaky_rename)
    with pytest.raises(OSError, match="injected crash"):
        commit_staged(wh, staging)
    monkeypatch.setattr(mod.os, "rename", real_rename)

    if with_exchange:
        # exchange path: the table is complete at EVERY point mid-commit
        # (swap is one syscall; only trash moves were interrupted)
        mid = spark.read.parquet(table)
        assert mid.count() == n_before

    # recovery: idempotent re-commit completes the remaining swaps and
    # must NOT re-exchange already-swapped partitions (txn markers)
    commit_staged(wh, staging)
    assert not os.path.exists(staging)
    after = spark.read.parquet(table)
    assert after.count() == n_before
    doubled = {
        r["id"]: r["distance"]
        for r in after.filter(F.col(SHARD_COL) == 3)
        .select("id", "distance")
        .collect()
    }
    assert doubled


def _landing(tmp_path, headers_and_rows) -> str:
    """A tiny ``;``-CSV landing zone, one ``_shard=k/part-00000.csv`` per
    (header, row) pair, plus an empty file and a ``_SUCCESS`` marker that
    the header probe must skip."""
    landing = tmp_path / "landing"
    for k, (header, row) in enumerate(headers_and_rows):
        d = landing / f"{SHARD_COL}={k}"
        d.mkdir(parents=True)
        (d / "part-00000.csv").write_text(f"{header}\n{row}\n")
    (landing / f"{SHARD_COL}=0" / "part-00001.csv").write_text("")
    (landing / "_SUCCESS").write_text("")
    return str(landing)


def test_read_sharded_fact_plans_without_a_job(spark, job_count, tmp_path):
    landing = _landing(tmp_path, [("a;b", "1;2"), ("a;b", "3;4")])
    before = job_count()
    df = read_sharded_fact(spark, landing)
    assert job_count() == before
    assert df.dtypes == [("a", "string"), ("b", "string"), (SHARD_COL, "int")]
    assert sorted(map(tuple, df.collect())) == [("1", "2", 0), ("3", "4", 1)]


def test_reordered_shard_header_fails_the_read(spark, tmp_path):
    """A shard whose header lists the columns in another order must not
    load its values under the first file's column names."""
    landing = _landing(tmp_path, [("a;b", "1;2"), ("b;a", "4;3")])
    with pytest.raises(Exception, match="CSV header does not conform to the schema"):
        read_sharded_fact(spark, landing).collect()


def test_bench_etl01_runs_without_the_reference(spark):
    """bench.py's etl01 stage times a load on any host: without the
    reference assets it loads a seeded ``ojolgen`` SQLite instead."""
    import bench

    assert bench._run_sharded_etl(spark) > 0
