"""Manifest-versioned warehouse — cross-partition SNAPSHOT ISOLATION
without Delta/Iceberg jars (they're absent in this image; this is the
same core idea at directory grain).

``atomic_replace_warehouse`` (sharded_etl.py) swaps partition dirs in
place: each partition is atomic, but a reader racing a multi-partition
commit can see shard 3 new while shard 5 is still old. This module adds
the missing property — a reader always sees ONE complete transaction's
view of the whole table:

- partition data is written ADDITIVELY under versioned subdirectories
  ``<table>/_shard=k/quarter=q/txn=<id>/part*.parquet`` (never mutated,
  so in-flight writes are invisible garbage until committed);
- ``_MANIFEST.json`` at the table root maps each partition to the txn
  that owns its current data. Commit = write the new manifest to a temp
  file and ``os.replace`` it — ONE atomic file swap flips every
  partition simultaneously;
- readers resolve the manifest to explicit file paths (one listing of a
  small JSON file — no directory scans of uncommitted data) and load
  them with ``basePath`` so the Hive partition columns still derive;
- ``vacuum`` deletes txn directories no manifest references — the
  Delta VACUUM analog, safe because the manifest swap is the only
  publication point.

Crash story: die during data write → manifest untouched, readers see the
old snapshot, orphan txn dirs are vacuumable garbage. Die during commit
→ ``os.replace`` is atomic, so the manifest is entirely old or entirely
new; there is no torn state to recover.

At 100 TB the manifest is O(#partitions) JSON — the same scale Delta's
checkpoint files carry — and data writes stay fully parallel; only the
driver touches the manifest.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sharded_etl import SHARD_COL, read_sharded_fact
from .warehouse import clean_fact

MANIFEST = "_MANIFEST.json"
TXN_COL_PREFIX = "txn="


def _version_stats(version_dir: str) -> dict:
    """Per-column [min, max] over one partition version's parquet files,
    read from the footers (no data scan). This is the Delta/Iceberg
    file-statistics analog at partition-version grain: the manifest
    carries the stats, so a reader prunes partitions at PLANNING time
    from one small JSON — no footer opens, no directory listing of data
    it will skip. Here the footers are read driver-side at commit (the
    commit just wrote these files, so they're hot); at 100 TB you'd have
    the write job's tasks report min/max through an accumulator or a
    follow-up distributed footer scan — the manifest shape is the same.

    Only JSON-comparable scalar types (int/float/str) are kept; columns
    with binary/NaN-poisoned or absent statistics are simply omitted,
    which readers treat as "can't prune" — always safe."""
    import pyarrow.parquet as pq

    mins: dict = {}
    maxs: dict = {}
    for fname in os.listdir(version_dir):
        if not fname.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(version_dir, fname)).metadata
        for rg in range(md.num_row_groups):
            group = md.row_group(rg)
            for ci in range(group.num_columns):
                col = group.column(ci)
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode(), mx.decode()
                    except UnicodeDecodeError:
                        continue
                if not isinstance(mn, (int, float, str)) or isinstance(
                    mn, bool
                ):
                    continue
                name = col.path_in_schema
                mins[name] = mn if name not in mins else min(mins[name], mn)
                maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    return {name: [mins[name], maxs[name]] for name in mins}


def _invalidate_bloom(manifest: dict, rel: str) -> None:
    """A partition's bloom describes ONE data version — drop it whenever
    the partition's version changes (absent bloom = 'can't prune',
    always safe). Every site that assigns ``manifest['partitions'][rel]``
    must call this; ``add_bloom_index`` refreshes."""
    manifest.get("bloom", {}).pop(rel, None)


def _manifest_path(table: str) -> str:
    return os.path.join(table, MANIFEST)


def read_manifest(table: str) -> dict:
    try:
        with open(_manifest_path(table)) as fh:
            return json.load(fh)
    except OSError:
        return {"txn": None, "partitions": {}}


def _written_partitions(staging: str):
    """Relative ``_shard=k/quarter=q`` dirs present under a staging root."""
    for shard_dir in sorted(os.listdir(staging)):
        if not shard_dir.startswith(f"{SHARD_COL}="):
            continue
        for q_dir in sorted(os.listdir(os.path.join(staging, shard_dir))):
            if q_dir.startswith("quarter="):
                yield os.path.join(shard_dir, q_dir)


def commit_versioned(
    spark: SparkSession,
    landing_dir: str,
    table: str,
    shards: list[int] | None = None,
    txn_id: str | None = None,
) -> str:
    """Write one transaction: extract+clean the (selected) shards, land
    the output under per-partition ``txn=<id>`` subdirs, then publish by
    atomically swapping the manifest. Returns the txn id."""
    txn_id = txn_id or uuid.uuid4().hex[:12]
    raw = read_sharded_fact(spark, landing_dir)
    if shards is not None:
        raw = raw.filter(F.col(SHARD_COL).isin(shards))
    cleaned = clean_fact(raw)
    manifest = read_manifest(table)
    # fail-fast BEFORE staging: the check must not read the staged dir —
    # `.txn-staging-*` is dot-prefixed precisely so Spark readers ignore
    # it, which would make a staged-read validation silently vacuous
    _enforce_constraints(cleaned, manifest, f"commit_versioned({txn_id})")
    # stage in a txn-private root, then MOVE each partition's files under
    # the table's versioned layout (rename within one fs; data files are
    # never rewritten)
    staging = os.path.join(table, f".txn-staging-{txn_id}")
    cleaned.write.partitionBy(SHARD_COL, "quarter").mode("overwrite").parquet(
        staging
    )
    for rel in _written_partitions(staging):
        src = os.path.join(staging, rel)
        dst = os.path.join(table, rel, f"{TXN_COL_PREFIX}{txn_id}")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
        manifest["partitions"][rel] = txn_id
        _invalidate_bloom(manifest, rel)
        manifest.setdefault("stats", {})[rel] = _version_stats(dst)
    shutil.rmtree(staging, ignore_errors=True)
    _publish(table, manifest, txn_id)
    return txn_id


class ConcurrentWriteError(RuntimeError):
    """Another transaction published between this writer's snapshot read
    and its commit. Nothing was published; the caller's staged version
    dirs are vacuumable garbage. Retry the operation against the new
    snapshot (Delta's optimistic-concurrency contract)."""


from contextlib import contextmanager  # noqa: E402 — module layout


@contextmanager
def _commit_lock(table: str, timeout: float = 10.0, stale: float = 120.0):
    """Filesystem mutex around the check-and-swap: ``os.mkdir`` is atomic
    on one filesystem, which is the deployment this layer targets (like
    Delta, which needs an external lock service — DynamoDB — on S3; the
    same slot-in applies here). A crashed committer's lock goes stale
    and is stolen after ``stale`` seconds of inactivity."""
    import time

    lock = os.path.join(table, "_COMMIT.lock")
    t0 = time.monotonic()
    while True:
        try:
            os.mkdir(lock)
            break
        except FileExistsError:
            try:
                age = time.time() - os.stat(lock).st_mtime
            except OSError:
                continue  # holder just released; retry immediately
            if age > stale:
                try:
                    os.rmdir(lock)  # steal a dead committer's lock
                except OSError:
                    pass
                continue
            if time.monotonic() - t0 > timeout:
                raise ConcurrentWriteError(
                    f"commit lock on {table} held for {timeout}s — "
                    "another committer is live (or raise the timeout)"
                )
            time.sleep(0.05)
    try:
        yield
    finally:
        try:
            os.rmdir(lock)
        except OSError:
            pass


def _publish(table: str, manifest: dict, txn_id: str) -> None:
    """PUBLICATION POINT: one atomic file swap flips the whole snapshot.
    The per-txn manifest copy is retained first (time-travel log — the
    Delta transaction-log analog; vacuum prunes copies whose data is
    gone).

    OPTIMISTIC CONCURRENCY: ``manifest`` still carries the txn id the
    writer's read-modify-write started from; if the live manifest moved
    past it while the writer was staging, committing would silently
    discard the interleaved transaction (lost update) — instead the
    check-and-swap runs under the commit lock and raises
    :class:`ConcurrentWriteError`, leaving the table on the competing
    writer's snapshot and this writer's staging as vacuumable garbage."""
    base_txn = manifest.get("txn")
    with _commit_lock(table):
        current = read_manifest(table)["txn"]
        if current != base_txn:
            raise ConcurrentWriteError(
                f"snapshot moved {base_txn!r} → {current!r} during commit "
                f"of {txn_id!r}; retry against the new snapshot"
            )
        manifest["txn"] = txn_id
        # monotonic commit sequence — orders the retained-manifest history
        # so vacuum retention can keep "the last N snapshots"
        manifest["seq"] = int(manifest.get("seq", 0)) + 1
        # wall-clock commit stamp (µs) — resolves AS OF <timestamp>
        # time travel; seq stays the authoritative ORDER (clock skew
        # can't reorder history, it only moves the as-of cutover point)
        manifest["committed_at_us"] = time.time_ns() // 1000
        with open(os.path.join(table, f"_MANIFEST-{txn_id}.json"), "w") as fh:
            json.dump(manifest, fh)
        tmp = _manifest_path(table) + f".tmp-{txn_id}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, _manifest_path(table))


def _stats_may_match(stats: dict, prune: dict) -> bool:
    """True unless the stats PROVE the partition holds no row satisfying
    ``prune`` ({col: (lo, hi)} conjunctive ranges; ``None`` bound =
    unbounded). Missing stats for a column → can't prove → keep."""
    for col, (lo, hi) in prune.items():
        if col not in stats:
            continue
        mn, mx = stats[col]
        if (hi is not None and mn > hi) or (lo is not None and mx < lo):
            return False
    return True


def _delete_entries(manifest: dict) -> list[dict]:
    return manifest.get("deletes") or []


def _delete_key_groups(spark: SparkSession, table: str, entries: list[dict]):
    """Yield ``(key_cols, keys_frame)`` per distinct key-column tuple,
    unioning the delete files that share it (anti-joins against a union
    of key sets ≡ chained anti-joins, so one join per column tuple, not
    per delete commit)."""
    groups: dict[tuple, list[str]] = {}
    for e in entries:
        groups.setdefault(tuple(e["cols"]), []).append(e["txn"])
    for cols, txns in sorted(groups.items()):
        paths = [
            os.path.join(table, "_deletes", f"{TXN_COL_PREFIX}{t}")
            for t in txns
        ]
        yield list(cols), spark.read.parquet(*paths).select(*cols).distinct()


def _apply_deletes(
    spark: SparkSession, table: str, manifest: dict, df: DataFrame
) -> DataFrame:
    """Merge-on-read: subtract every pending equality-delete key set.
    Delete key sets are tiny next to the data (that's why they were
    taken as MOR deletes), so AQE turns each anti-join into a broadcast
    — the scan stays one pass over the data files."""
    for cols, keys in _delete_key_groups(spark, table, _delete_entries(manifest)):
        df = df.join(keys, cols, "left_anti")
    return df


def _schema_ops(manifest: dict) -> list[dict]:
    """The ordered metadata schema-evolution log: rename / add / drop
    entries, applied to every read in commit order (``column_renames``
    is the pre-r10 key for rename-only logs, folded in first for
    manifests written before add/drop existed)."""
    legacy = [
        {"op": "rename", "from": r["from"], "to": r["to"]}
        for r in manifest.get("column_renames") or []
    ]
    return legacy + (manifest.get("schema_ops") or [])


def _apply_renames(df: DataFrame, manifest: dict) -> DataFrame:
    """Normalize per-era physical columns to the current LOGICAL
    schema by replaying the metadata schema-op log in commit order:

    - rename: coalesce the two era columns (a mergeSchema read of
      mixed pre/post-rename files carries both, exactly one non-absent
      per file) or rename the single present one;
    - add-with-default: absent column materializes as the default;
      present column coalesces era-NULLs to the default (Delta's
      existing-rows-get-the-default semantics — an explicit NULL
      written post-add is indistinguishable from absent, documented);
    - drop: projected away wherever an era still carries it.

    A historical manifest (time travel) simply carries a shorter log,
    so AS-OF reads see that era's schema — no special casing."""
    for r in _schema_ops(manifest):
        if r["op"] == "rename":
            old, new = r["from"], r["to"]
            if old in df.columns and new in df.columns:
                df = df.withColumn(
                    new, F.coalesce(F.col(new), F.col(old))
                ).drop(old)
            elif old in df.columns:
                df = df.withColumnRenamed(old, new)
        elif r["op"] == "add":
            default = F.lit(r.get("default")).cast(r["type"])
            if r["name"] in df.columns:
                df = df.withColumn(
                    r["name"],
                    F.coalesce(F.col(r["name"]).cast(r["type"]), default),
                )
            else:
                df = df.withColumn(r["name"], default)
        elif r["op"] == "drop":
            if r["name"] in df.columns:
                df = df.drop(r["name"])
    return df


def rename_column(spark: SparkSession, table: str, old: str, new: str) -> str:
    """RENAME COLUMN WITHOUT REWRITE — the Delta/Iceberg column-mapping
    analog: a metadata-only transaction records the logical rename; no
    data file moves. Readers normalize per-era physical names at scan
    time (:func:`_apply_renames` — mergeSchema + coalesce over the
    era-split pair), writers write the CURRENT logical schema from the
    rename txn on, and time travel to a pre-rename txn still sees the
    old name because the historical manifest predates the rename entry.

    Refused when: ``old`` is a partition column (the name is baked into
    Hive directory paths), pending merge-on-read deletes exist (their
    key columns were recorded under the old name — ``materialize_
    deletes`` first), a CHECK constraint expression mentions ``old``
    (it would silently stop binding), or ``new`` already exists in the
    logical schema. Manifest stats and bloom keys for ``old`` remap to
    ``new`` in the same txn, so data skipping and point-lookup pruning
    keep working across the rename."""
    import re

    manifest = read_manifest(table)
    if not manifest["partitions"]:
        raise FileNotFoundError(f"no committed snapshot at {table}")
    if old in _partition_cols(manifest):
        raise ValueError(
            f"cannot rename partition column {old!r}: the name is part"
            " of the Hive directory layout"
        )
    if _delete_entries(manifest):
        raise ValueError(
            "pending merge-on-read deletes reference physical column"
            " names: run materialize_deletes() before renaming"
        )
    for cname, expr in (manifest.get("constraints") or {}).items():
        if re.search(rf"\b{re.escape(old)}\b", expr):
            raise ValueError(
                f"constraint {cname!r} references {old!r}: drop or"
                " rewrite it before renaming"
            )
    cols = read_snapshot(spark, table).columns
    if old not in cols:
        raise KeyError(f"no column {old!r} in the logical schema {cols}")
    if new in cols:
        raise ValueError(f"column {new!r} already exists")
    manifest.setdefault("schema_ops", []).append(
        {"op": "rename", "from": old, "to": new}
    )
    for rel_stats in (manifest.get("stats") or {}).values():
        if old in rel_stats:
            rel_stats[new] = rel_stats.pop(old)
    for entry in (manifest.get("bloom") or {}).values():
        if old in entry.get("cols", {}):
            entry["cols"][new] = entry["cols"].pop(old)
    txn_id = uuid.uuid4().hex[:12]
    _publish(table, manifest, txn_id)
    return txn_id


def add_column(
    spark: SparkSession,
    table: str,
    name: str,
    dtype: str,
    default=None,
) -> str:
    """ADD COLUMN WITHOUT REWRITE (metadata-only): the column appears
    on every read with ``default`` for all existing rows; writers
    include it from this txn on. Delta's existing-rows-get-the-default
    semantics, with the same documented boundary: the read-side
    normalization is coalesce, so an explicit NULL written post-add
    reads as the default — a writer that needs distinguishable NULLs
    should add the column with ``default=None`` (plain NULL fill).
    Refused when the name is already a logical or partition column."""
    manifest = read_manifest(table)
    if not manifest["partitions"]:
        raise FileNotFoundError(f"no committed snapshot at {table}")
    if name in _partition_cols(manifest):
        raise ValueError(f"{name!r} is a partition column")
    if name in read_snapshot(spark, table).columns:
        raise ValueError(f"column {name!r} already exists")
    manifest.setdefault("schema_ops", []).append(
        {"op": "add", "name": name, "type": dtype, "default": default}
    )
    txn_id = uuid.uuid4().hex[:12]
    _publish(table, manifest, txn_id)
    return txn_id


def drop_column(spark: SparkSession, table: str, name: str) -> str:
    """DROP COLUMN WITHOUT REWRITE (metadata-only): every read projects
    the column away; the bytes stay in old files until their partitions
    are next rewritten (compaction / CoW delete), exactly Delta column
    mapping's drop. Same refusals as rename: partition columns, pending
    MoR deletes (physical key names), CHECK constraints referencing the
    column. Stats and bloom entries for the column are removed in the
    same txn."""
    import re

    manifest = read_manifest(table)
    if not manifest["partitions"]:
        raise FileNotFoundError(f"no committed snapshot at {table}")
    if name in _partition_cols(manifest):
        raise ValueError(f"cannot drop partition column {name!r}")
    if _delete_entries(manifest):
        raise ValueError(
            "pending merge-on-read deletes reference physical column"
            " names: run materialize_deletes() before dropping"
        )
    for cname, expr in (manifest.get("constraints") or {}).items():
        if re.search(rf"\b{re.escape(name)}\b", expr):
            raise ValueError(
                f"constraint {cname!r} references {name!r}: drop or"
                " rewrite it before dropping the column"
            )
    cols = read_snapshot(spark, table).columns
    if name not in cols:
        raise KeyError(f"no column {name!r} in the logical schema {cols}")
    manifest.setdefault("schema_ops", []).append(
        {"op": "drop", "name": name}
    )
    for rel_stats in (manifest.get("stats") or {}).values():
        rel_stats.pop(name, None)
    for entry in (manifest.get("bloom") or {}).values():
        entry.get("cols", {}).pop(name, None)
    txn_id = uuid.uuid4().hex[:12]
    _publish(table, manifest, txn_id)
    return txn_id


def read_snapshot(
    spark: SparkSession,
    table: str,
    as_of: str | None = None,
    prune: dict | None = None,
    merge_schema: bool = False,
    as_of_ts_us: int | None = None,
    apply_deletes: bool = True,
) -> DataFrame:
    """Load the table AS OF the current manifest — or a historical one
    (``as_of=<txn id>``, time travel: any retained txn manifest whose
    data hasn't been vacuumed). Explicit versioned paths (so uncommitted
    txn dirs are invisible), ``basePath`` derives the Hive partition
    columns, and the snapshot stays stable even if a writer commits
    mid-query — the resolved paths don't change.

    ``prune={col: (lo, hi)}`` applies manifest-level DATA SKIPPING: a
    partition version whose committed [min, max] stats prove it can't
    satisfy the conjunctive ranges is dropped from the path list before
    Spark ever sees it — the caller still applies the real filter, this
    only shrinks the scan. That's the Delta/Iceberg planning story: at
    100 TB the win isn't row-group skipping (parquet already does that,
    per file, after opening footers) but never listing or opening the
    99% of files the manifest already proves irrelevant.

    ``merge_schema=True`` is the schema-evolution read: partition
    versions committed with extra columns union into one schema (absent
    columns read NULL) — pay the footer-merge cost only when evolution
    actually happened.

    ``apply_deletes=False`` skips the merge-on-read equality-delete
    subtraction (:func:`delete_where_mor`) and reads the RAW data files
    — internal use (materialization/CDF) only; user reads should keep
    the default or logically-deleted rows resurface."""
    if as_of is None and as_of_ts_us is not None:
        as_of = txn_as_of_timestamp(table, as_of_ts_us)
    if as_of is not None:
        with open(os.path.join(table, f"_MANIFEST-{as_of}.json")) as fh:
            manifest = json.load(fh)
    else:
        manifest = read_manifest(table)
    if _schema_ops(manifest):
        # mixed-era physical names need the schema union to coalesce
        merge_schema = True
    parts = sorted(manifest["partitions"].items())
    if prune:
        stats = manifest.get("stats", {})
        parts = [
            (rel, txn)
            for rel, txn in parts
            if _stats_may_match(stats.get(rel, {}), prune)
        ]
    paths = [
        os.path.join(table, rel, f"{TXN_COL_PREFIX}{txn}")
        for rel, txn in parts
    ]
    if not paths:
        if prune and manifest["partitions"]:
            # everything pruned: correct answer is an empty frame with
            # the table schema (one footer read; folds to LocalRelation)
            any_rel, any_txn = next(iter(sorted(manifest["partitions"].items())))
            return _apply_renames(
                spark.read.option("basePath", table)
                .parquet(
                    os.path.join(table, any_rel, f"{TXN_COL_PREFIX}{any_txn}")
                )
                .drop("txn")
                .filter(F.lit(False)),
                manifest,
            )
        raise FileNotFoundError(f"no committed snapshot at {table}")
    by_scheme: dict[tuple, list[str]] = {}
    for rel, txn in parts:
        by_scheme.setdefault(_scheme_of(rel), []).append(
            os.path.join(table, rel, f"{TXN_COL_PREFIX}{txn}")
        )
    if len(by_scheme) == 1:
        df = (
            spark.read.option("basePath", table)
            .option("mergeSchema", str(merge_schema).lower())
            .parquet(*paths)
            .drop("txn")
        )
    else:
        # PARTITION EVOLUTION in flight: one basePath can't span two
        # Hive layouts (Spark refuses conflicting partition columns),
        # so each scheme era reads separately and the eras union by
        # name — a row's other-era partition columns read NULL, which
        # is exact for Hive-style tables (the value lives only in the
        # path). migrate_partitioning() converges the table.
        from functools import reduce as _reduce

        eras = [
            spark.read.option("basePath", table)
            .option("mergeSchema", str(merge_schema).lower())
            .parquet(*ps)
            .drop("txn")
            for _, ps in sorted(by_scheme.items())
        ]
        df = _reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), eras
        )
    df = _apply_renames(df, manifest)
    if apply_deletes:
        df = _apply_deletes(spark, table, manifest, df)
    return df


def compact_partition(
    spark: SparkSession,
    table: str,
    rel: str,
    target_files: int = 1,
    cluster_by: list[str] | None = None,
    zorder: bool = False,
) -> str:
    """OPTIMIZE analog: rewrite one partition's current version into
    ``target_files`` files as a NEW txn, then republish. Data is
    value-identical; readers holding the old snapshot are unaffected
    until vacuum. This is the small-file compaction a streaming/
    backfill-heavy table needs at 100 TB — run it per hot partition, not
    table-wide.

    ``cluster_by`` is the clustering option: lexicographic by default —
    range-partition the rewrite across ``target_files`` files and sort
    within each, so each file (and each parquet row group inside it)
    covers a narrow range of the FIRST clustering column (later columns
    only sub-sort within ties, the classic lexicographic blind spot).
    ``zorder=True`` switches to the bit-interleaved Morton key
    (``plans/layout.py``): every clustered column gets partial locality,
    so min/max skipping prunes on ANY predicated subset of them — the
    Delta/Iceberg ``OPTIMIZE ZORDER BY``. Plain ``coalesce`` (no
    shuffle) when no clustering is requested."""
    manifest = read_manifest(table)
    if rel not in manifest["partitions"]:
        raise KeyError(f"unknown partition {rel}")
    txn_id = uuid.uuid4().hex[:12]
    cur = os.path.join(table, rel, f"{TXN_COL_PREFIX}{manifest['partitions'][rel]}")
    dst = os.path.join(table, rel, f"{TXN_COL_PREFIX}{txn_id}")
    df = spark.read.parquet(cur)
    if cluster_by and zorder:
        from .layout import zorder_key

        zdf, zc = zorder_key(df, cluster_by)
        df = (
            zdf.repartitionByRange(target_files, F.col(zc))
            .sortWithinPartitions(zc)
            .drop(zc)
        )
    elif cluster_by:
        cols = [F.col(c) for c in cluster_by]
        df = df.repartitionByRange(target_files, *cols).sortWithinPartitions(
            *cols
        )
    else:
        df = df.coalesce(target_files)
    df.write.mode("overwrite").parquet(dst)
    manifest["partitions"][rel] = txn_id
    _invalidate_bloom(manifest, rel)
    manifest.setdefault("stats", {})[rel] = _version_stats(dst)
    _publish(table, manifest, txn_id)
    return txn_id


def _leaf_partitions(root: str):
    """Relative ``key=value[/key=value...]`` dirs under ``root`` that
    directly hold parquet files — the generic-depth analog of
    ``_written_partitions`` for arbitrary ``partitionBy`` layouts."""
    for dirpath, dirnames, filenames in os.walk(root):
        if any(f.endswith(".parquet") for f in filenames):
            rel = os.path.relpath(dirpath, root)
            if rel != "." and all(
                "=" in seg for seg in rel.split(os.sep)
            ):
                yield rel


def _scheme_of(rel: str) -> tuple[str, ...]:
    """The partition scheme (ordered column names) a rel path encodes."""
    return tuple(seg.split("=", 1)[0] for seg in rel.split(os.sep))


def _schemes(manifest: dict) -> dict[tuple[str, ...], list[tuple[str, str]]]:
    """Committed (rel, txn) pairs grouped by partition scheme — more
    than one group means the table is mid-partition-evolution (old-spec
    data not yet migrated)."""
    groups: dict[tuple[str, ...], list[tuple[str, str]]] = {}
    for rel, txn in sorted(manifest["partitions"].items()):
        groups.setdefault(_scheme_of(rel), []).append((rel, txn))
    return groups


def _require_single_scheme(manifest: dict, op: str) -> None:
    schemes = _schemes(manifest)
    if len(schemes) > 1:
        raise ValueError(
            f"{op}: table has {len(schemes)} partition schemes"
            f" ({sorted('/'.join(s) for s in schemes)}) — run"
            " migrate_partitioning() to converge before keyed mutations"
        )


def _partition_cols(manifest: dict) -> list[str]:
    """Partition column names, parsed from any manifest rel path."""
    rel = next(iter(manifest["partitions"]))
    return [seg.split("=", 1)[0] for seg in rel.split(os.sep)]


def _rel_for_row(row, part_cols: list[str]) -> str:
    return os.sep.join(f"{c}={row[c]}" for c in part_cols)


def _rewrite_partitions(
    spark: SparkSession,
    table: str,
    manifest: dict,
    new_rows: DataFrame,
    affected: set[str],
    part_cols: list[str],
    txn_id: str,
) -> None:
    """Shared tail of DELETE/MERGE: land ``new_rows`` (the affected
    partitions' complete replacement content) under ``txn=<id>`` version
    dirs, drop affected partitions that came back empty, refresh stats.
    ONE Spark write job regardless of partition count; the caller
    publishes. Untouched partitions keep their current version — at
    100 TB a keyed merge rewrites only the partitions the keys route to,
    never the table."""
    staging = os.path.join(table, f".txn-staging-{txn_id}")
    new_rows.write.partitionBy(*part_cols).mode("overwrite").parquet(staging)
    written = set(_leaf_partitions(staging))
    for rel in sorted(written):
        src = os.path.join(staging, rel)
        dst = os.path.join(table, rel, f"{TXN_COL_PREFIX}{txn_id}")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
        manifest["partitions"][rel] = txn_id
        _invalidate_bloom(manifest, rel)
        manifest.setdefault("stats", {})[rel] = _version_stats(dst)
    for rel in affected - written:  # every row deleted / moved away
        manifest["partitions"].pop(rel, None)
        _invalidate_bloom(manifest, rel)
        manifest.setdefault("stats", {}).pop(rel, None)
    shutil.rmtree(staging, ignore_errors=True)


def delete_where(
    spark: SparkSession, table: str, condition
) -> str | None:
    """Transactional DELETE: remove rows where ``condition`` is TRUE
    (SQL semantics — NULL keeps the row), rewriting ONLY the partitions
    that contain matches, and publish all of them in one atomic manifest
    swap — a reader never sees a half-deleted table. Returns the txn id,
    or None if nothing matched.

    Two jobs total: (1) an aggregation finding the affected partitions,
    (2) one write of those partitions' kept rows. Partition count
    doesn't add jobs, and untouched partitions aren't read or written —
    the Delta DELETE shape."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    manifest = read_manifest(table)
    if not manifest["partitions"]:
        raise FileNotFoundError(f"no committed snapshot at {table}")
    manifest = _settle_pending_deletes(spark, table, manifest)
    _require_single_scheme(manifest, "delete_where")
    part_cols = _partition_cols(manifest)
    snap = read_snapshot(spark, table)
    affected = {
        _rel_for_row(r, part_cols)
        for r in snap.filter(cond).select(*part_cols).distinct().collect()
    }
    if not affected:
        return None
    txn_id = uuid.uuid4().hex[:12]
    in_affected = F.concat_ws(
        os.sep,
        *[
            F.concat(F.lit(f"{c}="), F.col(c).cast("string"))
            for c in part_cols
        ],
    ).isin(sorted(affected))
    kept = snap.filter(in_affected).filter(
        ~F.coalesce(cond, F.lit(False))
    )
    _rewrite_partitions(
        spark, table, manifest, kept, affected, part_cols, txn_id
    )
    _publish(table, manifest, txn_id)
    return txn_id


def delete_where_mor(
    spark: SparkSession,
    table: str,
    condition,
    key_cols: list[str],
) -> str | None:
    """MERGE-ON-READ DELETE (Iceberg equality-delete-file analog): rows
    where ``condition`` is TRUE are logically deleted by writing their
    ``key_cols`` values as a delete file under ``_deletes/txn=<id>`` and
    appending a ``deletes`` entry to the manifest — NO data partition is
    rewritten. Every read path (:func:`read_snapshot`,
    :func:`read_snapshot_point`, CDF) subtracts the keys with an
    anti-join; :func:`materialize_deletes` is the copy-on-write
    compaction that folds them back into the data files.

    This is the fast-delete story :func:`delete_where` (copy-on-write)
    can't give at 100 TB: CoW rewrites every affected partition at data
    volume — a GDPR erasure touching 10k partitions rewrites terabytes
    to remove kilobytes. MOR writes O(matched keys) bytes and publishes
    in one manifest swap; the read-side cost is one broadcast anti-join
    per key-column tuple until materialization. ``key_cols`` must
    uniquely identify the target rows to delete exactly the matched
    rows (equality-delete semantics: EVERY row matching a written key
    is deleted — same as Iceberg).

    Returns the txn id, or None when nothing matched."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    manifest = read_manifest(table)
    if not manifest["partitions"]:
        raise FileNotFoundError(f"no committed snapshot at {table}")
    # live view: prior MOR deletes apply, so an already-deleted row
    # can't be re-captured into a new delete file
    snap = read_snapshot(spark, table)
    keys = snap.filter(cond).select(*key_cols).distinct()
    txn_id = uuid.uuid4().hex[:12]
    staging = os.path.join(table, f".txn-staging-{txn_id}")
    keys.write.mode("overwrite").parquet(staging)
    # row count from the staged footers (driver-side metadata read; no
    # second Spark job over the filter scan)
    import pyarrow.parquet as pq

    n = sum(
        pq.ParquetFile(os.path.join(staging, f)).metadata.num_rows
        for f in os.listdir(staging)
        if f.endswith(".parquet")
    )
    if n == 0:
        shutil.rmtree(staging, ignore_errors=True)
        return None
    dst = os.path.join(table, "_deletes", f"{TXN_COL_PREFIX}{txn_id}")
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.rename(staging, dst)
    manifest.setdefault("deletes", []).append(
        {"txn": txn_id, "cols": list(key_cols), "n": int(n)}
    )
    # row counts moved under unchanged partition versions → analyze
    # stats are stale (table_stats keys freshness on the deletes list)
    _publish(table, manifest, txn_id)
    return txn_id


def _settle_pending_deletes(
    spark: SparkSession, table: str, manifest: dict
) -> dict:
    """Copy-on-write mutators call this first: pending merge-on-read
    delete keys act as a GLOBAL anti-join filter, so a CoW upsert that
    re-inserts a previously-MOR-deleted key would be silently swallowed
    by the read path (and physically-stale copies in unaffected
    partitions could resurface if the key were naively un-deleted).
    Materializing first — a logical no-op — removes the interaction
    entirely; the mutation then runs on a clean table."""
    if not _delete_entries(manifest):
        return manifest
    materialize_deletes(spark, table)
    return read_manifest(table)


def materialize_deletes(spark: SparkSession, table: str) -> str | None:
    """Fold pending merge-on-read deletes into the data files (the
    copy-on-write compaction): rewrite ONLY the partitions that hold a
    matching row, publish the cleaned versions and the emptied
    ``deletes`` list in one atomic manifest swap. The logical view is
    IDENTICAL before and after — this trades one rewrite for removing
    the per-read anti-joins, and re-enables the raw-file interop paths
    (:func:`export_file_manifest`). Returns the txn id, or None when no
    deletes are pending."""
    manifest = read_manifest(table)
    entries = _delete_entries(manifest)
    if not entries:
        return None
    _require_single_scheme(manifest, "materialize_deletes")
    part_cols = _partition_cols(manifest)
    raw = read_snapshot(spark, table, apply_deletes=False)
    affected: set[str] = set()
    for cols, keys in _delete_key_groups(spark, table, entries):
        affected |= {
            _rel_for_row(r, part_cols)
            for r in (
                raw.join(keys, cols, "left_semi")
                .select(*part_cols)
                .distinct()
                .collect()
            )
        }
    txn_id = uuid.uuid4().hex[:12]
    if affected:
        in_affected = F.concat_ws(
            os.sep,
            *[
                F.concat(F.lit(f"{c}="), F.col(c).cast("string"))
                for c in part_cols
            ],
        ).isin(sorted(affected))
        kept = _apply_deletes(spark, table, manifest, raw.filter(in_affected))
        _rewrite_partitions(
            spark, table, manifest, kept, affected, part_cols, txn_id
        )
    manifest["deletes"] = []
    _publish(table, manifest, txn_id)
    return txn_id


def merge_upsert(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    key_cols: list[str],
) -> str:
    """Transactional keyed MERGE (upsert): rows whose ``key_cols`` match
    an existing row replace it; unmatched rows insert. ``updates`` must
    carry the full table schema including the partition columns (they
    route inserts). Affected partitions = partitions holding a matched
    key ∪ partitions the updates route to; only those rewrite, and the
    whole multi-partition result publishes in one atomic manifest swap.

    Plan shape: one semi-join aggregation to find affected partitions,
    then one anti-join + union write. Both join on ``key_cols`` — at
    scale they shuffle-partition by key once and Catalyst broadcasts the
    (small) update set automatically under AQE."""
    manifest = read_manifest(table)
    if not manifest["partitions"]:
        raise FileNotFoundError(f"no committed snapshot at {table}")
    manifest = _settle_pending_deletes(spark, table, manifest)
    _require_single_scheme(manifest, "merge_upsert")
    part_cols = _partition_cols(manifest)
    snap = read_snapshot(spark, table)
    updates = updates.select(*snap.columns)  # align column order
    # survivors already passed the gate when committed; only the offered
    # rows can introduce a violation
    _enforce_constraints(updates, manifest, "merge_upsert")
    keys = updates.select(*key_cols).distinct()
    affected = {
        _rel_for_row(r, part_cols)
        for r in (
            snap.join(keys, key_cols, "left_semi")
            .select(*part_cols)
            .distinct()
            .collect()
        )
    } | {
        _rel_for_row(r, part_cols)
        for r in updates.select(*part_cols).distinct().collect()
    }
    txn_id = uuid.uuid4().hex[:12]
    in_affected = F.concat_ws(
        os.sep,
        *[
            F.concat(F.lit(f"{c}="), F.col(c).cast("string"))
            for c in part_cols
        ],
    ).isin(sorted(affected))
    survivors = snap.filter(in_affected).join(
        keys, key_cols, "left_anti"
    )
    _rewrite_partitions(
        spark,
        table,
        manifest,
        survivors.unionByName(updates),
        affected,
        part_cols,
        txn_id,
    )
    _publish(table, manifest, txn_id)
    return txn_id


class ConstraintViolation(RuntimeError):
    """Data offered for commit (or already in the table, for
    ``add_constraint``) violates a table CHECK constraint. Nothing was
    published."""


def _enforce_constraints(df: DataFrame, manifest: dict, op: str) -> None:
    """Fail-before-publish gate: one aggregate job over the offered rows
    (only the constraint columns are read from the staged parquet)."""
    cons = manifest.get("constraints") or {}
    if not cons:
        return
    from .expectations import violation_counts

    bad = violation_counts(df, cons)
    if bad:
        raise ConstraintViolation(
            f"{op}: constraint violations {bad}; nothing published"
        )


def add_constraint(
    spark: SparkSession, table: str, name: str, expr: str
) -> str:
    """Attach a CHECK constraint to the table (Delta ``ADD CONSTRAINT``
    analog). The constraint is a SQL boolean expression persisted in the
    manifest, so it governs EVERY future writer path (batch commit,
    merge, stream sink) — table-attached governance, unlike the
    per-pipeline rules of ``plans/expectations.py`` which this reuses
    for evaluation. Like Delta, the existing snapshot is scanned first:
    a constraint current data violates is refused, so a reader can trust
    that a published constraint holds over the whole table. Publishing
    is a metadata-only transaction (no data files move)."""
    manifest = read_manifest(table)
    if not manifest["partitions"]:
        raise FileNotFoundError(f"no committed snapshot at {table}")
    probe = dict(manifest, constraints={name: expr})
    _enforce_constraints(
        read_snapshot(spark, table), probe, f"add_constraint({name!r})"
    )
    manifest.setdefault("constraints", {})[name] = expr
    txn_id = uuid.uuid4().hex[:12]
    _publish(table, manifest, txn_id)
    return txn_id


def drop_constraint(table: str, name: str) -> str:
    """Remove a CHECK constraint (metadata-only transaction)."""
    manifest = read_manifest(table)
    if name not in (manifest.get("constraints") or {}):
        raise KeyError(f"no constraint {name!r} on {table}")
    del manifest["constraints"][name]
    txn_id = uuid.uuid4().hex[:12]
    _publish(table, manifest, txn_id)
    return txn_id


def _manifest_as_of(table: str, txn: str | None) -> dict:
    if txn is None:
        return read_manifest(table)
    with open(os.path.join(table, f"_MANIFEST-{txn}.json")) as fh:
        return json.load(fh)


def snapshot_diff(
    spark: SparkSession,
    table: str,
    from_txn: str,
    to_txn: str | None = None,
) -> DataFrame:
    """Change-data-feed between two snapshots (``to_txn=None`` = the
    current one): multiset row diff labeled ``_change_type`` =
    ``insert``/``delete`` (an update surfaces as a delete+insert pair —
    key-agnostic CDF, like diffing Delta versions without a merge key).

    The manifest makes this scale: partitions whose owning txn is the
    SAME in both manifests are bit-identical by construction and are
    never read — diff cost is proportional to the partitions that
    actually changed, not the table. Requires ``from_txn``'s manifest to
    still be retained (vacuum ends the diff window, loudly at open).

    Merge-on-read deletes: each side is its manifest's LOGICAL view
    (raw files minus that snapshot's equality-delete keys). A MOR
    delete commit changes no partition version, so its CDF rows come
    from a semi-join of the still-unchanged partitions against the
    newly-added delete keys — this is the one diff shape whose cost is
    the table's unchanged region, not the changed partitions (the keys
    broadcast; materialize to return to partition-proportional diffs).
    A :func:`materialize_deletes` between the two snapshots diffs
    empty, as it must — the logical view didn't move."""
    m_old = _manifest_as_of(table, from_txn)
    m_new = _manifest_as_of(table, to_txn)
    changed = {
        rel
        for rel in set(m_old["partitions"]) | set(m_new["partitions"])
        if m_old["partitions"].get(rel) != m_new["partitions"].get(rel)
    }

    def _frame(manifest: dict, rels) -> DataFrame | None:
        paths = [
            os.path.join(
                table, rel, f"{TXN_COL_PREFIX}{manifest['partitions'][rel]}"
            )
            for rel in sorted(rels)
            if rel in manifest["partitions"]
        ]
        if not paths:
            return None
        return _apply_deletes(
            spark,
            table,
            manifest,
            spark.read.option("basePath", table).parquet(*paths).drop("txn"),
        )

    old, new = _frame(m_old, changed), _frame(m_new, changed)
    parts = []
    if old is not None and new is not None:
        parts.append(
            new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
        )
        parts.append(
            old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
        )
    elif new is not None:
        parts.append(new.withColumn("_change_type", F.lit("insert")))
    elif old is not None:
        parts.append(old.withColumn("_change_type", F.lit("delete")))

    # delete-list drift over UNCHANGED partitions (changed ones already
    # diffed logically above — restricting here prevents double counts)
    old_del = {e["txn"] for e in _delete_entries(m_old)}
    new_del = {e["txn"] for e in _delete_entries(m_new)}
    added = [e for e in _delete_entries(m_new) if e["txn"] not in old_del]
    removed = [e for e in _delete_entries(m_old) if e["txn"] not in new_del]
    unchanged = {
        rel
        for rel in set(m_old["partitions"]) & set(m_new["partitions"])
        if m_old["partitions"][rel] == m_new["partitions"][rel]
    }
    if added and unchanged:
        base = _frame(m_old, unchanged)  # old logical view
        for cols, keys in _delete_key_groups(spark, table, added):
            parts.append(
                base.join(keys, cols, "left_semi").withColumn(
                    "_change_type", F.lit("delete")
                )
            )
    if removed and unchanged:
        base_new = _frame(m_new, unchanged)  # rows visible again
        for cols, keys in _delete_key_groups(spark, table, removed):
            parts.append(
                base_new.join(keys, cols, "left_semi").withColumn(
                    "_change_type", F.lit("insert")
                )
            )
    if not parts:  # nothing changed at all
        base = read_snapshot(spark, table, as_of=to_txn).filter(F.lit(False))
        return base.withColumn("_change_type", F.lit(""))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def manifest_stream_sink(table: str, pre_publish=None):
    """``foreachBatch`` function committing each micro-batch as ONE
    manifest transaction under its own ``batch_id=N`` partition —
    end-to-end exactly-once into the versioned warehouse: a replayed
    batch re-maps ``batch_id=N`` to a fresh txn (same content, old
    version becomes vacuumable garbage) instead of appending a
    duplicate, and the atomic manifest swap means a reader sees each
    batch entirely or not at all. Combines an idempotent-by-batch-id
    layout with snapshot isolation.

    ``pre_publish`` (optional, zero-arg) runs after the staging write
    but BEFORE the manifest swap — the hook point for single-pass
    checks that ride the write itself (``plans/expectations.py::
    observed_fail_sink``'s Observation counters). If it raises, the
    batch is never published: the written txn dir is unreferenced —
    exactly a crashed write — and the next ``vacuum`` collects it."""

    def commit_batch(df, batch_id: int) -> None:
        manifest = read_manifest(table)
        rel = f"batch_id={batch_id}"
        txn_id = f"b{batch_id}-{uuid.uuid4().hex[:8]}"
        # fail-fast before staging (a staged-dir read would be vacuous:
        # Spark ignores the dot-prefixed staging path by design)
        _enforce_constraints(
            df, manifest, f"manifest_stream_sink(batch {batch_id})"
        )
        staging = os.path.join(table, f".txn-staging-{txn_id}")
        df.write.mode("overwrite").parquet(staging)
        dst = os.path.join(table, rel, f"{TXN_COL_PREFIX}{txn_id}")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(staging, dst)
        if pre_publish is not None:
            pre_publish()
        manifest["partitions"][rel] = txn_id
        _invalidate_bloom(manifest, rel)
        manifest.setdefault("stats", {})[rel] = _version_stats(dst)
        _publish(table, manifest, txn_id)

    return commit_batch


def migrate_partitioning(
    spark: SparkSession, table: str, target_cols: list[str]
) -> str | None:
    """PARTITION EVOLUTION, Iceberg-style evolve-then-migrate: a writer
    may start committing under a NEW partition scheme at any time (the
    manifest tracks rels per scheme; :func:`read_snapshot` unions the
    era layouts, since one Hive basePath can't span two specs) — this
    is the CONVERGENCE step that rewrites every old-spec partition
    under ``target_cols`` in ONE transaction, after which keyed
    mutations (which a mixed-scheme table refuses) work again.

    Old-spec partition columns are path-encoded, so the rewrite
    re-reads them through partition discovery and they land INSIDE the
    new files as ordinary data columns — nothing is lost. Produced rels
    that collide with live target-spec partitions are merged: the
    colliding partitions' current rows ride along in the same rewrite,
    so the collision's version replacement keeps both eras' rows. Old
    versions stay readable via time travel until vacuumed.

    Refused while merge-on-read deletes are pending (materialize
    first). No old-spec partitions → no-op, returns None.
    """
    manifest = read_manifest(table)
    if not manifest["partitions"]:
        raise FileNotFoundError(f"no committed snapshot at {table}")
    if _delete_entries(manifest):
        raise ValueError(
            "pending merge-on-read deletes: run materialize_deletes()"
            " before migrating the partition scheme"
        )
    target = tuple(target_cols)
    groups = _schemes(manifest)
    old_parts = [
        (rel, txn)
        for scheme, pairs in groups.items()
        if scheme != target
        for rel, txn in pairs
    ]
    if not old_parts:
        return None
    old_paths = [
        os.path.join(table, rel, f"{TXN_COL_PREFIX}{txn}")
        for rel, txn in old_parts
    ]
    old_df = (
        spark.read.option("basePath", table)
        .option("mergeSchema", "true")
        .parquet(*old_paths)
        .drop("txn")
    )
    for c in target_cols:
        if c not in old_df.columns:
            raise ValueError(
                f"target partition column {c!r} not present in the"
                f" old-spec data columns {old_df.columns}"
            )
    txn_id = uuid.uuid4().hex[:12]
    staging = os.path.join(table, f".txn-staging-{txn_id}")
    old_df.write.partitionBy(*target_cols).mode("overwrite").parquet(staging)
    # Live target-spec collisions must ride along or their current rows
    # would be replaced away. Collisions are derived from the rels Spark
    # ACTUALLY wrote to staging — never from hand-formatted f"{c}={v}"
    # strings, which miss Spark's Hive path encoding (URL-escaped
    # specials, NULL -> __HIVE_DEFAULT_PARTITION__, lowercased booleans);
    # a missed collision silently drops the live partition's rows from
    # the new snapshot. When any collide, the rewrite re-runs with those
    # partitions' rows unioned in (their rows round-trip to exactly
    # their own rels, so the second pass produces no new collisions).
    produced = set(_leaf_partitions(staging))
    colliding = [
        (rel, txn)
        for rel, txn in groups.get(target, [])
        if rel in produced
    ]
    if colliding:
        keep_paths = [
            os.path.join(table, rel, f"{TXN_COL_PREFIX}{txn}")
            for rel, txn in colliding
        ]
        keep_df = (
            spark.read.option("basePath", table)
            .option("mergeSchema", "true")
            .parquet(*keep_paths)
            .drop("txn")
        )
        merged = old_df.unionByName(keep_df, allowMissingColumns=True)
        merged.write.partitionBy(*target_cols).mode("overwrite").parquet(
            staging
        )
    written = sorted(_leaf_partitions(staging))
    for rel, _txn in old_parts:
        del manifest["partitions"][rel]
        (manifest.get("stats") or {}).pop(rel, None)
        (manifest.get("bloom") or {}).pop(rel, None)
    for rel in written:
        src = os.path.join(staging, rel)
        dst = os.path.join(table, rel, f"{TXN_COL_PREFIX}{txn_id}")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
        manifest["partitions"][rel] = txn_id
        _invalidate_bloom(manifest, rel)
        manifest.setdefault("stats", {})[rel] = _version_stats(dst)
    shutil.rmtree(staging, ignore_errors=True)
    _publish(table, manifest, txn_id)
    return txn_id


def vacuum(table: str, keep_last: int = 1, keep_txns: set | None = None) -> int:
    """Delete txn directories no RETAINED manifest references (old
    snapshots + crashed writes), plus the time-travel manifests whose
    data just became unreadable. Returns the number of data dirs
    removed. Safe at any time: the manifest swap is the only publication
    point, so anything unreferenced is garbage by definition.

    ``keep_last`` is the retention window (Delta's ``VACUUM ... RETAIN``
    analog, counted in snapshots rather than hours — commit cadence, not
    wall clock, is what a reproducibility contract cares about): the
    newest ``keep_last`` snapshots by commit sequence stay time-
    travelable; everything older is collected. The default (1) keeps
    only the live snapshot — the original behavior.

    ``keep_txns`` pins EXPLICIT snapshot txns additionally (the catalog
    layer uses this: a member table must retain whatever txns the
    retained catalogs reference, which is a set of pins, not a seq
    window)."""
    manifest = read_manifest(table)
    history = [manifest]
    if keep_last > 1 or keep_txns:
        older = []
        for entry in os.listdir(table):
            if entry.startswith("_MANIFEST-") and entry.endswith(".json"):
                with open(os.path.join(table, entry)) as fh:
                    m = json.load(fh)
                if m["txn"] != manifest["txn"]:
                    older.append(m)
        older.sort(key=lambda m: int(m.get("seq", 0)), reverse=True)
        window = {m["txn"] for m in older[: max(keep_last - 1, 0)]}
        history += [
            m
            for m in older
            if m["txn"] in window or (keep_txns and m["txn"] in keep_txns)
        ]
    retained_txns = {m["txn"] for m in history}
    live = {
        os.path.join(rel, f"{TXN_COL_PREFIX}{txn}")
        for m in history
        for rel, txn in m["partitions"].items()
    }
    # equality-delete files referenced by any retained manifest must
    # survive — a retained snapshot's logical view depends on them
    live |= {
        os.path.join("_deletes", f"{TXN_COL_PREFIX}{e['txn']}")
        for m in history
        for e in _delete_entries(m)
    }
    removed = 0
    for dirpath, dirnames, _ in os.walk(table):
        for entry in list(dirnames):
            if not entry.startswith(TXN_COL_PREFIX):
                continue
            dirnames.remove(entry)  # never descend into version dirs
            rel = os.path.relpath(dirpath, table)
            if os.path.join(rel, entry) not in live:
                shutil.rmtree(
                    os.path.join(dirpath, entry), ignore_errors=True
                )
                removed += 1
    # crashed staging roots are garbage too
    for entry in os.listdir(table):
        if entry.startswith(".txn-staging-"):
            shutil.rmtree(os.path.join(table, entry), ignore_errors=True)
            removed += 1
    # historical manifests outside the retention window now point at
    # vacuumed data — drop them so time travel fails loudly at open, not
    # mid-scan
    for entry in os.listdir(table):
        if entry.startswith("_MANIFEST-") and entry.endswith(".json"):
            txn = entry[len("_MANIFEST-"):-len(".json")]
            if txn not in retained_txns:
                os.remove(os.path.join(table, entry))
    return removed


def clone_table(src: str, dst: str) -> str:
    """CLONE (Delta/Iceberg analog): materialize ``dst`` as an
    independent table holding ``src``'s CURRENT snapshot — zero data
    copied when the filesystem supports hard links (each version file is
    linked, not duplicated; version files are immutable by construction
    and deletion only unlinks a name, so the clone survives a later
    ``vacuum``/``delete_where`` on the source and vice versa). Falls
    back to a real copy cross-device.

    The clone starts its own txn history: its manifest is a fresh
    publication (new txn id), and subsequent commits/compactions/vacuums
    on either table never touch the other — the test pins exactly that
    divergence-isolation property. Returns the clone's txn id."""
    manifest = read_manifest(src)
    if manifest["txn"] is None:
        raise FileNotFoundError(f"no committed snapshot to clone at {src}")
    os.makedirs(dst, exist_ok=True)
    txn_id = uuid.uuid4().hex[:12]
    new_manifest = {"txn": None, "partitions": {}, "stats": {}}
    if manifest.get("constraints"):  # governance travels with the table
        new_manifest["constraints"] = dict(manifest["constraints"])
    for rel, txn in sorted(manifest["partitions"].items()):
        src_dir = os.path.join(src, rel, f"{TXN_COL_PREFIX}{txn}")
        dst_dir = os.path.join(dst, rel, f"{TXN_COL_PREFIX}{txn_id}")
        os.makedirs(dst_dir, exist_ok=True)
        for name in sorted(os.listdir(src_dir)):
            if not name.endswith(".parquet"):
                continue
            s, d = os.path.join(src_dir, name), os.path.join(dst_dir, name)
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)
        new_manifest["partitions"][rel] = txn_id
        stats = manifest.get("stats", {}).get(rel)
        if stats is not None:
            new_manifest["stats"][rel] = stats
        bloom = manifest.get("bloom", {}).get(rel)
        if bloom is not None:  # clone holds identical data → bloom valid
            new_manifest.setdefault("bloom", {})[rel] = bloom
    # pending merge-on-read deletes are part of the logical snapshot —
    # link their key files (immutable, same dir names) and carry the list
    for e in _delete_entries(manifest):
        src_dir = os.path.join(src, "_deletes", f"{TXN_COL_PREFIX}{e['txn']}")
        dst_dir = os.path.join(dst, "_deletes", f"{TXN_COL_PREFIX}{e['txn']}")
        os.makedirs(dst_dir, exist_ok=True)
        for name in sorted(os.listdir(src_dir)):
            if not name.endswith(".parquet"):
                continue
            s, d = os.path.join(src_dir, name), os.path.join(dst_dir, name)
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)
    if _delete_entries(manifest):
        new_manifest["deletes"] = [dict(e) for e in _delete_entries(manifest)]
    _publish(dst, new_manifest, txn_id)
    return txn_id


def _bloom_bits(values, n_bits: int = 4096, k: int = 4) -> int:
    """Bloom bitset (as a Python int) over an iterable of values: k bit
    positions per value via double hashing of the value's md5 — stable
    across runs/engines, no RNG."""
    import hashlib

    bits = 0
    for v in values:
        if v is None:
            continue
        digest = hashlib.md5(str(v).encode()).digest()
        h1 = int.from_bytes(digest[:8], "big")
        h2 = int.from_bytes(digest[8:], "big") | 1  # odd → full cycle
        for i in range(k):
            bits |= 1 << ((h1 + i * h2) % n_bits)
    return bits


def _bloom_may_contain(hex_bits: str, value, n_bits: int = 4096, k: int = 4) -> bool:
    import hashlib

    bits = int(hex_bits, 16)
    digest = hashlib.md5(str(value).encode()).digest()
    h1 = int.from_bytes(digest[:8], "big")
    h2 = int.from_bytes(digest[8:], "big") | 1
    return all(bits >> ((h1 + i * h2) % n_bits) & 1 for i in range(k))


def add_bloom_index(table: str, cols: list[str], n_bits: int = 4096) -> str:
    """Delta ``BLOOMFILTER INDEX`` analog for POINT LOOKUPS on
    non-partition columns: min/max stats prune nothing when a column's
    values are scattered across its range in every partition (ids,
    hashes, emails) — a membership sketch does. Computes a per-partition-
    version bloom bitset for each of ``cols`` over the CURRENT snapshot
    and republishes as a metadata-only txn (same data versions; old
    manifest stays retained for time travel).

    Sizing: at default 4096 bits / k=4 the false-positive rate is ~2.4%
    at 500 distinct values per partition — a false positive only costs a
    wasted partition read, never correctness. Values are read driver-side
    here (the versions are local parquet, same trade as
    ``_version_stats``); at 100 TB the write job's tasks would fold the
    same bitsets through an accumulator — OR-merging is associative, so
    the manifest shape is identical. New commits to a partition drop its
    bloom (absent bloom = "can't prune" = always safe); re-run the
    indexer to refresh."""
    import pyarrow.parquet as pq

    manifest = read_manifest(table)
    if not manifest["partitions"]:
        raise FileNotFoundError(f"no committed snapshot at {table}")
    blooms = manifest.setdefault("bloom", {})
    for rel, txn in sorted(manifest["partitions"].items()):
        vdir = os.path.join(table, rel, f"{TXN_COL_PREFIX}{txn}")
        per_col: dict[str, str] = {}
        for col in cols:
            bits = 0
            for fname in sorted(os.listdir(vdir)):
                if not fname.endswith(".parquet"):
                    continue
                t = pq.read_table(os.path.join(vdir, fname), columns=[col])
                bits |= _bloom_bits(t.column(col).to_pylist(), n_bits)
            per_col[col] = f"{bits:x}"
        blooms[rel] = {"n_bits": n_bits, "cols": per_col}
    txn_id = uuid.uuid4().hex[:12]
    # metadata-only publication: partitions keep their data versions
    _publish(table, manifest, txn_id)
    return txn_id


def read_snapshot_point(
    spark: SparkSession,
    table: str,
    lookups: dict,
    as_of: str | None = None,
) -> DataFrame:
    """Point-lookup read: like :func:`read_snapshot` but additionally
    drops every partition whose bloom PROVES it can't contain ALL the
    ``{col: value}`` equalities. Partitions without a bloom for a looked-
    up column are kept (safe). The caller still applies the real filter —
    this only shrinks the scan, exactly like ``prune=``."""
    manifest = _manifest_as_of(table, as_of)
    blooms = manifest.get("bloom", {})
    keep = []
    for rel, txn in sorted(manifest["partitions"].items()):
        entry = blooms.get(rel)
        ok = True
        if entry:
            for col, value in lookups.items():
                hex_bits = entry["cols"].get(col)
                if hex_bits is not None and not _bloom_may_contain(
                    hex_bits, value, entry["n_bits"]
                ):
                    ok = False
                    break
        if ok:
            keep.append((rel, txn))
    if not keep:
        # bloom-proved absent everywhere: empty frame with table schema
        any_rel, any_txn = next(iter(sorted(manifest["partitions"].items())))
        return _apply_renames(
            spark.read.option("basePath", table)
            .parquet(os.path.join(table, any_rel, f"{TXN_COL_PREFIX}{any_txn}"))
            .drop("txn")
            .filter(F.lit(False)),
            manifest,
        )
    paths = [
        os.path.join(table, rel, f"{TXN_COL_PREFIX}{txn}") for rel, txn in keep
    ]
    # merge-on-read deletes apply here too — the bloom describes the raw
    # data files, so a logically-deleted key can bloom-match; the
    # anti-join keeps it from resurfacing
    raw = (
        spark.read.option("basePath", table)
        .option(
            "mergeSchema",
            str(bool(_schema_ops(manifest))).lower(),
        )
        .parquet(*paths)
        .drop("txn")
    )
    return _apply_deletes(spark, table, manifest, _apply_renames(raw, manifest))


def optimize_table(
    spark: SparkSession,
    table: str,
    target_files: int = 1,
    cluster_by: list[str] | None = None,
    zorder: bool = False,
    bloom_cols: list[str] | None = None,
    min_files: int = 2,
) -> dict:
    """The OPTIMIZE entry point a table owner actually runs: compact
    every partition whose current version has at least ``min_files``
    files (small-file debt from streaming/backfill commits), optionally
    clustering the rewrite (``cluster_by``/``zorder`` — see
    :func:`compact_partition`), then refresh the bloom index for
    ``bloom_cols`` over the resulting snapshot. Returns
    ``{"compacted": [rels], "skipped": [rels], "bloom_txn": id|None}``.

    Each partition compaction is its own transaction (publish-per-
    partition keeps the lock window tiny and a crash loses nothing —
    finished partitions stay optimized); the bloom refresh is one final
    metadata-only txn. Partitions already at or below the file target
    are skipped, so re-running OPTIMIZE is cheap and idempotent —
    maintenance cost follows the small-file debt, not the table size."""
    manifest = read_manifest(table)
    if not manifest["partitions"]:
        raise FileNotFoundError(f"no committed snapshot at {table}")
    compacted, skipped = [], []
    for rel, txn in sorted(manifest["partitions"].items()):
        vdir = os.path.join(table, rel, f"{TXN_COL_PREFIX}{txn}")
        n_files = sum(
            1 for f in os.listdir(vdir) if f.endswith(".parquet")
        )
        if n_files >= min_files or (cluster_by and n_files > target_files):
            compact_partition(
                spark, table, rel, target_files=target_files,
                cluster_by=cluster_by, zorder=zorder,
            )
            compacted.append(rel)
        else:
            skipped.append(rel)
    bloom_txn = add_bloom_index(table, bloom_cols) if bloom_cols else None
    return {"compacted": compacted, "skipped": skipped, "bloom_txn": bloom_txn}


def analyze_table(
    spark: SparkSession,
    table: str,
    columns: list[str] | None = None,
    sketch_columns: list[str] | None = None,
    sketch_k: int = 256,
) -> str:
    """``ANALYZE TABLE … COMPUTE STATISTICS`` analog: one distributed
    pass over the current snapshot collecting row count, per-column
    approximate NDV (HLL) and null counts, plus the snapshot's total
    data bytes from the committed file sizes — the inputs a planner
    needs for join-strategy and selectivity decisions. Published as a
    metadata-only transaction (same data versions, old manifest retained
    for time travel), exactly like :func:`add_bloom_index`.

    Staleness contract (mirrors the bloom invalidation problem, solved
    without hooks): the stats block records the partition→txn mapping it
    described; :func:`table_stats` returns it only while the live
    mapping is IDENTICAL, so any later data commit makes the stats
    read as absent rather than silently wrong.

    Scale: the aggregation is one ``df.agg`` over HLL sketches and
    predicate counts — partial-aggregated, a single bounded row reaches
    the driver regardless of table size; file sizes come from the
    manifest's own listing, not a data scan.

    ``sketch_columns`` additionally stores a K-MINIMUM-VALUES sketch
    per named column (sk02's kernel: the ``sketch_k`` smallest 48-bit
    md5 hashes of the column's distinct values, pre-filtered by the
    deterministic ~4k survivor threshold so the selection never ranks
    a data-proportional partition). The sketch is O(k) integers of
    manifest metadata and is what :func:`join_cardinality_advice`
    consumes for sketch-driven join estimation. A column whose NDV fits
    entirely under 2·k stores its COMPLETE distinct-hash set
    (``exact: true``) — set algebra on two exact hash sets is exact,
    which is what lets the advice PROVE an empty inner join."""
    from pyspark.sql.types import AtomicType

    manifest = read_manifest(table)
    if not manifest["partitions"]:
        raise FileNotFoundError(f"no committed snapshot at {table}")
    df = read_snapshot(spark, table)
    part_cols = set(_partition_cols(manifest)) | {SHARD_COL}
    if columns is None:
        columns = [
            f.name
            for f in df.schema.fields
            if f.name not in part_cols and isinstance(f.dataType, AtomicType)
        ]
    aggs = [F.count(F.lit(1)).alias("_rc")]
    for c in columns:
        aggs.append(F.approx_count_distinct(c).alias(f"_ndv_{c}"))
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"_nul_{c}")
        )
    row = df.agg(*aggs).collect()[0]  # ONE bounded row
    sketches = {}
    for c in sketch_columns or []:
        if c in columns:
            ndv_hint = int(row[f"_ndv_{c}"])
        else:
            ndv_hint = int(df.agg(F.approx_count_distinct(c)).collect()[0][0])
        two48 = 1 << 48
        h = F.conv(
            F.substring(F.md5(F.col(c).cast("string").cast("binary")), 1, 12),
            16,
            10,
        ).cast("long")
        hashes = df.filter(F.col(c).isNotNull()).select(h.alias("_h"))
        if ndv_hint <= 2 * sketch_k:
            vals = sorted(
                r["_h"] for r in hashes.distinct().collect()
            )
            # the COMPLETE distinct-hash set: set algebra on it is exact
            sketches[c] = {"k": int(sketch_k), "exact": True, "values": vals}
        else:
            thr = min(two48, (two48 * 4 * sketch_k) // max(ndv_hint, 1))
            vals = [
                r["_h"]
                for r in (
                    hashes.filter(F.col("_h") < thr)
                    .distinct()
                    .orderBy(F.asc("_h"))
                    .limit(int(sketch_k))
                    .collect()
                )
            ]
            sketches[c] = {
                "k": int(sketch_k),
                "exact": False,
                "values": vals,
                # the survivor threshold the values were filtered on —
                # an inexact sketch holding fewer than k values may be
                # THRESHOLD-limited (HLL ndv_hint overestimate), not
                # genuinely complete; estimators must know the cutoff
                "thr": int(thr),
            }
    data_bytes = 0
    for rel, txn in manifest["partitions"].items():
        vdir = os.path.join(table, rel, f"{TXN_COL_PREFIX}{txn}")
        for fname in os.listdir(vdir):
            if fname.endswith(".parquet"):
                data_bytes += os.path.getsize(os.path.join(vdir, fname))
    manifest["table_stats"] = {
        "as_of": dict(manifest["partitions"]),
        # merge-on-read deletes change the logical row counts without
        # moving any partition version — freshness must key on them too
        "as_of_deletes": [e["txn"] for e in _delete_entries(manifest)],
        "row_count": int(row["_rc"]),
        "data_bytes": int(data_bytes),
        "columns": {
            c: {
                "ndv": int(row[f"_ndv_{c}"]),
                "nulls": int(row[f"_nul_{c}"] or 0),
            }
            for c in columns
        },
        "kmv": sketches,
    }
    txn_id = uuid.uuid4().hex[:12]
    _publish(table, manifest, txn_id)
    return txn_id


def table_stats(table: str) -> dict | None:
    """The last :func:`analyze_table` result, or ``None`` when absent or
    STALE (any partition's data version moved since the analyze — the
    always-safe reading, matching how absent blooms mean 'can't
    prune')."""
    manifest = read_manifest(table)
    stats = manifest.get("table_stats")
    if stats is None or stats["as_of"] != manifest["partitions"]:
        return None
    if stats.get("as_of_deletes", []) != [
        e["txn"] for e in _delete_entries(manifest)
    ]:
        return None  # a MOR delete landed since the analyze — stale
    return {
        k: v for k, v in stats.items() if k not in ("as_of", "as_of_deletes")
    }


def broadcast_advice(
    table: str, threshold_bytes: int = 10 << 20
) -> dict:
    """Join-side strategy advice from stored stats — the decision
    Spark's own CBO makes from catalog statistics, surfaced for tables
    that live behind this manifest (where Spark sees only file lists and
    can't consult a metastore). ``broadcast`` only when FRESH stats
    prove the data is under the threshold; stale or missing stats fall
    back to ``shuffle`` — the safe default, never the reverse (a wrongly
    broadcast 100 GB side is an OOM; a wrongly shuffled 5 MB side is
    just a slower join)."""
    stats = table_stats(table)
    if stats is None:
        return {
            "strategy": "shuffle",
            "reason": "no fresh statistics; defaulting to shuffle-safe",
        }
    if stats["data_bytes"] <= threshold_bytes:
        return {
            "strategy": "broadcast",
            "reason": f"{stats['data_bytes']} B <= {threshold_bytes} B",
            **stats,
        }
    return {
        "strategy": "shuffle",
        "reason": f"{stats['data_bytes']} B > {threshold_bytes} B",
        **stats,
    }


def read_snapshot_advised(
    spark: SparkSession, table: str, threshold_bytes: int = 10 << 20, **kw
) -> DataFrame:
    """:func:`read_snapshot` with the join-strategy advice APPLIED: when
    fresh statistics prove the snapshot is under ``threshold_bytes`` the
    returned frame carries the broadcast hint, so any join a caller
    writes against it plans as a BroadcastHashJoin without the caller
    hand-placing hints — the CBO behavior Spark itself provides only for
    metastore-registered tables. Stale/missing stats return the plain
    frame (shuffle-safe), never the reverse."""
    df = read_snapshot(spark, table, **kw)
    if broadcast_advice(table, threshold_bytes)["strategy"] == "broadcast":
        return F.broadcast(df)
    return df


def _kmv_intersection(sa: dict, sb: dict) -> dict:
    """Set-operation estimates from two STORED KMV sketches (pure
    driver-side integer arithmetic over O(k) values — sk02's estimate
    algebra applied to the manifest metadata). When BOTH sketches are
    complete distinct-hash sets (``exact``), the intersection count is
    exact and ``provably_empty`` is a proof: equal keys hash equal, so
    zero hash overlap between complete hash sets means zero join
    matches (a 48-bit collision could only ADD a phantom match, never
    hide a real one)."""
    two48 = 1 << 48
    k = min(int(sa["k"]), int(sb["k"]))
    va, vb = set(sa["values"]), set(sb["values"])
    if sa.get("exact") and sb.get("exact"):
        inter = len(va & vb)
        return {
            "est_intersection_ndv": inter,
            "exact": True,
            "provably_empty": inter == 0,
        }
    merged = sorted(va | vb)
    usk = merged[:k]
    if not usk:
        return {
            "est_intersection_ndv": 0,
            "exact": False,
            "provably_empty": False,
        }
    if len(merged) < k:
        # Fewer than k merged survivors does NOT prove completeness: an
        # inexact sketch is filtered on a survivor threshold derived
        # from the HLL ndv hint, and an overestimated hint truncates the
        # sketch below k while the true NDV is large. Both sides are
        # complete below min(thr) (an exact sketch is complete
        # everywhere, thr = 2^48), so estimate union NDV by hash
        # density in the jointly-complete region; sketches stored
        # before `thr` was recorded fall back to the order-statistic
        # KMV estimator on the merged survivors.
        thr_floor = two48 if sa.get("exact") else int(sa.get("thr", 0))
        thr_b = two48 if sb.get("exact") else int(sb.get("thr", 0))
        min_thr = min(thr_floor, thr_b)
        if min_thr >= two48:
            est_union = len(merged)  # both complete: exact union count
        elif min_thr > 0:
            below = sum(1 for h in merged if h < min_thr)
            est_union = max((below * two48) // min_thr, len(merged))
        elif len(merged) > 1:
            est_union = max(
                ((len(merged) - 1) * two48) // merged[-1], len(merged)
            )
        else:
            est_union = len(merged)
    else:
        est_union = ((k - 1) * two48) // usk[-1]
    matches = sum(1 for h in usk if h in va and h in vb)
    est_inter = (matches * est_union) // len(usk)
    return {
        "est_intersection_ndv": int(est_inter),
        "exact": False,
        "provably_empty": False,
    }


def join_cardinality_advice(
    table_a: str,
    key_a: str,
    table_b: str,
    key_b: str,
    broadcast_threshold_bytes: int = 10 << 20,
) -> dict:
    """Sketch-driven JOIN estimation between two manifest tables — the
    classic KMV join-key-overlap estimate (Beyer et al.) wired into the
    warehouse CBO surface. Requires FRESH :func:`analyze_table` stats
    on both sides with a stored KMV sketch for each key column
    (``sketch_columns``); anything stale or missing falls back to
    ``{"strategy": "shuffle"}`` — absent, never wrong, the
    :func:`table_stats` contract.

    Output cardinality uses the textbook per-key-multiplicity product:
    ``|A ⋈ B| ≈ rows_a · rows_b · |keys(A) ∩ keys(B)| / (ndv_a ·
    ndv_b)`` with the intersection NDV from the sketches instead of a
    data scan. Strategies, in priority order:

    - ``provably_empty`` — both key sketches are complete hash sets
      with zero overlap: an INNER join is empty by proof, not estimate.
    - ``broadcast`` — the smaller side's fresh ``data_bytes`` is under
      the threshold (``broadcast_side`` names it).
    - ``shuffle`` — the safe default.

    Everything here is driver-side arithmetic over O(k) manifest
    integers; no Spark job runs."""
    out = {
        "strategy": "shuffle",
        "reason": "no fresh statistics; defaulting to shuffle-safe",
    }
    stats_a, stats_b = table_stats(table_a), table_stats(table_b)
    if stats_a is None or stats_b is None:
        return out
    sk_a = (stats_a.get("kmv") or {}).get(key_a)
    sk_b = (stats_b.get("kmv") or {}).get(key_b)
    if sk_a is None or sk_b is None:
        out["reason"] = (
            "fresh stats lack a KMV sketch for the join key; re-run"
            " analyze_table(sketch_columns=[...])"
        )
        return out
    inter = _kmv_intersection(sk_a, sk_b)
    ndv_a = max(int(stats_a["columns"].get(key_a, {}).get("ndv", 0)), 1)
    ndv_b = max(int(stats_b["columns"].get(key_b, {}).get("ndv", 0)), 1)
    est_rows = (
        int(stats_a["row_count"])
        * int(stats_b["row_count"])
        * int(inter["est_intersection_ndv"])
    ) // (ndv_a * ndv_b)
    out = {
        "est_intersection_ndv": inter["est_intersection_ndv"],
        "intersection_exact": inter["exact"],
        "est_join_rows": est_rows,
        "rows_a": stats_a["row_count"],
        "rows_b": stats_b["row_count"],
    }
    if inter["provably_empty"]:
        out["strategy"] = "provably_empty"
        out["reason"] = (
            "complete key-hash sets share zero values: inner join is"
            " empty by proof"
        )
        return out
    small = min(
        ("a", int(stats_a["data_bytes"])),
        ("b", int(stats_b["data_bytes"])),
        key=lambda t: t[1],
    )
    if small[1] <= broadcast_threshold_bytes:
        out["strategy"] = "broadcast"
        out["broadcast_side"] = table_a if small[0] == "a" else table_b
        out["reason"] = (
            f"side {small[0]} is {small[1]} B <="
            f" {broadcast_threshold_bytes} B"
        )
    else:
        out["strategy"] = "shuffle"
        out["reason"] = (
            f"both sides exceed {broadcast_threshold_bytes} B;"
            " shuffle-safe"
        )
    return out


def read_join_advised(
    spark: SparkSession,
    table_a: str,
    key_a: str,
    table_b: str,
    key_b: str,
    how: str = "inner",
    broadcast_threshold_bytes: int = 10 << 20,
) -> DataFrame:
    """Join two manifest tables with :func:`join_cardinality_advice`
    APPLIED to the plan: a ``provably_empty`` inner join short-circuits
    through an always-false filter (Catalyst's PropagateEmptyRelation
    collapses the join to a LocalTableScan — semantics identical, since
    emptiness was proved, not estimated); a ``broadcast`` verdict hints
    the proven-small side; anything else is the plain shuffle join.
    Non-inner joins never take the empty shortcut (an outer join of a
    proven-empty match set still emits unmatched rows)."""
    df_a = read_snapshot(spark, table_a)
    df_b = read_snapshot(spark, table_b)
    advice = join_cardinality_advice(
        table_a, key_a, table_b, key_b, broadcast_threshold_bytes
    )
    cond = df_a[key_a] == df_b[key_b]
    if advice["strategy"] == "provably_empty" and how == "inner":
        return df_a.filter(F.lit(False)).join(df_b, cond, how)
    if advice["strategy"] == "broadcast":
        if advice["broadcast_side"] == table_a:
            return F.broadcast(df_a).join(df_b, cond, how)
        return df_a.join(F.broadcast(df_b), cond, how)
    return df_a.join(df_b, cond, how)


def table_history(table: str) -> list[dict]:
    """``DESCRIBE HISTORY`` analog: the retained snapshots, newest
    first, from the per-txn manifest copies (the transaction log).
    Each row reports the commit sequence, txn id, partition count, how
    many partitions that commit rewrote relative to its predecessor,
    and whether the snapshot is still time-travelable (vacuum trims the
    log; the LIVE snapshot always is). Pure driver-side metadata — one
    directory listing of small JSON files."""
    entries = []
    for fname in os.listdir(table):
        if fname.startswith("_MANIFEST-") and fname.endswith(".json"):
            with open(os.path.join(table, fname)) as fh:
                m = json.load(fh)
            entries.append(m)
    entries.sort(key=lambda m: m.get("seq", 0), reverse=True)
    live_txn = read_manifest(table).get("txn")
    out = []
    for i, m in enumerate(entries):
        prev = entries[i + 1] if i + 1 < len(entries) else {"partitions": {}}
        changed = sum(
            1
            for rel, txn in m["partitions"].items()
            if prev["partitions"].get(rel) != txn
        ) + sum(1 for rel in prev["partitions"] if rel not in m["partitions"])
        out.append(
            {
                "seq": m.get("seq", 0),
                "txn": m["txn"],
                "is_live": m["txn"] == live_txn,
                "n_partitions": len(m["partitions"]),
                "n_changed_partitions": changed,
                "committed_at_us": m.get("committed_at_us"),
            }
        )
    return out


def txn_as_of_timestamp(table: str, ts_us: int) -> str:
    """Resolve ``AS OF <timestamp>`` to the txn that was live then.

    Returns the highest-seq RETAINED snapshot whose commit stamp is
    <= ``ts_us`` (µs epoch). seq stays the authoritative history
    order — a skewed clock can only move a snapshot's as-of cutover
    point, never reorder commits. Raises if the timestamp predates the
    retained history (vacuum trims the log — same loud-failure posture
    as snapshot_diff) or the table predates commit stamps.
    """
    best = None
    entries = []
    for fname in os.listdir(table):
        if fname.startswith("_MANIFEST-") and fname.endswith(".json"):
            with open(os.path.join(table, fname)) as fh:
                entries.append(json.load(fh))
    entries.sort(key=lambda m: m.get("seq", 0))
    for m in entries:
        if m.get("committed_at_us") is not None and (
            m["committed_at_us"] <= ts_us
        ):
            best = m
    if best is None:
        raise ValueError(
            f"no retained snapshot of {table!r} at or before ts_us="
            f"{ts_us} (history vacuumed, or table predates commit "
            "stamps)"
        )
    return best["txn"]


def export_file_manifest(
    table: str, out_path: str | None = None, as_of: str | None = None
) -> str:
    """Export the snapshot's data files as a plain text manifest (one
    absolute parquet path per line) — the symlink-manifest interop
    pattern (Delta's ``GENERATE symlink_format_manifest`` / Hive
    SymlinkTextInputFormat): an external engine with no knowledge of
    ``_MANIFEST.json`` reads EXACTLY this snapshot by globbing nothing
    and listing nothing, just opening the listed files.

    The export pins the resolved txn= version dirs, so later commits
    never change what a consumer of this manifest reads (snapshot
    isolation for external readers); ``vacuum`` is what eventually
    invalidates old exports, same as old manifests. Partition columns
    are Hive-encoded in the paths — readers opt into
    ``hive_partitioning`` and drop the internal ``txn`` dir column.

    Atomic: written to a temp file then os.replace'd. Returns the
    manifest path (default ``_SYMLINK-<txn>.txt`` in the table root).
    """
    manifest = _manifest_as_of(table, as_of)
    if _delete_entries(manifest):
        raise ValueError(
            f"export_file_manifest: {table} has pending merge-on-read "
            "deletes; an external reader of the raw files would resurrect "
            "logically-deleted rows — run materialize_deletes first"
        )
    txn = manifest["txn"]
    files = []
    for rel, part_txn in sorted(manifest["partitions"].items()):
        vdir = os.path.join(table, rel, f"{TXN_COL_PREFIX}{part_txn}")
        names = sorted(
            n for n in os.listdir(vdir)
            if n.endswith(".parquet") and not n.startswith((".", "_"))
        )
        if not names:
            raise FileNotFoundError(f"no data files under {vdir}")
        files.extend(os.path.abspath(os.path.join(vdir, n)) for n in names)
    dest = out_path or os.path.join(table, f"_SYMLINK-{txn}.txt")
    tmp = dest + ".tmp"
    with open(tmp, "w") as fh:
        fh.write("\n".join(files) + "\n")
    os.replace(tmp, dest)
    return dest


def restore_table(table: str, to_txn: str) -> str:
    """``RESTORE TABLE ... TO VERSION`` (Delta analog): publish a NEW
    transaction whose partition map is the retained snapshot
    ``to_txn``'s — a metadata-only, zero-copy rollback. The bad commits
    stay in the retained log (the restore is itself just another
    commit, so history is append-only and the restore is auditable and
    itself revertible); their data versions become vacuumable once no
    retained manifest references them.

    Forward-pointing restore semantics: stats, blooms, and constraints
    travel with the restored partition map (they describe that data).
    Requires ``to_txn`` to still be retained (not vacuumed) — raises
    FileNotFoundError otherwise. Publication runs through the
    optimistic-concurrency check-and-swap like every other commit.
    Returns the new txn id.
    """
    with open(os.path.join(table, f"_MANIFEST-{to_txn}.json")) as fh:
        target = json.load(fh)
    live = read_manifest(table)
    if live.get("txn") == to_txn:
        return to_txn  # restoring to the live snapshot is a no-op
    new_txn = uuid.uuid4().hex[:12]
    manifest = {
        # base for the OCC check: the live txn this restore read
        "txn": live.get("txn"),
        "seq": live.get("seq", 0),
        "partitions": dict(target["partitions"]),
        "stats": dict(target.get("stats", {})),
        "bloom": dict(target.get("bloom", {})),
        "constraints": dict(target.get("constraints", {})),
        # the restored logical view includes that snapshot's pending
        # merge-on-read deletes (their key files are retained with it)
        "deletes": [dict(e) for e in _delete_entries(target)],
        "restored_from": to_txn,
    }
    _publish(table, manifest, new_txn)
    return new_txn


def suggest_constraints(table: str) -> dict[str, str]:
    """Propose CHECK constraints the current data provably satisfies —
    the stats-to-governance bridge: ``analyze_table``'s null counts
    yield NOT NULL rules, the commit-time partition [min, max] stats
    yield numeric range rules. The caller reviews and feeds accepted
    rules to :func:`add_constraint` (which independently re-verifies
    table-wide before publishing, so a stale suggestion can refuse but
    never corrupt).

    Requires FRESH ``analyze_table`` stats (raises otherwise — a
    suggestion from stale null counts could propose a rule today's
    data violates); range rules read the partition stats, which are
    written by the committing transaction itself and therefore always
    describe the live versions. Returns {rule_name: sql_expr}.
    """
    stats = table_stats(table)
    if stats is None:
        raise ValueError(
            f"suggest_constraints: no fresh analyze_table stats for {table}"
        )
    manifest = read_manifest(table)
    out: dict[str, str] = {}
    for col, cs in sorted(stats["columns"].items()):
        if cs["nulls"] == 0:
            out[f"{col}_not_null"] = f"{col} IS NOT NULL"
    # global numeric ranges from the per-partition commit stats
    ranges: dict[str, list] = {}
    for rel_stats in manifest.get("stats", {}).values():
        for col, mm in rel_stats.items():
            if not (isinstance(mm, (list, tuple)) and len(mm) == 2):
                continue
            lo, hi = mm
            if not all(
                isinstance(v, (int, float)) and not isinstance(v, bool)
                for v in (lo, hi)
            ):
                continue
            cur = ranges.get(col)
            if cur is None:
                ranges[col] = [lo, hi]
            else:
                cur[0] = min(cur[0], lo)
                cur[1] = max(cur[1], hi)
    for col, (lo, hi) in sorted(ranges.items()):
        if col in stats["columns"] and stats["columns"][col]["nulls"] == 0:
            out[f"{col}_range"] = f"{col} >= {lo!r} AND {col} <= {hi!r}"
        else:
            # nullable columns: range must not reject the nulls
            out[f"{col}_range"] = (
                f"{col} IS NULL OR ({col} >= {lo!r} AND {col} <= {hi!r})"
            )
    return out


def copy_into(
    spark: SparkSession,
    table: str,
    src_files: list[str],
    fmt: str = "parquet",
) -> dict:
    """Idempotent external-file ingest — the COPY INTO surface: land a
    set of already-written files into the versioned table EXACTLY ONCE,
    no matter how often the loader re-runs with overlapping file lists
    (the standard recovery posture for drop-folder / export-bucket
    feeds).

    The manifest carries a ``copy_history`` set of absolute source
    paths; files already in it are skipped, the remainder are read,
    staged, and published as ONE transaction (``ingest=<txn>``
    partition) that updates history, partitions, and stats in the same
    atomic manifest swap — a crash before the swap publishes neither
    rows nor history, so the retry re-lands the same files cleanly.
    Idempotence is PATH-derived: a re-exported file with new content
    under the same path is deliberately not re-ingested (that's an
    update feed — route it through ``merge_upsert`` instead).

    At scale the ingest cost is one scan of only the NEW files; the
    history check is driver-side set membership against manifest
    metadata (bounded by files-ever-ingested — the same order as the
    file listing any loader must hold anyway).

    Returns {"files_added": n, "files_skipped": m, "txn": txn or None}.
    """
    paths = [os.path.abspath(p) for p in src_files]
    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        raise FileNotFoundError(f"copy_into: missing source files {missing}")
    manifest = read_manifest(table)
    history = set(manifest.get("copy_history", []))
    new_files = [p for p in paths if p not in history]
    if not new_files:
        return {
            "files_added": 0,
            "files_skipped": len(paths),
            "txn": manifest.get("txn"),
        }
    df = spark.read.format(fmt).load(new_files)
    _enforce_constraints(df, manifest, f"copy_into({len(new_files)} files)")
    txn_id = uuid.uuid4().hex[:12]
    staging = os.path.join(table, f".txn-staging-{txn_id}")
    df.write.mode("overwrite").parquet(staging)
    rel = f"ingest={txn_id}"
    dst = os.path.join(table, rel, f"{TXN_COL_PREFIX}{txn_id}")
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.rename(staging, dst)
    manifest["partitions"][rel] = txn_id
    _invalidate_bloom(manifest, rel)
    manifest.setdefault("stats", {})[rel] = _version_stats(dst)
    manifest["copy_history"] = sorted(history | set(new_files))
    _publish(table, manifest, txn_id)
    return {
        "files_added": len(new_files),
        "files_skipped": len(paths) - len(new_files),
        "txn": txn_id,
    }

def fsck_table(table: str) -> dict:
    """FSCK — the warehouse integrity audit (r13): cross-check every
    retained manifest's file references against the filesystem, both
    directions, WITHOUT touching anything (vacuum collects; fsck only
    diagnoses — run it before trusting a restored/copied table, after
    an operator mishap, or as the scheduled invariant check a lakehouse
    deployment runs nightly).

    Reports, all as relative paths:

    - ``missing``: (txn-dir, manifest-txn) pairs a RETAINED manifest
      references but the filesystem lacks (or which contain no parquet
      part) — a snapshot that would fail mid-scan; unrecoverable by
      definition (the data is gone), so surfacing it loudly is the
      whole job. Equality-delete directories referenced by retained
      manifests are checked the same way (a missing delete dir would
      silently RESURRECT deleted rows — worse than failing).
    - ``orphaned``: txn= version dirs on disk no manifest references —
      crashed writes and stale snapshots; exactly vacuum's collection
      set, reported instead of removed.
    - ``staging_leftovers``: crashed ``.txn-staging-*`` roots.

    Driver-side metadata walk only (the vacuum posture): cost is the
    partition-directory count, never data bytes. Returns a dict with
    the three lists, ``n_manifests`` checked, and ``ok`` (no missing
    references — orphans are garbage, not corruption)."""
    manifests = []
    live = read_manifest(table)
    if live.get("txn") is not None:
        manifests.append(live)
    for entry in sorted(os.listdir(table)):
        if entry.startswith("_MANIFEST-") and entry.endswith(".json"):
            with open(os.path.join(table, entry)) as fh:
                m = json.load(fh)
            if m["txn"] != live.get("txn"):
                manifests.append(m)
    referenced = set()
    missing = []
    for m in manifests:
        refs = [
            os.path.join(rel, f"{TXN_COL_PREFIX}{txn}")
            for rel, txn in m["partitions"].items()
        ]
        refs += [
            os.path.join("_deletes", f"{TXN_COL_PREFIX}{e['txn']}")
            for e in _delete_entries(m)
        ]
        for ref in refs:
            referenced.add(ref)
            path = os.path.join(table, ref)
            has_part = os.path.isdir(path) and any(
                f.endswith(".parquet") for f in os.listdir(path)
            )
            if not has_part:
                missing.append({"path": ref, "txn": m["txn"]})
    orphaned = []
    for dirpath, dirnames, _ in os.walk(table):
        for entry in list(dirnames):
            if not entry.startswith(TXN_COL_PREFIX):
                continue
            dirnames.remove(entry)  # never descend into version dirs
            rel = os.path.relpath(dirpath, table)
            ref = os.path.join(rel, entry)
            if ref not in referenced:
                orphaned.append(ref)
    staging = [
        e for e in sorted(os.listdir(table)) if e.startswith(".txn-staging-")
    ]
    return {
        "ok": not missing,
        "n_manifests": len(manifests),
        "missing": missing,
        "orphaned": sorted(orphaned),
        "staging_leftovers": staging,
    }
