"""Manifest-versioned warehouse — cross-partition SNAPSHOT ISOLATION
without Delta/Iceberg jars (they're absent in this image; this is the
same core idea at directory grain).

``atomic_replace_warehouse`` (sharded_etl.py) swaps partition dirs in
place: each partition is atomic, but a reader racing a multi-partition
commit can see shard 3 new while shard 5 is still old. This module adds
the missing property — a reader always sees ONE complete transaction's
view of the whole table:

- partition data is written ADDITIVELY under versioned subdirectories
  ``<table>/<key>=<value>/txn=<id>/part*.parquet`` (never mutated,
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

from .sharded_etl import SHARD_COL

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
    must call this."""
    manifest.get("bloom", {}).pop(rel, None)


def _manifest_path(table: str) -> str:
    return os.path.join(table, MANIFEST)


def read_manifest(table: str) -> dict:
    try:
        with open(_manifest_path(table)) as fh:
            return json.load(fh)
    except OSError:
        return {"txn": None, "partitions": {}}


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
    subtraction and reads the RAW data files
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
        # path).
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
            f" ({sorted('/'.join(s) for s in schemes)}) — keyed mutations"
            " need one scheme"
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
    the per-read anti-joins, and re-enables raw-file reads. Returns the
    txn id, or None when no
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


class ConstraintViolation(RuntimeError):
    """Data offered for commit violates a table CHECK constraint.
    Nothing was published."""


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
    checks that ride the write itself. If it raises, the
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
    for time travel).

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
    retained history (vacuum trims the log) or the table predates
    commit stamps.
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
