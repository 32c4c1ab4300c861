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
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_MANIFEST.json"
TXN_COL_PREFIX = "txn="


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


@contextmanager
def _commit_lock(table: str, timeout: float = 10.0, stale: float = 120.0):
    """Filesystem mutex around the check-and-swap: ``os.mkdir`` is atomic
    on one filesystem, which is the deployment this layer targets (like
    Delta, which needs an external lock service — DynamoDB — on S3; the
    same slot-in applies here). A crashed committer's lock goes stale
    and is stolen after ``stale`` seconds of inactivity."""
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
        # wall-clock commit stamp (µs), reported by table_history; seq
        # stays the authoritative ORDER (clock skew can't reorder history)
        manifest["committed_at_us"] = time.time_ns() // 1000
        with open(os.path.join(table, f"_MANIFEST-{txn_id}.json"), "w") as fh:
            json.dump(manifest, fh)
        tmp = _manifest_path(table) + f".tmp-{txn_id}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, _manifest_path(table))


def read_snapshot(
    spark: SparkSession, table: str, as_of: str | None = None
) -> DataFrame:
    """Load the table AS OF the current manifest — or a historical one
    (``as_of=<txn id>``, time travel: any retained txn manifest whose
    data hasn't been vacuumed). Explicit versioned paths (so uncommitted
    txn dirs are invisible), ``basePath`` derives the Hive partition
    columns, and the snapshot stays stable even if a writer commits
    mid-query — the resolved paths don't change."""
    if as_of is not None:
        with open(os.path.join(table, f"_MANIFEST-{as_of}.json")) as fh:
            manifest = json.load(fh)
    else:
        manifest = read_manifest(table)
    paths = [
        os.path.join(table, rel, f"{TXN_COL_PREFIX}{txn}")
        for rel, txn in sorted(manifest["partitions"].items())
    ]
    if not paths:
        raise FileNotFoundError(f"no committed snapshot at {table}")
    return spark.read.option("basePath", table).parquet(*paths).drop("txn")


def _leaf_partitions(root: str):
    """Relative ``key=value[/key=value...]`` dirs under ``root`` that
    directly hold parquet files, at any ``partitionBy`` depth."""
    for dirpath, dirnames, filenames in os.walk(root):
        if any(f.endswith(".parquet") for f in filenames):
            rel = os.path.relpath(dirpath, root)
            if rel != "." and all(
                "=" in seg for seg in rel.split(os.sep)
            ):
                yield rel


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
    """Tail of DELETE: land ``new_rows`` (the affected partitions'
    complete replacement content) under ``txn=<id>`` version dirs and
    drop affected partitions that came back empty. ONE Spark write job
    regardless of partition count; the caller publishes. Untouched
    partitions keep their current version — at 100 TB a DELETE rewrites
    only the partitions holding matches, never the table."""
    staging = os.path.join(table, f".txn-staging-{txn_id}")
    new_rows.write.partitionBy(*part_cols).mode("overwrite").parquet(staging)
    written = set(_leaf_partitions(staging))
    for rel in sorted(written):
        src = os.path.join(staging, rel)
        dst = os.path.join(table, rel, f"{TXN_COL_PREFIX}{txn_id}")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
        manifest["partitions"][rel] = txn_id
    for rel in affected - written:  # every row deleted / moved away
        manifest["partitions"].pop(rel, None)
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


def manifest_stream_sink(table: str):
    """``foreachBatch`` function committing each micro-batch as ONE
    manifest transaction under its own ``batch_id=N`` partition —
    end-to-end exactly-once into the versioned warehouse: a replayed
    batch re-maps ``batch_id=N`` to a fresh txn (same content, old
    version becomes vacuumable garbage) instead of appending a
    duplicate, and the atomic manifest swap means a reader sees each
    batch entirely or not at all. Combines an idempotent-by-batch-id
    layout with snapshot isolation."""

    def commit_batch(df, batch_id: int) -> None:
        manifest = read_manifest(table)
        rel = f"batch_id={batch_id}"
        txn_id = f"b{batch_id}-{uuid.uuid4().hex[:8]}"
        staging = os.path.join(table, f".txn-staging-{txn_id}")
        df.write.mode("overwrite").parquet(staging)
        dst = os.path.join(table, rel, f"{TXN_COL_PREFIX}{txn_id}")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(staging, dst)
        manifest["partitions"][rel] = txn_id
        _publish(table, manifest, txn_id)

    return commit_batch


def vacuum(table: str, keep_last: int = 1) -> int:
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
    only the live snapshot."""
    manifest = read_manifest(table)
    history = [manifest]
    if keep_last > 1:
        older = []
        for entry in os.listdir(table):
            if entry.startswith("_MANIFEST-") and entry.endswith(".json"):
                with open(os.path.join(table, entry)) as fh:
                    m = json.load(fh)
                if m["txn"] != manifest["txn"]:
                    older.append(m)
        older.sort(key=lambda m: int(m.get("seq", 0)), reverse=True)
        history += older[: keep_last - 1]
    retained_txns = {m["txn"] for m in history}
    live = {
        os.path.join(rel, f"{TXN_COL_PREFIX}{txn}")
        for m in history
        for rel, txn in m["partitions"].items()
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
      whole job.
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
        for rel, txn in m["partitions"].items():
            ref = os.path.join(rel, f"{TXN_COL_PREFIX}{txn}")
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
