"""Catalog-level MULTI-TABLE transactions over the manifest warehouse.

``manifest_warehouse`` gives one table snapshot isolation: a single
``_MANIFEST.json`` swap flips every partition of that table at once. But
a warehouse is rarely one table — a fact and its derived rollup, a
corpus and its dedup index, must move TOGETHER or a reader can join
yesterday's rollup against today's fact. Neither Delta nor Iceberg core
offers a multi-table transaction; the same manifest trick simply lifts
one level:

- each table's new state is STAGED publication-inertly: data lands under
  ``txn=<id>`` version dirs (invisible until referenced) and the new
  per-table manifest is written only as the retained
  ``_MANIFEST-<txn>.json`` copy — the table's live ``_MANIFEST.json`` is
  not touched yet;
- ``_CATALOG.json`` at the catalog root maps table name → the table txn
  that is its published snapshot. Commit = ``os.replace`` of the catalog
  file: ONE atomic swap flips every member table simultaneously;
- catalog readers resolve name → table txn → that txn's retained
  manifest (``read_snapshot(as_of=...)``) — they never look at live
  per-table manifests, so a half-finished multi-table write is
  invisible by construction;
- after the catalog swap the live per-table manifests are flipped too
  (convergence for single-table tools). A crash in that window leaves
  live manifests stale — :func:`repair_catalog_tables` re-flips them
  idempotently.

Crash story: die while staging → catalog untouched, every orphan is
unreferenced garbage. Die during the catalog swap → ``os.replace`` is
atomic: old catalog or new catalog, never torn. Die after → repair
converges the live manifests; readers were correct throughout.

At 100 TB the catalog file is O(#tables) — trivially small; all data
movement stays in the per-table staged writes, fully parallel.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from . import manifest_warehouse as mw

CATALOG = "_CATALOG.json"


def _catalog_path(catalog_dir: str) -> str:
    return os.path.join(catalog_dir, CATALOG)


def _table_path(catalog_dir: str, name: str) -> str:
    return os.path.join(catalog_dir, name)


def read_catalog(catalog_dir: str, as_of: str | None = None) -> dict:
    """The catalog mapping ``{"txn": id, "tables": {name: table_txn}}``.
    ``as_of`` reads a retained historical catalog (time travel across
    the whole warehouse, not just one table)."""
    path = (
        os.path.join(catalog_dir, f"_CATALOG-{as_of}.json")
        if as_of is not None
        else _catalog_path(catalog_dir)
    )
    try:
        with open(path) as fh:
            return json.load(fh)
    except OSError:
        if as_of is not None:
            raise
        return {"txn": None, "tables": {}}


def catalog_read(
    spark: SparkSession,
    catalog_dir: str,
    name: str,
    as_of: str | None = None,
) -> DataFrame:
    """Load one member table at the catalog's published snapshot. All
    tables read through the same catalog version are MUTUALLY consistent
    — they were published by one commit. Pin ``as_of`` (a catalog txn)
    to hold a stable multi-table view across your own multi-query job
    even while writers keep committing."""
    cat = read_catalog(catalog_dir, as_of)
    if name not in cat["tables"]:
        raise FileNotFoundError(f"table {name!r} not in catalog {catalog_dir}")
    return mw.read_snapshot(
        spark, _table_path(catalog_dir, name), as_of=cat["tables"][name]
    )


def _stage_table(
    table: str,
    df: DataFrame,
    partition_by: list[str],
    txn_id: str,
    replace: bool,
) -> dict:
    """Stage ``df`` as table txn ``txn_id`` WITHOUT publishing: land the
    data under version dirs, return the new manifest after writing it
    only as the retained ``_MANIFEST-<txn>.json`` copy. ``replace=True``
    drops partitions not in this write (full-snapshot semantics);
    ``replace=False`` keeps them (partition-level upsert)."""
    manifest = mw.read_manifest(table)
    if not replace and manifest["partitions"]:
        rel0 = next(iter(manifest["partitions"]))
        existing = (
            []
            if rel0 == "."
            else [seg.split("=", 1)[0] for seg in rel0.split(os.sep)]
        )
        if list(partition_by) != existing:
            raise ValueError(
                f"partition_by {partition_by} does not match existing "
                f"layout {existing} for {table}"
            )
    if replace:
        manifest = {"txn": manifest["txn"], "partitions": {}}
    staging = os.path.join(table, f".txn-staging-{txn_id}")
    if partition_by:
        df.write.partitionBy(*partition_by).mode("overwrite").parquet(staging)
        rels = sorted(mw._leaf_partitions(staging))
    else:
        df.write.mode("overwrite").parquet(staging)
        rels = ["."]
    for rel in rels:
        src = staging if rel == "." else os.path.join(staging, rel)
        dst = os.path.join(table, rel, f"{mw.TXN_COL_PREFIX}{txn_id}")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
        manifest["partitions"][rel] = txn_id
    if rels != ["."]:
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
    manifest["txn"] = txn_id
    manifest["seq"] = int(manifest.get("seq", 0)) + 1  # history ordering
    manifest["committed_at_us"] = time.time_ns() // 1000  # as mw._publish
    with open(os.path.join(table, f"_MANIFEST-{txn_id}.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest


def _flip_live_manifest(table: str, manifest: dict) -> None:
    """Converge the table's live ``_MANIFEST.json`` to an
    already-published catalog state (idempotent; NOT a publication point
    for catalog readers, so it bypasses the optimistic-concurrency check
    deliberately — which also means raw ``manifest_warehouse`` mutators
    racing a catalog commit on a MEMBER table can be overwritten: like
    vacuum, mutations to member tables go through the catalog)."""
    tmp = mw._manifest_path(table) + f".tmp-{manifest['txn']}"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, mw._manifest_path(table))


def catalog_commit(
    catalog_dir: str,
    writes: dict[str, tuple[DataFrame, list[str]]],
    replace: bool = True,
) -> str:
    """Commit every table in ``writes`` (``{name: (df, partition_by)}``)
    as ONE transaction: a reader resolving through the catalog sees all
    of them flip together or none at all. Tables not written carry their
    current snapshot forward unchanged. Returns the catalog txn id."""
    if not writes:
        raise ValueError("catalog_commit needs at least one table write")
    os.makedirs(catalog_dir, exist_ok=True)
    cat = read_catalog(catalog_dir)
    cat_txn = uuid.uuid4().hex[:12]
    staged: dict[str, dict] = {}
    for name, (df, partition_by) in sorted(writes.items()):
        table = _table_path(catalog_dir, name)
        os.makedirs(table, exist_ok=True)
        table_txn = f"{cat_txn}-{name}"
        staged[name] = _stage_table(table, df, partition_by, table_txn, replace)
    new_cat = {
        "txn": cat_txn,
        "tables": {
            **cat["tables"],
            **{name: m["txn"] for name, m in staged.items()},
        },
    }
    _publish_catalog(catalog_dir, new_cat, base_txn=cat["txn"])
    # post-publication convergence of the live per-table manifests
    for name, manifest in sorted(staged.items()):
        _flip_live_manifest(_table_path(catalog_dir, name), manifest)
    return cat_txn


def _publish_catalog(catalog_dir: str, new_cat: dict, base_txn) -> None:
    """Catalog publication with the same optimistic-concurrency contract
    as table commits: the check-and-swap runs under a commit lock, and a
    catalog that moved past ``base_txn`` while this writer was staging
    raises :class:`manifest_warehouse.ConcurrentWriteError` instead of
    silently discarding the interleaved transaction. The loser's staged
    table versions are vacuumable garbage."""
    cat_txn = new_cat["txn"]
    with mw._commit_lock(catalog_dir):
        current_cat = read_catalog(catalog_dir)
        if current_cat["txn"] != base_txn:
            raise mw.ConcurrentWriteError(
                f"catalog moved {base_txn!r} → {current_cat['txn']!r} "
                f"during commit of {cat_txn!r}; retry against the new catalog"
            )
        new_cat["seq"] = int(current_cat.get("seq", 0)) + 1
        # retained copy first (catalog time travel), then THE atomic swap
        with open(
            os.path.join(catalog_dir, f"_CATALOG-{cat_txn}.json"), "w"
        ) as fh:
            json.dump(new_cat, fh)
        tmp = _catalog_path(catalog_dir) + f".tmp-{cat_txn}"
        with open(tmp, "w") as fh:
            json.dump(new_cat, fh)
        os.replace(tmp, _catalog_path(catalog_dir))


def repair_catalog_tables(catalog_dir: str) -> list[str]:
    """Re-flip live per-table manifests to match the published catalog
    (heals a crash between the catalog swap and the convergence flips).
    Idempotent; returns the repaired table names."""
    cat = read_catalog(catalog_dir)
    repaired = []
    for name, table_txn in sorted(cat["tables"].items()):
        table = _table_path(catalog_dir, name)
        if mw.read_manifest(table)["txn"] == table_txn:
            continue
        with open(os.path.join(table, f"_MANIFEST-{table_txn}.json")) as fh:
            manifest = json.load(fh)
        _flip_live_manifest(table, manifest)
        repaired.append(name)
    return repaired


def register_catalog_views(
    spark: SparkSession,
    catalog_dir: str,
    as_of: str | None = None,
) -> str:
    """Expose every member table as a Spark SQL temp view pinned to ONE
    catalog transaction, so ``spark.sql`` users query the governed
    warehouse with plain SQL — the metastore-registration step this
    manifest catalog otherwise lacks.

    The catalog is read ONCE and the resolved txn is passed to every
    ``catalog_read``, so all views belong to the same commit even if
    writers land new transactions mid-registration; and because each
    view's DataFrame resolves the manifest to an explicit file list at
    registration, later commits cannot shift an already-registered view
    (re-register to advance). Returns the pinned catalog txn — hand it
    to a second session to reproduce the exact same multi-table view.
    """
    catalog = read_catalog(catalog_dir, as_of)
    if not catalog["tables"]:
        raise FileNotFoundError(f"empty or missing catalog at {catalog_dir}")
    pinned = catalog["txn"] if as_of is None else as_of
    for name in sorted(catalog["tables"]):
        catalog_read(
            spark, catalog_dir, name, as_of=pinned
        ).createOrReplaceTempView("" + name)
    return pinned


