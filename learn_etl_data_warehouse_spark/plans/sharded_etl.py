"""Per-shard parallel ojol ETL — reference EP1 (server.py:26-56) at
fleet scale.

The reference ingests ONE Excel workbook per run. A real deployment
lands one raw export per city/day shard; at 100 TB the ingest must be a
single job over the whole landing zone, not a per-file loop. Everything
here leans on machinery Spark already parallelizes:

- the landing zone is a Hive-layout directory (``_shard=<k>/part*.csv``)
  so shard identity is a DISCOVERED PARTITION COLUMN — no per-row
  parsing, and shard filters prune at the file listing, before any read;
- one multi-file CSV scan reads every shard concurrently (one task per
  split — 10k shard files parallelize for free);
- the cleaning layer (:func:`..warehouse.clean_fact`) is narrow, so the
  whole extract+clean pipeline is a single shuffle-free stage;
- the warehouse write partitions by (shard, quarter); a late shard
  re-export rewrites only the arriving shard's directories (the
  reference's ``if_exists='replace'`` scoped to one shard instead of the
  whole table), staged and then rename-committed.
"""

from __future__ import annotations

import csv
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .warehouse import clean_fact

SHARD_COL = "_shard"
TABLE_NAME = "fact_by_shard_quarter"


def write_sharded_exports(
    raw: DataFrame, out_dir: str, n_shards: int = 8, id_col: str = "id"
) -> None:
    """Land a raw all-string fact as per-shard ``;``-dialect CSV exports
    (Hive layout: ``out_dir/_shard=<k>/part*.csv``). Shard = hash of the
    business id — deterministic, so re-exports land in the same shard.
    (Test/synthetic-scale utility; production shards arrive pre-split.)
    """
    shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).cast("int")
    (
        raw.withColumn(SHARD_COL, shard)
        .repartition(F.col(SHARD_COL))
        .write.mode("overwrite")
        .partitionBy(SHARD_COL)
        .csv(out_dir, sep=";", header=True)
    )


def _hidden(name: str) -> bool:
    """Spark's file listing skips these names (``_SUCCESS``, ``.crc``
    files), but keeps ``_shard=k`` partition directories."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _landing_header(landing_dir: str) -> list[str]:
    """Column names from the header line of the first non-empty landing
    CSV, read on the driver."""
    for root, dirs, files in os.walk(landing_dir):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        for name in sorted(files):
            path = os.path.join(root, name)
            if _hidden(name) or os.path.getsize(path) == 0:
                continue
            with open(path, newline="", encoding="utf-8") as fh:
                return next(csv.reader(fh, delimiter=";"))
    raise FileNotFoundError(f"no non-empty landing CSV under {landing_dir}")


def read_sharded_fact(spark: SparkSession, landing_dir: str) -> DataFrame:
    """One scan over every shard in the landing zone. All columns arrive
    as string (explicit typing only — SURVEY §1.2); ``_shard`` comes back
    as a discovered partition column, so ``filter(_shard = k)`` prunes
    files before any bytes are read.

    The column names come from one file's header, read on the driver, so
    planning the scan runs no Spark job. ``enforceSchema=False`` makes the
    scan check every shard file's header against them: a shard whose
    header names other columns, or the same ones in another order, fails
    the read instead of loading its values under the wrong names."""
    schema = StructType(
        [StructField(c, StringType()) for c in _landing_header(landing_dir)]
    )
    return spark.read.csv(
        landing_dir, sep=";", header=True, schema=schema, enforceSchema=False
    ).withColumn(SHARD_COL, F.col(SHARD_COL).cast("int"))


# ---------------------------------------------------------------------------
# Atomic replace (r4): staging write + rename commit
# ---------------------------------------------------------------------------
#
# The reference's ``if_exists='replace'`` (server.py:115-130) drops and
# recreates the whole table inside one sqlite transaction — crash-safe by
# the database's WAL. A plain dynamic partition overwrite would mirror the
# *scoping* (only arriving shards rewrite) but not the *atomicity*: a job
# that dies mid-write leaves torn partition directories that a concurrent
# reader can see.
#
# The jar-free fix is the classic staging+rename protocol (what
# Delta/Iceberg do with manifests, collapsed to directory grain):
#
#   1. STAGE  — the job writes its full output to ``.staging-<txn>`` next
#      to the table, and the driver drops a tiny ``_TXN`` marker file
#      (content = txn id) into every staged partition directory. A crash
#      here leaves the live table byte-untouched; the orphaned staging
#      dir is garbage, never data.
#   2. COMMIT — each staged ``_shard=k/quarter=q`` directory swaps with
#      the live one via ``renameat2(..., RENAME_EXCHANGE)`` — a single
#      atomic syscall, so a reader NEVER sees the partition absent or
#      torn — then the displaced old directory (now sitting at the
#      staging path) moves to trash. Where the filesystem lacks
#      RENAME_EXCHANGE the swap degrades to two plain renames (old
#      aside, new in), which narrows atomicity to "old or new or briefly
#      absent, never torn".
#
# The ``_TXN`` marker makes recovery idempotent: re-running the commit
# after a crash exchanges exactly the partitions whose staged copy still
# carries THIS transaction's marker; a staged path whose marker is
# missing or stale is the displaced old data of an already-completed
# exchange and goes to trash. (``_``-prefixed files are invisible to
# Spark/Hadoop readers, so markers never pollute query results.)
#
# Atomicity grain is one (shard, quarter) partition — a reader racing a
# multi-partition commit can see shard 3 new and shard 5 old, each
# internally consistent. A full load (``commit_staged(full=True)``) is
# two renames: the live table moves aside to trash, then staging moves
# in. A reader never sees a mix of old and new, but a reader that lists
# the table between the two renames finds NO table at all. Cross-partition
# snapshot isolation without that window needs a manifest layer
# (plans/manifest_warehouse.py; the design is in SCALE.md).


def stage_sharded_warehouse(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    shards: list[int] | None = None,
    txn_id: str | None = None,
) -> tuple[DataFrame, str]:
    """STAGE step: run extract+clean and land the output in a
    transaction-private staging directory. Returns (cleaned, staging_dir);
    nothing under the live table is touched."""
    txn_id = txn_id or uuid.uuid4().hex[:12]
    staging = os.path.join(out_dir, f".staging-{txn_id}")
    raw = read_sharded_fact(spark, landing_dir)
    if shards is not None:
        raw = raw.filter(F.col(SHARD_COL).isin(shards))
    cleaned = clean_fact(raw)
    cleaned.write.partitionBy(SHARD_COL, "quarter").mode("overwrite").parquet(
        staging
    )
    # commit-protocol markers: one tiny driver-side file per partition
    # (content = txn id) so a crashed commit can tell "still to swap"
    # from "already-swapped old data" — see the protocol note above.
    for rel in _staged_partitions(staging):
        with open(os.path.join(staging, rel, "_TXN"), "w") as fh:
            fh.write(txn_id)
    return cleaned, staging


def _staged_partitions(staging: str):
    """Relative ``_shard=k/quarter=q`` paths present in a staging dir."""
    if not os.path.isdir(staging):
        return
    for shard_dir in sorted(os.listdir(staging)):
        if not shard_dir.startswith(f"{SHARD_COL}="):
            continue
        for q_dir in sorted(os.listdir(os.path.join(staging, shard_dir))):
            if q_dir.startswith("quarter="):
                yield os.path.join(shard_dir, q_dir)


def _exchange_dirs(src: str, dst: str) -> bool:
    """Atomically SWAP two directories via Linux ``renameat2`` with
    ``RENAME_EXCHANGE`` (atomic on local fs; ext4/xfs/btrfs all support
    it). Returns False when the syscall or filesystem doesn't support the
    exchange — callers then fall back to the two-rename path."""
    try:
        import ctypes

        libc = ctypes.CDLL(None, use_errno=True)
        AT_FDCWD = -100
        RENAME_EXCHANGE = 2
        rc = libc.renameat2(
            AT_FDCWD, os.fsencode(src), AT_FDCWD, os.fsencode(dst), RENAME_EXCHANGE
        )
        return rc == 0
    except Exception:
        return False


def _txn_of(part_dir: str) -> str | None:
    try:
        with open(os.path.join(part_dir, "_TXN")) as fh:
            return fh.read().strip()
    except OSError:
        return None


def commit_staged(out_dir: str, staging: str, full: bool = False) -> None:
    """COMMIT step: atomically swap staged partitions into the live table.

    ``full=True`` replaces the entire table — the reference's
    whole-table replace — with two renames: the old table aside, then
    staging in. Between them the table path does not exist.
    Otherwise each staged (shard, quarter) directory swaps independently
    via RENAME_EXCHANGE (reader never sees it absent or torn). Idempotent:
    re-run after a crash to finish the commit — the ``_TXN`` markers
    distinguish not-yet-swapped partitions from already-displaced old
    data."""
    table = os.path.join(out_dir, TABLE_NAME)
    trash = staging + ".trash"
    txn_id = os.path.basename(staging).removeprefix(".staging-")
    if full:
        if os.path.exists(table):
            os.rename(table, trash)
        os.rename(staging, table)
        shutil.rmtree(trash, ignore_errors=True)
        return
    os.makedirs(table, exist_ok=True)
    for rel in _staged_partitions(staging):
        src = os.path.join(staging, rel)
        dst = os.path.join(table, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        if not os.path.exists(dst):
            os.rename(src, dst)  # brand-new partition: one atomic rename
            continue
        if _txn_of(src) == txn_id:
            # still carries this txn's marker -> the swap hasn't happened
            if not _exchange_dirs(src, dst):
                # fallback (no RENAME_EXCHANGE): old aside, new in —
                # atomic per rename, briefly absent between the two
                aside = os.path.join(trash, rel)
                os.makedirs(os.path.dirname(aside), exist_ok=True)
                os.rename(dst, aside)
                os.rename(src, dst)
                continue
        # src now holds the displaced OLD data (marker stale/missing):
        # move it to trash; dst is live with this txn's data
        aside = os.path.join(trash, rel)
        os.makedirs(os.path.dirname(aside), exist_ok=True)
        os.rename(src, aside)
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(trash, ignore_errors=True)


def atomic_replace_warehouse(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    shards: list[int] | None = None,
) -> DataFrame:
    """Extract + clean every (or selected) shard(s) and publish the
    fact partitioned by (shard, quarter): stage, then rename-commit.
    ``shards`` scopes a backfill that rewrites only those shards'
    partitions; ``None`` is a full load. A failure before the commit
    leaves the previous table fully readable."""
    cleaned, staging = stage_sharded_warehouse(spark, landing_dir, out_dir, shards)
    commit_staged(out_dir, staging, full=shards is None)
    return cleaned
