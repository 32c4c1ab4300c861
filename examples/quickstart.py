"""Runnable tour of the warehouse layer: commit → query with SQL →
mutate → time-travel → history → vacuum.

    python examples/quickstart.py [work_dir]

Uses the sf0.001 events fixture; everything lands under work_dir
(default: a temp dir). Each step prints what it proved. The catalog
still reads back afterwards: the per-table DELETE and vacuum run on a
standalone table, because moving a catalog member's live manifest outside
``catalog_commit`` would strand the version the catalog publishes.
"""
import os
import sys
import tempfile

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import functions as F

from learn_etl_data_warehouse_spark.plans import catalog as cat
from learn_etl_data_warehouse_spark.plans import manifest_warehouse as mw
from learn_etl_data_warehouse_spark.session import get_spark
from learn_etl_data_warehouse_spark.sources.parquet import load_table


def main(work_dir: str) -> None:
    spark = get_spark(master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    cdir = os.path.join(work_dir, "warehouse")

    # 1. one ATOMIC multi-table commit: fact + its hourly rollup
    hourly = events.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    t1 = cat.catalog_commit(
        cdir,
        {
            "events": (events.withColumn("etype", F.col("event_type")), ["etype"]),
            "hourly": (hourly, ["event_type"]),
        },
    )
    print(f"1. committed events+hourly atomically as catalog txn {t1}")

    # 2. plain SQL over the governed snapshot
    pinned = cat.register_catalog_views(spark, cdir)
    n = spark.sql(
        """SELECT e.event_type, count(*) AS n
           FROM events e JOIN hourly h ON e.event_type = h.event_type
           GROUP BY 1 ORDER BY 1"""
    ).count()
    print(f"2. spark.sql over views pinned to {pinned}: {n} joined groups")

    # 3. transactional DELETE + time travel back to the pre-delete state,
    # on a standalone table committed as one batch
    etable = os.path.join(work_dir, "events_log")
    os.makedirs(etable, exist_ok=True)
    mw.manifest_stream_sink(etable)(events, 0)
    before = mw.read_snapshot(spark, etable).count()
    pre_delete = mw.read_manifest(etable)["txn"]
    mw.delete_where(spark, etable, "event_type = 'error'")
    after = mw.read_snapshot(spark, etable).count()
    old = mw.read_snapshot(spark, etable, as_of=pre_delete).count()
    print(f"3. DELETE errors: {before}→{after} rows; as_of reads {old}")

    # 4. history + vacuum
    hist = mw.table_history(etable)
    print(f"4. history: {[(h['seq'], h['n_changed_partitions']) for h in hist]}")
    removed = mw.vacuum(etable)
    print(f"   vacuum reclaimed {removed} superseded version dirs")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp())
