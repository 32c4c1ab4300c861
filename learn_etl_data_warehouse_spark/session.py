"""SparkSession factory.

The reference runs everything eagerly in a single pandas process
(``server.py:26-130``). Here the session is the engine entry point; the
defaults below are chosen for correctness-at-scale:

- AQE on (runtime join-strategy selection, skew-join splitting, partition
  coalescing) — replaces the reference's hand-rolled table-per-partition
  pruning (``server.py:125-130``).
- Arrow enabled for the pandas interchange boundary (ingest shims, pandas
  UDF twins).
- UTC session timezone so timestamp semantics are stable across driver,
  executors, and the DuckDB oracle.
- shuffle partition count left to AQE coalescing on top of an explicit
  initial value sized for the local test harness; on a real cluster this
  should be ~2-3x total cores (set via ``extra_conf``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Runtime bloom-filter join pruning is deliberately LEFT OFF here:
    # measured A/B on the bench corpus showed the filter build over the
    # large exploded side of the dedup joins costs 2-5x (9-18s vs 3.6s
    # for d02) while the star joins gained nothing at this scale. On a
    # real cluster with selective dim predicates over a 100 TB fact,
    # enable it via extra_conf — that is the workload it exists for.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # r13 optimization round: prefer shuffled-hash over sort-merge when
    # the planner's size conditions are met, and let AQE rewrite
    # SMJ→SHJ at runtime when every post-shuffle partition fits under
    # 256 MB (guide §3.1/§9). Join results are strategy-independent;
    # the win is skipping both sides' sorts. Driver-verified (PERF_r13,
    # cold JVM, matched calibration 0.806→0.799): ivm01 1.21×, d10
    # 1.24×, t30 1.26×, plus the broad mid-size improvement cluster
    # (st05/st06/d38/d34/s15/d02/sk01/fc05, 1.12-1.32×). The r13
    # session comment's larger claims (g02 "15.3→8.3" etc.) were
    # slow-host-window A/Bs with no calibration — superseded. The
    # quadratic-fan-out self-joins SHJ *hurts* (g02/g08/g09 regressed
    # 11-15% on the driver) carry per-join sort-merge pins at the
    # kernel instead (cooccurrence_edges, common_neighbor_scores,
    # q_g08 — the r14 adjudication), which is guide §3.1's "pick per
    # join" posture. 100 TB note: the STATIC planner's SHJ pick trusts
    # size estimates (side < shuffle.partitions × broadcast threshold,
    # ~2 GB here, and 3× smaller than the other side); a mis-estimated
    # derived frame can pick a build side that OOMs where SMJ would
    # spill. SCALE.md §"join strategy" has the arithmetic; on
    # memory-starved executors flip preferSortMergeJoin back via
    # extra_conf (runtime-settable, regression-tested in
    # tests/test_scale_patterns.py::test_prefer_sort_merge_join_flip).
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(
        256 * 1024 * 1024
    ),
    "spark.sql.shuffle.partitions": "32",
    # Generated-code cache sized to the query surface (Spark's default
    # is 100 classes). Counted with CodegenMetrics on a 4-core, 15 GB
    # host: perfbench's nine analytics queries generate ~330 classes,
    # so at 100 entries every warm pass recompiled 241-301 of them
    # (6 ms median each, ~2 s of a ~10 s pass); at 4096 the passes
    # compile 290, 36, 2, then none. bench.py's 73 headline queries need
    # 1,453 distinct classes at sf0.001 and compiled 1,818-1,833 per
    # pass at 100 entries. A cached class costs ~40 KB (1,453 classes:
    # +13 MB metaspace, +45 MB heap after full GC), so the cap bounds
    # the cache near 160 MB. Static conf: read once, when the JVM's
    # first codegen builds the cache.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # No per-call origin capture. With DataFrame debugging on (PySpark's
    # default), every DataFrame/Column method call also fetches the
    # active session, reads spark.sql.stackTracesInDataFrameContext,
    # walks the Python stack and sets and clears the JVM-side
    # PySparkCurrentOrigin: `df.withColumn("x", F.col("id") + 1)` costs
    # 25 py4j round trips with it and 5 without. Counted as
    # scripts/build_cost.py counts, with it and without: building
    # `clean_fact(read_sharded_fact(...))` 1,053 and 373 commands, one
    # numeric dashboard histogram 628 and 198, perfbench's nine analytics
    # queries 7,958 and 3,278 (sf0.01), all 363 driver queries 687,180
    # and 343,310 (sf0.001, 139 s and 119 s of build on a 4-core host).
    # What is lost: Spark error messages no longer carry the "DataFrame
    # query context", the Python file:line of the call that built the
    # failing expression. To get it back, pass
    # {"spark.python.sql.dataFrameDebugging.enabled": "true"} as
    # extra_conf. PySpark reads this conf once per Python process, from
    # the first active session, and caches it (errors/utils.py
    # `_enable_debugging_cache`), so the first session of a process
    # decides for every later one.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "learn_etl_data_warehouse_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``)
    so the same code runs unchanged under a cluster manager where ``master``
    is injected by spark-submit. A ``SPARK_GRAFT_CPUS`` that is neither a
    positive integer nor ``*`` raises ``ValueError`` before any session is
    built.
    """
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        cpus = os.environ["SPARK_GRAFT_CPUS"]
        if cpus != "*" and not (cpus.isdigit() and int(cpus) > 0):
            raise ValueError(
                f"SPARK_GRAFT_CPUS must be a positive integer or '*', got {cpus!r}"
            )
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
