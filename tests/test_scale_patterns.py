"""Scale-pattern evidence: bucketed co-located joins (no shuffle) and
salted skew joins (equivalence with the plain join)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from learn_etl_data_warehouse_spark.operators.graph import (
    common_neighbor_scores,
    cooccurrence_edges,
    pagerank_fixed_point,
    personalized_pagerank,
)
from learn_etl_data_warehouse_spark.operators.skew import salted_join
from learn_etl_data_warehouse_spark.sources.parquet import load_table


def test_bucketed_join_has_no_shuffle(spark, sf_small, tmp_path):
    """bucketBy(key) on both sides → the join plan contains no shuffle
    exchange: bucket co-location replaces it (SCALE.md join strategy)."""
    # spark.sql.warehouse.dir is static per-session; bucketed tables land
    # in the default ./spark-warehouse (gitignored) and are dropped below.
    orders = load_table(spark, sf_small, "orders")
    li = load_table(spark, sf_small, "lineitem")
    (
        orders.write.mode("overwrite")
        .bucketBy(4, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("b_orders")
    )
    (
        li.write.mode("overwrite")
        .bucketBy(4, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("b_lineitem")
    )
    joined = spark.table("b_orders").join(
        spark.table("b_lineitem"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    # disable broadcast so the test exercises the co-located path
    prev_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the invariant under test is the ELIDED EXCHANGE; the join
        # algorithm on top of the co-located layout is incidental
        # (sort-merge by default, shuffled-hash since the r13
        # preferSortMergeJoin=false session default)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan, (
            "bucketed join must not shuffle"
        )
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_threshold)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_join_equals_plain_join(spark, sf_small):
    li = load_table(spark, sf_small, "lineitem")
    supplier = load_table(spark, sf_small, "supplier").withColumnRenamed(
        "s_suppkey", "l_suppkey"
    )
    plain = (
        li.join(supplier, "l_suppkey")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    salted = (
        salted_join(li, supplier, "l_suppkey", salt_buckets=8)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )
    # the salted big side actually fans the hot key across buckets —
    # even for byte-identical duplicate rows (id-based salt)
    dup_rows = li.limit(1).unionByName(li.limit(1)).unionByName(li)
    salted_keys = (
        dup_rows.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(8)),
        )
        .groupBy("l_suppkey")
        .agg(F.countDistinct("_salt").alias("n_salts"))
    )
    assert salted_keys.agg(F.min("n_salts")).collect()[0][0] >= 2


def test_lsh_probe_prunes_partitioned_index(spark, sf_small, tmp_path):
    """The ANN scale story (similarity.py::lsh_topk docstring): write the
    corpus partitioned by the LSH bucket key and the probe's IN-list
    filter must become partition pruning — only the probed buckets'
    files are read, no full scan."""
    from pyspark.sql import functions as F

    from learn_etl_data_warehouse_spark.operators import similarity
    from learn_etl_data_warehouse_spark.sources.parquet import load_table

    emb = load_table(spark, sf_small, "embeddings")
    indexed = similarity.add_lsh_buckets(emb, dim=64, n_bits=4)
    path = str(tmp_path / "emb_by_bucket")
    indexed.write.mode("overwrite").partitionBy("lsh_bucket").parquet(path)

    table = spark.read.parquet(path)
    q = [float(v) for v in emb.filter(F.col("vec_id") == 3).head()["embedding"]]
    # recompute the probe buckets exactly as lsh_topk does
    probes = []
    q_bucket = 0
    for bit in range(4):
        plane = similarity._hyperplane(64, bit)
        dot = sum(float(a) * b for a, b in zip(q, plane))
        q_bucket += (1 if dot >= 0 else 0) << bit
    probes = [q_bucket] + [q_bucket ^ (1 << b) for b in range(4)]

    probed = table.filter(F.col("lsh_bucket").isin(probes))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "lsh_bucket" in pf, plan[:500]
    # and the probe scoring over the pruned scan matches the in-memory path
    sim = F.round(
        similarity.cosine_similarity(
            F.col("embedding"), F.array(*[F.lit(v) for v in q])
        ),
        6,
    )
    got = [
        r["vec_id"]
        for r in probed.select("vec_id", sim.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(5)
        .collect()
    ]
    want = [
        r["vec_id"]
        for r in similarity.lsh_topk(emb, q, k=5, n_bits=4).collect()
    ]
    assert got == want


def test_prefer_sort_merge_join_flip(spark, sf_small):
    """The SHJ session default (r13) must degrade safely at 100 TB: a
    memory-starved deployment flips ``preferSortMergeJoin`` back via
    extra_conf / runtime conf and every shuffle join plans as
    sort-merge again (spill-graceful), with identical results. The conf
    is runtime-settable — this pins the documented escape hatch
    (session.py's cluster-posture note, SCALE.md "join strategy at
    100 TB")."""
    orders = load_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_custkey"
    )
    # the static SHJ pick additionally needs the build side ≥3× smaller
    # (muchSmaller) — keep the probe side wide enough to clear it
    li = load_table(spark, sf_small, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_returnflag", "l_shipdate"
    )
    def joined():
        # fresh Dataset per probe: a Dataset memoizes its QueryExecution,
        # so a conf change is only visible to a newly built frame
        return orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))

    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_pref = spark.conf.get("spark.sql.join.preferSortMergeJoin")
    # Suppress broadcast WITHOUT disabling the static SHJ pick: its
    # build-side bound is autoBroadcastJoinThreshold × shuffle
    # partitions (the SCALE.md arithmetic) — threshold −1 would zero
    # that bound too. Half the build side's estimated size keeps
    # broadcast off while size < threshold × partitions stays true.
    def est_size(df) -> int:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        return int(stats.sizeInBytes())

    build_size = est_size(orders)
    threshold = max(1, build_size // 2)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(threshold))
    try:
        spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
        j = joined()
        plan_shj = j._jdf.queryExecution().executedPlan().toString()
        # the session default (estimates permitting) picks shuffled-hash;
        # the message carries the inputs of the static pick (build side
        # < threshold x partitions, and 3x smaller than the probe side)
        assert "ShuffledHashJoin" in plan_shj, (
            f"broadcast threshold={threshold} bytes, "
            f"orders (build) estimate={build_size} bytes, "
            f"lineitem (probe) estimate={est_size(li)} bytes, "
            f"shuffle partitions="
            f"{spark.conf.get('spark.sql.shuffle.partitions')}\n"
            + plan_shj[:2000]
        )
        n_shj = j.count()

        spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
        j = joined()
        plan_smj = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan_smj, plan_smj[:2000]
        assert "ShuffledHashJoin" not in plan_smj
        assert j.count() == n_shj
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set("spark.sql.join.preferSortMergeJoin", prev_pref)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_graph_kernels_hard_wired_plan_shapes(spark, sf_small, tmp_path):
    """The graph kernels carry one plan each, with no caller options.
    Under the session's shuffled-hash default (preferSortMergeJoin
    =false), the quadratic-fan-out self-joins still plan as sort-merge,
    and both PageRanks cut a parquet-backed edge list once, so no round
    re-reads the edge source."""
    assert spark.conf.get("spark.sql.join.preferSortMergeJoin") == "false"
    li = load_table(spark, sf_small, "lineitem")

    # co-occurrence self-join on the group key: pinned to sort-merge,
    # while the same self-join left to the planner picks another join
    smj_gk = re.compile(
        r"SortMergeJoin \[_gk#\d+L?\], \[_gk#\d+L?\], Inner"
    )
    assert smj_gk.search(_plan(cooccurrence_edges(li)))
    g = li.select(
        F.col("l_orderkey").alias("_gk"), F.col("l_partkey").alias("_item")
    )
    unpinned = g.alias("a").join(
        g.alias("b"),
        (F.col("a._gk") == F.col("b._gk"))
        & (F.col("a._item") != F.col("b._item")),
    )
    assert not smj_gk.search(_plan(unpinned))

    # common_neighbor_scores' wedge join (center node: l.dst = r.src).
    # Both sides derive from one edge list, so their size estimates are
    # equal and the planner alone would not pick shuffled hash here; the
    # pin is checked on the optimized plan as well, where it is visible
    # whatever the estimates.
    edges = cooccurrence_edges(li)
    cn = common_neighbor_scores(edges)
    assert re.search(
        r"SortMergeJoin \[dst#\d+L?\], \[src#\d+L?\], Inner", _plan(cn)
    )
    assert re.search(
        r"Join Inner, \(\(src#\d+L? < dst#\d+L?\) AND "
        r"\(dst#\d+L? = src#\d+L?\)\), rightHint=\(strategy=merge\)",
        cn._jdf.queryExecution().optimizedPlan().toString(),
    )

    # PageRanks over a parquet edge list: the edges are cut once, so the
    # unrolled rounds scan the checkpoint, never the parquet source
    path = str(tmp_path / "edges")
    edges.write.parquet(path)
    pq_edges = spark.read.parquet(path)
    assert "FileScan" in _plan(pq_edges)
    seeds = spark.createDataFrame([(int(pq_edges.first()["src"]),)], ["node"])
    for ranked in (
        pagerank_fixed_point(pq_edges),
        personalized_pagerank(pq_edges, seeds),
    ):
        plan = _plan(ranked)
        assert "FileScan" not in plan, plan[:2000]
        assert "Scan ExistingRDD" in plan


def test_codegen_cache_outlives_spark_default(spark):
    """The session's generated-code cache holds more distinct plans than
    Spark's 100-entry default: after 150 whole-stage plans that differ
    only in an inlined literal, rerunning the first plan compiles
    nothing (session.py's codegen cache entry)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()

    def run(i: int) -> None:
        spark.range(0, 8, 1, 1).selectExpr(f"sum(id * {i})").collect()

    for i in range(150):
        run(i)
    before = compiles.getCount()
    run(0)
    assert compiles.getCount() == before, (
        f"rerun recompiled {compiles.getCount() - before} classes"
    )
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
