"""Graph-operator growth probe: PageRank and triangle counting on
amplified co-occurrence graphs.

Two amplification modes from sf0.1 lineitem, measuring different risks:

- ``scaleup`` (the honest 100 TB model): k disjoint copies — order ids
  AND part ids offset per copy, so the graph gets k× more nodes and
  edges at CONSTANT density. Both operators should grow ~linearly.
- ``densify`` (the skew stress): order ids offset but part ids kept, so
  the same 20k nodes collect k× the edges. PageRank stays linear in
  edges; triangle counting's wedge work grows ~k² (wedges per node ∝
  oriented-degree²) — the probe QUANTIFIES that, matching the
  degree-orientation analysis in the operator docstring.

Usage: python scripts/scale_probe_graph.py [k ...]   (default 1 2 4)
Prints one JSON line per (mode, k).
"""
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import functions as F

from learn_etl_data_warehouse_spark.operators.graph import (
    cooccurrence_edges,
    pagerank_fixed_point,
    triangle_counts,
)
from learn_etl_data_warehouse_spark.session import get_spark
from learn_etl_data_warehouse_spark.sources.parquet import load_table

ks = [int(a) for a in sys.argv[1:]] or [1, 2, 4]
spark = get_spark(master="local[32]")
spark.sparkContext.setLogLevel("ERROR")
base = load_table(spark, "/root/testdata/sf0.1", "lineitem").select(
    "l_orderkey", "l_partkey"
)
max_order = base.agg(F.max("l_orderkey")).collect()[0][0] + 1
max_part = base.agg(F.max("l_partkey")).collect()[0][0] + 1

for mode in ("scaleup", "densify"):
    for k in ks:
        copies = []
        for i in range(k):
            c = base.select(
                (F.col("l_orderkey") + i * max_order).alias("l_orderkey"),
                (
                    F.col("l_partkey") + i * max_part
                    if mode == "scaleup"
                    else F.col("l_partkey")
                ).alias("l_partkey"),
            )
            copies.append(c)
        fact = copies[0]
        for c in copies[1:]:
            fact = fact.unionAll(c)
        edges = cooccurrence_edges(fact).localCheckpoint(eager=True)
        n_edges = edges.count()
        t0 = time.perf_counter()
        pagerank_fixed_point(edges).count()
        pr_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        triangle_counts(edges).count()
        tri_s = time.perf_counter() - t0
        print(
            json.dumps(
                {
                    "mode": mode,
                    "k": k,
                    "edges": n_edges,
                    "pagerank_s": round(pr_s, 2),
                    "triangles_s": round(tri_s, 2),
                }
            )
        )
        sys.stdout.flush()
