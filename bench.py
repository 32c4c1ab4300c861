#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {name: sec}, "sf": <sf>}.

Each query executes through the noop sink so the full plan runs on
executors with nothing collected to the driver — the honest distributed
cost, not a toPandas tax.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from learn_etl_data_warehouse_spark.session import get_spark

HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "j05_roleplay_nations",
    "a03_histogram_totalprice",
    "a05_top3_orders_per_customer",
    "a06_monthly_rollup",
    "d02_ngram_jaccard_pairs",
    "d03_minhash_lsh_pairs",
    "d10_semantic_clusters",
    "s01_cosine_topk",
    "s02_neardup_pairs_exact",
    "s07_quantize_int8",
    "e01_tumbling_window",
    "e03_session_windows",
    "t02_quality_scores",
    "m02_media_features",
    "m05_decode_batches",
    # r4 operators (totals not comparable to earlier rounds; per-query)
    "t08_decontamination",
    "t10_tfidf_top_terms",
    "e06_attribution_pairs",
    "d13_edit_distance_pairs",
    "s08_random_projection",
    "t12_c4_filters",
    "d14_shuffle_shards",
    "e07_rollup_merge",
    # r5 operators
    "ivm01_maintained_rollup",
    "d17_hot_span_scrub",
    "j06_salted_hot_join",
    "e08_outer_attribution",
    "e09_hourly_gapfill",
    "d21_semantic_dedup",
    # r5 continuation operators
    "e10_cohort_retention",
    "f02_user_transitions",
    "a17_mad_outliers",
    "d24_incremental_neardup",
    "t15_chunking",
    "g02_part_pagerank",
    # r5 continuation-3 operators
    "fp01_association_rules",
    "t19_lm_doc_score",
    # r5 continuation-4 operators
    "e14_ewma_smoothing",
    "fp02_sequential_pairs",
    "t20_collocations",
    "a23_gini_concentration",
    "g06_link_prediction",
    # r5 continuation-5 operators
    "km01_lloyd_assign",
    "g08_hits_scores",
    "fp03_frequent_triples",
    "g09_personalized_pagerank",
    "e18_time_weighted_avg",
    # r5 continuation-6 operators
    "a26_abc_classification",
    "g10_weighted_shortest_paths",
    "knn01_majority_label",
    "a28_histogram_percentiles",
    "pm01_footprint_matrix",
    # r7 operators
    "cl01_perceptron_weights",
    "d32_dataset_card_diff",
    # r8 operators
    "ml04_decision_stump",
    "t30_textrank_keywords",
    # r9 operators
    "d34_maximal_repeat_scrub",
    # r10 operators
    "st05_rank_sum_test",
    "t31_wordpiece_scores",
    "st06_mad_outliers",
    "sk01_hll_ndv",
    "g16_hyperball_neighborhood",
    # r11 operators
    "fc05_holt_linear",
    "d38_lsh_band_scurve",
    "pm04_conformance_fitness",
    "s15_ivf_recall_audit",
    "fc07_hw_mase",
    # r13 operators
    "s17_hyperplane_recall_audit",
    # r13 continuation operators
    "a34_hhi_concentration",
    "ml09_naive_bayes",
]

# The CROSS-ROUND COMPARISON ARTIFACT (r12 verdict item 7): the full
# headliner list grew to 70+ entries and the documented same-JVM
# interleave pressure (~1-2%/round creep) started drowning per-query
# signal. This FROZEN core — the longest-lived comparables spanning
# every family (TPC-H, joins, dedup, similarity, streaming twins, text,
# graph, IVM, ML, multimodal) — is what per-round regression judgment
# runs against: compare core_value (and the core queries' lines)
# across rounds at matching calibration; the full total remains
# published but is NOT comparable as the list grows. DO NOT add to or
# remove from CORE without re-baselining — new operators go to HEADLINE
# only.
CORE = frozenset(
    [
        "q01_pricing_summary",
        "q03_shipping_priority",
        "q05_local_supplier_volume",
        "j05_roleplay_nations",
        "a03_histogram_totalprice",
        "a05_top3_orders_per_customer",
        "a06_monthly_rollup",
        "d02_ngram_jaccard_pairs",
        "d03_minhash_lsh_pairs",
        "d10_semantic_clusters",
        "s01_cosine_topk",
        "s02_neardup_pairs_exact",
        "s07_quantize_int8",
        "e01_tumbling_window",
        "e03_session_windows",
        "t02_quality_scores",
        "m02_media_features",
        "m05_decode_batches",
        "d13_edit_distance_pairs",
        "t08_decontamination",
        "ivm01_maintained_rollup",
        "d17_hot_span_scrub",
        "d21_semantic_dedup",
        "d24_incremental_neardup",
        "t15_chunking",
        "g02_part_pagerank",
        "km01_lloyd_assign",
        "cl01_perceptron_weights",
        "d34_maximal_repeat_scrub",
        "etl01_sharded_warehouse",
    ]
)

# Reference-parity ETL (EP1 at shard grain): not a queries() entry — it
# writes a partitioned warehouse — so it's timed as a special bench stage
# over the reference's raw ojol fact, or, when those assets are absent,
# over a 1x seed-7 ``perfbench/ojolgen.py`` SQLite of the same table (the
# input tests/conftest.py::ojol_db writes).
_OJOL_DB = "/root/reference/assets/oltp/dummy_ojol_transactions_raw_only.sqlite"
_OJOL_TABLE = (
    "dummy_ojol_transactions_raw_only_query_get_transaction_list_koto"
)


def _ojol_db(tmp: str) -> str:
    if os.path.exists(_OJOL_DB):
        return _OJOL_DB
    perfbench = os.path.join(os.path.dirname(os.path.abspath(__file__)), "perfbench")
    if perfbench not in sys.path:
        sys.path.append(perfbench)
    import ojolgen

    path = f"{tmp}/ojol.sqlite"
    ojolgen.write_sqlite(ojolgen.generate(1.0, seed=7), path)
    return path


def _run_sharded_etl(spark) -> float:
    import shutil
    import tempfile

    from learn_etl_data_warehouse_spark.plans.sharded_etl import (
        atomic_replace_warehouse,
        write_sharded_exports,
    )
    from learn_etl_data_warehouse_spark.sources.sqlite import read_sqlite_table

    tmp = tempfile.mkdtemp(prefix="bench_etl_")
    try:
        raw = read_sqlite_table(spark, _ojol_db(tmp), _OJOL_TABLE, all_string=True)
        landing = f"{tmp}/landing"
        write_sharded_exports(raw, landing, n_shards=8)
        # timed section: the steady-state job — one scan over the landing
        # zone, narrow clean, partitioned warehouse write, rename-commit
        # (r4: atomic path; commit cost is a handful of renames)
        start = time.perf_counter()
        atomic_replace_warehouse(spark, landing, f"{tmp}/wh")
        return time.perf_counter() - start
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _calibrate_single_core(n: int = 20_000_000) -> float:
    """scripts/calibrate.py's single-core loop, inlined: host speed in
    this container swings 3-4x with zero local load, so every bench
    JSON carries its own calibration number (min of one pre- and one
    post-bench probe) — later rounds normalize per-query deltas by this
    before calling anything a regression."""
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        s = 0
        for i in range(n):
            s += i
        best = min(best, time.perf_counter() - t0)
    return best


def _host_record(spark) -> dict:
    """Core count, memory and driver heap the numbers were taken on."""
    with open("/proc/meminfo") as f:
        mem_kb = next(
            int(line.split()[1]) for line in f if line.startswith("MemTotal:")
        )
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": mem_kb,
        "driver_memory": spark.conf.get("spark.driver.memory"),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    cal_before = _calibrate_single_core()

    spark = get_spark(
        app_name="letl-dw-bench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(max(int(cpus) * 2, 8)),
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
            # sf0.1 files are ~1-25 MB: split small so scans parallelize
            # across all cores (cluster-scale default of 128m stays right
            # when files are row-group-rich — SCALE.md scan layer)
            "spark.sql.files.maxPartitionBytes": "4m",
        },
    )
    queries = entrymod.queries()

    # JVM warmup on a trivial plan so q1 isn't charged for startup (it
    # compiles only this plan's own classes, none of q1's).
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # Janino compilations, counted once per generated-code cache miss
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()

    def run(name: str) -> tuple[float, int]:
        n0 = compiles.getCount()
        start = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - start, compiles.getCount() - n0

    # Three INTERLEAVED passes over the whole list, report each query's
    # min across passes: a query's first pass compiles its generated
    # classes and warms the JIT, and later passes find those classes in
    # the session's codegen cache (at Spark's 100-entry default every
    # pass recompiled them; per-pass counts go to bench_out.json);
    # steady state is what a long-running cluster job sees, and n=3
    # damps the same-JVM jitter documented in SCALE.md (r4: was
    # min-of-two, which let single outliers through — see j05).
    # Interleaving (r5c2) decorrelates HOST stalls from any one query:
    # with three consecutive reps, a sustained slow-host window lands on
    # all of one query's samples and survives the min (observed: t08 at
    # 34.7 s, ~30× its base, while neighbors were normal); spread as
    # full passes, the same stall inflates one pass of many queries and
    # every per-query min rejects it.
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    compiled: dict[str, list[int]] = {name: [] for name in HEADLINE}
    for _ in range(3):
        for name in HEADLINE:
            sec, n = run(name)
            samples[name].append(sec)
            compiled[name].append(n)
            spark.catalog.clearCache()
    timings: dict[str, float] = {
        name: round(min(s), 3) for name, s in samples.items()
    }

    timings["etl01_sharded_warehouse"] = round(
        min(_run_sharded_etl(spark) for _ in range(3)), 3
    )

    total = round(sum(timings.values()), 3)
    core_total = round(
        sum(v for n, v in timings.items() if n in CORE), 3
    )
    cal = round(min(cal_before, _calibrate_single_core()), 3)
    full = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "calibration_s": cal,
        # cross-round comparable: the frozen CORE set's total (see the
        # CORE comment — this is the number to trend, not "value")
        "core_value": core_total,
        "core_n": sum(1 for n in timings if n in CORE),
        # per headline query, codegen compilations in each of the passes
        "codegen_compiles": compiled,
        "host": _host_record(spark),
    }
    # The driver's BENCH artifact captures only the LAST 2000 chars of
    # stdout; at 69+ full-name entries the JSON line overflowed and
    # "parsed" went null (r10/r11). Full-precision full-name numbers go
    # to the repo-side bench_out.json; STDOUT gets a compact line —
    # 2-decimal, no spaces, and per-query keys shortened to their
    # unique id prefix ("q01", "d38", ...) — that stays well inside the
    # capture window (~1 kB at 69 entries).
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_out.json"),
        "w",
    ) as f:
        json.dump(full, f)
        f.write("\n")
    short = {n.split("_", 1)[0]: round(v, 2) for n, v in timings.items()}
    assert len(short) == len(timings), "bench id prefixes must be unique"
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": short,
                "sf": sf,
                "calibration_s": cal,
                "core_value": core_total,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
