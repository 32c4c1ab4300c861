"""``analytics``: nine value-exact ``__spark_entry__`` queries through the noop sink.

Five carry checkpoints or eager collects inside their builders (the work
that moves when checkpoint placement changes); four do not and are the
control group. An untimed first pass collects every result to compare with
its DuckDB oracle and takes the cold-JVM costs. Timed passes then run the
nine in a seeded order, as ``bench.py`` does, until the window closes and
at least ``MIN_PASSES`` times; the median pass is reported, so a pass slowed
by the JVM's warm-up or by a busy host does not set the figure. One
operation is one pass; each query in it is built, written to the noop
sink, and its cache released.
"""

from __future__ import annotations

import random
import time

import analyticsgen
import common
from learn_etl_data_warehouse_spark.schemas import TESTDATA_TABLES

SF = 0.01
CHECKPOINTING = ["d02_ngram_jaccard_pairs", "g02_part_pagerank", "fp01_association_rules",
                 "t30_textrank_keywords", "st06_mad_outliers"]
CONTROL = ["q01_pricing_summary", "q05_local_supplier_volume", "e03_session_windows",
           "km01_lloyd_assign"]
QUERIES = CHECKPOINTING + CONTROL
DUCKDB_MEMORY = "2GB"
MIN_PASSES = 3


def _oracles(data_dir: str, work, names: list[str]) -> dict:
    """DuckDB results for ``names``, in bounded memory and at most nproc threads."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"SET threads={common.nproc()}")
        con.execute(f"SET memory_limit='{DUCKDB_MEMORY}'")
        con.execute(f"SET temp_directory='{work.sub('duckdb')}'")
        con.execute("SET preserve_insertion_order=false")
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return {q: con.execute(sql[q]).fetchdf() for q in names}
    finally:
        con.close()


def run(args, work) -> dict:
    import __spark_entry__ as entry
    from tests.test_oracle_parity import canon

    tracer = common.Tracer(bool(args.trace))
    rng = random.Random(f"{args.seed}/analytics")
    t_setup = time.perf_counter()
    data = work.sub("sf")
    sizes = analyticsgen.write(data, SF * args.scale, args.seed)
    t0 = time.perf_counter()
    spark = common.start_session(work, "analytics")
    session_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - t_setup
    builders = entry.queries()
    failures: list[str] = []
    attempted = 0
    counters = None

    def run_pass(sink) -> dict[str, dict]:
        """Every query once, in a seeded order; ``sink`` consumes the
        DataFrame. Returns the timings of the queries that did not raise."""
        nonlocal attempted
        out = {}
        for q in rng.sample(QUERIES, len(QUERIES)):
            attempted += 1
            before = counters.snapshot() if counters else None
            t0 = time.perf_counter()
            try:
                df = builders[q](spark, data)
                t1 = time.perf_counter()
                if tracer.enabled:
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                sink(q, df)
                t3 = time.perf_counter()
                spark.catalog.clearCache()
            except Exception as exc:  # a query that raises is a failed operation
                failures.append(f"{q}: {exc!r}"[:300])
                continue
            out[q] = {"wall": time.perf_counter() - t0, "build": t1 - t0, "plan": t2 - t1,
                      "exec": t3 - t2}
            if counters:
                out[q].update(counters.delta(before))
        return out

    def noop(q, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    got = {}
    passes: list[dict[str, dict]] = []
    pass_s: list[float] = []
    try:
        t0 = time.perf_counter()
        run_pass(lambda q, df: got.__setitem__(q, canon(df.toPandas())))
        oracle_pass_s = time.perf_counter() - t0
        if tracer.enabled:
            counters = common.SparkCounters(spark)

        cpu0 = common.cpu_seconds(spark)
        t_window = time.perf_counter()
        deadline = t_window + args.seconds
        while time.perf_counter() < deadline or len(passes) < MIN_PASSES:
            t0 = time.perf_counter()
            passes.append(run_pass(noop))
            pass_s.append(time.perf_counter() - t0)
        window = time.perf_counter() - t_window
        cpu_s = common.cpu_seconds(spark) - cpu0
        rss = common.peak_rss_mb(spark)
        # the scan probe runs after the window, so that traced and untraced
        # runs warm up alike and their passes compare
        read_s = None
        if tracer.enabled:
            from learn_etl_data_warehouse_spark.sources.parquet import load_table

            t0 = time.perf_counter()
            for t in TESTDATA_TABLES:
                load_table(spark, data, t).write.format("noop").mode("overwrite").save()
            read_s = time.perf_counter() - t0
    finally:
        common.stop_session(spark)

    # oracle comparison, outside every timed window
    if args.skew_expected:
        got = {q: (cols, rows[1:]) for q, (cols, rows) in got.items()}
    want = _oracles(data, work, sorted(got))
    failures += [f"{q}: differs from its DuckDB oracle" for q in sorted(got)
                 if got[q] != canon(want[q])]

    report = {
        "inputs": {"sf": SF * args.scale, "rows": sizes, "clients": 1, "loop": "closed",
                   "queries": QUERIES},
        "oracle_pass_s": oracle_pass_s,
        "passes": len(passes),
        "window_cpu_s": cpu_s,
        "window_s": window,
        "query_s": {q: [p[q]["wall"] for p in passes if q in p] for q in QUERIES},
        "named": {
            "setup_s": [setup_s, "s"],
            "peak_rss_mb": [rss, "MB"],
            "fail_ratio": [len(failures) / attempted, "ratio"],
            "pass_s": [common.median(pass_s) if pass_s else None, "s"],
        },
    }
    out = {"attempted": attempted, "failed": len(failures), "failures": failures,
           "report": report, "metrics": {}}
    if not passes:
        return {**out, "failed": out["failed"] + 1,
                "failures": failures + ["no pass completed in the window"]}
    if failures:
        return out
    pass_ms = [s * 1000 for s in pass_s]
    if not tracer.enabled:
        out["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
            "op_p50_ms": {"value": common.median(pass_ms), "unit": "ms"},
        }
        return out

    def med(q: str, key: str) -> float:
        return common.median([p[q][key] for p in passes])

    named_layers = {"session.start_s": [session_s, "s"], "sources.parquet.scan_s": [read_s, "s"]}
    for q in QUERIES:
        named_layers.update({
            f"operators.{q}.build_s": [med(q, "build"), "s"],
            f"catalyst.{q}.plan_s": [med(q, "plan"), "s"],
            f"exec.{q}.exec_s": [med(q, "exec"), "s"],
            f"spark.{q}.sql_execs": [med(q, "sql_execs"), "count"],
            f"spark.{q}.shuffle_write_bytes": [med(q, "shuffle_write_bytes"), "bytes"],
            f"spark.{q}.spill_bytes": [med(q, "spill_bytes"), "bytes"],
        })
    named_layers["traced.pass_s"] = [common.median(pass_s), "s"]
    report["named_layers"] = named_layers

    def per_pass(key: str) -> float:
        return sum(s[key] for p in passes for s in p.values()) / len(passes)

    out["metrics"] = common.layer_metrics(
        session_s=session_s, read_s=read_s, build_ms=per_pass("build") * 1000,
        catalyst_ms=per_pass("plan") * 1000, exec_ms=per_pass("exec") * 1000,
        wall_ms=sum(pass_ms) / len(passes), traced_p50_ms=common.median(pass_ms),
        deltas={k: per_pass(k) for k in ("jobs", "sql_execs", "shuffle_write_bytes",
                                         "spill_bytes")})
    return out
