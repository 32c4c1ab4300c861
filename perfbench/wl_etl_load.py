"""``etl_load``: the sharded warehouse load (``plans.sharded_etl``) and the
dashboard a user reads right after it.

A seeded raw fact of 50x the reference's rows is landed as the ``;``-CSV
Hive-layout zone ``read_sharded_fact`` expects, in 8 ``_shard=k``
directories. One operation is a cycle of two loads: a full load
(``atomic_replace_warehouse(shards=None)``) and a one-shard backfill
(``shards=[k]``). After each load, ``serve.make_handler`` is pointed at the
written parquet and one client reads back one EP2 ``/quarterly/<q>`` chart
PNG over HTTP, so the serving edge runs on every cycle. (Rendering the whole
EP2 page over parquet took about 5 s here, more than the load itself.)
Cycles repeat until the window closes, and at least twice.
"""

from __future__ import annotations

import os
import random
import threading
import time
from http.server import ThreadingHTTPServer

import common
import ojolgen
from wl_dashboard import QUARTER_CHARTS, check, fetch, trace_serving

SCALE = 50
N_SHARDS = 8
MIN_CYCLES = 2


def _listing(table: str) -> dict[str, tuple]:
    """``_shard=k/quarter=q`` -> sorted (file, size) pairs."""
    out = {}
    for shard in sorted(os.listdir(table)):
        if not shard.startswith("_shard="):
            continue
        for q in sorted(os.listdir(os.path.join(table, shard))):
            d = os.path.join(table, shard, q)
            out[f"{shard}/{q}"] = tuple(sorted(
                (f, os.path.getsize(os.path.join(d, f))) for f in os.listdir(d)))
    return out


def _tree_bytes(path: str, suffix: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for f in names:
            if f.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size


def run(args, work) -> dict:
    import serve
    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    from learn_etl_data_warehouse_spark.plans import sharded_etl
    from learn_etl_data_warehouse_spark.plans.warehouse import clean_fact

    tracer = common.Tracer(bool(args.trace))
    if tracer.enabled:
        # atomic_replace_warehouse looks both steps up at call time
        sharded_etl.stage_sharded_warehouse = tracer.wrap(
            "plans.sharded_etl.stage", sharded_etl.stage_sharded_warehouse)
        sharded_etl.commit_staged = tracer.wrap(
            "plans.sharded_etl.commit", sharded_etl.commit_staged)
        DataFrameWriter.parquet = tracer.wrap("exec", DataFrameWriter.parquet)
        trace_serving(tracer)

    rng = random.Random(f"{args.seed}/etl_load")
    quarters = list(ojolgen.REF_QUARTERS)
    t_setup = time.perf_counter()
    fact = ojolgen.generate(SCALE * args.scale, args.seed, N_SHARDS)
    landing, wh = work.sub("landing"), work.sub("warehouse")
    ojolgen.write_landing(fact, landing)
    # each read-back points the handler at the warehouse it just wrote
    server = ThreadingHTTPServer(("127.0.0.1", 0), serve.make_handler(None))
    threading.Thread(target=server.serve_forever, daemon=True).start()
    port = server.server_address[1]
    t0 = time.perf_counter()
    spark = common.start_session(work, "etl_load")
    session_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - t_setup
    expected = fact.expected()
    if args.skew_expected:
        expected["by_shard_quarter"]["0|2018Q4"] += 1
    table = os.path.join(wh, sharded_etl.TABLE_NAME)
    failures: list[str] = []
    responses: list[tuple[str, int, bytes]] = []
    attempted = 0

    def load(shards) -> float:
        t0 = time.perf_counter()
        sharded_etl.atomic_replace_warehouse(spark, landing, wh, shards=shards)
        return time.perf_counter() - t0

    def readback() -> float:
        """Serve the new warehouse and read one EP2 chart back."""
        path = f"/quarterly/{rng.choice(quarters)}/{rng.choice(QUARTER_CHARTS)}.png"
        t0 = time.perf_counter()
        # a fresh DataFrame re-lists the files the commit just swapped in
        server.RequestHandlerClass = serve.make_handler(spark.read.parquet(table))
        responses.append((path, *fetch(port, path)))
        return time.perf_counter() - t0

    full, backfill, reads = [], [], []
    loads_delta: list[dict] = []
    counters = None

    def cycle() -> float:
        """A full load and a one-shard backfill, each read back. Returns the
        seconds spent in the loads and read-backs; the backfill check's
        directory listings and the status-store reads fall outside them."""
        nonlocal attempted
        engine_s = 0.0
        for shards in (None, [rng.randrange(N_SHARDS)]):
            before_listing = _listing(table) if shards else None
            before = counters.snapshot() if counters else None
            t_load = load(shards)
            if counters:
                loads_delta.append(counters.delta(before))
            (full if shards is None else backfill).append(t_load)
            reads.append(readback())
            engine_s += t_load + reads[-1]
            attempted += 2
            if shards:
                after = _listing(table)
                mine = f"_shard={shards[0]}/"
                changed = [p for p in set(after) | set(before_listing)
                           if not p.startswith(mine) and after.get(p) != before_listing.get(p)]
                if changed:
                    failures.append(f"backfill {shards}: other shards changed {changed}")
        return engine_s

    try:
        # cold-JVM warm-up, untimed: both load paths and the read-back
        cycle()
        for timings in (full, backfill, reads):
            timings.clear()
        if tracer.enabled:
            counters = common.SparkCounters(spark)
        tracer.reset()

        cycles, cycles_delta = [], []
        cpu0 = common.cpu_seconds(spark)
        t_window = time.perf_counter()
        deadline = t_window + args.seconds
        # at least two cycles: the first timed cycle runs slower than later
        # ones, and a slow host must not leave it as the only sample
        while time.perf_counter() < deadline or len(cycles) < MIN_CYCLES:
            before = counters.snapshot() if counters else None
            cycles.append(cycle())
            if counters:
                cycles_delta.append(counters.delta(before))
        window = time.perf_counter() - t_window
        cpu_s = common.cpu_seconds(spark) - cpu0
        spans = dict(tracer.seconds)
        # the scan and cleaning probes run after the window, so that traced
        # and untraced runs warm up alike and their cycles compare
        scan_s = clean_s = None
        if tracer.enabled:
            t0 = time.perf_counter()
            sharded_etl.read_sharded_fact(spark, landing).write.format("noop").mode(
                "overwrite").save()
            scan_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            clean_fact(sharded_etl.read_sharded_fact(spark, landing)).write.format(
                "noop").mode("overwrite").save()
            clean_s = time.perf_counter() - t0 - scan_s

        # end state: every (shard, quarter) holds exactly the generated rows
        attempted += 1
        got = {f"{r['_shard']}|{r['quarter']}": r["n"] for r in
               spark.read.parquet(table).groupBy(sharded_etl.SHARD_COL, "quarter")
               .agg(F.count(F.lit(1)).alias("n")).collect()}
        if got != expected["by_shard_quarter"]:
            failures.append("warehouse counts per (_shard, quarter) differ from the input")
        files_written, wh_bytes = _tree_bytes(table, ".parquet")
        _, landing_bytes = _tree_bytes(landing, ".csv")
        rss = common.peak_rss_mb(spark)
    finally:
        server.shutdown()
        server.server_close()
        common.stop_session(spark)

    failures += [f for f in (check(p, st, b, expected) for p, st, b in responses) if f]
    rows = expected["rows"]
    report = {
        "inputs": {"rows": rows, "landing_scale": SCALE * args.scale, "shards": N_SHARDS,
                   "landing_bytes": landing_bytes, "clients": 1, "loop": "closed"},
        "cycles": len(cycles),
        "window_cpu_s": cpu_s,
        "window_s": window,
        "loads_s": {"full": full, "backfill": backfill, "readback": reads},
        "named": {
            "setup_s": [setup_s, "s"],
            "peak_rss_mb": [rss, "MB"],
            "fail_ratio": [len(failures) / attempted, "ratio"],
            "load_rows_per_s": [rows / common.median(full) if full else None, "rows/s"],
            "backfill_s": [common.median(backfill) if backfill else None, "s"],
            "readback_ms": [common.median(reads) * 1000 if reads else None, "ms"],
        },
    }
    out = {"attempted": attempted, "failed": len(failures), "failures": failures,
           "report": report, "metrics": {}}
    if not cycles:
        return {**out, "failed": out["failed"] + 1,
                "failures": failures + ["no cycle completed in the window"]}
    cycle_ms = [c * 1000 for c in cycles]
    if not tracer.enabled:
        out["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
            "op_p50_ms": {"value": common.median(cycle_ms), "unit": "ms"},
        }
        return out
    n_loads, n_reads = len(full) + len(backfill), len(reads)
    per_load = {k: sum(d[k] for d in loads_delta) / n_loads for k in loads_delta[0]}
    per_cycle = {k: v * 1000 / len(cycles) for k, v in spans.items()}
    span_ms = {k: v * 1000 / n_reads for k, v in spans.items()}
    build, png = span_ms.get("plans.dashboard", 0.0), span_ms.get("serve.png", 0.0)
    report["named_layers"] = {
        "session.start_s": [session_s, "s"],
        "sources.scan_s": [scan_s, "s"],
        "functions.clean_s": [clean_s, "s"],
        "plans.sharded_etl.stage_s": [spans["plans.sharded_etl.stage"] / n_loads, "s"],
        "plans.sharded_etl.commit_s": [spans["plans.sharded_etl.commit"] / n_loads, "s"],
        "plans.sharded_etl.files_written": [files_written, "count"],
        "plans.sharded_etl.bytes_per_input_byte": [wh_bytes / landing_bytes, "ratio"],
        "spark.sql_execs_per_load": [per_load["sql_execs"], "count"],
        "spark.shuffle_write_bytes_per_load": [per_load["shuffle_write_bytes"], "bytes"],
        "plans.dashboard.build_ms": [build, "ms"],
        "serve.png_ms": [png, "ms"],
        "serve.edge_ms": [sum(reads) * 1000 / n_reads - build - png, "ms"],
        "traced.cycle_p50_ms": [common.median(cycle_ms), "ms"],
    }
    out["metrics"] = common.layer_metrics(
        session_s=session_s, read_s=scan_s, build_ms=per_cycle.get("plans.dashboard", 0.0),
        catalyst_ms=per_cycle.get("catalyst", 0.0), exec_ms=per_cycle.get("exec", 0.0),
        wall_ms=sum(cycle_ms) / len(cycles), traced_p50_ms=common.median(cycle_ms),
        deltas={k: sum(d[k] for d in cycles_delta) / len(cycles) for k in per_load})
    return out
