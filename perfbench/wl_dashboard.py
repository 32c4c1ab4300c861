"""``dashboard``: browser-like reads from the serving edge (``serve.py``).

Setup mirrors ``serve.main``: a seeded ojol fact (25x the
reference's 1,878 rows) goes into a SQLite file, is read back with
``read_sqlite_table(all_string=True)``, cleaned with ``clean_fact``, cached
and counted, and ``serve.make_handler`` is served by an in-process
``ThreadingHTTPServer``. Two closed-loop clients then visit pages: the ``/``
index now and then, an EP2 ``/quarterly/<q>`` or EP3 ``/mode/<m>`` page, then
that page's chart PNGs. Quarters and modes are drawn with the reference's
skew. One request is one operation.
"""

from __future__ import annotations

import http.client
import random
import re
import struct
import threading
import time
from http.server import ThreadingHTTPServer

import common
import ojolgen

SCALE = 25
CLIENTS = 2
TRACED_CLIENTS = 1
INDEX_SHARE = 0.2
QUARTER_CHARTS = ["hist_amount_delivery", "hist_mode", "hist_distance_rounded",
                  "hist_duration"]
MODE_CHARTS = ["hist_amount_delivery", "hist_distance_rounded", "hist_duration",
               "hist_hour_start", "hist_hour_end"]
PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"
_HIST = re.compile(r"<h3>(hist_\w+)</h3><table border=1>(.*?)</table>")
_ROW = re.compile(r"<tr>(.*?)</tr>")
_CELL = re.compile(r"<t[hd]>(.*?)</t[hd]>")


def visits(seed: int, client: int):
    """Endless seeded visits: optional index, one page, then its charts."""
    rng = random.Random(f"{seed}/{client}")
    quarters, q_weights = zip(*ojolgen.REF_QUARTERS.items())
    modes, m_weights = zip(*ojolgen.REF_MODES.items())
    while True:
        if rng.random() < INDEX_SHARE:
            yield "/"
        if rng.random() < 0.5:
            page = f"/quarterly/{rng.choices(quarters, q_weights)[0]}"
            charts = QUARTER_CHARTS
        else:
            page = f"/mode/{rng.choices(modes, m_weights)[0]}"
            charts = MODE_CHARTS
        yield page
        for chart in charts:
            yield f"{page}/{chart}.png"


def _tables(page: str) -> dict[str, list[dict[str, str]]]:
    out = {}
    for name, body in _HIST.findall(page):
        rows = [_CELL.findall(r) for r in _ROW.findall(body)]
        out[name] = [dict(zip(rows[0], r)) for r in rows[1:]]
    return out


def check(path: str, status: int, body: bytes, expected: dict) -> str | None:
    """Why the response is wrong, or None when it is right."""
    if status != 200:
        return f"{path}: HTTP {status}"
    parts = [p for p in path.split("/") if p]
    if not parts:
        page = body.decode()
        keys = list(expected["by_quarter"]) + list(expected["by_mode"])
        missing = [k for k in keys if f">{k}</a>" not in page]
        return f"/: nav lacks {missing}" if missing else None
    if path.endswith(".png"):
        w, h = struct.unpack(">II", body[16:24]) if len(body) >= 24 else (0, 0)
        if body[:8] != PNG_SIGNATURE or body[12:16] != b"IHDR" or (w, h) != (400, 240):
            return f"{path}: not a 400x240 PNG"
        return None
    kind, key = parts[0], parts[1]
    want = expected["by_quarter" if kind == "quarterly" else "by_mode"][key]
    hists = _tables(body.decode())
    names = QUARTER_CHARTS if kind == "quarterly" else MODE_CHARTS
    if sorted(hists) != sorted(names):
        return f"{path}: histograms {sorted(hists)}"
    for name, rows in hists.items():
        got = sum(int(r["n"]) for r in rows)
        if got != want:
            return f"{path}: {name} counts {got} rows, expected {want}"
    if kind == "quarterly":
        got = {r["mode"]: int(r["n"]) for r in hists["hist_mode"]}
        want_modes = {m: n for qm, n in expected["by_quarter_mode"].items()
                      for q, m in [qm.split("|")] if q == key}
        if got != want_modes:
            return f"{path}: hist_mode {got}, expected {want_modes}"
    return None


def fetch(port: int, path: str) -> tuple[int, bytes]:
    """One GET on a fresh connection, as ``http.server``'s HTTP/1.0 replies close it."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def trace_serving(tracer) -> None:
    """Spans around the dashboard builders and the edge's render and PNG
    steps. ``make_handler`` looks the builders up when it is called, and
    the handler looks the edge functions up per request, so this must run
    before ``make_handler``."""
    import serve
    from learn_etl_data_warehouse_spark.plans import dashboard

    for name in ("quarterly_dashboard", "mode_dashboard"):
        setattr(dashboard, name, tracer.wrap("plans.dashboard", getattr(dashboard, name)))
    serve.render_dashboard = tracer.wrap("serve.render", serve.render_dashboard)
    serve.hist_png = tracer.wrap("serve.png", serve.hist_png)
    tracer.patch_collect()


class Client(threading.Thread):
    """One closed-loop client: the next request leaves when the last returns."""

    def __init__(self, port: int, paths, deadline: float, counters=None):
        super().__init__(daemon=True)
        self.port, self.paths, self.deadline = port, paths, deadline
        self.counters = counters
        self.samples: list[tuple[str, int, bytes, float]] = []
        self.spark_deltas: list[dict] = []
        self.errors: list[str] = []

    def run(self) -> None:
        for path in self.paths:
            if time.perf_counter() >= self.deadline:
                return
            before = self.counters.snapshot() if self.counters else None
            t0 = time.perf_counter()
            try:
                status, body = fetch(self.port, path)
            except OSError as exc:
                self.errors.append(f"{path}: {exc!r}")
                continue
            self.samples.append((path, status, body, time.perf_counter() - t0))
            if self.counters:
                self.spark_deltas.append(self.counters.delta(before))


def run(args, work) -> dict:
    import serve
    from learn_etl_data_warehouse_spark.plans.warehouse import clean_fact
    from learn_etl_data_warehouse_spark.sources.sqlite import read_sqlite_table

    tracer = common.Tracer(bool(args.trace))
    if tracer.enabled:
        trace_serving(tracer)
    t_setup = time.perf_counter()
    fact = ojolgen.generate(SCALE * args.scale, args.seed)
    db = f"{work.path}/ojol.sqlite"
    ojolgen.write_sqlite(fact, db)
    t0 = time.perf_counter()
    spark = common.start_session(work, "dashboard")
    session_s = time.perf_counter() - t0
    server = None
    try:
        # the set-up serve.main does
        t0 = time.perf_counter()
        raw = read_sqlite_table(spark, db, ojolgen.TABLE, all_string=True)
        if tracer.enabled:
            raw.write.format("noop").mode("overwrite").save()
        extract_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        cleaned = clean_fact(raw).cache()
        cleaned.count()
        clean_s = time.perf_counter() - t0
        server = ThreadingHTTPServer(("127.0.0.1", 0), serve.make_handler(cleaned))
        threading.Thread(target=server.serve_forever, daemon=True).start()
        port = server.server_address[1]
        setup_s = time.perf_counter() - t_setup

        expected = fact.expected()
        if args.skew_expected:
            expected["by_quarter"]["2018Q4"] += 1
            expected["by_mode"]["FOOD"] += 1
        # JIT and codegen warm-up, untimed: one page of each kind
        warm = Client(port, ["/quarterly/2018Q4", "/mode/FOOD"], float("inf"))
        t0 = time.perf_counter()
        warm.run()
        warmup_s = time.perf_counter() - t0
        tracer.reset()
        counters = common.SparkCounters(spark) if tracer.enabled else None
        n_clients = TRACED_CLIENTS if tracer.enabled else CLIENTS
        t0 = time.perf_counter()
        deadline = t0 + args.seconds
        clients = [Client(port, visits(args.seed, c), deadline, counters)
                   for c in range(n_clients)]
        for c in clients:
            c.start()
        for c in clients:
            c.join()
        window = time.perf_counter() - t0
        rss = common.peak_rss_mb(spark)
    finally:
        if server is not None:
            server.shutdown()
            server.server_close()
        common.stop_session(spark)

    # warm-up responses are checked too; only the window's are timed
    timed = [s for c in clients for s in c.samples]
    errors = [e for c in (warm, *clients) for e in c.errors]
    failures = errors + [f for f in (check(p, st, b, expected)
                                     for p, st, b, _ in warm.samples + timed) if f]
    attempted = len(warm.samples) + len(timed) + len(errors)
    lat_ms = [s[3] * 1000 for s in timed]
    n = len(timed)
    if not timed:
        failures.append("no request completed in the window")
    tail_pct, tail_ms = common.tail(lat_ms)
    report = {
        "inputs": {"rows": expected["rows"], "sqlite_scale": SCALE * args.scale,
                   "clients": n_clients, "loop": "closed"},
        "requests": n,
        "setup_parts_s": {"session": session_s, "extract": extract_s, "clean_cache": clean_s},
        "warmup_s": warmup_s,
        "named": {
            "setup_s": [setup_s, "s"],
            "peak_rss_mb": [rss, "MB"],
            "fail_ratio": [len(failures) / attempted, "ratio"],
            "req_p50_ms": [common.median(lat_ms) if lat_ms else None, "ms"],
            "req_p90_ms": [tail_ms if tail_pct and tail_pct >= 90 else None, "ms"],
            "req_tail_ms": [tail_ms, "ms"],
            "req_tail_pct": [tail_pct, "percentile"],
            "req_per_s": [n / window, "1/s"],
        },
    }
    out = {"attempted": attempted, "failed": len(failures), "failures": failures,
           "report": report, "metrics": {}}
    if not timed:
        return out
    if not tracer.enabled:
        out["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
            "op_p50_ms": {"value": common.median(lat_ms), "unit": "ms"},
        }
        return out
    per = {k: v * 1000 / n for k, v in tracer.seconds.items()}
    wall = sum(lat_ms) / n
    deltas = {k: sum(d[k] for c in clients for d in c.spark_deltas) / n
              for k in ("jobs", "sql_execs", "shuffle_write_bytes", "spill_bytes")}
    build, render, png = (per.get(k, 0.0) for k in ("plans.dashboard", "serve.render", "serve.png"))
    cat, exe = per.get("catalyst", 0.0), per.get("exec", 0.0)
    report["named_layers"] = {
        "session.start_s": [session_s, "s"],
        "sources.sqlite.extract_s": [extract_s, "s"],
        "plans.warehouse.clean_cache_s": [clean_s, "s"],
        "plans.dashboard.build_ms": [build, "ms"],
        "serve.render_ms": [render, "ms"],
        "serve.png_ms": [png, "ms"],
        "serve.edge_ms": [wall - build - render - png, "ms"],
        "spark.sql_execs_per_req": [deltas["sql_execs"], "count"],
        "spark.jobs_per_req": [deltas["jobs"], "count"],
        "traced.req_p50_ms": [common.median(lat_ms), "ms"],
    }
    out["metrics"] = common.layer_metrics(
        session_s=session_s, read_s=extract_s, build_ms=build, catalyst_ms=cat,
        exec_ms=exe, wall_ms=wall, traced_p50_ms=common.median(lat_ms), deltas=deltas)
    return out
