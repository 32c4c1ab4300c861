"""Serving edge for the EP2/EP3 dashboards (reference server.py:137-299).

The reference's primary user surface is a Flask app rendering
matplotlib histograms + HTML tables per quarter / per transport mode.
Neither Flask nor matplotlib ship in this image, so this shim uses only
the stdlib: ``http.server`` for routing and a ~40-line PNG writer for
the charts. The ENGINE side is identical either way — every number that
crosses the wire comes from ``plans/dashboard.py``'s partition-pruned
DataFrames; this file only formats chart-sized rows.

Endpoints (mirroring the reference routes), and the dashboard entries
each one builds:
    GET /                      -> nav index (quarter + mode keys); the
                                  two ``nav_*`` lists
    GET /quarterly/<q>         -> EP2 dashboard as HTML tables; all nine
    GET /quarterly/<q>/<chart>.png -> one histogram as a PNG bar chart;
                                  that chart only
    GET /mode/<m>              -> EP3 dashboard as HTML tables; all ten
    GET /mode/<m>/<chart>.png  -> same for mode dashboards

A chart PNG therefore runs only its own chart's Spark jobs: three for a
numeric histogram (the min/max shuffle, the bin shuffle, the collect),
four for EP2's ``hist_mode`` value counts (the count shuffle, the range
sort's sampling job and shuffle, the collect).

Run: ``python serve.py [--port 8000]`` (builds the warehouse from the
reference's sqlite export, then serves).
"""

from __future__ import annotations

import html
import struct
import sys
import zlib
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

# ---------------------------------------------------------------------------
# Minimal PNG bar chart (stdlib only)
# ---------------------------------------------------------------------------


def _png(rows: list[bytearray], width: int) -> bytes:
    """Encode RGB rows (3 bytes per pixel) as a PNG (8-bit, no
    interlace)."""

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload))
        )

    raw = b"".join(b"\x00" + row for row in rows)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", width, len(rows), 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def bar_chart_png(
    counts: list[int], width: int = 400, height: int = 240
) -> bytes:
    """Histogram bars on a white canvas — the engine hands bin counts,
    the edge draws rectangles (what plt.hist renders, minus chrome).
    Each bar is one slice assignment per pixel row."""
    bg, fg, axis = b"\xff\xff\xff", bytes((31, 119, 180)), b"\x00\x00\x00"
    rows = [bytearray(bg * width) for _ in range(height)]
    top = max(counts) if counts and max(counts) > 0 else 1
    n = max(len(counts), 1)
    bar_w = max((width - 20) // n, 1)
    for i, c in enumerate(counts):
        bar_h = int((height - 20) * (c / top))
        x0 = 10 + i * bar_w
        x1 = min(x0 + bar_w - 2, width - 10)
        if x1 <= x0:
            continue
        bar = fg * (x1 - x0)
        for y in range(height - 10 - bar_h, height - 10):
            rows[y][3 * x0 : 3 * x1] = bar
    rows[height - 10][30 : 3 * (width - 9)] = axis * (width - 19)  # x axis
    for y in range(10, height - 9):  # y axis
        rows[y][30:33] = axis
    return _png(rows, width)


# ---------------------------------------------------------------------------
# HTML rendering (tables only — the reference's Jinja layer, de-branded)
# ---------------------------------------------------------------------------


def _table_html(title: str, rows: list[dict]) -> str:
    if not rows:
        return f"<h3>{html.escape(title)}</h3><p>(empty)</p>"
    cols = list(rows[0].keys())
    head = "".join(f"<th>{html.escape(str(c))}</th>" for c in cols)
    body = "".join(
        "<tr>" + "".join(f"<td>{html.escape(str(r[c]))}</td>" for c in cols) + "</tr>"
        for r in rows
    )
    return (
        f"<h3>{html.escape(title)}</h3>"
        f"<table border=1><tr>{head}</tr>{body}</table>"
    )


MAX_TABLE_ROWS = 200  # edge guard: never stream an unbounded table


def render_dashboard(kind: str, key: str, dash: dict) -> str:
    """One dashboard dict (plans/dashboard.py) -> one HTML page. Chart
    DataFrames are bin-sized; the raw table is capped at the edge."""
    parts = [f"<html><body><h1>{kind} {html.escape(key)}</h1>"]
    for name, df in dash.items():
        if name == "table":
            rows = [r.asDict() for r in df.limit(MAX_TABLE_ROWS).collect()]
            parts.append(_table_html(f"table (first {MAX_TABLE_ROWS})", rows))
        elif name.startswith("hist_"):
            rows = [r.asDict() for r in df.collect()]
            parts.append(_table_html(name, rows))
            parts.append(f'<img src="/{kind}/{key}/{name}.png" alt="{name}">')
        elif name.startswith("geo_"):
            rows = [r.asDict() for r in df.limit(50).collect()]
            parts.append(_table_html(f"{name} (sample)", rows))
        else:  # nav lists
            keys = [str(r[0]) for r in df.collect()]
            links = " | ".join(
                f'<a href="/{"quarterly" if "quarter" in name else "mode"}/'
                f'{k}">{html.escape(k)}</a>'
                for k in keys
            )
            parts.append(f"<p>{html.escape(name)}: {links}</p>")
    parts.append("</body></html>")
    return "".join(parts)


def hist_png(dash: dict, chart: str) -> bytes | None:
    df = dash.get(chart)
    if df is None:
        return None
    rows = [r.asDict() for r in df.collect()]
    count_col = "n" if rows and "n" in rows[0] else None
    if count_col is None:
        return None
    return bar_chart_png([int(r["n"]) for r in rows])


# ---------------------------------------------------------------------------
# HTTP shim
# ---------------------------------------------------------------------------


NAV_ENTRIES = ("nav_quarters", "nav_modes")


def make_handler(cleaned):
    """Handler closure over the cleaned fact DataFrame. Each request builds
    only the dashboard entries it sends: a page builds its whole dict, a
    PNG only its chart, the index only the two nav lists. Filters are
    partition-pruned, so at scale a chart is one pruned scan, the same plan
    the batch queries use. The builders are looked up here, when the
    handler is made, so a wrapper installed before this call sees every
    request."""
    from learn_etl_data_warehouse_spark.plans.dashboard import (
        mode_dashboard,
        quarterly_dashboard,
    )

    builders = {"quarterly": quarterly_dashboard, "mode": mode_dashboard}

    class Handler(BaseHTTPRequestHandler):
        def _send(self, code: int, body: bytes, ctype: str) -> None:
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:  # noqa: N802 (http.server API)
            parts = [p for p in self.path.split("/") if p]
            try:
                if not parts:
                    navs = builders["quarterly"](cleaned, "", NAV_ENTRIES)
                    page = render_dashboard("quarterly", "", navs)
                    return self._send(200, page.encode(), "text/html")
                kind, key = parts[0], parts[1] if len(parts) > 1 else ""
                if kind not in builders or not key:
                    return self._send(404, b"not found", "text/plain")
                if len(parts) == 3 and parts[2].endswith(".png"):
                    chart = parts[2][: -len(".png")]
                    try:  # only histogram entries are charts
                        dash = (builders[kind](cleaned, key, [chart])
                                if chart.startswith("hist_") else {})
                    except KeyError:  # no such entry on this dashboard
                        dash = {}
                    png = hist_png(dash, chart)
                    if png is None:
                        return self._send(404, b"no such chart", "text/plain")
                    return self._send(200, png, "image/png")
                page = render_dashboard(kind, key, builders[kind](cleaned, key))
                return self._send(200, page.encode(), "text/html")
            except Exception as exc:  # edge shim: report, don't crash
                self._send(500, str(exc).encode(), "text/plain")

        def log_message(self, *args) -> None:  # quiet for tests
            pass

    return Handler


def main() -> None:
    port = int(sys.argv[sys.argv.index("--port") + 1]) if "--port" in sys.argv else 8000
    from learn_etl_data_warehouse_spark.plans.warehouse import clean_fact
    from learn_etl_data_warehouse_spark.session import get_spark
    from learn_etl_data_warehouse_spark.sources.sqlite import read_sqlite_table

    ref_db = "/root/reference/assets/oltp/dummy_ojol_transactions_raw_only.sqlite"
    table = "dummy_ojol_transactions_raw_only_query_get_transaction_list_koto"
    spark = get_spark(app_name="letl-dw-serve", master="local[4]")
    cleaned = clean_fact(
        read_sqlite_table(spark, ref_db, table, all_string=True)
    ).cache()
    cleaned.count()  # materialize once; requests then hit the cache
    server = ThreadingHTTPServer(("127.0.0.1", port), make_handler(cleaned))
    print(f"serving dashboards on http://127.0.0.1:{port}/")
    server.serve_forever()


if __name__ == "__main__":
    main()
