"""Serving-edge demo: the reference's dashboard routes must answer from
the Spark warehouse end-to-end (HTML tables + PNG charts), with all
numbers coming from the golden-tested plans/dashboard.py DataFrames.

The tests serve a warehouse loaded from a seeded ``perfbench/ojolgen.py``
landing zone, which reproduces the reference's quarters and modes, so
they run on any host."""

from __future__ import annotations

import os
import struct
import threading
import urllib.error
import urllib.request
import zlib
from http.server import ThreadingHTTPServer

import pytest

from serve import bar_chart_png, hist_png, make_handler, render_dashboard

from learn_etl_data_warehouse_spark.plans.dashboard import (
    mode_dashboard,
    quarterly_dashboard,
)
from learn_etl_data_warehouse_spark.plans.sharded_etl import (
    TABLE_NAME,
    atomic_replace_warehouse,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _serve(cleaned):
    server = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(cleaned))
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server, f"http://127.0.0.1:{server.server_address[1]}"


@pytest.fixture(scope="module")
def ojol_served(spark, tmp_path_factory, ojolgen):
    """A 1x seeded ojol fact landed as 8 CSV shards, loaded with
    ``atomic_replace_warehouse`` and served from the written parquet, as
    a read right after a load sees it."""
    root = tmp_path_factory.mktemp("ojol")
    landing, wh = str(root / "landing"), str(root / "wh")
    ojolgen.write_landing(ojolgen.generate(1.0, seed=7), landing)
    atomic_replace_warehouse(spark, landing, wh)
    cleaned = spark.read.parquet(os.path.join(wh, TABLE_NAME))
    server, url = _serve(cleaned)
    yield url, cleaned, ojolgen
    server.shutdown()
    server.server_close()


def _get(url: str) -> tuple[int, bytes]:
    with urllib.request.urlopen(url) as resp:
        return resp.status, resp.read()


def test_quarterly_endpoint_serves_golden_partition(ojol_served):
    url = ojol_served[0]
    status, body = _get(f"{url}/quarterly/2018Q4")
    assert status == 200
    page = body.decode()
    # golden partition facts surface in the page: nav list and mode
    # histogram categories (test_dashboard.py pins the exact counts)
    for expected in ("2018Q3", "2018Q4", "2019Q1", "hist_amount_delivery", "BIKE"):
        assert expected in page
    # capped table rendered
    assert "table (first 200)" in page


def test_mode_endpoint_and_png_chart(ojol_served):
    url = ojol_served[0]
    status, body = _get(f"{url}/mode/BIKE")
    assert status == 200
    assert "hist_hour_start" in body.decode()

    status, png = _get(f"{url}/quarterly/2018Q4/hist_amount_delivery.png")
    assert status == 200
    assert png[:8] == b"\x89PNG\r\n\x1a\n"  # real PNG magic
    assert len(png) > 100


def test_unknown_routes_404(ojol_served):
    url = ojol_served[0]
    for path in (
        "/nope/x",
        "/quarterly",
        "/quarterly/2018Q4/nope.png",
        "/quarterly/2018Q4/table.png",  # an entry, but not a chart
        "/quarterly/2018Q4/hist_hour_start.png",  # a chart of EP3 only
    ):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(f"{url}{path}")
        assert e.value.code == 404


def test_served_pages_and_charts_match_full_dashboards(ojol_served):
    """Every route's bytes equal the edge's own render of the full
    dashboard dict: a PNG built from its one chart, and the index built
    from the two nav lists, draw exactly what the whole dict draws."""
    url, cleaned, ojolgen = ojol_served
    pages = 0
    for kind, keys, build in (
        ("quarterly", ojolgen.REF_QUARTERS, quarterly_dashboard),
        ("mode", ojolgen.REF_MODES, mode_dashboard),
    ):
        for key in keys:
            full = build(cleaned, key)
            page = render_dashboard(kind, key, full).encode()
            assert _get(f"{url}/{kind}/{key}") == (200, page)
            for chart in [n for n in full if n.startswith("hist_")]:
                want = hist_png(full, chart)
                assert want is not None
                assert _get(f"{url}/{kind}/{key}/{chart}.png") == (200, want)
            pages += 1
    assert pages == 7
    full = quarterly_dashboard(cleaned, "")
    index = render_dashboard(
        "quarterly", "", {k: v for k, v in full.items() if k.startswith("nav_")}
    )
    assert _get(f"{url}/") == (200, index.encode())


def test_png_request_runs_at_most_four_jobs(job_count, ojol_served):
    """A chart request builds only its chart: a numeric histogram's
    min/max and bin shuffles and the collect, or ``hist_mode``'s value
    counts and range sort."""
    url, cleaned, _ = ojol_served
    for kind, key, build in (
        ("quarterly", "2018Q4", quarterly_dashboard),
        ("mode", "FOOD", mode_dashboard),
    ):
        for chart in [n for n in build(cleaned, key) if n.startswith("hist_")]:
            before = job_count()
            status, body = _get(f"{url}/{kind}/{key}/{chart}.png")
            jobs = job_count() - before
            assert status == 200 and body[:8] == b"\x89PNG\r\n\x1a\n"
            assert 1 <= jobs <= 4, (kind, chart, jobs)


def _pixel_grid_bar_chart_png(counts, width=400, height=240):
    """The edge's earlier encoder, one tuple per pixel: the byte-exact
    reference for ``bar_chart_png``."""
    bg, fg, axis = (255, 255, 255), (31, 119, 180), (0, 0, 0)
    pixels = [[bg] * width for _ in range(height)]
    top = max(counts) if counts and max(counts) > 0 else 1
    n = max(len(counts), 1)
    bar_w = max((width - 20) // n, 1)
    for i, c in enumerate(counts):
        bar_h = int((height - 20) * (c / top))
        x0 = 10 + i * bar_w
        for y in range(height - 10 - bar_h, height - 10):
            for x in range(x0, min(x0 + bar_w - 2, width - 10)):
                pixels[y][x] = fg
    for x in range(10, width - 9):
        pixels[height - 10][x] = axis
    for y in range(10, height - 9):
        pixels[y][10] = axis

    def chunk(tag, payload):
        return (struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", zlib.crc32(tag + payload)))

    raw = b"".join(b"\x00" + b"".join(bytes(px) for px in row) for row in pixels)
    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))


@pytest.mark.parametrize("counts", [
    [5, 10, 200, 30, 0, 1, 7, 99, 150, 3],
    [0] * 10,
    [42],
    [0],
    [],
    [1, 1, 1, 2],
    [3, 0, 0, 0, 0, 0, 0, 0, 0, 7],
    list(range(40)),  # more bars than fit two pixels apart
    [1] * 500,  # more bars than pixel columns
])
def test_bar_chart_png_bytes_match_pixel_grid_encoder(counts):
    assert bar_chart_png(counts) == _pixel_grid_bar_chart_png(counts)
    assert bar_chart_png(counts, 37, 25) == _pixel_grid_bar_chart_png(counts, 37, 25)


def test_quickstart_example_runs_clean(spark, tmp_path, sf_small):
    """The examples/quickstart.py tour must run end-to-end (it is the
    documented first-contact surface — a broken example is a doc bug),
    and leave the catalog it built readable. It reads the sf0.001
    events fixture."""
    import importlib.util

    if not os.path.exists(os.path.join(sf_small, "events.parquet")):
        pytest.skip("sf0.001 events fixture not present")

    from learn_etl_data_warehouse_spark.plans.catalog import (
        catalog_read,
        register_catalog_views,
    )
    from learn_etl_data_warehouse_spark.sources.parquet import load_table

    spec = importlib.util.spec_from_file_location(
        "quickstart", os.path.join(REPO, "examples", "quickstart.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    work = str(tmp_path / "qs")
    mod.main(work)

    cdir = os.path.join(work, "warehouse")
    events = catalog_read(spark, cdir, "events")
    assert events.count() == load_table(spark, sf_small, "events").count()
    assert events.filter("event_type = 'error'").count() > 0
    assert catalog_read(spark, cdir, "hourly").count() > 0
    register_catalog_views(spark, cdir)
    assert spark.sql("SELECT count(*) FROM events").first()[0] == events.count()
