"""Seeded generator of the analytics fixture tables (FIXTURES.md section B).

Writes ``<out>/<table>.parquet`` for the ten tables the ``__spark_entry__`` queries read,
with the same column names, types and value ranges as the pre-generated
``sf*`` fixtures, so ``__spark_entry__.queries()`` and its DuckDB oracles
run on them unchanged. Row counts follow the fixtures' schedule: lineitem
6M x sf, orders 1.5M x sf, and so on; documents 50,000 x sf and embeddings
20,000 x sf, each at least 500 and at most 5,000 (sf0.001 and sf0.01 both
hold 500 of each, sf0.1 holds 5,000 documents and 2,000 embeddings). The
text uses the fixtures' vocabulary: 30 words, documents of 10-100 words,
one in twenty a near-copy of an earlier one with a word replaced by
``dup``.

    python3 perfbench/analyticsgen.py --compare <fixture sf dir>

prints the shape of tables generated at that directory's scale factor next
to the fixture's: row counts, distinct values, document lengths and tokens.
"""

from __future__ import annotations

import argparse
import collections
import datetime as dt
import json
import os
import re
import statistics
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJECTIVES = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
NOUNS = ["widget", "plate", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("a the join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window spark part "
         "group big sort query fast").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_SHARES = [0.4, 0.15, 0.15, 0.15, 0.15]
DIM = 64


def _ts(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, first: dt.date, last: dt.date) -> pa.Array:
    span = (last - first).days + 1
    day_us = rng.integers(0, span, n) * 86_400_000_000
    return _ts(dt.datetime.combine(first, dt.time()), day_us)


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, k).tolist()) for k in lengths.tolist()]
    # one document in twenty is a near-copy of an earlier one, so the
    # near-duplicate operators find pairs above their thresholds
    for i in range(1, n):
        if rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts[i] = " ".join(words)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_SHARES).tolist(), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n).tolist()], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, DIM))
    vecs = centers[labels] + rng.normal(scale=2.0, size=(n, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    })


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = min(max(int(50_000 * sf), 500), 5_000)
    n_vecs = min(max(int(20_000 * sf), 500), 5_000)
    n_users = max(int(15_000 * sf), 10)
    i32 = pa.int32()
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)], pa.string()),
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist(), pa.string()),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(
                rng.choice(ADJECTIVES, n_part).tolist(),
                rng.choice(NOUNS, n_part).tolist())], pa.string()),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part).tolist()],
                                pa.string()),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part).tolist(), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist(), pa.string()),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist(), pa.string()),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li).tolist(), pa.string()),
            "l_linestatus": pa.array(rng.choice(["O", "F"], n_li).tolist(), pa.string()),
            "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            # arrival order over 30 days with microsecond jitter
            "ts": _ts(dt.datetime(2024, 1, 1),
                      np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev).tolist(), pa.string()),
            "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()],
                              pa.string()),
        }),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }
    return out


def write(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table; returns row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def shape(tables_by_name: dict[str, pa.Table]) -> dict:
    """What the comparison with a fixture looks at: row counts, distinct
    values of low-cardinality columns, document lengths and tokens."""
    out = {t: {"rows": tb.num_rows} for t, tb in tables_by_name.items()}
    for t, col in [("customer", "c_mktsegment"), ("part", "p_name"), ("part", "p_type"),
                   ("orders", "o_orderstatus"), ("lineitem", "l_returnflag"),
                   ("events", "event_type"), ("events", "user_id"),
                   ("documents", "source"), ("embeddings", "label")]:
        out[t][f"distinct {col}"] = len(set(tables_by_name[t][col].to_pylist()))
    docs = tables_by_name["documents"].to_pydict()
    words = [text.split() for text in docs["text"]]
    tokens = collections.Counter(w for ws in words for w in ws)
    lengths = [len(ws) for ws in words]
    langs = collections.Counter(docs["lang"])
    out["documents"].update({
        "distinct tokens": len(tokens),
        "words min/median/max": [min(lengths), statistics.median(lengths), max(lengths)],
        "near-copies": tokens["dup"],
        "en share": round(langs["en"] / len(lengths), 3),
    })
    vecs = tables_by_name["embeddings"]["embedding"]
    out["embeddings"]["dim"] = len(vecs[0])
    return out


def _compare(fixture_dir: str) -> None:
    from learn_etl_data_warehouse_spark.schemas import TESTDATA_TABLES

    sf = float(re.search(r"sf([0-9.]+)$", fixture_dir.rstrip("/")).group(1))
    fixture = {t: pq.read_table(os.path.join(fixture_dir, f"{t}.parquet"))
               for t in TESTDATA_TABLES}
    want, got = shape(fixture), shape(tables(sf, 0))
    for t in TESTDATA_TABLES:
        for key in want[t]:
            mark = "" if want[t][key] == got[t][key] else "  <- differs"
            print(f"{t:10} {key:22} fixture {json.dumps(want[t][key]):16} "
                  f"generated {json.dumps(got[t][key])}{mark}")


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--compare", required=True, metavar="SF_DIR",
                    help="a fixture directory named sf<scale factor>")
    _compare(ap.parse_args().compare)
