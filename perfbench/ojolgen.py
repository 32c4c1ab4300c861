"""Seeded generator of the ojol raw fact (FIXTURES.md A1 grammar).

Every column is a string, as in the reference's typeless SQLite export:

- ``date_process`` is ``'<start> s/d <end>'``; the end may fall on a later
  day (durations 5 to 30,160 minutes) and starts fall in 2018Q3-2019Q1;
- ``from_kelurahanid``/``to_kelurahanid`` are sci-notation (``'6.171031002E9'``)
  or plain (``'6171030001'``);
- about 0.5% of ``transaction_from_latlng`` cells carry the corrupt 31-tab
  pattern ``'<lat>,<lng> ' + '\\t' * 31 + '<lat>'``;
- ``merchant_id`` is ``''`` exactly when the mode is BIKE or CAR.

Quarter, mode and corrupt-row counts are the reference's counts times the
scale, so the generator knows every count a correct engine must reproduce.
It writes the SQLite source that ``serve.main`` reads and the ``;``-CSV
Hive-layout landing zone that ``plans.sharded_etl.read_sharded_fact`` reads.

Self-test (1x scale must reproduce the reference's shape)::

    python3 perfbench/ojolgen.py
"""

from __future__ import annotations

import datetime as dt
import os
import sqlite3
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

TABLE = "dummy_ojol_transactions_raw_only_query_get_transaction_list_koto"
COLUMNS = [
    "id",
    "date_process",
    "mode",
    "from_alamat",
    "from_kelurahanid",
    "to_alamat",
    "to_kelurahanid",
    "transaction_from_latlng",
    "transaction_to_latlng",
    "distance",
    "amount_delivery",
    "amount_merchant",
    "transaction_amount_total",
    "customer_id",
    "driver_id",
    "merchant_id",
]

REF_ROWS = 1878
REF_QUARTERS = {"2018Q3": 205, "2018Q4": 1113, "2019Q1": 560}
REF_MODES = {"BIKE": 594, "CAR": 337, "FOOD": 506, "SHOP": 441}
REF_CORRUPT = 10
QUARTER_START = {
    "2018Q3": dt.datetime(2018, 7, 1),
    "2018Q4": dt.datetime(2018, 10, 1),
    "2019Q1": dt.datetime(2019, 1, 1),
}
QUARTER_DAYS = {"2018Q3": 92, "2018Q4": 92, "2019Q1": 90}
# 29 Pontianak kelurahan ids; none ends in 0, so the sci-notation form
# keeps all nine decimals and the reference's cleaning rule recovers it.
KELURAHAN = [6171010001 + 1000 * (i // 5) * 10 + (i % 5) for i in range(29)]
STREETS = ["Jl. Gajah Mada", "Jl. Tanjungpura", "Jl. Ahmad Yani", "Gg. Merpati",
           "Jl. Sungai Raya Dalam", "Komp. Bali Agung", "Jl. Reformasi"]


@dataclass
class Fact:
    """Generated rows plus the counts a correct engine must reproduce."""

    rows: list[tuple[str, ...]]
    quarter: list[str]
    shard: list[int]
    n_shards: int
    by_quarter: Counter = field(default_factory=Counter)
    by_mode: Counter = field(default_factory=Counter)
    by_quarter_mode: Counter = field(default_factory=Counter)
    by_shard_quarter: Counter = field(default_factory=Counter)

    def expected(self) -> dict:
        """Counts as JSON-friendly dicts (keys ``q``, ``m``, ``q|m``, ``k|q``)."""
        return {
            "rows": len(self.rows),
            "by_quarter": dict(self.by_quarter),
            "by_mode": dict(self.by_mode),
            "by_quarter_mode": {f"{q}|{m}": n for (q, m), n in self.by_quarter_mode.items()},
            "by_shard_quarter": {f"{k}|{q}": n for (k, q), n in self.by_shard_quarter.items()},
        }


def _labels(counts: dict[str, int], scale: float, rng: np.random.Generator) -> np.ndarray:
    keys = list(counts)
    reps = [round(counts[k] * scale) for k in keys]
    return rng.permutation(np.repeat(np.array(keys), reps))


def _draw(rng: np.random.Generator, n: int, lo: int, hi: int, fmt) -> list[str]:
    """``n`` uniform draws from ``fmt(lo..hi-1)``, formatting each distinct
    value once: per-row float formatting dominated generation time."""
    table = [fmt(v) for v in range(lo, hi)]
    return [table[i] for i in rng.integers(0, hi - lo, n).tolist()]


def _coords(rng: np.random.Generator, n: int) -> tuple[list[str], list[str]]:
    return (_draw(rng, n, -90_000, 10_000, lambda v: str(v / 1e6)),
            _draw(rng, n, 109_270_000, 109_380_000, lambda v: str(v / 1e6)))


def generate(scale: float, seed: int, n_shards: int = 8) -> Fact:
    """``round(1878 * scale)`` rows with the reference's quarter/mode mix,
    drawn a column at a time."""
    rng = np.random.default_rng(seed)
    quarters = _labels(REF_QUARTERS, scale, rng)
    modes = _labels(REF_MODES, scale, rng)
    n = min(len(quarters), len(modes))
    quarters, modes = quarters[:n], modes[:n]

    q_index = {q: i for i, q in enumerate(QUARTER_START)}
    q_of_row = np.array([q_index[q] for q in quarters.tolist()])
    base = np.array([np.datetime64(d, "m") for d in QUARTER_START.values()])[q_of_row]
    q_days = np.array(list(QUARTER_DAYS.values()))[q_of_row]
    start = base + rng.integers(0, 1 << 30, n) % q_days * 1440 + rng.integers(0, 1440, n)
    # mostly short trips; a few run for days, so ends cross midnight
    minutes = np.where(rng.random(n) < 0.97, rng.integers(5, 181, n),
                       rng.integers(181, 30161, n))
    end = start + minutes

    def stamps(t: np.ndarray) -> list[str]:
        return [s.replace("T", " ") for s in
                np.datetime_as_string(t.astype("datetime64[s]")).tolist()]

    date_process = [f"{a} s/d {b}" for a, b in zip(stamps(start), stamps(end))]
    streets = [f"{s} No. {k}, Pontianak" for s in STREETS for k in range(1, 201)]
    kel_forms = [f"{k / 1e9:.9f}E9" for k in KELURAHAN] + [str(k) for k in KELURAHAN]

    def pick(options: list[str]) -> list[str]:
        return [options[i] for i in rng.integers(0, len(options), n).tolist()]

    flat, flng = _coords(rng, n)
    tlat, tlng = _coords(rng, n)
    from_ll = [f"{a},{b}" for a, b in zip(flat, flng)]
    corrupt = rng.choice(n, round(REF_CORRUPT * scale), replace=False).tolist()
    for i in corrupt:
        from_ll[i] = f"{from_ll[i]} " + "\t" * 31 + flat[i]
    has_merchant = [m in ("FOOD", "SHOP") for m in modes.tolist()]
    delivery = (500 * rng.integers(4, 61, n)).tolist()
    merchant = [1000 * k if has else 0 for k, has in
                zip(rng.integers(5, 301, n).tolist(), has_merchant)]
    merchant_id = [m if has else "" for m, has in
                   zip(_draw(rng, n, 1, 85, lambda v: f"{v}.0"), has_merchant)]
    shard = rng.integers(0, n_shards, n).tolist()
    columns = [
        [f"{i}.0" for i in range(1, n + 1)],
        date_process,
        modes.tolist(),
        pick(streets),
        pick(kel_forms),
        pick(streets),
        pick(kel_forms),
        from_ll,
        [f"{a},{b}" for a, b in zip(tlat, tlng)],
        _draw(rng, n, 0, 4001, lambda v: str(v / 100)),
        [f"{v}.0" for v in delivery],
        [f"{v}.0" for v in merchant],
        [f"{a + b}.0" for a, b in zip(delivery, merchant)],
        _draw(rng, n, 1, 75, lambda v: f"{v}.0"),
        _draw(rng, n, 1, 36, lambda v: f"{v}.0"),
        merchant_id,
    ]
    fact = Fact(rows=list(zip(*columns)), quarter=quarters.tolist(), shard=shard,
                n_shards=n_shards)
    fact.by_quarter.update(fact.quarter)
    fact.by_mode.update(columns[2])
    fact.by_quarter_mode.update(zip(fact.quarter, columns[2]))
    fact.by_shard_quarter.update(zip(fact.shard, fact.quarter))
    return fact


def write_sqlite(fact: Fact, path: str) -> None:
    """The typeless OLTP source: one TEXT table, as the reference ships it."""
    con = sqlite3.connect(path)
    try:
        cols = ", ".join(f'"{c}" TEXT' for c in COLUMNS)
        con.execute(f'CREATE TABLE "{TABLE}" ({cols})')
        marks = ", ".join("?" * len(COLUMNS))
        con.executemany(f'INSERT INTO "{TABLE}" VALUES ({marks})', fact.rows)
        con.commit()
    finally:
        con.close()


def write_landing(fact: Fact, landing: str) -> None:
    """``landing/_shard=<k>/part-00000.csv`` with ``;`` separators and a
    header. No generated field holds ``;``, a quote or a newline, so a
    plain join is the CSV encoding."""
    lines: list[list[str]] = [[";".join(COLUMNS)] for _ in range(fact.n_shards)]
    for row, k in zip(fact.rows, fact.shard):
        lines[k].append(";".join(row))
    for k, shard_lines in enumerate(lines):
        d = os.path.join(landing, f"_shard={k}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-00000.csv"), "w") as fh:
            fh.write("\n".join(shard_lines))
            fh.write("\n")


def self_test() -> None:
    """1x scale reproduces the reference's shape; scaled runs stay seeded."""
    fact = generate(1.0, seed=7)
    exp = fact.expected()
    checks = {
        "rows": (exp["rows"], REF_ROWS),
        "quarters": (exp["by_quarter"], REF_QUARTERS),
        "modes": (exp["by_mode"], REF_MODES),
        "corrupt": (sum("\t" * 31 in r[7] for r in fact.rows), REF_CORRUPT),
        "empty_merchant": (sum(r[15] == "" for r in fact.rows), 931),
        "empty_iff_bike_car": (
            all((r[15] == "") == (r[2] in ("BIKE", "CAR")) for r in fact.rows), True),
        "sci_and_plain": ({"E9" in r[4] for r in fact.rows}, {True, False}),
        "crosses_midnight": (any(r[1][:10] != r[1][-19:-9] for r in fact.rows), True),
        "same_seed_same_rows": (generate(1.0, seed=7).rows == fact.rows, True),
        "other_seed_other_rows": (generate(1.0, seed=8).rows != fact.rows, True),
    }
    bad = {k: v for k, v in checks.items() if v[0] != v[1]}
    if bad:
        raise RuntimeError(f"ojolgen self-test failed: {bad}")
    print("ojolgen self-test passed:", sorted(checks))


if __name__ == "__main__":
    self_test()
