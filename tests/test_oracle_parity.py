"""Driver-emulation gate: every queries() entry with an oracle must match
the DuckDB result exactly (row count, column names, values) at sf0.001.

Mirrors the driver's CORRECTNESS check: columns sorted by name, rows
sorted, values compared after type normalization. Float compare is exact
— the engine is responsible for producing bit-stable values (rounding is
applied inside the queries on both sides where aggregates are involved).
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import tempfile

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from learn_etl_data_warehouse_spark.schemas import TESTDATA_TABLES

ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if v is pd.NaT:
        return None
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, (np.floating, float)):
        return float(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, np.ndarray):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def canon(df: pd.DataFrame):
    cols = sorted(df.columns)
    rows = [
        tuple(_norm(v) for v in tup)
        for tup in df[cols].itertuples(index=False, name=None)
    ]
    return cols, sorted(rows, key=repr)


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    spill_dir = tempfile.mkdtemp(prefix="oracle-spill-")
    try:
        # canon() sorts rows before comparing, so insertion order carries
        # zero semantic weight — and preserving it is what makes DuckDB's
        # out-of-core hash joins balloon. g13's wedge join at sf0.1 with
        # default threads=32 + ordered spill exceeded this host's free
        # disk (r7, 79 GB); threads=4 + unordered completed in ~130 s.
        # Since then the g13 oracle's unrolled rounds are AS MATERIALIZED
        # CTEs (inlined, DuckDB recomputed the wedge join at every
        # reference), and it runs in ~1 s at sf0.1. Cheap oracles lose a
        # few hundred ms to the lower thread count — irrelevant next to
        # the Spark side.
        con.execute("SET threads=4")
        con.execute("SET preserve_insertion_order=false")
        # DuckDB's default cap is 80% of RAM, which starves the suite's
        # Spark JVM when one oracle blows up. Under these caps a runaway
        # oracle fails its own test and the rest of the suite runs. Every
        # oracle completes at sf0.001/0.01/0.1 within them: none spills
        # at sf0.01, the largest spill at sf0.1 is g08's ~2.2 GB. The
        # spill cap matters as much as the memory one: the inlined g13
        # oracle spilled 9.6 GB in 90 s at sf0.001 under a 2 GB limit.
        con.execute("SET memory_limit='2GB'")
        con.execute(f"SET temp_directory='{spill_dir}'")
        con.execute("SET max_temp_directory_size='8GB'")
        for t in TESTDATA_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        return con.execute(sql).fetchdf()
    finally:
        con.close()
        shutil.rmtree(spill_dir, ignore_errors=True)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_parity(spark, sf_small, name):
    sdf = QUERIES[name](spark, sf_small).toPandas()
    if name not in ORACLES:
        # rows-only contract: must run and produce a stable schema
        assert sdf is not None
        return
    odf = run_oracle(ORACLES[name], sf_small)
    s_cols, s_rows = canon(sdf)
    o_cols, o_rows = canon(odf)
    assert s_cols == o_cols, f"{name}: columns {s_cols} != {o_cols}"
    assert len(s_rows) == len(o_rows), (
        f"{name}: row count {len(s_rows)} != {len(o_rows)}"
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) >= 2


def test_every_query_has_callable_signature():
    for name, fn in QUERIES.items():
        assert callable(fn), name
    # every oracle key must have a query
    assert set(ORACLES) <= set(QUERIES)
