"""Driver-window contract gate (r4).

The driver canonicalizes query results with pandas ``sort_values`` over
all columns before hashing; list/dict cells raise
``TypeError: unhashable type`` (r3's one red row, s07). Spark-side that
means: no ArrayType / MapType / StructType column may appear in the
output of any query the driver will actually check — i.e. the first 50
entries of ``queries()``, which are ``__spark_entry__.WINDOW``.

This test converts that class of failure from driver-discovered to
CI-discovered: it inspects the *analyzed schema* of every window entry
(cheap — no execution for lazy queries) and fails on any complex-typed
output column.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

WINDOW_SIZE = 50

# sha256 of "\n".join(queries()) and of json.dumps(oracle_sql(),
# sort_keys=True); see test_registry_and_oracles_are_pinned.
QUERIES_SHA256 = "7ddf6d7f149d0e47b3c84f64ddfc5fde9d7dfa26435e20f073e65f4607ea19b8"
ORACLES_SHA256 = "d12282e7105813012f59fdb0eaa5a58b2dbc2dfd661bf8ed972c8e83698c952d"


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def test_registry_and_oracles_are_pinned():
    """The registry's names and order, and every oracle's SQL, are pinned.

    A refactor of ``__spark_entry__.py`` must leave both hashes alone. When
    a window rotation, a new query or an oracle edit is intended, update
    the constant in the same commit and name each changed query in
    CHANGES.md; never update it to make an unexplained failure go away.
    """
    assert _sha256("\n".join(entrymod.queries())) == QUERIES_SHA256
    assert (
        _sha256(json.dumps(entrymod.oracle_sql(), sort_keys=True))
        == ORACLES_SHA256
    )


def test_driver_window_is_scalar_only(spark, sf_small):
    qs = entrymod.queries()
    bad = []
    for name in entrymod.WINDOW:
        schema = qs[name](spark, sf_small).schema
        for f in schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append((name, f.name, f.dataType.simpleString()))
    assert not bad, (
        "driver-window queries must emit scalar columns only (the driver's "
        f"pandas canonicalizer crashes on complex cells): {bad}"
    )


def test_driver_window_entries_have_oracles():
    """Every window slot should carry a DuckDB oracle — rows-only queries
    belong behind the window so driver checks are always value-checked."""
    assert len(set(entrymod.WINDOW)) == WINDOW_SIZE
    assert list(entrymod.queries())[:WINDOW_SIZE] == list(entrymod.WINDOW)
    oracles = entrymod.oracle_sql()
    missing = [n for n in entrymod.WINDOW if n not in oracles]
    assert not missing, f"window entries without oracle SQL: {missing}"
