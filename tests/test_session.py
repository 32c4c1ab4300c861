"""The engine session factory's knob checks, which run before any
session is built (these tests start none)."""

from __future__ import annotations

import pytest

from learn_etl_data_warehouse_spark.session import get_spark


@pytest.mark.parametrize("value", ["abc", "0", "-1", ""])
def test_bad_spark_graft_cpus_raises(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark()
