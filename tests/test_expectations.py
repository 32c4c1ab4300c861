"""Expectations gate: rule evaluation semantics (NULL = violation)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from learn_etl_data_warehouse_spark.plans.expectations import violation_counts

def _rules():
    # built lazily: a Column rule needs an active session
    return {
        "id_not_null": "id IS NOT NULL",
        "v_nonneg": F.col("v") >= 0,
        "cat_known": "cat IN ('a', 'b')",
    }


@pytest.fixture()
def RULES(spark):
    return _rules()


@pytest.fixture()
def frame(spark):
    return spark.createDataFrame(
        [
            (1, 1.0, "a"),     # clean
            (2, -1.0, "b"),    # v_nonneg
            (None, 2.0, "a"),  # id_not_null
            (4, None, "zz"),   # v_nonneg (NULL = violation) + cat_known
        ],
        "id INT, v DOUBLE, cat STRING",
    )


def test_violation_counts_null_is_violation(spark, frame, RULES):
    counts = violation_counts(frame, RULES)
    assert counts == {"id_not_null": 1, "v_nonneg": 2, "cat_known": 1}  # NULL v fails


def test_violation_counts_empty_rules(spark, frame):
    assert violation_counts(frame, {}) == {}
