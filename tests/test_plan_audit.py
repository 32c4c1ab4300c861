"""CI gates on the bench headliners' physical plans.

*No row-at-a-time Python.* No headliner's plan may contain
``BatchEvalPython`` (scripts/audit_plans.py is the human-readable
report): the engine's hot paths are native Column expressions, and the
only sanctioned Python is the Arrow-batched mapInPandas codec kernels. A
regression here is a 10-100× slowdown at scale that small-SF bench noise
can hide; the plan string can't.

*Pinned plans.* Each headliner's formatted plan, normalized by
``scripts/capture_plans.py::normalize`` (per-process counters and RDD
call sites, file directories, the shuffle-partition count and the order
Spark's multi-``COUNT(DISTINCT)`` rewrite gives its distinct groups),
hashes to the value in ``headline_plans.json``. A refactor that claims
"no plan changed" is checked here. Both gates share one build of each
query, because builders run eager checkpoints. This test only reads the
pinned file.

When a change means to alter a plan, or Spark is upgraded: regenerate the
file with ``python scripts/capture_plans.py --pin-headline-hashes``,
review each changed plan (this test prints the fresh normalized plan of
every mismatch; ``scripts/capture_plans.py <tag> <suffix>`` writes them
to files for a diff against the parent), and name each changed query in
CHANGES.md in the same commit. Never regenerate the file to make an
unexplained mismatch go away.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
import bench
from scripts.capture_plans import PLAN_HASHES, normalized_plan, plan_hash

PYTHON_OK = {"m02_media_features", "m05_decode_batches"}


@pytest.fixture(scope="module")
def headline_plans(spark, sf_small):
    """Name -> (executed plan string, normalized formatted plan) of every
    headliner, each built once."""
    queries = entrymod.queries()
    out = {}
    for name in bench.HEADLINE:
        df = queries[name](spark, sf_small)
        executed = df._jdf.queryExecution().executedPlan().toString()
        out[name] = (executed, normalized_plan(df))
    return out


def test_no_row_python_eval_in_headliner_plans(headline_plans):
    offenders = {}
    for name, (plan, _formatted) in headline_plans.items():
        n = len(re.findall(r"BatchEvalPython", plan))
        if n and name not in PYTHON_OK:
            offenders[name] = n
    assert not offenders, (
        f"row-at-a-time Python eval leaked into headliner plans: {offenders}"
    )


def test_headliner_plans_match_pinned_hashes(headline_plans):
    fresh = {
        name: plan_hash(formatted)
        for name, (_plan, formatted) in headline_plans.items()
    }
    with open(PLAN_HASHES) as f:
        pinned = json.load(f)
    changed = [name for name in fresh if fresh[name] != pinned.get(name)]
    for name in changed:
        print(f"--- {name}: fresh normalized plan ---\n{headline_plans[name][1]}")
    assert not changed and set(pinned) == set(fresh), (
        f"headliner plans differ from {os.path.basename(PLAN_HASHES)}: {changed}; "
        f"pinned but not a headliner: {sorted(set(pinned) - set(fresh))}"
    )


def test_headliners_exist_and_are_registered(spark):
    """bench.HEADLINE must stay a subset of queries() — a renamed query
    should fail here, not at bench time."""
    queries = entrymod.queries()
    missing = [n for n in bench.HEADLINE if n not in queries]
    assert not missing, f"bench headliners missing from queries(): {missing}"


def test_filters_and_projection_reach_the_scan(spark, sf_small):
    """Catalyst must push q06's predicates into the parquet scan
    (PushedFilters) and prune the projection to the four referenced
    columns (ReadSchema) — the 'free at 100 TB if you stay declarative'
    guarantees. A regression here (e.g. a UDF wrapping the filter column)
    silently turns a 4-column pruned scan into a full-table read."""
    df = entrymod.queries()["q06_forecast_revenue"](spark, sf_small)
    # formatted mode: the default toString truncates long scan lines,
    # which can hide (or fake) the PushedFilters clause
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "q06 must read parquet directly"
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert read_cols == {
        "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"
    }, f"column pruning lost: scan reads {read_cols}"
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and "IsNotNull" in pushed.group(1), (
        "predicates no longer reach the parquet scan"
    )
