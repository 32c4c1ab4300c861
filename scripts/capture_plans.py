#!/usr/bin/env python
"""Capture .explain('formatted') for named headliner queries into
plans/<tag>/<query>_<suffix>.txt — the optimization-round evidence
artifact (the judge reads these files instead of running Spark).

Usage:
    python scripts/capture_plans.py <tag> <suffix> [query ...]

With no query names, captures every bench HEADLINE entry. Uses the
bench session confs (local[$SPARK_GRAFT_CPUS], cpus*2 shuffle
partitions, 4m splits) so the captured plan is the one the bench runs.

Per-process counters (expression ids ``#123``, ``plan_id=``, RDD ids)
are replaced by ``N`` before writing, so two captures of the same code
diff cleanly. An absolute <tag> writes outside the repo's plans/ dir.
"""
from __future__ import annotations

import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import __spark_entry__ as entrymod
import bench
from learn_etl_data_warehouse_spark.session import get_spark

_COUNTERS = re.compile(r"(#|plan_id=|RDD\[)\d+")


def normalize(plan: str) -> str:
    return _COUNTERS.sub(r"\1N", plan)


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or list(bench.HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="letl-dw-capture-plans",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(max(int(cpus) * 2, 8)),
            "spark.sql.files.maxPartitionBytes": "4m",
        },
    )
    queries = entrymod.queries()
    outdir = os.path.join(_REPO, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = queries[name](spark, sf_dir)
        plan = normalize(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ))
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
