#!/usr/bin/env python
"""Capture .explain('formatted') for named headliner queries into
plans/<tag>/<query>_<suffix>.txt — the optimization-round evidence
artifact (the judge reads these files instead of running Spark).

Usage:
    python scripts/capture_plans.py <tag> <suffix> [query ...]
    python scripts/capture_plans.py --pin-headline-hashes

With no query names, captures every bench HEADLINE entry. Uses the
bench session confs (local[$SPARK_GRAFT_CPUS], cpus*2 shuffle
partitions, 4m splits) so the captured plan is the one the bench runs.
An absolute <tag> writes outside the repo's plans/ dir.

``--pin-headline-hashes`` writes ``tests/headline_plans.json``: the
sha256 of each HEADLINE query's normalized plan, built on the test
suite's session (local[$SPARK_GRAFT_TEST_CPUS or 8], 4 shuffle
partitions) over ``$SPARK_GRAFT_TESTDATA/sf0.001``, which
``tests/test_plan_audit.py`` checks.

``normalize`` rewrites what changes between two captures of the same
code, so they diff cleanly; ``tests/test_plan_audit.py`` hashes plans
through it too:

- per-process counters (expression ids ``#123``, ``plan_id=``, RDD ids,
  and the suffix PySpark numbers each lambda variable with, ``x_5906``)
  become ``N``;
- an RDD's creation site (``at NativeMethodAccessorImpl.java:0``, or
  ``at <unknown>:0`` when an earlier job left no call site) is dropped;
- the directory of each file in a ``Location:`` line becomes ``<dir>``,
  so captures over different testdata roots compare;
- the partition count of a shuffle that follows
  ``spark.sql.shuffle.partitions`` becomes ``N`` (it is sized from the
  host's cores here);
- Spark's multi-``COUNT(DISTINCT)`` rewrite (an ``Expand`` that outputs
  ``gid``) orders its distinct groups by hash codes of expression ids,
  so which group gets ``gid`` 1 and which column slot changes from one
  in-JVM capture to the next (``d32_dataset_card_diff``,
  ``t42_repeated_sentences``). The groups are put in one order (by
  their normalized projected columns): the ``Expand`` projections and
  output are rebuilt in it, each run of the groups' output columns in a
  later list (a column, or an expression aliased ``AS`` it) is
  reordered to match, and each ``gid = k`` test is renumbered. Nothing
  else in the plan is reordered.
"""
from __future__ import annotations

import hashlib
import json
import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import __spark_entry__ as entrymod
import bench
from learn_etl_data_warehouse_spark.session import get_spark

PLAN_HASHES = os.path.join(_REPO, "tests", "headline_plans.json")

_COUNTERS = re.compile(r"(#|plan_id=|RDD\[)\d+")
_LAMBDA_VARS = re.compile(r"(lambda \w+?_)\d+\b")
_RDD_SITE = re.compile(r"(RDD\[N\] at \w+) at \S+:\d+")
_LOCATION_DIR = re.compile(r"file:[^,\]\s]*/")
_SHUFFLE_PARTITIONS = re.compile(r", \d+\), (ENSURE_REQUIREMENTS|REPARTITION_BY_COL)")
_EXPAND_ARGS = re.compile(r"^\(\d+\) Expand\n.*\n(Arguments: (.*))$", re.M)
_GID = re.compile(r"gid#\d+")


def _split_top(s: str) -> list[str]:
    """Split ``s`` at the ``", "`` separators outside any bracket."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0 and s.startswith(", ", i):
            parts.append(s[start:i])
            start = i + 2
    parts.append(s[start:])
    return parts


def _bracket_groups(line: str) -> list[tuple[int, int]]:
    """(start, end) of the text inside each balanced ``[...]``/``(...)``."""
    spans, stack = [], []
    for i, ch in enumerate(line):
        if ch in "([":
            stack.append(i)
        elif ch in ")]" and stack:
            spans.append((stack.pop() + 1, i))
    return spans


def _reorder_runs(line: str, old: list[str], new: list[str]) -> str:
    """Reorder each run of list items whose columns (an item, or what
    it is aliased ``AS``) are ``old`` in that order into ``new``'s order."""
    perm = [old.index(c) for c in new]
    done = False
    while not done:
        done = True
        for start, end in _bracket_groups(line):
            items = _split_top(line[start:end])
            cols = [item.rsplit(" AS ", 1)[-1] for item in items]
            i = next(
                (i for i in range(len(cols) - len(old) + 1) if cols[i:i + len(old)] == old),
                None,
            )
            if i is not None:
                items[i:i + len(old)] = [items[i + k] for k in perm]
                line = line[:start] + ", ".join(items) + line[end:]
                done = False
                break
    return line


def _canonical_distinct_groups(plan: str) -> str:
    for m in _EXPAND_ARGS.finditer(plan):
        projs_str, out_str = _split_top(m.group(2))
        out = _split_top(out_str[1:-1])
        gid = next((j for j, c in enumerate(out) if _GID.fullmatch(c)), None)
        if gid is None:
            continue
        projs = [_split_top(p[1:-1]) for p in _split_top(projs_str[1:-1])]
        slots = [j for j in range(gid) if any(p[j] == "null" for p in projs)]
        groups = sorted(
            (p for p in projs if p[gid] != "0"),
            key=lambda p: [_COUNTERS.sub(r"\1N", p[j]) for j in slots if p[j] != "null"],
        )
        order = [j for g in groups for j in slots if g[j] != "null"]
        renumber = {g[gid]: str(k) for k, g in enumerate(groups, 1)}

        def permuted(row: list[str]) -> list[str]:
            row = list(row)
            moved = [row[j] for j in order]
            for j, v in zip(slots, moved):
                row[j] = v
            return row

        new_projs = sorted(
            (permuted(p[:gid] + [renumber.get(p[gid], p[gid])] + p[gid + 1:]) for p in projs),
            key=lambda p: int(p[gid]),
        )
        args = "Arguments: [{}], [{}]".format(
            ", ".join("[" + ", ".join(p) + "]" for p in new_projs),
            ", ".join(permuted(out)),
        )
        old_cols = [out[j] for j in slots]
        new_cols = [out[j] for j in order]
        gid_test = re.compile(re.escape(out[gid]) + r" = (\d+)\b")
        lines = plan.split("\n")
        for i, line in enumerate(lines):
            if line == m.group(1):
                lines[i] = args
                continue
            if old_cols != new_cols:
                line = _reorder_runs(line, old_cols, new_cols)
            lines[i] = gid_test.sub(
                lambda t: f"{out[gid]} = {renumber.get(t.group(1), t.group(1))}", line
            )
        plan = "\n".join(lines)
    return plan


def normalize(plan: str) -> str:
    plan = _canonical_distinct_groups(plan)
    plan = _COUNTERS.sub(r"\1N", plan)
    plan = _LAMBDA_VARS.sub(r"\1N", plan)
    plan = _RDD_SITE.sub(r"\1", plan)
    plan = "\n".join(
        _LOCATION_DIR.sub("file:<dir>/", line) if line.startswith("Location: ") else line
        for line in plan.split("\n")
    )
    return _SHUFFLE_PARTITIONS.sub(r", N), \1", plan)


def normalized_plan(df) -> str:
    return normalize(df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    ))


def plan_hash(normalized: str) -> str:
    return hashlib.sha256(normalized.encode()).hexdigest()


def pin_headline_hashes() -> None:
    spark = get_spark(
        app_name="letl-dw-pin-plans",
        master=f"local[{os.environ.get('SPARK_GRAFT_TEST_CPUS', '8')}]",
        extra_conf={"spark.sql.shuffle.partitions": "4", "spark.driver.memory": "6g"},
    )
    sf_dir = os.path.join(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"), "sf0.001")
    queries = entrymod.queries()
    hashes = {
        name: plan_hash(normalized_plan(queries[name](spark, sf_dir)))
        for name in bench.HEADLINE
    }
    with open(PLAN_HASHES, "w") as f:
        json.dump(hashes, f, indent=1)
        f.write("\n")
    print(f"wrote {PLAN_HASHES} ({len(hashes)} plans)")


def main() -> None:
    if sys.argv[1:] == ["--pin-headline-hashes"]:
        pin_headline_hashes()
        return
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
        plan = normalized_plan(queries[name](spark, sf_dir))
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
