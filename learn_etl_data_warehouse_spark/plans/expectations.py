"""Data-quality expectations — the Delta-constraints / dbt-tests analog
for the manifest warehouse.

A rule set is ``{name: boolean_sql_or_Column}``; a row SATISFIES a rule
when the predicate is TRUE (NULL counts as a violation, SQL CHECK
semantics would pass it — data-quality wants the strict reading, stated
here explicitly). All rules evaluate in ONE shuffle-free projection —
the gate adds a narrow map over the batch, nothing else — so it belongs
in front of a 100 TB ingest the same way the cleaning layer does.

``violation_counts`` is the manifest warehouse's CHECK-constraint gate:
a commit whose offered rows violate a rule aborts BEFORE publish (the
manifest swap never happens, readers keep the old snapshot — constraints
are transactional because publication is).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F



def _as_col(rule: str | Column) -> Column:
    return F.expr(rule) if isinstance(rule, str) else rule


def violation_counts(
    df: DataFrame, rules: dict[str, str | Column]
) -> dict[str, int]:
    """Per-rule violation counts in one aggregate job (conditional
    count per rule — no explode, no second scan per rule). An empty rule
    set short-circuits to {} — ``df.agg()`` with zero expressions is a
    Spark error, and 'no rules' simply means 'no violations'."""
    if not rules:
        return {}
    aggs = [
        F.count(
            F.when(~F.coalesce(_as_col(rule), F.lit(False)), F.lit(1))
        ).alias(name)
        for name, rule in sorted(rules.items())
    ]
    row = df.agg(*aggs).collect()[0]
    return {k: int(v) for k, v in row.asDict().items() if v}
