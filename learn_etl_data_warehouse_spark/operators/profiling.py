"""Column profiling — the data-quality summary a warehouse publishes.

Long-format per-column stats (row count, non-null, null, exact
distinct) computed in ONE pass over the table: a single agg row with
3×N measures, then a ``stack`` to long form: an exact, query-shaped
profile whose values an oracle can verify.

Scale shape: one aggregation — Spark rewrites the multiple
count-distincts with EXPAND (one shuffle, N× row amplification of a
projection that holds only the profiled columns). Exact distinct over
100 TB is inherently a shuffle per column; for monitoring at that
scale prefer HLL ``approx_count_distinct`` and keep this for audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def column_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact long-form profile of ``cols``.

    Returns (column_name, n_rows, n_nonnull, n_null, n_distinct) with
    one row per profiled column; n_distinct ignores NULLs (SQL
    COUNT(DISTINCT) semantics on both engines).
    """
    if not cols:
        raise ValueError("column_profile: cols must be non-empty")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"nd_{c}"))
    row = df.agg(*aggs)
    stack_args = ", ".join(f"'{c}', nn_{c}, nd_{c}" for c in cols)
    return row.select(
        F.expr(
            f"stack({len(cols)}, {stack_args})"
            " AS (column_name, n_nonnull, n_distinct)"
        ),
        "n_rows",
    ).select(
        "column_name",
        "n_rows",
        "n_nonnull",
        (F.col("n_rows") - F.col("n_nonnull")).alias("n_null"),
        "n_distinct",
    )


def ks_drift(
    df: DataFrame,
    group_col: str,
    val_cents: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance, fully in integers.

    The drift monitor's distributional companion to the categorical
    chi-square-style check (``pf02``): D = max |F_a(x) − F_b(x)| over
    the two samples' empirical CDFs. The float-free reformulation:
    at each distinct value, with cumulative counts c_a, c_b and totals
    n_a, n_b,  |F_a − F_b| ∝ |c_a·n_b − c_b·n_a|  — the max of that
    integer cross-difference, reported as truncating
    ``d_ppm = (1e6·max|·|) div (n_a·n_b)``. No float CDFs, no
    tolerance: engine-exact at every boundary.

    Scale shape: one hash agg to (value, per-group counts), one
    ORDERED window for the cumulative sums, one max-agg. The
    cumulative window is a single ordered partition — fine up to
    ~1e7–1e8 distinct values (the CDF grid, not the row count); for
    more, replace the window with the d14 per-shard-offset two-pass
    prefix sum. Counts cross-multiplied in DECIMAL(38,0) (c·n
    overflows BIGINT near 3e9×3e9).

    Returns one row: (n_a, n_b, n_values, d_ppm).
    """
    g = F.col(group_col)
    per_val = (
        df.filter(g.isin([group_a, group_b]))
        .groupBy(F.col(val_cents).alias("v"))
        .agg(
            F.sum(F.when(g == group_a, 1).otherwise(0)).alias("_na"),
            F.sum(F.when(g == group_b, 1).otherwise(0)).alias("_nb"),
        )
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_val.select(
        F.sum("_na").over(w).cast("decimal(38,0)").alias("_ca"),
        F.sum("_nb").over(w).cast("decimal(38,0)").alias("_cb"),
    )
    totals = per_val.agg(
        F.sum("_na").cast("decimal(38,0)").alias("_ta"),
        F.sum("_nb").cast("decimal(38,0)").alias("_tb"),
        F.count(F.lit(1)).alias("n_values"),
    )
    joined = cum.crossJoin(F.broadcast(totals))
    diff = F.abs(
        F.col("_ca") * F.col("_tb") - F.col("_cb") * F.col("_ta")
    )
    return (
        joined.agg(
            F.max(F.col("_ta")).alias("_ta"),
            F.max(F.col("_tb")).alias("_tb"),
            F.max(F.col("n_values")).alias("n_values"),
            F.max(diff).alias("_d"),
        )
        .select(
            F.col("_ta").cast("long").alias("n_a"),
            F.col("_tb").cast("long").alias("n_b"),
            "n_values",
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * _d)"
                " div (_ta * _tb) AS BIGINT)"
            ).alias("d_ppm"),
        )
    )


# round(log10(1 + 1/d) * 1e6) for d = 1..9 — fixed integer literals so
# both engines compare against the same constants (no runtime log10).
BENFORD_PPM = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757)


def benford_profile(
    df: DataFrame, val_col: str, group_col: str
) -> DataFrame:
    """First-digit (Benford's law) distribution audit per group — the
    classic fabricated-numbers / broken-feed detector for positive
    monetary columns.

    The first significant digit is taken from the TRUNCATED integer
    part (values < 1 are excluded; Spark's double→long cast truncates,
    and the oracle must ``trunc()`` first because DuckDB's cast
    rounds). Observed shares are truncating ppm on non-negative
    integers; expected shares are the fixed ``BENFORD_PPM`` literals,
    so the deviation column is engine-exact.

    Plan shape: one shuffle to (group, digit) — ≤ 9 rows per group —
    then a per-group total re-agg and a tiny join back; nothing scales
    beyond |groups| · 9 after the first aggregation.

    Returns (grp, digit, n, obs_ppm, exp_ppm, dev_ppm).
    """
    v = df.filter(F.col(val_col) >= 1).select(
        F.col(group_col).alias("grp"),
        F.substring(
            F.col(val_col).cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit"),
    )
    c = v.groupBy("grp", "digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("grp").agg(F.sum("n").alias("_total"))
    exp_case = (
        "CASE digit "
        + " ".join(
            f"WHEN {d} THEN {p}" for d, p in enumerate(BENFORD_PPM, 1)
        )
        + " END"
    )
    return (
        c.join(t, "grp")
        .select(
            "grp",
            "digit",
            "n",
            F.expr("(n * 1000000) div _total").cast("long").alias("obs_ppm"),
            F.expr(exp_case).cast("long").alias("exp_ppm"),
        )
        .withColumn(
            "dev_ppm",
            F.abs(F.col("obs_ppm") - F.col("exp_ppm")).cast("long"),
        )
    )


def chi_square_independence(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Per-cell chi-square independence audit of two categorical
    columns — the drift/dependence screen behind "did shipping mode
    become correlated with priority" style monitoring.

    Exactness contract (the a15/grouped_corr posture): contingency
    counts and marginals are exact integers; the cell deviation
    d = n·O − R·C is computed exactly in DECIMAL(38,0) (HUGEINT on the
    oracle side — headroom to ~1e18-row tables), then the per-cell
    evaluation d²/(n·R·C) runs in doubles on identical exact operands,
    which IEEE reproduces across engines, rounded to 6 decimals.

    Plan shape: one shuffle to the (a, b) cell grid, two re-aggs of
    the tiny cell table for the marginals, one broadcastable 1-row
    total — past the first aggregation everything is |A|·|B|-sized.

    Returns (a, b, observed, expected, chi2_contrib); Σ chi2_contrib
    is the test statistic with (|A|−1)(|B|−1) degrees of freedom.
    """
    c = df.groupBy(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).agg(F.count(F.lit(1)).alias("o"))
    ra = c.groupBy("a").agg(F.sum("o").alias("ra"))
    cb = c.groupBy("b").agg(F.sum("o").alias("cb"))
    tot = c.agg(F.sum("o").alias("n"))
    j = (
        c.join(F.broadcast(ra), "a")
        .join(F.broadcast(cb), "b")
        .crossJoin(F.broadcast(tot))
    )
    dec = "decimal(38,0)"
    d = (
        F.col("n").cast(dec) * F.col("o").cast(dec)
        - F.col("ra").cast(dec) * F.col("cb").cast(dec)
    )
    den = F.col("n").cast(dec) * F.col("ra").cast(dec) * F.col("cb").cast(dec)
    expected = F.round(
        F.col("ra").cast("double")
        * F.col("cb").cast("double")
        / F.col("n").cast("double"),
        6,
    )
    dd = d.cast("double")
    contrib = F.round(dd * dd / den.cast("double"), 6)
    return j.select(
        "a",
        "b",
        F.col("o").alias("observed"),
        expected.alias("expected"),
        contrib.alias("chi2_contrib"),
    )


def fk_orphan_audit(
    specs: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Referential-integrity audit: for each (name, child, fk_col,
    parent, pk_col) relationship, count child rows whose non-null FK
    has no parent key. NULL FKs are reported separately, not as
    violations (a null reference is absence, not breakage).

    One left join per relationship (child FK onto the DISTINCT parent
    keys — Catalyst picks broadcast vs shuffle per side size), each
    reduced to a single audit row before the union, so the result is
    always ``len(specs)`` rows regardless of data size. orphan_ppm is
    the non-negative integer ``(1e6 · orphans) div total``.
    """
    if not specs:
        raise ValueError("fk_orphan_audit: specs must be non-empty")
    frames = []
    for name, child, fk_col, parent, pk_col in specs:
        p = parent.select(F.col(pk_col).alias("_pk")).distinct()
        j = child.select(F.col(fk_col).alias("_fk")).join(
            p, F.col("_fk") == F.col("_pk"), "left"
        )
        is_null = F.col("_fk").isNull()
        is_orphan = F.col("_fk").isNotNull() & F.col("_pk").isNull()
        frames.append(
            j.agg(
                F.count(F.lit(1)).alias("total_rows"),
                F.sum(is_null.cast("long")).alias("null_fk_rows"),
                F.sum(is_orphan.cast("long")).alias("orphan_rows"),
            ).select(
                F.lit(name).alias("relationship"),
                "total_rows",
                "null_fk_rows",
                "orphan_rows",
                F.expr("(1000000 * orphan_rows) div total_rows")
                .cast("long")
                .alias("orphan_ppm"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def fd_discovery(
    df: DataFrame,
    candidates: list[tuple[str, str]],
    table_name: str,
) -> DataFrame:
    """Functional-dependency audit: for each candidate ``det → dep``,
    does every determinant value map to at most one dependent value?
    The schema-discovery primitive behind normalization advice and
    silent-denormalization-drift alarms (a violated FD that used to
    hold means upstream started writing inconsistent attributes —
    pf06's referential audit for VALUES instead of keys).

    Per candidate: rows with both sides non-null group by the
    determinant, count distinct dependents, and reduce to
    ``(n_groups, n_violating, holds)`` — all exact integer counts. One
    narrow column-pruned aggregation per candidate (candidate lists
    are small and human-curated, like pf06's relationship list); each
    is a standard partial-aggregated shuffle at any scale.

    Returns (table_name, determinant, dependent, n_groups,
    n_violating, holds) with one row per candidate.
    """
    if not candidates:
        raise ValueError("fd_discovery: candidates must be non-empty")
    out = None
    for det, dep in candidates:
        g = (
            df.filter(F.col(det).isNotNull() & F.col(dep).isNotNull())
            .groupBy(det)
            .agg(F.countDistinct(dep).alias("_nd"))
        )
        row = g.agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.coalesce(
                F.sum((F.col("_nd") > 1).cast("long")), F.lit(0)
            ).cast("long").alias("n_violating"),
            (F.coalesce(F.max("_nd"), F.lit(0)) <= 1)
            .cast("long")
            .alias("holds"),
        ).select(
            F.lit(table_name).alias("table_name"),
            F.lit(det).alias("determinant"),
            F.lit(dep).alias("dependent"),
            "n_groups",
            "n_violating",
            "holds",
        )
        out = row if out is None else out.unionAll(row)
    return out


def categorical_profile(
    df: DataFrame,
    columns: list[str],
) -> DataFrame:
    """Per-column categorical shape report: distinct-value count, Gini
    impurity, and the top-3 values with their shares — the
    cardinality/concentration scan a profiler runs before choosing
    partition keys or flagging near-constant columns (pf01 covers
    numeric moments; this is its categorical sibling).

    Gini impurity is EXACT integer arithmetic — ``gini_ppm = 1e6 −
    (1e6·Σ cntᵢ²) div n²`` with the moment sums in DECIMAL(38,0)
    (HUGEINT twin) — chosen over Shannon entropy precisely because it
    needs no libm log (the repo's determinism contract). Nulls profile
    as the literal '<null>' bucket — a profiler must SEE null mass,
    not drop it.

    Plan: one stack (unpivot) pass over the pruned columns, one
    (column, value) hash agg, then per-column: a count-desc/value-asc
    top-3 window (bounded by the column's distinct values) and a
    moment agg. Never collects; value space per column is the only
    cardinality that matters, exactly like any group-by.

    Returns (column_name, rank, value, cnt, share_ppm, n_distinct,
    gini_ppm), 3 rows max per profiled column.
    """
    if not columns:
        raise ValueError("categorical_profile: columns must be non-empty")
    stack_expr = "stack({}, {})".format(
        len(columns),
        ", ".join(f"'{c}', CAST(`{c}` AS STRING)" for c in columns),
    )
    pairs = df.select(
        F.expr(stack_expr).alias("column_name", "_raw")
    ).select(
        "column_name", F.coalesce(F.col("_raw"), F.lit("<null>")).alias("value")
    )
    counts = pairs.groupBy("column_name", "value").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_col = counts.groupBy("column_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum("cnt").cast("decimal(38,0)").alias("_n"),
        F.sum(
            F.col("cnt").cast("decimal(38,0)")
            * F.col("cnt").cast("decimal(38,0)")
        ).alias("_sumsq"),
    ).select(
        "column_name",
        "n_distinct",
        F.expr(
            "CAST(1000000 - (CAST(1000000 AS DECIMAL(38,0)) * _sumsq)"
            " div (_n * _n) AS BIGINT)"
        ).alias("gini_ppm"),
        F.col("_n").cast("long").alias("_total"),
    )
    top_w = Window.partitionBy("column_name").orderBy(
        F.desc("cnt"), F.asc("value")
    )
    top3 = counts.withColumn("rank", F.row_number().over(top_w)).filter(
        F.col("rank") <= 3
    )
    return top3.join(per_col, "column_name").select(
        "column_name",
        F.col("rank").cast("long").alias("rank"),
        "value",
        F.col("cnt").cast("long").alias("cnt"),
        F.expr("(1000000 * cnt) div _total").cast("long").alias("share_ppm"),
        "n_distinct",
        "gini_ppm",
    )


def key_skew_audit(df: DataFrame, key_col: str) -> DataFrame:
    """Shuffle-key skew audit: the 20 heaviest keys with their
    corpus share and the SALT FACTOR that would spread each one back to
    the mean partition load — the diagnosis read before reaching for a
    salted join (j06) or AQE skew hints on a 100 TB shuffle.

    Integer-exact: share is truncating ppm; ``salt_factor`` is the
    ceiling division ``(cnt + mean − 1) div mean`` against the mean
    per-key count (a key at the mean gets factor 1). One hash agg on
    the key, a 1-row totals frame broadcast back, and a distributed
    TakeOrdered under the strict (cnt DESC, key ASC) order — counts,
    not rows, leave the aggregation. Returns (key_col, cnt, share_ppm,
    salt_factor)."""
    c = df.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    t = c.agg(
        F.sum("cnt").cast("long").alias("_total"),
        F.count(F.lit(1)).cast("long").alias("_nkeys"),
    ).withColumn("_mean", F.expr("_total div _nkeys").cast("long"))
    return (
        c.crossJoin(F.broadcast(t))
        .orderBy(F.col("cnt").desc(), key_col)
        .limit(20)
        .select(
            key_col,
            "cnt",
            F.expr("(1000000 * cnt) div _total")
            .cast("long")
            .alias("share_ppm"),
            F.expr("(cnt + _mean - 1) div _mean")
            .cast("long")
            .alias("salt_factor"),
        )
    )


def k_anonymity_audit(
    df: DataFrame,
    qi_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple — the
    re-identification-risk report a dataset publisher runs before
    release (the governance sibling of the t11 PII scrub: scrubbing
    direct identifiers does nothing if the QI combination is unique).

    One row per observed QI group with its row count (= the group's k)
    and the ``k_anonymous`` verdict (count ≥ ``k``); a consumer
    suppresses or generalizes the failing groups. Output volume is
    bounded by the QI alphabet's cross product, never the table. One
    hash agg — no window, no join.

    Returns (*qi_cols, n_rows, k_anonymous).
    """
    if k < 2:
        raise ValueError("k_anonymity_audit: k must be >= 2")
    return df.groupBy(*qi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    ).select(
        *qi_cols,
        "n_rows",
        (F.col("n_rows") >= k).alias("k_anonymous"),
    )


def relationship_profile(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    edge_name: str,
) -> DataFrame:
    """RELATIONSHIP CARDINALITY DISCOVERY for one candidate join edge —
    the cross-table half of data profiling (pf08 discovers FDs WITHIN a
    table; this classifies how two tables relate): from each side's
    per-key multiplicity and the key overlap, the edge is classified
    1:1 / 1:N / N:1 / M:N — the fact a schema-inference or
    join-planning tool needs before trusting a join.

    Per side one key-grain hash agg (key → multiplicity), then ONE
    full-outer join on the key and one global agg — no row-level
    product anywhere. NULL keys are excluded (they never equi-match;
    the j03 convention). Returns ONE row: (edge, rel_type, n_left_rows,
    n_right_rows, n_left_keys, n_right_keys, n_shared_keys,
    max_left_mult, max_right_mult, left_orphan_keys,
    right_orphan_keys)."""
    lk = (
        left.filter(F.col(left_key).isNotNull())
        .groupBy(F.col(left_key).cast("string").alias("_k"))
        .agg(F.count(F.lit(1)).cast("long").alias("_lm"))
    )
    rk = (
        right.filter(F.col(right_key).isNotNull())
        .groupBy(F.col(right_key).cast("string").alias("_k"))
        .agg(F.count(F.lit(1)).cast("long").alias("_rm"))
    )
    j = lk.join(rk, "_k", "full_outer")
    agg = j.agg(
        F.sum(F.coalesce(F.col("_lm"), F.lit(0))).cast("long").alias(
            "n_left_rows"
        ),
        F.sum(F.coalesce(F.col("_rm"), F.lit(0))).cast("long").alias(
            "n_right_rows"
        ),
        F.sum(F.col("_lm").isNotNull().cast("long")).cast("long").alias(
            "n_left_keys"
        ),
        F.sum(F.col("_rm").isNotNull().cast("long")).cast("long").alias(
            "n_right_keys"
        ),
        F.sum(
            (F.col("_lm").isNotNull() & F.col("_rm").isNotNull()).cast(
                "long"
            )
        )
        .cast("long")
        .alias("n_shared_keys"),
        F.max(F.coalesce(F.col("_lm"), F.lit(0))).cast("long").alias(
            "max_left_mult"
        ),
        F.max(F.coalesce(F.col("_rm"), F.lit(0))).cast("long").alias(
            "max_right_mult"
        ),
        F.sum(
            (F.col("_lm").isNotNull() & F.col("_rm").isNull()).cast("long")
        )
        .cast("long")
        .alias("left_orphan_keys"),
        F.sum(
            (F.col("_lm").isNull() & F.col("_rm").isNotNull()).cast("long")
        )
        .cast("long")
        .alias("right_orphan_keys"),
    )
    rel = (
        F.when(
            (F.col("max_left_mult") <= 1) & (F.col("max_right_mult") <= 1),
            "1:1",
        )
        .when(F.col("max_left_mult") <= 1, "1:N")
        .when(F.col("max_right_mult") <= 1, "N:1")
        .otherwise("M:N")
    )
    return agg.select(
        F.lit(edge_name).alias("edge"),
        rel.alias("rel_type"),
        "n_left_rows",
        "n_right_rows",
        "n_left_keys",
        "n_right_keys",
        "n_shared_keys",
        "max_left_mult",
        "max_right_mult",
        "left_orphan_keys",
        "right_orphan_keys",
    )


def format_rules_audit(rules) -> DataFrame:
    """Declarative FORMAT-RULE audit (pf13, the dbt-tests analog):
    ``rules`` is a list of (rule_name, frame, pass_condition Column);
    each rule contributes one row (rule, n, n_fail, fail_ppm). A NULL
    condition FAILS the rule (the dbt convention — a value you cannot
    even evaluate has not passed), via the when().otherwise(1) shape.

    One narrow aggregation per rule, no shuffle beyond each frame's
    own agg; output bounded by the rule list. fail_ppm is NULL for an
    empty frame (no honest rate), never a division error."""
    parts = []
    for name, df, cond in rules:
        parts.append(
            df.agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(
                    F.when(cond, F.lit(0)).otherwise(F.lit(1))
                )
                .cast("long")
                .alias("n_fail"),
            ).select(
                F.lit(name).alias("rule"),
                "n",
                F.coalesce(F.col("n_fail"), F.lit(0)).alias("n_fail"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "rule",
        "n",
        "n_fail",
        F.when(
            F.col("n") > 0, F.expr("(1000000 * n_fail) div n")
        ).cast("long").alias("fail_ppm"),
    )

def candidate_keys(specs) -> DataFrame:
    """CANDIDATE-KEY discovery (pf15): for each audited (table, column
    expression) pair, is the column a key — n_distinct == n_rows with
    zero NULLs? The uniqueness half of schema discovery next to pf08
    (FDs within a table) and pf12 (relationships across tables); a
    column that silently stops being unique is how duplicate-join
    fan-out enters a pipeline, and this is the audit that catches it
    at intake.

    ``specs`` is a list of (table_name, column_name, frame, Column) —
    composite keys pass a concatenated expression under a descriptive
    name (the caller owns separator safety). One narrow agg per spec
    (count / countDistinct / null count), outputs unioned; flags kept
    as BIGINT 0/1. Returns (tbl, col, n_rows, n_distinct, n_nulls,
    is_candidate_key)."""
    parts = []
    for tbl, col_name, frame, expr in specs:
        parts.append(
            frame.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.countDistinct(expr).cast("long").alias("n_distinct"),
                F.sum(expr.isNull().cast("long")).cast("long").alias(
                    "n_nulls"
                ),
            ).select(
                F.lit(tbl).alias("tbl"),
                F.lit(col_name).alias("col"),
                "n_rows",
                "n_distinct",
                "n_nulls",
                (
                    (F.col("n_distinct") == F.col("n_rows"))
                    & (F.col("n_nulls") == 0)
                ).cast("long").alias("is_candidate_key"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def id_gap_audit(specs) -> DataFrame:
    """ID sequence-hole audit (pf16): for each audited integer id
    column, how DENSE is the id space — n_distinct vs the span
    (max − min + 1), the missing-id count, and density in truncating
    ppm. The completeness half of schema discovery next to pf15
    (uniqueness): a feed that silently drops rows usually shows up as
    new holes in a previously dense id sequence long before totals
    drift far enough to alarm, and TPC-H's o_orderkey (deliberately
    ~1-in-4 dense) is the honest demonstration that sparse-by-design
    spaces need a pinned baseline, not a zero-missing assertion.

    ``specs`` is a list of (table_name, column_name, frame, Column)
    with the Column an integer id expression. One narrow agg per spec
    (count / countDistinct / min / max — NO window, NO sort: the span
    arithmetic happens on four scalars), outputs unioned. NULL ids
    are counted and excluded from the span (min/max ignore NULLs).
    Returns (tbl, col, n_rows, n_distinct, n_nulls, min_id, max_id,
    span, n_missing, density_ppm), all BIGINT; an all-NULL column
    yields NULL span fields.
    """
    parts = []
    for tbl, col_name, frame, expr in specs:
        parts.append(
            frame.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.countDistinct(expr).cast("long").alias("n_distinct"),
                F.sum(expr.isNull().cast("long")).cast("long").alias(
                    "n_nulls"
                ),
                F.min(expr).cast("long").alias("min_id"),
                F.max(expr).cast("long").alias("max_id"),
            ).select(
                F.lit(tbl).alias("tbl"),
                F.lit(col_name).alias("col"),
                "n_rows",
                "n_distinct",
                "n_nulls",
                "min_id",
                "max_id",
                (F.col("max_id") - F.col("min_id") + 1).cast("long").alias(
                    "span"
                ),
                (
                    F.col("max_id") - F.col("min_id") + 1
                    - F.col("n_distinct")
                ).cast("long").alias("n_missing"),
                F.expr(
                    "(1000000 * n_distinct) div (max_id - min_id + 1)"
                ).cast("long").alias("density_ppm"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def string_length_profile(specs) -> DataFrame:
    """String-hygiene profile (pf17): per audited varchar column, the
    length distribution (min/max/sum + truncating micro mean over
    NON-NULL values, in CHARACTERS — both engines' length() is
    character count; byte ledgers are m07's job) and the NULL/blank
    split — blank = non-NULL but trim-empty, the "present but empty"
    rows a NULL-count audit (pf01/pf15) silently waves through. The
    string half of intake profiling next to pf16's id density.

    ``specs`` is (table_name, column_name, frame, Column); one narrow
    agg per spec, outputs unioned. An all-NULL column yields NULL
    length fields (absent, never zero-pretending).

    Returns (tbl, col, n_rows, n_null, n_blank, min_len, max_len,
    sum_len, mean_len_micro), all BIGINT.
    """
    parts = []
    for tbl, col_name, frame, expr in specs:
        ln = F.length(expr)
        parts.append(
            frame.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(expr.isNull().cast("long")).cast("long").alias(
                    "n_null"
                ),
                F.sum(
                    (expr.isNotNull() & (F.trim(expr) == "")).cast("long")
                ).cast("long").alias("n_blank"),
                F.min(ln).cast("long").alias("min_len"),
                F.max(ln).cast("long").alias("max_len"),
                F.sum(ln).cast("long").alias("sum_len"),
            ).select(
                F.lit(tbl).alias("tbl"),
                F.lit(col_name).alias("col"),
                "n_rows",
                "n_null",
                "n_blank",
                "min_len",
                "max_len",
                "sum_len",
                F.expr(
                    "CASE WHEN n_rows - n_null = 0 THEN NULL"
                    " ELSE (1000000 * sum_len) div (n_rows - n_null) END"
                ).cast("long").alias("mean_len_micro"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def duplicate_row_audit(specs) -> DataFrame:
    """Full-row duplicate audit (pf18): per table, row count vs
    DISTINCT-row count, the duplicate surplus and the worst
    multiplicity — completing the intake-profiling quartet (pf15
    keys / pf16 id density / pf17 strings / pf18 whole-row dups):
    a retried extract or a doubled file lands EXACT row copies that
    key-level audits can miss when the table has no trusted key.

    Determinism design: distinctness is computed by GROUPING ON ALL
    COLUMNS — never a string/hash canonicalization. SQL GROUP BY
    treats NULLs as equal identically on both engines and compares
    timestamps at value grain, where a cast-to-string canon would
    inherit each engine's formatting; and COUNT(DISTINCT a, b, ...)
    is a trap (it SKIPS rows with any NULL on both engines, silently
    under-counting). One all-columns hash agg per spec, then a scalar
    re-agg. A clean table reports zeros — a data-quality audit's
    healthy answer, not an empty grain.

    ``specs`` is (table_name, frame). Returns (tbl, n_rows,
    n_distinct_rows, n_dup_rows, max_multiplicity, dup_ppm), all
    BIGINT.
    """
    parts = []
    for tbl, frame in specs:
        g = frame.groupBy(*frame.columns).agg(
            F.count(F.lit(1)).alias("_n")
        )
        parts.append(
            g.agg(
                F.sum("_n").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_distinct_rows"),
                F.max("_n").cast("long").alias("max_multiplicity"),
            ).select(
                F.lit(tbl).alias("tbl"),
                "n_rows",
                "n_distinct_rows",
                (F.col("n_rows") - F.col("n_distinct_rows"))
                .cast("long").alias("n_dup_rows"),
                "max_multiplicity",
                F.expr(
                    "(1000000 * (n_rows - n_distinct_rows)) div n_rows"
                ).cast("long").alias("dup_ppm"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
