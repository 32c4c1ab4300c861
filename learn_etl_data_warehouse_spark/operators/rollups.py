"""Grouping operators beyond the histogram (SURVEY §2.4 A4-A6, §2.5).

- A4 distinct partition keys (the reference's nav menus) → distinct +
  orderBy (pandas groupby sorts keys; parity needs the explicit sort).
- A5 top-N per group (the reference's ``head(3)`` per quarter) →
  ``row_number`` over a window; deterministic tie-break required because
  Spark (unlike an ordered pandas frame) has no row order.
- A6 per-driver monthly rollup (declared by the by_driver CSV export) →
  date-part group + sums, with map-side partial aggregation for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def distinct_keys(df: DataFrame, key: str) -> DataFrame:
    """A4 — sorted distinct group keys."""
    return df.select(key).distinct().orderBy(key)


def top_n_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    n: int = 3,
) -> DataFrame:
    """A5 — first N rows per group under a total order.

    ``order_cols`` must define a total order (include a unique key as the
    final tiebreak) or results are nondeterministic across runs/engines.
    The window shuffle partitions by group — skew-safe as long as no
    single group dwarfs an executor; for pathological skew pre-aggregate
    or salt upstream.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .drop("rn")
    )


def hourly_preagg(
    events: DataFrame,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Mergeable hourly pre-aggregate — the continuous-aggregate /
    hypertable-rollup pattern: per (hour, keys) keep ONLY states that
    merge associatively (count, fixed-point integer sum, min, max), so
    any coarser grain re-aggregates from this table without touching raw
    events. The sum stays an INTEGER (``sum_fp`` = Σ round(value·scale))
    through every merge level — scaling back to money happens once, at
    the final grain — which is what keeps multi-level rollups
    order-independent and engine-exact (see functions/aggregates.py).

    At 100 TB this is the storage/append side of a streaming rollup: raw
    events aggregate once into hour partitions (map-side partial agg, one
    small shuffle), and every dashboard grain (day/week/month) reads the
    pre-agg, ~10³-10⁴× smaller than raw."""
    keys = key_cols if key_cols is not None else ["event_type"]
    return events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), *keys
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("value") * 10_000).cast("long")).alias("sum_fp"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def merge_rollup(preagg: DataFrame, grain: str = "day") -> DataFrame:
    """Re-aggregate a :func:`hourly_preagg` table to a coarser grain by
    MERGING partial states (sum of counts, sum of integer sums, min of
    mins, max of maxes) — never re-reading raw events. The defining
    correctness property (merge ≡ direct aggregation over raw data) is
    what the e07 oracle checks end-to-end."""
    from ..functions.aggregates import _half_up_div

    keys = ["event_type"]
    s = F.sum("sum_fp")
    out_scale = 100
    f = 10_000 // out_scale
    money = (
        _half_up_div(s, f).cast("double") / F.lit(out_scale)
        if f > 1
        else F.round(s.cast("double") / F.lit(10_000), 2)
    )
    return preagg.groupBy(
        F.date_trunc(grain, F.col("hour")).alias("period"), *keys
    ).agg(
        F.sum("n").cast("long").alias("n"),
        money.alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )


def maintain_rollup(
    prev: DataFrame,
    diff: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Incrementally maintain an :func:`hourly_preagg` table from a
    change-data-feed (rows labeled ``_change_type`` insert/delete) —
    incremental view
    maintenance, the alternative to recomputing a 100 TB rollup because
    one day's partitions changed.

    The classic measure taxonomy applies:

    - count and the integer fixed-point sum are ADDITIVE — inserts add,
      deletes subtract, exactly, with no rescan of raw data;
    - min/max are insert-mergeable (least/greatest with the incoming
      batch's extrema) but NOT subtractable — a delete may remove the
      extremum, so groups touched by deletes get their min/max marked
      unknown (null) and listed in the returned ``dirty`` frame.

    Returns ``(maintained, dirty)``: ``maintained`` is the updated
    pre-agg (groups whose count reaches 0 drop out; dirty groups carry
    null min/max), ``dirty`` is the (hour, keys) list to hand to
    :func:`refresh_rollup_groups`. Cost: one shuffle over the DIFF (not
    the corpus) + a key-equality join against the pre-agg."""
    keys = ["event_type"]
    hour = F.date_trunc("hour", F.col("ts")).alias("hour")
    is_ins = F.col("_change_type") == "insert"
    sign = F.when(is_ins, F.lit(1)).otherwise(F.lit(-1))
    d = diff.groupBy(hour, *keys).agg(
        F.sum(sign).cast("long").alias("_dn"),
        F.sum(sign * F.round(F.col("value") * 10_000).cast("long")).alias(
            "_dsum"
        ),
        F.min(F.when(is_ins, F.col("value"))).alias("_ins_min"),
        F.max(F.when(is_ins, F.col("value"))).alias("_ins_max"),
        F.max((~is_ins).cast("int")).alias("_had_del"),
    )
    j = prev.join(d, ["hour", *keys], "full_outer")
    n_new = (
        F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("_dn"), F.lit(0))
    ).cast("long")
    # Dirtiness is STICKY: a prev row whose min/max are null is a
    # delete-touched group that refresh_rollup_groups has not yet healed.
    # Without this, a second insert-only diff would let least/greatest
    # skip the nulls and adopt the batch extrema as the group's min/max —
    # silently wrong, with the group no longer flagged dirty.
    prev_dirty = (
        F.col("n").isNotNull()
        & F.col("min_value").isNull()
        & F.col("max_value").isNull()
    )
    dirty_flag = (F.coalesce(F.col("_had_del"), F.lit(0)) == 1) | prev_dirty
    maintained = (
        j.withColumn("_n_new", n_new)
        .filter(F.col("_n_new") > 0)
        .select(
            "hour",
            *keys,
            F.col("_n_new").alias("n"),
            (
                F.coalesce(F.col("sum_fp"), F.lit(0))
                + F.coalesce(F.col("_dsum"), F.lit(0))
            ).cast("long").alias("sum_fp"),
            F.when(dirty_flag, F.lit(None).cast("double"))
            .otherwise(F.least("min_value", "_ins_min"))
            .alias("min_value"),
            F.when(dirty_flag, F.lit(None).cast("double"))
            .otherwise(F.greatest("max_value", "_ins_max"))
            .alias("max_value"),
            dirty_flag.alias("_dirty"),
        )
    )
    dirty = maintained.filter("_dirty").select("hour", *keys)
    return maintained.drop("_dirty"), dirty


def refresh_rollup_groups(
    maintained: DataFrame,
    raw: DataFrame,
    dirty: DataFrame,
) -> DataFrame:
    """Recompute the dirty groups' full states from raw rows and splice
    them into the maintained pre-agg. The raw scan is restricted by a
    semi join on the (hour, keys) group — dirty groups are bounded by
    the diff's group count (broadcastable), and on a partitioned
    warehouse the hour predicate prunes partitions, so the rescan cost
    follows the CHANGE volume, not the table."""
    keys = ["event_type"]
    sub = (
        raw.withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .join(F.broadcast(dirty), ["hour", *keys], "left_semi")
        .drop("hour")
    )
    recomputed = hourly_preagg(sub, key_cols=keys)
    clean = maintained.join(
        F.broadcast(dirty), ["hour", *keys], "left_anti"
    )
    return clean.unionByName(recomputed)


def counted_join_view(
    a: DataFrame, b: DataFrame, key: str | list[str]
) -> DataFrame:
    """The inner equi-join view in COUNTED normal form: one row per
    distinct joined tuple with its multiplicity ``cnt`` — the
    representation :func:`maintain_join_view` maintains (multiset
    deltas apply as integer count arithmetic instead of row surgery).
    """
    keys = [key] if isinstance(key, str) else list(key)
    j = a.join(b, keys)
    return j.groupBy(*j.columns).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def maintain_join_view(
    prev: DataFrame,
    a_new: DataFrame,
    b_new: DataFrame,
    diff_a: DataFrame,
    diff_b: DataFrame,
    key: str | list[str],
) -> DataFrame:
    """Incrementally maintain an inner equi-join view A ⋈ B from the
    two tables' change-data-feeds — join-view IVM, the companion to
    :func:`maintain_rollup`'s aggregate IVM.

    Uses the delta formulation that needs only the NEW snapshots (no
    time-travel read of the old ones):

        Δ(A⋈B) = ΔA⋈B' + A'⋈ΔB − ΔA⋈ΔB

    with multiset signs (insert = +1, delete = −1; the correction term
    carries −s₁·s₂ because both delta-joins counted the delta×delta
    tuples once each). The signed delta is aggregated to per-tuple
    count changes and merged into the counted view: additive, exact,
    no rescan of the unchanged data.

    Cost: two delta-driven key-equality joins against the current
    snapshots plus one delta⋈delta — all proportional to the CHANGE
    volume on the probe side. Column names outside the key must be
    disjoint.

    Returns the updated counted view (tuples whose count reaches 0
    drop out).
    """
    keys = [key] if isinstance(key, str) else list(key)
    clash = (set(a_new.columns) & set(b_new.columns)) - set(keys)
    if clash:
        raise ValueError(
            f"maintain_join_view: non-key column clash {sorted(clash)}"
        )
    view_cols = (
        keys
        + [c for c in a_new.columns if c not in keys]
        + [c for c in b_new.columns if c not in keys]
    )
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    sa = diff_a.withColumn("_sa", sign).drop("_change_type")
    sb = diff_b.withColumn("_sb", sign).drop("_change_type")
    t1 = sa.join(b_new, keys).select(
        *view_cols, F.col("_sa").alias("_sign")
    )
    t2 = a_new.join(sb, keys).select(
        *view_cols, F.col("_sb").alias("_sign")
    )
    t3 = sa.join(sb, keys).select(
        *view_cols, (-(F.col("_sa") * F.col("_sb"))).alias("_sign")
    )
    dc = (
        t1.unionByName(t2)
        .unionByName(t3)
        .groupBy(*view_cols)
        .agg(F.sum("_sign").cast("long").alias("_dcnt"))
    )
    return (
        prev.join(dc, view_cols, "full_outer")
        .select(
            *view_cols,
            (
                F.coalesce(F.col("cnt"), F.lit(0))
                + F.coalesce(F.col("_dcnt"), F.lit(0))
            )
            .cast("long")
            .alias("cnt"),
        )
        .filter(F.col("cnt") > 0)
    )


def distinct_count_state(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Build the maintainable state behind a COUNT(DISTINCT value) per
    group: one (group, value, cnt) row per distinct pair. COUNT DISTINCT
    is the classic non-additive aggregate — a delete can't be applied to
    the distinct count itself (was that the value's last occurrence?),
    but it IS additive on this counted state, which is the standard IVM
    reduction. State size is bounded by the number of DISTINCT pairs,
    not rows."""
    return df.groupBy(
        F.col(group_col).alias("grp"), F.col(value_col).alias("val")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))


def maintain_distinct_state(
    prev: DataFrame, diff: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Apply a change-data-feed (``_change_type`` insert/delete rows) to
    a :func:`distinct_count_state` table: ±1 per row onto the pair's
    occurrence count, pairs reaching 0 drop out (the value no longer
    exists in the group — exactly when the distinct count must shrink).
    Cost: one shuffle over the DIFF's distinct pairs + a key-equality
    merge; the raw table is never rescanned.

    Over-deletes (a delete for a pair the state doesn't hold) would
    leave a negative count and silently corrupt later merges — they
    raise instead.
    """
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    d = diff.groupBy(
        F.col(group_col).alias("grp"), F.col(value_col).alias("val")
    ).agg(F.sum(sign).cast("long").alias("_d"))
    merged = (
        prev.join(d, ["grp", "val"], "full_outer")
        .select(
            "grp",
            "val",
            (
                F.coalesce(F.col("cnt"), F.lit(0))
                + F.coalesce(F.col("_d"), F.lit(0))
            ).cast("long").alias("cnt"),
        )
    )
    bad = merged.filter(F.col("cnt") < 0)
    if not bad.isEmpty():
        sample = bad.limit(3).collect()
        raise ValueError(
            f"maintain_distinct_state: over-delete on pairs {sample} — "
            "the diff deletes values the state never held"
        )
    return merged.filter(F.col("cnt") > 0)


def distinct_count_view(state: DataFrame) -> DataFrame:
    """The served view over :func:`distinct_count_state`: exact
    COUNT(DISTINCT value) per group — just counting live pairs."""
    return state.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct")
    )


def topk_sums_state(
    df: DataFrame, group_cols, entity_cols, val_col: str
) -> DataFrame:
    """Entity-grain additive state behind a MAINTAINED TOP-K view
    (ivm04): per (group, entity) the summed value. A top-k view cannot
    maintain just its k rows — an entity outside the k can climb past
    a member on any insert — so the honest state is the full
    entity-grain sum table (the classic ranking-view IVM result), and
    it IS additive: inserts merge by addition, deletes by negation.
    Derive the view with :func:`topk_from_sums` (rank is
    change-cheap: only groups TOUCHED by a delta need re-ranking at
    refresh time)."""
    g = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    e = [entity_cols] if isinstance(entity_cols, str) else list(entity_cols)
    return df.groupBy(*(g + e)).agg(
        F.sum(val_col).cast("long").alias("val")
    )


def maintain_topk_sums(
    state: DataFrame, delta: DataFrame, group_cols, entity_cols,
    val_col: str
) -> DataFrame:
    """Fold a CDF delta (rows carrying ``_change_type``
    'insert'|'delete') into the entity-grain sum state: signed
    additive merge; entities whose sum returns to 0 AND were fully
    deleted remain as zero rows only if still present — zero-sum rows
    with no remaining contribution are dropped to keep the state
    proportional to LIVE entities."""
    g = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    e = [entity_cols] if isinstance(entity_cols, str) else list(entity_cols)
    signed = delta.select(
        *(g + e),
        (
            F.when(F.col("_change_type") == "delete", -F.col(val_col))
            .otherwise(F.col(val_col))
        ).alias("_v"),
    ).groupBy(*(g + e)).agg(
        F.sum("_v").cast("long").alias("_dv"),
    )
    merged = (
        state.select(*(g + e), F.col("val").alias("_sv"))
        .join(signed, g + e, "full_outer")
        .select(
            *(g + e),
            (
                F.coalesce(F.col("_sv"), F.lit(0))
                + F.coalesce(F.col("_dv"), F.lit(0))
            ).cast("long").alias("val"),
        )
    )
    # POSITIVE-measure contract (revenue cents, counts): an entity's
    # sum is 0 iff it has no live rows, so dropping zero rows keeps
    # state == topk_sums_state(live rows) EXACTLY (conformance-
    # tested). A measure that can go negative would need per-entity
    # row counts to distinguish "nets to zero" from "gone" — refuse
    # that case at the call site, don't silently extend this.
    return merged.filter(F.col("val") != 0)


def topk_from_sums(
    state: DataFrame, group_cols, entity_cols, k: int = 3
) -> DataFrame:
    """Derive the TOP-K ranking view from the entity-grain sum state:
    rank by (val desc, entity asc) per group, keep k. Deterministic
    under value ties; at refresh time only groups touched by a delta
    need this window (change-cheap), and each group's frame is its
    own entity set — no global order anywhere."""
    g = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    e = [entity_cols] if isinstance(entity_cols, str) else list(entity_cols)
    w = Window.partitionBy(*g).orderBy(
        F.desc("val"), *[F.asc(c) for c in e]
    )
    return (
        state.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= int(k))
        .select(*(g + e), "val", F.col("rnk").cast("long").alias("rnk"))
    )
