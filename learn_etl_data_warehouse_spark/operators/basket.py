"""Market-basket association rules (frequent item pairs).

Extends the engine's co-occurrence surface (graph.py builds the raw
edge list for PageRank/triangles) with the *support / confidence /
lift* semantics an analyst actually asks for: "which items sell
together, and is the pairing stronger than chance?".

Scale shape: one distinct-project of (basket, item), a self-equi-join
on the basket key (per-basket quadratic, bounded by basket size — TPC-H
orders hold ~4 lines regardless of SF), then hash aggregation on the
pair. No all-pairs join, no collect; the only broadcast is the 1-row
total-basket count. All derived ratios are integer fixed-point
(ppm / micro units, truncating division on non-negative operands) so
the output is engine-portable and oracle-checkable.

Overflow note: ``lift_micros`` computes ``1e6 * pair_n * n_baskets``
in BIGINT. With pair support bounded by basket-degree (small constant)
this stays far below 2^63 up to ~1e10 baskets; beyond that move the
numerator to DECIMAL(38,0) as functions/aggregates.py does for moment
sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frequent_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_support: int = 2,
) -> DataFrame:
    """All item pairs co-occurring in >= min_pair_support baskets.

    Returns (item_a, item_b, pair_n, n_a, n_b, n_baskets, conf_ppm,
    lift_micros) with item_a < item_b; conf_ppm = P(b|a) in parts per
    million (truncated), lift_micros = lift in micro-units (truncated).

    The distinct (basket, item) frame is lazily checkpointed (r14, guide
    §2.4): it is referenced four times (both self-join sides, the item
    margin, the basket total); left lazy, the distinct aggregation
    re-executes per consumer (AQE exchange reuse dedupes only below
    the exchange). A LAZY localCheckpoint computes it once — A/B in
    OPTIMIZATION_r14.md (fp01).
    """
    b = (
        df.select(
            F.col(basket_col).alias("bk"), F.col(item_col).alias("it")
        )
        .filter(F.col(basket_col).isNotNull() & F.col(item_col).isNotNull())
        .distinct()
        .localCheckpoint(eager=False)
    )
    item_n = b.groupBy("it").agg(F.count(F.lit(1)).alias("n_item"))
    pairs = (
        b.alias("l")
        .join(
            b.alias("r"),
            on=[
                F.col("l.bk") == F.col("r.bk"),
                F.col("l.it") < F.col("r.it"),
            ],
        )
        .groupBy(
            F.col("l.it").alias("item_a"), F.col("r.it").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= int(min_pair_support))
    )
    totals = b.agg(F.countDistinct("bk").alias("n_baskets"))
    out = (
        pairs.join(
            item_n.select(
                F.col("it").alias("item_a"), F.col("n_item").alias("n_a")
            ),
            "item_a",
        )
        .join(
            item_n.select(
                F.col("it").alias("item_b"), F.col("n_item").alias("n_b")
            ),
            "item_b",
        )
        .crossJoin(F.broadcast(totals))
    )
    return out.select(
        "item_a",
        "item_b",
        "pair_n",
        "n_a",
        "n_b",
        "n_baskets",
        F.expr("(1000000 * pair_n) div n_a").alias("conf_ppm"),
        F.expr("(1000000 * pair_n * n_baskets) div (n_a * n_b)").alias(
            "lift_micros"
        ),
    )


def sequential_pairs(
    df: DataFrame,
    actor_col: str,
    time_col: str,
    item_col: str,
    min_support: int = 2,
) -> DataFrame:
    """Sequential patterns: item A then item B in a LATER basket.

    The next-purchase building block ("customers who bought A went on
    to buy B"): for each actor, pair (A, B) counts once if the actor
    has A at some time strictly before some occurrence of B. The
    naive form joins every A-event to every later B-event — quadratic
    in events per actor. The reduction here: A-then-B exists iff
    ``min_time(A) < max_time(B)``, so each actor first collapses to
    one (item, min_time, max_time) row per distinct item, and the
    per-actor pair join runs on the DISTINCT-ITEM profile (bounded by
    catalog breadth per actor, not purchase frequency).

    Support counts actors (not occurrences); ``conf_ppm`` is the
    truncating-ppm share of A-holders who later took B — exact
    integers throughout, engine-portable.

    Plan shape: one hash agg to the (actor, item) profile, one
    per-actor self-equi-join, one hash agg on the pair, one item-level
    re-agg joined back. Same scale posture as :func:`frequent_pairs`;
    no collect, no broadcast of anything unbounded.

    Returns (item_a, item_b, n_seq, n_a, conf_ppm) with n_seq >=
    ``min_support``; A != B (self-transitions excluded).
    """
    # r14 (guide §2.4): the (actor, item) profile is consumed three
    # times (item margin + both self-join sides) — lazy checkpoint
    # computes the profile aggregation once (A/B: fp02 in
    # OPTIMIZATION_r14.md).
    prof = (
        df.select(
            F.col(actor_col).alias("ak"),
            F.col(item_col).alias("it"),
            F.col(time_col).alias("tt"),
        )
        .filter(F.col("ak").isNotNull() & F.col("it").isNotNull())
        .groupBy("ak", "it")
        .agg(F.min("tt").alias("tmin"), F.max("tt").alias("tmax"))
        .localCheckpoint(eager=False)
    )
    item_n = prof.groupBy("it").agg(F.count(F.lit(1)).alias("n_item"))
    seq = (
        prof.alias("a")
        .join(
            prof.alias("b"),
            on=[
                F.col("a.ak") == F.col("b.ak"),
                F.col("a.it") != F.col("b.it"),
                F.col("a.tmin") < F.col("b.tmax"),
            ],
        )
        .groupBy(
            F.col("a.it").alias("item_a"), F.col("b.it").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("n_seq"))
        .filter(F.col("n_seq") >= int(min_support))
    )
    return (
        seq.join(
            item_n.select(
                F.col("it").alias("item_a"), F.col("n_item").alias("n_a")
            ),
            "item_a",
        )
        .select(
            "item_a",
            "item_b",
            "n_seq",
            "n_a",
            F.expr("(1000000 * n_seq) div n_a").alias("conf_ppm"),
        )
    )


def frequent_triples(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
) -> DataFrame:
    """A-priori frequent 3-itemsets: item triples co-occurring in
    >= ``min_support`` baskets.

    The classic candidate-generation shape: in-basket ordered pair
    stream → PRUNE against the frequent-pair set (downward closure: a
    triple can only be frequent if every sub-pair is, so the semi-
    joins never change the result — they bound the candidate volume
    BEFORE the expensive third join and the count shuffle; on TPC-H
    baskets the volume is ≤ C(basket,3) per order anyway, but on
    web-scale baskets the prune is what makes level 3 feasible).

    All joins are key-equality on the basket; ratios are truncating
    ppm on non-negative integers (the fp01 contract).

    Returns (item_a < item_b < item_c, triple_n, n_baskets, supp_ppm).
    """
    # r14 (guide §2.4): b is referenced five times below (both
    # pair-stream sides, the third-item join, the basket total) — lazy
    # checkpoint computes the distinct once.
    b = (
        df.select(
            F.col(basket_col).alias("bk"), F.col(item_col).alias("it")
        )
        .filter(F.col(basket_col).isNotNull() & F.col(item_col).isNotNull())
        .distinct()
        .localCheckpoint(eager=False)
    )
    # r14 (guide §2.4 — compute once what is consumed twice): the old
    # shape built the IDENTICAL in-basket pair self-join twice, once
    # aggregated into the frequent-pair set and once as the candidate
    # duo stream (exchange reuse dedupes the shuffle below, not the
    # join above). Build the pair stream once and derive both from it;
    # result-invariant by construction (same rows feed both).
    pair_stream = (
        b.alias("l")
        .join(
            b.alias("r"),
            on=[F.col("l.bk") == F.col("r.bk"), F.col("l.it") < F.col("r.it")],
        )
        .select(
            F.col("l.bk").alias("_bk"),
            F.col("l.it").alias("a"),
            F.col("r.it").alias("b2"),
        )
        .localCheckpoint(eager=False)
    )
    freq_pairs = (
        pair_stream.groupBy(
            F.col("a").alias("pa"), F.col("b2").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("pn"))
        .filter(F.col("pn") >= int(min_support))
        .select("pa", "pb")
        # consumed by three semi-joins below; the set is bounded by the
        # frequent-pair count (small next to the candidate stream)
        .localCheckpoint(eager=False)
    )
    duo = pair_stream.join(
        freq_pairs,
        on=[F.col("a") == F.col("pa"), F.col("b2") == F.col("pb")],
        how="left_semi",
    )
    cand = (
        duo.join(
            b.alias("s"),
            on=[F.col("_bk") == F.col("s.bk"), F.col("b2") < F.col("s.it")],
        )
        .select("a", "b2", F.col("s.it").alias("c"))
        .join(
            freq_pairs,
            on=[F.col("b2") == F.col("pa"), F.col("c") == F.col("pb")],
            how="left_semi",
        )
        .join(
            freq_pairs,
            on=[F.col("a") == F.col("pa"), F.col("c") == F.col("pb")],
            how="left_semi",
        )
    )
    triples = (
        cand.groupBy("a", "b2", "c")
        .agg(F.count(F.lit(1)).alias("triple_n"))
        .filter(F.col("triple_n") >= int(min_support))
    )
    totals = b.agg(F.countDistinct("bk").alias("n_baskets"))
    return triples.crossJoin(F.broadcast(totals)).select(
        F.col("a").alias("item_a"),
        F.col("b2").alias("item_b"),
        F.col("c").alias("item_c"),
        F.col("triple_n").cast("long").alias("triple_n"),
        F.col("n_baskets").cast("long").alias("n_baskets"),
        F.expr("(1000000 * triple_n) div n_baskets")
        .cast("long")
        .alias("supp_ppm"),
    )


def sequential_trigrams(events: DataFrame, min_support: int = 2) -> DataFrame:
    """Frequent CONSECUTIVE item trigrams per actor — the sequence-
    mining sibling of :func:`sequential_pairs`: where pairs ask "A then
    B ever", trigrams ask "A→B→C as three consecutive steps of one
    actor's timeline" (the n-gram view of behavior; the pm01 footprint
    matrix is provably NOT extensible to triples from min/max profiles,
    so this reads the sequence directly).

    Linear by construction: two ``lead()`` windows per event under the
    TOTAL per-actor order (ts, tiebreak) — never a per-actor cross
    join — then one hash agg on the trigram. Support is an exact count
    of occurrences (overlapping trigrams count, the standard n-gram
    convention). Deterministic: the (ts, tiebreak) order is total, so
    the trigram multiset is engine-portable. Returns (t1, t2, t3, n)
    with n >= min_support."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        events.select(
            F.col("user_id"),
            F.col("event_type").alias("t1"),
            F.lead("event_type", 1).over(w).alias("t2"),
            F.lead("event_type", 2).over(w).alias("t3"),
        )
        .filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    )
    return (
        tri.groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .filter(F.col("n") >= min_support)
    )


def sequential_rules(
    df: DataFrame,
    actor_col: str,
    time_col: str,
    item_col: str,
    min_support: int = 2,
) -> DataFrame:
    """Sequential RULES (fp05): :func:`sequential_pairs`' A-then-B
    counts completed into the full rule triple — confidence (share of
    A-holders who later took B) AND lift (how much likelier than B's
    base rate) — the association-rule surface fp01 gives baskets,
    now for sequences.

    Lift is the g12 pico-score with the a31 overflow lesson applied
    from the start: the numerator 1e12·n_seq·n_actors is accumulated
    in DECIMAL(38,0) (BIGINT would overflow once n_seq·n_actors passes
    ~9·10⁶ at planetary actor counts), and Spark's ``DECIMAL div
    BIGINT`` returns BIGINT matching DuckDB's HUGEINT ``//`` (the e18
    probe). All other columns are plain integers.

    Returns (item_a, item_b, n_seq, n_a, n_b, conf_ppm, lift_pico);
    lift_pico > 1e12 means the sequence beats independence."""
    pairs = sequential_pairs(
        df, actor_col, time_col, item_col, min_support
    )
    base = (
        df.select(
            F.col(actor_col).alias("ak"), F.col(item_col).alias("it")
        )
        .filter(F.col("ak").isNotNull() & F.col("it").isNotNull())
        .distinct()
    )
    item_n = base.groupBy("it").agg(
        F.count(F.lit(1)).cast("long").alias("n_b")
    )
    n_actors = base.select("ak").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_actors")
    )
    return (
        pairs.join(
            item_n.withColumnRenamed("it", "item_b"), "item_b"
        )
        .join(n_actors)
        .select(
            "item_a",
            "item_b",
            "n_seq",
            "n_a",
            "n_b",
            "conf_ppm",
            F.expr(
                "CAST(1000000000000 AS DECIMAL(38,0)) * n_seq * n_actors"
                " div (n_a * n_b)"
            )
            .cast("long")
            .alias("lift_pico"),
        )
    )
