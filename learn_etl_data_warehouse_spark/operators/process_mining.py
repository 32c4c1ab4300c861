"""Process mining over event logs: the directly-follows /
eventually-follows footprint matrix of the alpha algorithm — "which
activities follow which", the discovery step behind conformance
checking and funnel design.

Reference parity: the reference's event analytics stop at transition
counts (f02); the footprint adds the eventual ordering relation and the
alpha relation classes (sequence / parallel / unrelated).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "footprint_matrix",
    "direct_follows_graph",
    "conformance_fitness",
    "start_end_profile",
    "handover_network",
    "dfg_reciprocity",
]


def footprint_matrix(events: DataFrame) -> DataFrame:
    """The full |types|² footprint: for every ORDERED activity pair
    (a, b) —

    - ``n_direct``: occurrences where b directly follows a in an
      actor's (ts, id)-ordered trace (the directly-follows graph);
    - ``n_users_eventual``: actors with some a-occurrence strictly
      before some b-occurrence — computed EXACTLY from the per-(actor,
      type) (min_ts, max_ts) profile (a before b ⟺ min_a < max_b; for
      a = b, ⟺ the type occurs ≥ 2 times), never an event-level
      quadratic join;
    - ``relation`` (alpha classes on the direct graph, a ≠ b):
      'sequence' (a→b only), 'reverse' (b→a only), 'parallel' (both),
      'unrelated' (neither); self-pairs report 'loop' when a directly
      repeats, else 'self'.

    The matrix is dense over the OBSERVED type alphabet (bounded by
    the label vocabulary, not the log), so absent cells report zeros —
    a consumer reads "never happens" explicitly. Work: one per-actor
    window for the direct counts, one profile agg + per-actor
    self-join for eventual, a broadcast type-alphabet cross for the
    dense frame.

    Tie order inside a trace is the TOTAL (ts, id) order — the e18
    determinism posture, so an external engine sorts identically.
    """
    ev = events.select(
        F.col("user_id").alias("_u"),
        F.col("ts").alias("_ts"),
        F.col("event_id").alias("_id"),
        F.col("event_type").alias("_t"),
    )
    trace = Window.partitionBy("_u").orderBy("_ts", "_id")
    direct = (
        ev.withColumn("_nxt", F.lead("_t").over(trace))
        .filter(F.col("_nxt").isNotNull())
        .groupBy(F.col("_t").alias("a"), F.col("_nxt").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_direct"))
    )
    prof = ev.groupBy("_u", "_t").agg(
        F.min("_ts").alias("_mn"),
        F.max("_ts").alias("_mx"),
        F.count(F.lit(1)).alias("_n"),
    )
    pa = prof.select(
        "_u", F.col("_t").alias("a"), F.col("_mn").alias("_amn"),
        F.col("_n").alias("_an"),
    )
    pb = prof.select(
        "_u", F.col("_t").alias("b"), F.col("_mx").alias("_bmx")
    )
    eventual = (
        pa.join(pb, "_u")
        .filter(
            ((F.col("a") != F.col("b")) & (F.col("_amn") < F.col("_bmx")))
            | ((F.col("a") == F.col("b")) & (F.col("_an") >= 2))
        )
        .groupBy("a", "b")
        .agg(F.countDistinct("_u").cast("long").alias("n_users_eventual"))
    )
    types = ev.select(F.col("_t").alias("a")).distinct()
    dense = types.crossJoin(
        F.broadcast(types.select(F.col("a").alias("b")))
    )
    m = (
        dense.join(direct, ["a", "b"], "left")
        .join(eventual, ["a", "b"], "left")
        .select(
            "a",
            "b",
            F.coalesce("n_direct", F.lit(0).cast("long")).alias("n_direct"),
            F.coalesce(
                "n_users_eventual", F.lit(0).cast("long")
            ).alias("n_users_eventual"),
        )
    )
    rev = m.select(
        F.col("a").alias("b"),
        F.col("b").alias("a"),
        F.col("n_direct").alias("_n_rev"),
    )
    rel = (
        F.when(
            F.col("a") == F.col("b"),
            F.when(F.col("n_direct") > 0, "loop").otherwise("self"),
        )
        .when((F.col("n_direct") > 0) & (F.col("_n_rev") > 0), "parallel")
        .when(F.col("n_direct") > 0, "sequence")
        .when(F.col("_n_rev") > 0, "reverse")
        .otherwise("unrelated")
    )
    return m.join(rev, ["a", "b"]).select(
        "a", "b", "n_direct", "n_users_eventual", rel.alias("relation")
    )


def direct_follows_graph(events: DataFrame) -> DataFrame:
    """The performance-annotated directly-follows graph — the edge list
    a process-mining tool renders, with the latency profile that turns
    "what follows what" (:func:`footprint_matrix`) into "WHERE does the
    process wait": per ordered activity pair (a, b) that ever occurs
    consecutively in an actor's trace, the traversal count, distinct
    actors, and the min / mean / max gap in integer microseconds.

    Determinism: traces order by the TOTAL (ts, id) key (the e18 / fp04
    posture); gaps under that order are non-negative, so the mean's
    truncating div ≡ a flooring oracle. One per-actor window + one
    edge-grain hash agg — row-linear, no pair joins, and the output is
    bounded by |alphabet|², not the log.

    Returns (a, b, n_traversals, n_actors, min_gap_us, mean_gap_us,
    max_gap_us).
    """
    ev = events.select(
        F.col("user_id").alias("_u"),
        F.col("ts").alias("_ts"),
        F.col("event_id").alias("_id"),
        F.col("event_type").alias("_t"),
    )
    trace = Window.partitionBy("_u").orderBy("_ts", "_id")
    hops = (
        ev.withColumn("_nxt", F.lead("_t").over(trace))
        .withColumn("_nts", F.lead("_ts").over(trace))
        .filter(F.col("_nxt").isNotNull())
        .select(
            F.col("_t").alias("a"),
            F.col("_nxt").alias("b"),
            "_u",
            F.expr("unix_micros(_nts) - unix_micros(_ts)").alias("_gap"),
        )
    )
    return hops.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("n_traversals"),
        F.countDistinct("_u").cast("long").alias("n_actors"),
        F.min("_gap").cast("long").alias("min_gap_us"),
        F.expr("sum(_gap) div count(1)").cast("long").alias("mean_gap_us"),
        F.max("_gap").cast("long").alias("max_gap_us"),
    )


def process_variants(events: DataFrame) -> DataFrame:
    """TOP PROCESS VARIANTS: each actor's full trace rendered as the
    '>'-joined activity-type signature under the total (ts, id) order,
    grouped and ranked by actor count — the variant explorer every
    process-mining tool opens with, completing the family (pm01
    footprint: what CAN follow; pm02 DFG: where it WAITS; pm03: which
    end-to-end paths actually HAPPEN, and how rare the tail is).

    Determinism: the same total (ts, id) trace order as pm01/pm02, so
    same-timestamp ties break identically on both engines; ranking is
    (n_actors DESC, variant ASC) through a TakeOrderedAndProject — no
    global sort. Per-actor state is the trace (d17's collect/sort/join
    idiom) — bounded by business-process length, the pm-family's
    standing contract, never by corpus size.

    Returns top-10 rows: (variant, n_steps, n_actors).
    """
    arr = F.expr(
        "transform(array_sort(collect_list(struct(ts AS t,"
        " event_id AS i, event_type AS e))), x -> x.e)"
    )
    traces = events.groupBy(F.col("user_id").alias("_actor")).agg(
        arr.alias("_seq")
    )
    sigs = traces.select(
        F.array_join(F.col("_seq"), ">").alias("variant"),
        F.size("_seq").cast("long").alias("n_steps"),
    )
    return (
        sigs.groupBy("variant", "n_steps")
        .agg(F.count(F.lit(1)).cast("long").alias("n_actors"))
        .orderBy(F.desc("n_actors"), F.asc("variant"))
        .limit(10)
        .select("variant", "n_steps", "n_actors")
    )


def conformance_fitness(
    events: DataFrame,
    allowed_pairs: list[tuple[str, str]],
) -> DataFrame:
    """CONFORMANCE CHECKING against a normative directly-follows model —
    the validation half of process mining (pm01/pm02/pm03 DISCOVER the
    process; this scores each trace against the process you intended).
    ``allowed_pairs`` is the model: the (a, b) activity transitions a
    conforming trace may make. Every consecutive move in an actor's
    (ts, id)-ordered trace (the pm-family total order) either matches
    an allowed pair or counts as a violation; token-replay fitness is
    the allowed share in ppm.

    The model is a bounded literal (|alphabet|² at most) broadcast to
    the moves — one per-actor window plus one broadcast join, no
    alphabet-squared blowup on the data side. Actors with a single
    event make no moves and produce NO row (a zero-move trace has no
    defined fitness). Returns (actor, n_moves, n_allowed, n_violations,
    fitness_ppm)."""
    ev = events.select(
        F.col("user_id").alias("actor"),
        F.col("ts").alias("_ts"),
        F.col("event_id").alias("_id"),
        F.col("event_type").alias("_t"),
    )
    trace = Window.partitionBy("actor").orderBy("_ts", "_id")
    moves = ev.withColumn("_nxt", F.lead("_t").over(trace)).filter(
        F.col("_nxt").isNotNull()
    )
    model = moves.sparkSession.createDataFrame(
        [(a, b) for a, b in allowed_pairs], "_t string, _nxt string"
    ).withColumn("_ok", F.lit(1))
    scored = moves.join(F.broadcast(model), ["_t", "_nxt"], "left")
    return (
        scored.groupBy("actor")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_moves"),
            F.sum(F.coalesce(F.col("_ok"), F.lit(0)))
            .cast("long")
            .alias("n_allowed"),
        )
        .select(
            "actor",
            "n_moves",
            "n_allowed",
            (F.col("n_moves") - F.col("n_allowed"))
            .cast("long")
            .alias("n_violations"),
            F.expr("(1000000 * n_allowed) div n_moves")
            .cast("long")
            .alias("fitness_ppm"),
        )
    )


def rework_metrics(events: DataFrame) -> DataFrame:
    """REWORK metrics per activity — the process-mining waste signal
    (pm01 can-follow, pm02 waits-where, pm03 what-happens, pm04
    conforms?, pm05 what REPEATS): an actor re-executing an activity
    is rework; an immediate a→a move is a self-loop (the tightest
    rework). One (actor, activity) hash agg + pm01's trace window for
    the self-loop count; output bounded by the activity alphabet.

    Returns per activity: (activity, n_occurrences, n_actors,
    n_actors_rework, rework_ppm, n_self_loops) with rework_ppm =
    10⁶·n_actors_rework div n_actors."""
    ev = events.select(
        F.col("user_id").alias("_u"),
        F.col("ts").alias("_ts"),
        F.col("event_id").alias("_id"),
        F.col("event_type").alias("_t"),
    )
    per = ev.groupBy("_u", "_t").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    base = per.groupBy(F.col("_t").alias("activity")).agg(
        F.sum("_n").cast("long").alias("n_occurrences"),
        F.count(F.lit(1)).cast("long").alias("n_actors"),
        F.sum((F.col("_n") >= 2).cast("long")).cast("long").alias(
            "n_actors_rework"
        ),
    )
    trace = Window.partitionBy("_u").orderBy("_ts", "_id")
    loops = (
        ev.withColumn("_nxt", F.lead("_t").over(trace))
        .filter(F.col("_nxt") == F.col("_t"))
        .groupBy(F.col("_t").alias("activity"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_self_loops"))
    )
    return (
        base.join(loops, "activity", "left")
        .select(
            "activity",
            "n_occurrences",
            "n_actors",
            "n_actors_rework",
            F.expr("(1000000 * n_actors_rework) div n_actors")
            .cast("long")
            .alias("rework_ppm"),
            F.coalesce("n_self_loops", F.lit(0)).cast("long").alias(
                "n_self_loops"
            ),
        )
    )

def start_end_profile(events: DataFrame) -> DataFrame:
    """START/END activity profile (pm06) — the L_start / L_end sets of
    the alpha algorithm, quantified: per activity, how many traces OPEN
    with it and how many CLOSE with it, next to its occurrence mass.
    pm01's footprint gives the ordering relations; discovery also needs
    the entry/exit alphabet, and a drifting start_ppm is the cheapest
    signal that instrumentation changed (sessions now begin elsewhere).

    Trace order is the TOTAL (ts, id) order (the pm-family posture);
    starts/ends come from one per-actor window pass (two row_numbers,
    same partition — one shuffle), occurrence mass from one type-grain
    agg, and the ppm shares divide by the GLOBAL trace count
    (broadcast 1-row) with truncating div both engines. Returns one
    row per observed activity: (activity, n_events, n_traces,
    n_starts, n_ends, start_ppm, end_ppm)."""
    ev = events.select(
        F.col("user_id").alias("_u"),
        F.col("ts").alias("_ts"),
        F.col("event_id").alias("_id"),
        F.col("event_type").alias("_t"),
    )
    w = Window.partitionBy("_u")
    asc = w.orderBy(F.asc("_ts"), F.asc("_id"))
    desc = w.orderBy(F.desc("_ts"), F.desc("_id"))
    flagged = ev.select(
        "_u",
        "_t",
        F.row_number().over(asc).alias("_ra"),
        F.row_number().over(desc).alias("_rd"),
    )
    occ = ev.groupBy("_t").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("_u").cast("long").alias("n_traces"),
    )
    starts = (
        flagged.filter(F.col("_ra") == 1)
        .groupBy("_t")
        .agg(F.count(F.lit(1)).cast("long").alias("n_starts"))
    )
    ends = (
        flagged.filter(F.col("_rd") == 1)
        .groupBy("_t")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ends"))
    )
    total = ev.agg(
        F.countDistinct("_u").cast("long").alias("_n_tr")
    )
    return (
        occ.join(starts, "_t", "left")
        .join(ends, "_t", "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("_t").alias("activity"),
            "n_events",
            "n_traces",
            F.coalesce(F.col("n_starts"), F.lit(0)).cast("long").alias(
                "n_starts"
            ),
            F.coalesce(F.col("n_ends"), F.lit(0)).cast("long").alias(
                "n_ends"
            ),
            F.expr(
                "(1000000 * coalesce(n_starts, 0)) div _n_tr"
            ).cast("long").alias("start_ppm"),
            F.expr(
                "(1000000 * coalesce(n_ends, 0)) div _n_tr"
            ).cast("long").alias("end_ppm"),
        )
    )


def handover_network(lineitem: DataFrame) -> DataFrame:
    """Handover-of-work social network (pm07): the RESOURCE-grain
    companion to the activity-grain DFG (pm02) — per ordered resource
    pair (a, b) that ever works CONSECUTIVE steps of the same case,
    the handover count, distinct cases, self-handover flag, and the
    min / mean / max handover lag in integer DAYS. pm02 shows where a
    process waits between activities; this shows who hands work to
    whom (the org-mining view: bottleneck people/teams, ping-pong
    loops, work that never leaves one resource — the is_self edge).

    Determinism: a case's trace orders by (date, seq, resource) —
    the fixture's (l_orderkey, l_linenumber) is NOT unique (118k dup
    pairs at sf0.1), so seq alone is no tie-break; adding the
    resource makes remaining ties IDENTICAL in every key the edges
    read (equal (d, seq, r) rows are interchangeable — any order
    yields the same edge multiset), which is the honest form of
    total-order determinism when the composite PK cannot be trusted
    (pf15's own finding). Lags under that order are non-negative, so
    the mean's truncating div ≡ the oracle's flooring //. Dates
    become integer epoch days via the portable datediff idiom
    (NTZ-safe — unix_micros THROWS on NTZ, the r7 lesson). One
    per-case window + one edge-grain hash agg — row-linear, output
    bounded by |resources|².

    Returns (from_resource, to_resource, is_self, n_handovers,
    n_cases, min_lag_days, mean_lag_days, max_lag_days), all BIGINT.
    """
    ev = lineitem.select(
        F.col("l_orderkey").alias("_c"),
        F.col("l_suppkey").alias("_r"),
        F.datediff(F.col("l_shipdate"), F.lit("1970-01-01")).cast("long").alias(
            "_d"
        ),
        F.col("l_linenumber").alias("_s"),
    )
    trace = Window.partitionBy("_c").orderBy("_d", "_s", "_r")
    hops = (
        ev.withColumn("_nr", F.lead("_r").over(trace))
        .withColumn("_nd", F.lead("_d").over(trace))
        .filter(F.col("_nr").isNotNull())
        .select(
            F.col("_r").alias("from_resource"),
            F.col("_nr").alias("to_resource"),
            "_c",
            (F.col("_nd") - F.col("_d")).alias("_lag"),
        )
    )
    return hops.groupBy("from_resource", "to_resource").agg(
        F.max(
            (F.col("from_resource") == F.col("to_resource")).cast("long")
        ).alias("is_self"),
        F.count(F.lit(1)).cast("long").alias("n_handovers"),
        F.countDistinct("_c").cast("long").alias("n_cases"),
        F.min("_lag").cast("long").alias("min_lag_days"),
        F.expr("sum(_lag) div count(1)").cast("long").alias(
            "mean_lag_days"
        ),
        F.max("_lag").cast("long").alias("max_lag_days"),
    )


def dfg_reciprocity(events: DataFrame) -> DataFrame:
    """Directed-edge RECIPROCITY over the directly-follows graph
    (g20): per unordered activity pair, both directions' traversal
    counts, the mutual flag and the ping-pong mass (min of the two —
    the volume provably bouncing back and forth). A process whose DFG
    is largely one-way is a pipeline; heavy mutual edges are rework
    loops at the PAIR grain, sharper than pm05's per-activity rework
    rate, and the graph-measure complement the g-family lacked
    (reciprocity is THE classic directed-graph statistic).

    Self-loops (a = b) are excluded — same-activity repeats belong to
    pm05. The fold to unordered pairs is ONE conditional-sum hash agg
    over the |alphabet|²-bounded edge list (least/greatest on the
    activity strings, both engines' collation = byte order on ASCII
    fixtures). Returns (lo, hi, n_fwd, n_rev, is_mutual,
    pingpong_n), all counts BIGINT; n_fwd = lo→hi traversals.
    """
    dfg = direct_follows_graph(
        events
    ).filter(F.col("a") != F.col("b"))
    m = dfg.select(
        F.least(F.col("a"), F.col("b")).alias("lo"),
        F.greatest(F.col("a"), F.col("b")).alias("hi"),
        F.when(F.col("a") < F.col("b"), F.col("n_traversals"))
        .otherwise(0).alias("_f"),
        F.when(F.col("a") > F.col("b"), F.col("n_traversals"))
        .otherwise(0).alias("_r"),
    )
    return (
        m.groupBy("lo", "hi")
        .agg(
            F.sum("_f").cast("long").alias("n_fwd"),
            F.sum("_r").cast("long").alias("n_rev"),
        )
        .select(
            "lo",
            "hi",
            "n_fwd",
            "n_rev",
            ((F.col("n_fwd") > 0) & (F.col("n_rev") > 0))
            .cast("long").alias("is_mutual"),
            F.least(F.col("n_fwd"), F.col("n_rev")).cast("long").alias(
                "pingpong_n"
            ),
        )
    )
