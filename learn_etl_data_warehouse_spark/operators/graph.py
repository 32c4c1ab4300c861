"""Graph analytics over join-derived edge sets.

Connected components (duplicate clustering) lives in
``operators/dedup.py``; this module holds the rank-propagation side:
an item co-occurrence graph built from a fact table and a fixed-point
PageRank whose arithmetic is exact integers, so an external SQL engine
reproduces it bit-for-bit (the repo's oracle-determinism contract —
floating-point power iteration would drift across engines at the
ulp level and hash-mismatch).

Scale notes: both operators are pure join/aggregate pipelines — no
collect, no Python, no driver-side graph object. The co-occurrence
self-join is key-equality on the order id with fan-out bounded by the
per-order line count (≤7 in TPC-H-shaped data), and each PageRank
iteration is one shuffle on the destination node — the standard
Pregel-as-joins shape that survives a 1000-executor scale-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cooccurrence_edges(fact: DataFrame) -> DataFrame:
    """Undirected co-occurrence edges: two items are linked when they
    appear in the same group (parts bought together in one order).

    Emits BOTH directions of every edge, distinct, self-loops excluded —
    the symmetric edge list the rank iteration consumes directly (every
    node then has out-degree ≥ 1, so there are no dangling nodes to
    special-case). The self-join is key-equality on ``l_orderkey``; its
    fan-out per group is (lines per group)², bounded by the data model,
    not by corpus size.
    """
    li = fact.select(
        F.col("l_orderkey").alias("_gk"), F.col("l_partkey").alias("_item")
    )
    # r14 (guide §3.1, the r13 verdict's graph-regression item): pin
    # this self-join to sort-merge. Under the r13 session-wide
    # preferSortMergeJoin=false flip, the planner picks a shuffled-hash
    # build over a ~4-rows-per-key self-join whose output fans out
    # quadratically per group — interleaved same-JVM A/B at sf0.1
    # (6 passes, per-variant min): g02 6.46 s unhinted vs 4.57 s with
    # the merge pin, and every g02/g08/g09 driver regression in PERF_r13
    # sits on this sub-plan. Sorting two int-pair columns is cheap and
    # spills gracefully at 100 TB, where a hash build of a hot
    # order-group partition would not.
    a, b = li.alias("a"), li.alias("b").hint("merge")
    return (
        a.join(
            b,
            (F.col("a._gk") == F.col("b._gk"))
            & (F.col("a._item") != F.col("b._item")),
        )
        .select(
            F.col("a._item").alias("src"), F.col("b._item").alias("dst")
        )
        .distinct()
    )


def pagerank_fixed_point(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """Fixed-iteration PageRank in integer micro-units.

    rank₀ = 1,000,000 for every node; each round every node sends
    ``rank div out_degree`` to each neighbor and receives
    ``base + damping · Σ(incoming) div 100`` where
    ``base = 1000000 · (100 − 85) div 100``. All operands
    are non-negative integers, so truncating (Spark ``div``) and
    flooring (DuckDB ``//``) division agree and the result is exact —
    the oracle unrolls the same ``iterations`` rounds as chained CTEs.

    Per round: one key-equality join rank→degree (co-partitioned on the
    node), one join onto the edge list, one sum-shuffle on the
    destination. Plan depth grows linearly with ``iterations`` (a fixed
    small constant); for convergence-driven variants reuse the
    localCheckpoint-per-round pattern from
    ``dedup.py::connected_components``.

    Returns (node, rank_micros BIGINT).
    """
    # The edge list is referenced ~2× per round; without an explicit
    # cut the unrolled plan re-derives it from the SOURCE each time
    # (plan audit: 22 raw scans for 5 rounds). Exchange reuse papers
    # over that locally, but at 100 TB re-scanning the fact table is
    # never acceptable when the derived edge list is orders of
    # magnitude smaller — truncate lineage once, like
    # dedup.py::connected_components does per round. Only the raw edges
    # are cut: r14 measured a second barrier on the degree-attached list
    # slower (two serial barriers inside the timed path).
    edges = edges.localCheckpoint(eager=True)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    base = 1_000_000 * (100 - 85) // 100
    # The degree is a property of the STATIC edge list — attach it once
    # so each round is a single join + sum instead of rank→deg→edges
    # (one fewer shuffle per iteration; the attached plan is shared
    # across rounds via exchange reuse).
    ed = edges.join(deg.withColumnRenamed("node", "src"), "src").select(
        F.col("src").alias("node"), "dst", "deg"
    )
    ranks = deg.select(
        "node", F.lit(1_000_000).cast("long").alias("rank_micros")
    )
    for _ in range(iterations):
        contrib = ranks.join(ed, "node").select(
            F.col("dst").alias("_to"),
            F.expr("rank_micros div deg").alias("_c"),
        )
        ranks = contrib.groupBy(F.col("_to").alias("node")).agg(
            (
                F.lit(base)
                + F.expr("(85 * sum(_c)) div 100")
            )
            .cast("long")
            .alias("rank_micros")
        )
    return ranks


def _oriented_edge_support(e: DataFrame) -> DataFrame:
    """Support (triangle membership count) per canonical edge of the
    subgraph ``e`` (src < dst, distinct) — the ktruss round kernel,
    shared by the fixed-round and converged forms."""
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("_n")).agg(
        F.count(F.lit(1)).alias("_d")
    )
    ed = (
        sym.join(deg.withColumnRenamed("_n", "src"), "src")
        .withColumnRenamed("_d", "_du")
        .join(
            deg.withColumnRenamed("_n", "dst").withColumnRenamed("_d", "_dv"),
            "dst",
        )
    )
    oriented = ed.filter(
        (F.col("_du") < F.col("_dv"))
        | ((F.col("_du") == F.col("_dv")) & (F.col("src") < F.col("dst")))
    ).select("src", "dst")
    a, b = oriented.alias("a"), oriented.alias("b")
    wedges = a.join(b, F.col("a.dst") == F.col("b.src")).select(
        F.col("a.src").alias("u"),
        F.col("a.dst").alias("v"),
        F.col("b.dst").alias("w"),
    )
    closing = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    tris = wedges.join(closing, ["u", "w"])
    tri_edges = tris.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("u", "v").alias("src"),
                    F.greatest("u", "v").alias("dst"),
                ),
                F.struct(
                    F.least("v", "w").alias("src"),
                    F.greatest("v", "w").alias("dst"),
                ),
                F.struct(
                    F.least("u", "w").alias("src"),
                    F.greatest("u", "w").alias("dst"),
                ),
            )
        ).alias("_e")
    ).select(F.col("_e.src").alias("src"), F.col("_e.dst").alias("dst"))
    return tri_edges.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over a symmetric edge list — the
    clustering-structure primitive (cohesion scoring, community
    seeding, spam-graph detection).

    Scale shape is the textbook degree-ordered orientation: each
    undirected edge is kept once, directed from its
    (degree, id)-SMALLER endpoint to the larger. Every triangle then
    has exactly one wedge u→v→w with both edges oriented, so the count
    is one wedge self-join plus one closing-edge semi-check — and the
    wedge fan-out per node is bounded by its ORIENTED out-degree, which
    the orientation caps near √m even for celebrity hubs (the classic
    O(m^1.5) bound). No driver-side graph, all key-equality joins.

    Ties and ordering are total ((deg, id) lexicographic), so the count
    is exact and engine-portable — the oracle runs the identical
    orientation in SQL. Returns (node, n_triangles) for nodes in ≥1
    triangle.
    """
    deg = edges.groupBy(F.col("src").alias("_n")).agg(
        F.count(F.lit(1)).alias("_d")
    )
    ed = (
        edges.join(deg.withColumnRenamed("_n", "src"), "src")
        .withColumnRenamed("_d", "_du")
        .join(
            deg.withColumnRenamed("_n", "dst").withColumnRenamed("_d", "_dv"),
            "dst",
        )
    )
    oriented = ed.filter(
        (F.col("_du") < F.col("_dv"))
        | ((F.col("_du") == F.col("_dv")) & (F.col("src") < F.col("dst")))
    ).select("src", "dst")
    a, b = oriented.alias("a"), oriented.alias("b")
    wedges = a.join(b, F.col("a.dst") == F.col("b.src")).select(
        F.col("a.src").alias("u"),
        F.col("a.dst").alias("v"),
        F.col("b.dst").alias("w"),
    )
    closing = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("w")
    )
    tris = wedges.join(closing, ["u", "w"])
    corners = (
        tris.select(F.col("u").alias("node"))
        .unionAll(tris.select(F.col("v").alias("node")))
        .unionAll(tris.select(F.col("w").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def kcore_filter(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 3,
) -> DataFrame:
    """Fixed-round k-core peeling: repeatedly drop nodes of degree < k.

    Runs exactly ``rounds`` peels (the g02 posture — a fixed iteration
    count keeps the computation deterministic and oracle-unrollable;
    a converged k-core loops until no node falls below k, which at
    scale you'd drive with the d10 changed-count convergence pattern).
    Input must be the symmetric distinct edge list
    (:func:`cooccurrence_edges`); returns surviving (node, deg) where
    deg is the node's degree in the final surviving subgraph.

    Each round is one degree aggregation + two shuffle semi-joins on
    the edge list — no collect, no driver-side graph. The base edge
    list is localCheckpoint'ed so the unrolled lineage
    never re-embeds the upstream co-occurrence self-join (the measured
    g02 lesson).
    """
    if k < 1 or rounds < 1:
        raise ValueError("kcore_filter: k and rounds must be >= 1")
    e = edges.select("src", "dst").localCheckpoint()
    for _ in range(int(rounds)):
        keep = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") >= int(k))
            .select("src")
        )
        e = e.join(keep, "src", "left_semi").join(
            keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
        )
    return e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """Fixed-round multi-source BFS: hop distance from the nearest seed.

    The reachability primitive behind "how far is every item from the
    curated seed set" (catalog exploration, influence radius, taint
    propagation). Runs exactly ``rounds`` frontier expansions — the
    same fixed-iteration posture as :func:`pagerank_fixed_point`, so
    the hop distances are pure small integers and an external SQL
    engine reproduces them by unrolling identical rounds (converged
    variants would drive the d10 changed-count loop instead).

    Each round is one key-equality join (current distances onto the
    edge list) plus one min-aggregation on the node — Pregel-as-joins;
    no collect, no driver-side graph, frontier state lives in the
    shuffle. ``seeds`` is a one-column DataFrame of seed nodes (its
    first column is used); nodes never reached within ``rounds`` hops
    are absent from the result.

    Returns (node, hops BIGINT), hops = min distance ≤ ``rounds``.
    """
    if rounds < 1:
        raise ValueError("bfs_hops: rounds must be >= 1")
    e = edges.select("src", "dst").localCheckpoint()
    dist = seeds.select(
        F.col(seeds.columns[0]).alias("node"),
        F.lit(0).cast("long").alias("hops"),
    ).distinct()
    for _ in range(int(rounds)):
        step = dist.join(e, dist["node"] == e["src"]).select(
            F.col("dst").alias("node"),
            (F.col("hops") + F.lit(1)).cast("long").alias("hops"),
        )
        dist = (
            dist.unionAll(step)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
        )
    return dist


def common_neighbor_scores(edges: DataFrame, min_common: int = 2) -> DataFrame:
    """Link prediction by shared neighborhoods (common-neighbors /
    Jaccard).

    For node pairs (a, b), count the shared neighbors through every
    wedge a–c–b and score the pair by the Jaccard overlap of the two
    neighborhoods — the classic "people you may know / items bought
    with both" candidate generator. The output keeps only UNLINKED
    pairs (predicted links); direct edges
    are removed with one anti-join (the edge list is symmetric, so one
    direction suffices against a < b pairs).

    Everything is exact integers: ``common_n`` a wedge count, degrees
    from one re-agg of the edge list, ``jaccard_ppm = (1e6·cn) div
    (deg_a + deg_b − cn)`` truncating on non-negative operands —
    engine-portable.

    Scale shape: the wedge join is key-equality on the CENTER node, so
    cost is Σ_c deg(c)² — the same wedge volume triangle counting pays
    before orientation. Hub centers dominate it, so the join is
    HARD-bounded by a 200-neighbor cap (d02's hot-posting-list cap,
    the d13 fix replayed): centers whose degree exceeds the cap are
    dropped from wedge generation entirely via a broadcast anti-join
    on the (small) hub set, bounding wedge volume at n·cap. A
    super-hub contributes near-zero link-prediction signal anyway
    (every pair shares it), exactly like a stop-word gram in d02.
    ``deg_a``/``deg_b`` stay TRUE degrees — the cap shapes candidate
    generation, not the Jaccard denominator. ``min_common`` bounds the
    OUTPUT, not the join — a<b halves the pair space, and no state
    ever reaches the driver.

    Returns (src, dst, common_n, deg_a, deg_b, jaccard_ppm), src < dst.
    """
    # The edge list is referenced 5× below (degrees, both wedge sides,
    # the direct-edge anti-join); when it is itself derived (the
    # co-occurrence self-join + distinct), the lazy plan re-embeds that
    # derivation per reference — 28 raw scans measured on the g06 bench
    # plan. One localCheckpoint cuts the lineage (the g02 posture);
    # A/B'd in the r13 optimization round: 6.8 s → ~5.4 s at the sliced
    # sf0.1 bench shape.
    e = edges.select("src", "dst").localCheckpoint()
    # r14 (guide §2.4): deg is consumed three times (the hub set, both
    # final degree joins) — one lazy checkpoint runs the degree
    # aggregation once instead of per consumer.
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    ).localCheckpoint(eager=False)
    hot = deg.filter(F.col("deg") > 200).select("node")
    e_l = e.join(
        F.broadcast(hot), e["dst"] == hot["node"], "left_anti"
    )
    e_r = e.join(
        F.broadcast(hot), e["src"] == hot["node"], "left_anti"
    )
    # r14 (guide §3.1, the cooccurrence_edges lesson): the wedge join
    # fans out quadratically per center node — under the session
    # shuffled-hash default a hot center's build-side partition is
    # exactly the shape that wants sort-merge's spill-graceful streaming
    # (A/B in OPTIMIZATION_r14.md, g06).
    e_r = e_r.hint("merge")
    wedges = (
        e_l.alias("l")
        .join(e_r.alias("r"), F.col("l.dst") == F.col("r.src"))
        .filter(F.col("l.src") < F.col("r.dst"))
        .groupBy(
            F.col("l.src").alias("src"), F.col("r.dst").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("common_n"))
        .filter(F.col("common_n") >= int(min_common))
    )
    wedges = wedges.join(e, ["src", "dst"], "left_anti")
    return (
        wedges.join(
            deg.select(F.col("node").alias("src"), F.col("deg").alias("deg_a")),
            "src",
        )
        .join(
            deg.select(F.col("node").alias("dst"), F.col("deg").alias("deg_b")),
            "dst",
        )
        .select(
            "src",
            "dst",
            "common_n",
            "deg_a",
            "deg_b",
            F.expr(
                "(1000000 * common_n) div (deg_a + deg_b - common_n)"
            ).alias("jaccard_ppm"),
        )
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """Fixed-round label propagation (community detection).

    Every node starts as its own community; each round it adopts the
    most frequent label among its neighbors, ties broken by the
    SMALLEST label — the determinism twist that makes classic LPA
    (random tie-breaks, oscillation-prone) oracle-checkable: majority
    + min-label is a pure function of the previous round, so an
    external engine reproduces it by unrolling identical rounds. Runs
    exactly ``rounds`` rounds (the g02/g05 fixed-iteration posture).

    Distinct from connected components (d09): CC merges everything
    reachable; majority-vote LPA lets densely-knit regions keep their
    own label inside one component — the community structure.

    Each round is one key-equality join (labels onto the symmetric
    edge list), one (node, label) count agg, and one per-node top-1
    window (bounded by the node's distinct neighbor labels). No
    driver state; the edge list is localCheckpoint'ed so the unrolled
    lineage doesn't re-derive it per round.

    Returns (node, label): label = the community representative id.
    """
    from pyspark.sql import Window

    if rounds < 1:
        raise ValueError("label_propagation: rounds must be >= 1")
    e = edges.select("src", "dst").localCheckpoint()
    labels = e.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(int(rounds)):
        nb = e.join(labels, e["src"] == labels["node"]).select(
            F.col("dst").alias("node"), "label"
        )
        counts = nb.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("_c")
        )
        w = Window.partitionBy("node").orderBy(
            F.col("_c").desc(), F.col("label").asc()
        )
        labels = (
            counts.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", "label")
        )
    return labels


def hits_fixed_point(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """Fixed-round HITS (hubs & authorities) over a bipartite edge list.

    ``edges`` carries one row per (hub, auth) link — e.g. customer →
    part through orders: good hubs are buyers of authoritative parts,
    authoritative parts are bought by good hubs (the classic
    Kleinberg mutual-reinforcement pair, reference parity:
    query-intent ranking over a buyer/product graph).

    Determinism: classic HITS L2-normalizes each half-step — a sqrt
    that would drift across engines at the ulp level. This variant
    max-normalizes instead: after each propagation the side's scores
    are rescaled so its maximum equals 1,000,000, i.e.
    ``score = (raw · scale) div max(raw)`` — all operands non-negative
    BIGINTs, so truncating (Spark ``div``) and flooring (DuckDB ``//``)
    agree and an external engine reproduces the result exactly by
    unrolling identical rounds (the g02/g05/g07 posture). Rankings are
    identical to L2 normalization (both are positive rescalings).

    Scale shape: each half-round is one key-equality join (scores onto
    the edge list) + one sum-shuffle on the receiving side + one
    single-scalar max reduction broadcast back (a 1-row cross join —
    no collect). Overflow headroom: raw ≤ max-degree · scale ≤ 1e12
    at a 1e6 max degree, and raw · scale ≤ 1e18 < 2^63 — document any
    1,000,000 increase against that bound.

    Returns (side STRING ∈ {'hub','auth'}, node, score_micros BIGINT).
    """
    if rounds < 1:
        raise ValueError("hits_fixed_point: rounds must be >= 1")
    # referenced 2× per round — cut lineage once (the measured g02
    # lesson: don't re-derive the upstream join per unrolled round)
    e = edges.select("hub", "auth").localCheckpoint()

    def _maxnorm(df: DataFrame, key: str) -> DataFrame:
        # Each half-round's raw frame is referenced twice (the max
        # reduction and the rescale) and then again by every later
        # round — without a cut the unrolled lineage doubles per
        # reference and the 2-round plan carries >100 exchanges
        # (measured). One node-sized localCheckpoint per half-round
        # bounds it (the d10/connected-components loop pattern).
        df = df.localCheckpoint()
        mx = df.agg(F.max("raw").alias("_mx"))
        return df.crossJoin(F.broadcast(mx)).select(
            key,
            F.expr("(raw * CAST(1000000 AS BIGINT)) div _mx")
            .cast("long")
            .alias("s"),
        )

    hub = (
        e.select("hub")
        .distinct()
        .withColumn("s", F.lit(1_000_000).cast("long"))
    )
    auth = None
    for _ in range(int(rounds)):
        auth = _maxnorm(
            e.join(hub, "hub").groupBy("auth").agg(
                F.sum("s").alias("raw")
            ),
            "auth",
        )
        hub = _maxnorm(
            e.join(auth, "auth").groupBy("hub").agg(
                F.sum("s").alias("raw")
            ),
            "hub",
        )
    return (
        hub.select(
            F.lit("hub").alias("side"),
            F.col("hub").alias("node"),
            F.col("s").alias("score_micros"),
        )
        .unionAll(
            auth.select(
                F.lit("auth").alias("side"),
                F.col("auth").alias("node"),
                F.col("s").alias("score_micros"),
            )
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
) -> DataFrame:
    """Fixed-iteration PERSONALIZED PageRank: restart mass returns to
    the seed set instead of spreading uniformly — the seeded-relevance
    primitive behind "more like these" recommendations and taint
    scoring, where :func:`pagerank_fixed_point` ranks global
    importance.

    Same integer contract as the global variant: seeds start at
    1,000,000, non-seeds at 0; each round every node emits
    ``rank div out_degree`` and receives
    ``restart·[node ∈ seeds] + damping·Σ(incoming) div 100`` with
    ``restart = 1000000·(100 − 85) div 100``. All
    operands non-negative integers — truncating div ≡ SQL floor-div,
    so the oracle unrolls identical rounds. Nodes with rank 0 simply
    drop out of the frame (their contributions are 0), which keeps the
    per-round state proportional to the REACHED neighborhood — the
    property that makes PPR cheap on a huge graph when the seed set is
    small.

    Per round: one key-equality join onto the degree-attached edge
    list + one sum-shuffle + one union with the constant seed term.
    ``seeds`` is a one-column frame (first column used).

    Returns (node, rank_micros BIGINT) for nodes with rank > 0.
    """
    if iterations < 1:
        raise ValueError("personalized_pagerank: iterations must be >= 1")
    # one cut on the raw edge list, as in pagerank_fixed_point (r14);
    # see that kernel's comment.
    e = edges.select("src", "dst").localCheckpoint()
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    ed = e.join(deg.withColumnRenamed("node", "src"), "src").select(
        F.col("src").alias("node"), "dst", "deg"
    )
    restart = 1_000_000 * (100 - 85) // 100
    seed_nodes = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .join(deg, "node", "left_semi")  # seeds outside the graph: no-op
    )
    base = seed_nodes.select(
        "node", F.lit(restart).cast("long").alias("rank_micros")
    )
    ranks = seed_nodes.select(
        "node", F.lit(1_000_000).cast("long").alias("rank_micros")
    )
    for _ in range(int(iterations)):
        contrib = (
            ranks.join(ed, "node")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_micros div deg").alias("_c"),
            )
            .groupBy("node")
            .agg(
                F.expr("(85 * sum(_c)) div 100")
                .cast("long")
                .alias("rank_micros")
            )
        )
        ranks = (
            base.unionByName(contrib)
            .groupBy("node")
            .agg(F.sum("rank_micros").cast("long").alias("rank_micros"))
            .filter(F.col("rank_micros") > 0)
        )
    return ranks


def weighted_cooccurrence_edges(fact: DataFrame) -> DataFrame:
    """Co-occurrence edges with an integer traversal cost: the more
    groups a pair shares, the cheaper the hop —
    ``w = ceil(1000000 / n_groups)`` computed as the pure
    integer ``(scale + n - 1) div n``, so an external engine's
    non-negative floor division reproduces it exactly.

    Returns BOTH directions of every edge: (src, dst, w BIGINT).
    """
    li = fact.select(
        F.col("l_orderkey").alias("_gk"), F.col("l_partkey").alias("_item")
    )
    # same sort-merge pin as cooccurrence_edges (r14, guide §3.1)
    a, b = li.alias("a"), li.alias("b").hint("merge")
    counted = (
        a.join(
            b,
            (F.col("a._gk") == F.col("b._gk"))
            & (F.col("a._item") != F.col("b._item")),
        )
        .select(
            F.col("a._item").alias("src"),
            F.col("b._item").alias("dst"),
            F.col("a._gk").alias("_gk"),
        )
        .groupBy("src", "dst")
        .agg(F.countDistinct("_gk").alias("_n"))
    )
    return counted.select(
        "src",
        "dst",
        F.expr("(1000000 + _n - 1) div _n").cast("long").alias("w"),
    )


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """Fixed-round multi-source Bellman-Ford: cheapest weighted path
    cost from the nearest seed within ``rounds`` hops.

    The weighted companion to :func:`bfs_hops` (hop counts ignore edge
    affinity; this relaxes integer costs): each round is one
    key-equality join (current costs onto the edge list) plus one
    min-aggregation on the node — Pregel-as-joins, no driver-side
    graph. Costs are sums of non-negative integers, so a SQL oracle
    reproduces them by unrolling ``rounds`` identical relaxations.
    Nodes unreachable within ``rounds`` hops are absent.

    Returns (node, cost BIGINT) — cost = min path weight ≤ ``rounds``
    edges; seeds carry cost 0.
    """
    if rounds < 1:
        raise ValueError("shortest_paths: rounds must be >= 1")
    e = edges.select(
        "src", "dst", F.col("w").alias("_w")
    ).localCheckpoint()
    dist = seeds.select(
        F.col(seeds.columns[0]).alias("node"),
        F.lit(0).cast("long").alias("cost"),
    ).distinct()
    for _ in range(int(rounds)):
        step = dist.join(e, dist["node"] == e["src"]).select(
            F.col("dst").alias("node"),
            (F.col("cost") + F.col("_w")).cast("long").alias("cost"),
        )
        dist = (
            dist.unionAll(step)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
        )
    return dist


def community_modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community modularity terms over a SYMMETRIC edge list and a
    (node, label) assignment — the partition-quality metric that says
    whether detected communities are denser inside than a degree-
    preserving random graph (Σ q_term > 0 ⇒ real structure; the
    quality gate after :func:`label_propagation`).

    q_term_c = intra_c/(2m) − (deg_c/(2m))², with intra_c counted on
    DIRECTED edges (both orientations — the standard symmetric-list
    formulation) and 2m = |directed edges|. All counts are exact
    integers; the term is evaluated in ONE structurally-fixed double
    expression (the a15 one-evaluation pattern), so an external engine
    computing the same integer counts reproduces the doubles exactly.

    Work: one degree agg, one label-join per edge endpoint + a count,
    one label agg — all key-equality shuffles; 2m is a broadcast
    1-row frame. Returns (community, n_nodes, intra_edges, deg_sum,
    q_term DOUBLE); communities with no internal edges report 0 intra.
    """
    e = edges.select("src", "dst")
    lab = labels.select(F.col("node").alias("_n"), F.col("label").alias("_l"))
    two_m = e.agg(F.count(F.lit(1)).cast("long").alias("_2m"))
    deg = e.groupBy(F.col("src").alias("_n")).agg(
        F.count(F.lit(1)).cast("long").alias("_d")
    )
    per_label = (
        deg.join(lab, "_n")
        .groupBy("_l")
        .agg(
            F.sum("_d").cast("long").alias("deg_sum"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
        )
    )
    la = lab.withColumnRenamed("_n", "src").withColumnRenamed("_l", "_la")
    lb = lab.withColumnRenamed("_n", "dst").withColumnRenamed("_l", "_lb")
    intra = (
        e.join(la, "src")
        .join(lb, "dst")
        .filter(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("_l"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
    )
    joined = (
        per_label.join(intra, "_l", "left")
        .withColumn("intra_edges", F.coalesce("intra_edges", F.lit(0).cast("long")))
        .crossJoin(F.broadcast(two_m))
    )
    twom_d = F.col("_2m").cast("double")
    frac = F.col("deg_sum").cast("double") / twom_d
    q = (F.col("intra_edges").cast("double") / twom_d) - frac * frac
    return joined.select(
        F.col("_l").alias("community"),
        "n_nodes",
        "intra_edges",
        "deg_sum",
        q.alias("q_term"),
    )


def item_item_topk(
    baskets: DataFrame,
    actor_col: str,
    item_col: str,
    k: int = 3,
) -> DataFrame:
    """Item-item collaborative filtering: for every item, the top-k
    co-purchased items by cosine over the actor-incidence vectors —
    the "customers also bought" serving table (g06 predicts UNLINKED
    pairs; this ranks the linked ones for recommendation).

    cosine(a, b) = n_ab / √(deg_a·deg_b) on DISTINCT (actor, item)
    incidence. Ranking happens on the INTEGER pico-score
    ``(n_ab²·1e12) div (deg_a·deg_b)`` — a monotone transform of
    cosine² computed in DECIMAL(38,0), so the order (and therefore the
    whole result) is engine-exact; a float cosine rank could tie-break
    differently across engines. Ties break by partner item ascending.

    Work: one distinct, one degree agg, one actor-key self-join (pair
    volume Σ items-per-actor², bounded by basket breadth), one count
    shuffle, two key joins, one item-partitioned window. Returns
    (item_a, item_b, n_both, score_pico, rnk).
    """
    from pyspark.sql import Window

    b = baskets.select(
        F.col(actor_col).alias("_c"), F.col(item_col).alias("_p")
    ).distinct()
    deg = b.groupBy(F.col("_p")).agg(F.count(F.lit(1)).alias("_d"))
    l, r = b.alias("l"), b.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l._c") == F.col("r._c"))
            & (F.col("l._p") != F.col("r._p")),
        )
        .groupBy(
            F.col("l._p").alias("_pa"), F.col("r._p").alias("_pb")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    scored = (
        pairs.join(deg.withColumnRenamed("_p", "_pa").withColumnRenamed("_d", "_da"), "_pa")
        .join(deg.withColumnRenamed("_p", "_pb").withColumnRenamed("_d", "_db"), "_pb")
        .withColumn(
            "score_pico",
            F.expr(
                "(CAST(n_both AS DECIMAL(38,0)) * n_both * 1000000000000)"
                " div (_da * _db)"
            ).cast("long"),
        )
    )
    w = Window.partitionBy("_pa").orderBy(
        F.desc("score_pico"), F.asc("_pb")
    )
    return (
        scored.withColumn("_rnk", F.row_number().over(w))
        .filter(F.col("_rnk") <= k)
        .select(
            F.col("_pa").alias("item_a"),
            F.col("_pb").alias("item_b"),
            "n_both",
            "score_pico",
            F.col("_rnk").cast("long").alias("rnk"),
        )
    )


def ktruss_edges(
    edges: DataFrame,
    k: int = 4,
    rounds: int = 2,
) -> DataFrame:
    """Fixed-round k-truss peeling: repeatedly drop edges whose SUPPORT
    (triangles they participate in, within the current subgraph) falls
    below k−2 — the edge-grained cohesion filter one notch stronger
    than :func:`kcore_filter`'s node degrees (a k-truss is always
    inside a (k−1)-core, never vice versa; spam-ring and community-core
    extraction run on exactly this).

    Runs exactly ``rounds`` peels (the g02/g04 posture: fixed rounds
    keep the result a pure function of the input so an oracle unrolls
    identical rounds; convergence at scale is the d10 changed-count
    loop). Per round, support is counted by the same degree-ordered
    orientation as :func:`triangle_counts` — each triangle enumerated
    exactly once with wedge fan-out bounded near √m by the orientation
    — then exploded to its three canonical (least, greatest) edges and
    hash-counted. All key-equality joins, no driver state; the
    canonical edge list is localCheckpoint'ed so the unrolled lineage
    doesn't re-embed the upstream edge derivation per round.

    Input is the symmetric distinct edge list
    (:func:`cooccurrence_edges`). Returns surviving canonical edges
    ``(src, dst, support)``, src < dst, with support as measured in the
    subgraph ENTERING the final round (the value the last filter
    tested — the oracle mirrors this exactly).
    """
    if k < 3 or rounds < 1:
        raise ValueError("ktruss_edges: need k >= 3 and rounds >= 1")
    e = (
        edges.filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint()
    )
    last_support = None
    for _ in range(int(rounds)):
        support = _oriented_edge_support(e)
        last_support = support.filter(F.col("support") >= int(k) - 2)
        e = e.join(last_support.select("src", "dst"), ["src", "dst"], "left_semi")
    return e.join(last_support, ["src", "dst"])


def hyperball_neighborhood(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """The NEIGHBORHOOD FUNCTION N(t) by HyperBall (Boldi & Vigna,
    2013): per node, a HyperLogLog sketch of its distance-≤t ball,
    advanced one hop per round by MAX-MERGING each node's registers
    with its neighbors' — the published trick that turns all-pairs
    distance counting (quadratic BFS) into ``rounds`` hash joins over
    a register table. Ball growth (how fast Σ_v |B(v,t)| saturates)
    is the standard diameter / small-world diagnostic.

    Deterministic end-to-end because the sketch is the sk01 md5-HLL
    (operators/sketches.py): registers from fixed md5 hex slices,
    estimates all-integer — so unlike any float HyperBall the whole
    run is oracle-exact. Raw-HLL small-range bias applies per node
    (no linear-counting correction — est of a singleton ball reads
    ~46, not 1); ``sum_occupied`` (Σ occupied registers, exact for
    balls ≪ m) rides along as the small-ball-accurate proxy, the pair
    the estimator literature uses.

    State is ONE row per node carrying the m registers as a fixed-width
    BIGINT array (r13 optimization round; was m rows per node at
    (node, reg) grain). A round is: edge join (each edge moves its
    dst's whole register array to src in ONE row) + union + per-node
    element-wise max agg (m max buffers in one hash aggregate). The
    array form moves m× fewer rows through the propagation join and
    the merge shuffle for identical bytes of register payload —
    measured 12.2 s → ~3 s at the sliced sf0.1 bench shape — and is
    value-identical: max over (node, reg) rows ≡ element-wise array
    max (absent register ≡ rho 0), and the estimate fold reproduces
    md5_hll_estimate's integers exactly (S = Σ_i 2^(40−rho_i) counts
    explicit zeros at 2^40, the same constant absent rows contributed).
    The plan is fully lazy — AQE exchange reuse dedupes the shared
    sub-plans at rounds = 2. r14 adjudication: three order-balanced A/Bs
    at sf0.1 disagreed on the lazy plan vs lazy checkpoints on the edge
    list and each round's register table (7.57→5.53, 6.60→7.54, 10-rep
    tiebreak med 8.83 vs 8.35) — a WASH inside this multi-stage AQE
    plan's documented same-JVM variance, so the driver-verified r13
    lazy plan stays. A/B before adding cuts for deep unrolls.

    Returns one row per t in [0, rounds]: (t, n_nodes, sum_occupied,
    sum_est) — sum_est is Σ_v est|B(v,t)|, the neighborhood function.
    """
    from .sketches import md5_hll_registers

    # 709/1000: the HLL bias constant alpha for m = 64 registers.
    num = 709 * 64 * 64 * (1 << 40)

    e = edges.select("src", "dst")
    nodes = e.select(F.col("src").alias("node")).distinct()
    # t=0 state: each node's own key occupies exactly one register —
    # expand the (node, reg, rho_max) row to the m-slot array form.
    reg0 = md5_hll_registers(nodes, "node", "node", group_alias="node")
    regs = reg0.select(
        "node",
        F.array(
            *[
                F.when(F.col("reg") == i, F.col("rho_max"))
                .otherwise(F.lit(0))
                .cast("long")
                for i in range(64)
            ]
        ).alias("ball"),
    )

    def level(r: DataFrame, t: int) -> DataFrame:
        # Per node: S = Σ_i 2^(40−rho_i) (rho 0 slots contribute 2^40,
        # exactly md5_hll_estimate's absent-register constant), est =
        # num div (1000·S) — the same integers the row-form computed.
        s_v = F.aggregate(
            "ball",
            F.lit(0).cast("long"),
            lambda acc, x: acc
            + F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (F.lit(40) - x).cast("int"),
            ),
        )
        occ = F.size(F.filter("ball", lambda x: x > F.lit(0))).cast("long")
        per_node = r.select(
            occ.alias("_occ"),
            F.expr(f"CAST({num} AS BIGINT)").alias("_num"),
            s_v.alias("_s"),
        ).select(
            "_occ",
            F.expr("_num div (1000 * _s)").cast("long").alias("_est"),
        )
        return per_node.agg(
            F.lit(t).cast("long").alias("t"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("_occ").cast("long").alias("sum_occupied"),
            F.sum("_est").cast("long").alias("sum_est"),
        ).select("t", "n_nodes", "sum_occupied", "sum_est")

    out = level(regs, 0)
    for t in range(1, int(rounds) + 1):
        prop = e.join(regs, e["dst"] == regs["node"]).select(
            e["src"].alias("node"), "ball"
        )
        merged = regs.unionByName(prop)
        regs = merged.groupBy("node").agg(
            F.array(
                *[F.max(F.col("ball")[i]).cast("long") for i in range(64)]
            ).alias("ball")
        )
        out = out.unionByName(level(regs, t))
    return out


def harmonic_centrality_seeds(edges: DataFrame) -> DataFrame:
    """TRUNCATED HARMONIC CENTRALITY of the 5 highest-degree
    nodes: multi-source BFS advances all seeds' frontiers together for
    2 hops (state = (seed, node, dist) min-merged per round —
    the Pregel-as-joins shape), then each seed scores Σ 1e6 div dist
    over its reached set — the distance-based centrality the rank
    family (PageRank/HITS/degree) doesn't measure, truncated the way
    production systems actually compute it (full harmonic centrality
    is all-pairs; the k-hop truncation is the standard bound, and g16's
    neighborhood function says how much a deeper k would add).

    Deterministic: seeds break degree ties by node id; distances and
    the harmonic sum are pure integers. Cost is the seeds' k-hop
    neighborhood edge volume (5 × |E| worst case) — pair with a
    sliced/bounded graph like the other unrolled-graph queries.

    Returns (seed, n_at_1, n_at_2..., harmonic_micro) — one row per
    seed with per-distance reach counts up to 2.
    """
    e = edges.select("src", "dst")
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("_deg")
    )
    seeds = (
        deg.orderBy(F.desc("_deg"), F.asc("node"))
        .limit(5)
        .select(F.col("node").alias("seed"))
    )
    state = seeds.select(
        "seed", F.col("seed").alias("node"), F.lit(0).cast("long").alias("dist")
    )
    # fresh names on the edge side: state derives from the same edge
    # frame, so a re-join on src/dst is ambiguous by attribute id (the
    # fp03 lesson — rename at select, aliases alone don't help)
    e2 = e.select(F.col("src").alias("_es"), F.col("dst").alias("_ed"))
    for _t in range(1, 3):
        prop = state.join(e2, state["node"] == F.col("_es")).select(
            "seed",
            F.col("_ed").alias("node"),
            F.lit(_t).cast("long").alias("dist"),
        )
        state = (
            state.unionByName(prop)
            .groupBy("seed", "node")
            .agg(F.min("dist").cast("long").alias("dist"))
        )
    reached = state.filter(F.col("node") != F.col("seed"))
    aggs = [
        F.sum(F.when(F.col("dist") == t, 1).otherwise(0))
        .cast("long")
        .alias(f"n_at_{t}")
        for t in range(1, 3)
    ]
    return reached.groupBy("seed").agg(
        *aggs,
        F.sum(F.expr("CAST(1000000 AS BIGINT) div dist"))
        .cast("long")
        .alias("harmonic_micro"),
    )


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Per-node LOCAL CLUSTERING COEFFICIENT (g18): 2·triangles /
    (deg·(deg−1)) in truncating ppm over a symmetric distinct edge
    list — the cohesion number next to :func:`triangle_counts` (which
    supplies the triangle side via the degree-ordered orientation; the
    denominator is the node's wedge capacity).

    Integer discipline: cc_ppm = (2e6·tri) div (deg·(deg−1)) — both
    operands non-negative BIGINTs (2e6·tri stays under 2⁶³ until
    ~4.6×10¹² triangles per node, far past any real graph's per-node
    count; the global count can be huge, per-node cannot without
    deg ~ 3×10⁶, where the wedge volume would be the real problem
    first). Nodes with deg < 2 have no defined coefficient and are
    omitted; triangle-free nodes report 0. Returns (node, deg,
    n_triangles, cc_ppm)."""
    tri = triangle_counts(edges)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
        )
        .select(
            "node",
            "deg",
            "n_triangles",
            F.expr("(2000000 * n_triangles) div (deg * (deg - 1))")
            .cast("long")
            .alias("cc_ppm"),
        )
    )


def rich_club_coefficient(edges: DataFrame) -> DataFrame:
    """RICH-CLUB coefficient over a symmetric distinct edge list (g19):
    for each degree threshold k, the density of the subgraph induced by
    nodes of degree > k — φ(k) = E_k / (N_k·(N_k−1)) counted over
    ORDERED pairs, which matches the symmetric edge representation
    exactly (every undirected club edge contributes 2 ordered rows and
    the denominator counts ordered slots). Rising φ(k) = hubs wire to
    each other (the rich-club effect); integer ppm, no floats.

    One degree agg + one thresholded semi-join per grid value expressed
    as a single grid cross-join (the s16 prefix trick is unnecessary —
    club membership is monotone in k, the filter IS the prefix).
    Returns (k, n_nodes, n_edges, phi_ppm) for grid values with ≥2 club
    nodes."""
    spark = edges.sparkSession
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    grid = F.broadcast(
        spark.createDataFrame([(int(k),) for k in (10, 50, 100, 200)], "k long")
    )
    club = grid.join(deg, F.col("deg") > F.col("k")).select("k", "node")
    nn = club.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    ce = (
        edges.join(club.withColumnRenamed("node", "src"), "src")
        .join(club.withColumnRenamed("node", "dst"), ["k", "dst"])
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )
    return (
        nn.filter(F.col("n_nodes") >= 2)
        .join(ce, "k", "left")
        .select(
            "k",
            "n_nodes",
            F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
            F.expr(
                "(1000000 * coalesce(n_edges, 0))"
                " div (n_nodes * (n_nodes - 1))"
            )
            .cast("long")
            .alias("phi_ppm"),
        )
    )
