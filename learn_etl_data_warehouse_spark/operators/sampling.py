"""Dataset split / sampling / packing operators for training-data prep.

- deterministic hash split: md5-bucket on the id — stable across runs,
  engines, cluster sizes, and data order (the property that matters for
  a train/val/test split: a document never migrates between splits when
  the corpus grows).
- stratified sampling: per-stratum Bernoulli fractions (Spark sampleBy;
  seeded, executor-deterministic).
- sequence packing: concat-then-chunk token packing — documents are laid
  end-to-end in a deterministic order within each shard and sliced into
  fixed-size token windows; each document records its first/last pack.
  Window-sum formulation → one shuffle per shard key, oracle-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import token_count


def hash_bucket(col, buckets: int = 100):
    """Stable [0, buckets) bucket from the md5 of the value's string form
    (portable: any engine with md5 + hex→int reproduces it)."""
    hex8 = F.substring(F.md5(col.cast("string").cast("binary")), 1, 8)
    return F.conv(hex8, 16, 10).cast("long") % buckets


def train_val_test_split(df: DataFrame) -> DataFrame:
    """Attach a ``split`` column: train/val/test by deterministic hash
    bucket of the id."""
    b = hash_bucket(F.col("doc_id"))
    split = (
        F.when(b < 90, "train")
        .when(b < 95, "val")
        .otherwise("test")
    )
    return df.withColumn("split", split)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
) -> DataFrame:
    """Per-stratum Bernoulli sample (e.g. downsample over-represented
    languages). Seeded and reproducible for a fixed partitioning."""
    return df.sampleBy(strata_col, fractions, seed=42)


def hash_ranked_sample(
    df: DataFrame,
    k: int,
    strata_col: str = "lang",
) -> DataFrame:
    """Deterministic per-stratum k-sample: rank rows inside each stratum
    by the md5 of their id (a uniform-ish, engine-portable pseudo-random
    order — the same construction as :func:`hash_bucket`) and keep the
    first ``k``. Unlike Bernoulli sampling this is (a) exactly-k per
    stratum, (b) RNG-free and reproducible on any engine, and (c)
    GROWTH-STABLE in the membership-ranking sense: a document's sort key
    never changes, so re-running on a grown corpus only evicts documents
    out-ranked by new arrivals — it never reshuffles the survivors'
    order. One shuffle on the stratum key; ties on the (astronomically
    unlikely) equal digest break on the id."""
    key = F.md5(F.col("doc_id").cast("string").cast("binary"))
    w = Window.partitionBy(strata_col).orderBy(key.asc(), F.col("doc_id").asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= k)
    )


def shuffle_shards(df: DataFrame, n_shards: int = 16) -> DataFrame:
    """Deterministic global training-order shuffle WITHOUT a global sort.

    A pretraining run wants every epoch to read the corpus in a fixed
    pseudo-random order. The naive ``ORDER BY random_key`` is a total
    sort — a single range-partitioned ordering whose skew/stragglers you
    don't want at 100 TB, and whose sampled range boundaries aren't
    engine-portable. Instead the classic two-level construction:

    1. ``shard``      = md5-bucket of the id (independent salt) — the
       file/worker assignment, one hash, no shuffle;
    2. ``shard_pos``  = rank of an md5 order key WITHIN the shard — a
       per-shard window, parallel across shards;
    3. ``global_pos`` = shard-offset + shard_pos, where the per-shard row
       counts (n_shards rows, tiny) prefix-sum into offsets and broadcast
       back.

    The result is a bijective position assignment, shard-major in
    (shard, order_key, id) lexicographic order — reproducible on any
    engine from md5 alone, and computed with one narrow hash pass, one
    per-shard window, and a broadcast join against an n_shards-row table.
    """
    ord_key = F.md5(
        F.concat(F.lit("ord:"), F.col("doc_id").cast("string")).cast("binary")
    )
    base = df.select(
        F.col("doc_id"),
        hash_bucket(
            F.concat(F.lit("shard:"), F.col("doc_id").cast("string")), n_shards
        ).alias("shard"),
        ord_key.alias("_ord"),
    )
    w = Window.partitionBy("shard").orderBy(
        F.col("_ord").asc(), F.col("doc_id").asc()
    )
    ranked = base.withColumn("shard_pos", F.row_number().over(w).cast("long"))
    counts = ranked.groupBy("shard").agg(F.count(F.lit(1)).alias("_n"))
    off_w = (
        Window.orderBy(F.col("shard").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "shard", F.coalesce(F.sum("_n").over(off_w), F.lit(0)).alias("_off")
    )
    return ranked.join(F.broadcast(offsets), "shard").select(
        F.col("doc_id"),
        F.col("shard").cast("long").alias("shard"),
        F.col("shard_pos"),
        (F.col("_off") + F.col("shard_pos")).cast("long").alias("global_pos"),
    )


def domain_mix(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Weighted domain mixing: keep each document with a per-domain target
    rate (the "2 epochs of wiki, 0.3 of common crawl" knob every
    pretraining mix spec has, restricted here to rates ≤ 1 — subsampling).

    Membership is decided by md5-bucket-vs-threshold, NOT an RNG: a
    document's keep/drop is a pure function of its id, so the mix is
    reproducible on any engine, stable under corpus growth, and re-runs
    incrementally (a new document's fate doesn't disturb old ones). The
    whole operator is a narrow filter — no shuffle, safe in front of
    100 TB. Rates are applied at ppm precision (bucket < round(rate·1e6)).
    """
    b = hash_bucket(
        F.concat(F.lit("mix:"), F.col("doc_id").cast("string")), 1_000_000
    )
    rate = F.lit(float(default_rate))
    for dom, r in sorted(rates.items()):
        rate = F.when(F.col("source") == dom, F.lit(float(r))).otherwise(rate)
    return (
        df.withColumn("_bk", b)
        .filter(F.col("_bk") < F.round(rate * 1_000_000).cast("long"))
        .drop("_bk")
    )


def pack_sequences(docs: DataFrame, max_tokens: int = 512) -> DataFrame:
    """Concat-then-chunk packing: within each shard, documents are laid
    end-to-end (ordered by id for determinism) and cut into
    ``max_tokens``-sized packs. Emits per-document placement:
    (id, shard, n_tokens, token_offset, pack_first, pack_last).

    One shuffle on the shard key; the running offset is a window prefix
    sum of exact integers. At 100 TB the shard column bounds both the
    window state and the pack id space per task."""
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tc = token_count("text")
    offset = F.coalesce(F.sum(tc).over(w), F.lit(0)).cast("long")
    out = docs.select(
        F.col("doc_id"),
        F.col("source"),
        tc.alias("n_tokens"),
        offset.alias("token_offset"),
    )
    first = F.floor(F.col("token_offset") / max_tokens).cast("long")
    last = F.floor(
        (F.col("token_offset") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1)
        / max_tokens
    ).cast("long")
    return out.withColumn("pack_first", first).withColumn("pack_last", last)


def quality_weighted_sample(df: DataFrame) -> DataFrame:
    """Per-document QUALITY-WEIGHTED sampling — the CCNet/LLaMA-style
    step where a document's keep probability is its quality score
    (clamped to [0,1]) instead of a flat per-domain rate
    (:func:`domain_mix`): high-quality docs are kept ~always, junk is
    kept rarely but not never, preserving distributional coverage.

    Same determinism contract as the rest of the sampling family: the
    decision is md5-bucket < round(weight·1e6) — a pure function of
    (id, text), no RNG, reproducible on any engine, stable under corpus
    growth, incremental-rerun safe. A narrow filter, no shuffle.
    Returns the kept docs with their ``quality`` attached."""
    from .text import quality_score

    q = quality_score(F.col("text"))
    w = F.least(F.lit(1.0), F.greatest(F.lit(0.0), q * F.lit(1.0)))
    thresh = F.round(w * 1_000_000).cast("long")
    b = hash_bucket(
        F.concat(F.lit("qws:"), F.col("doc_id").cast("string")), 1_000_000
    )
    return (
        df.withColumn("quality", q)
        .filter(b < thresh)
        .select(F.col("doc_id"), "quality")
    )


def exact_stratified_split(df: DataFrame, train_pct: int = 80) -> DataFrame:
    """Exact-count stratified train/holdout split by largest-remainder
    allocation: the TOTAL train size is exactly ``(pct·N) div 100`` and
    each stratum's quota is ``(pct·n_k) div 100`` plus at most one —
    extras go to the strata with the largest integer remainders
    (``(pct·n_k) mod 100``, ties by stratum ascending). Bernoulli
    splits (:func:`train_val_test_split`) only hit proportions in
    expectation; this one hits them exactly, which is what a small
    eval-set budget needs.

    Row selection inside a stratum is the same engine-portable md5
    ranking as :func:`hash_ranked_sample` — RNG-free, reproducible,
    growth-stable. Work: one shuffle on the stratum key for the rank
    window + a tiny remainder-ranking window over ONE ROW PER STRATUM
    (bounded by the label alphabet, never by corpus size), broadcast
    back.

    Returns the input rows + split STRING ('train' / 'holdout').
    """
    if not (0 < train_pct < 100):
        raise ValueError("exact_stratified_split: need 0 < train_pct < 100")
    counts = df.groupBy(F.col("lang").alias("_s")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    base = (F.lit(train_pct) * F.col("_n")).cast("long")
    alloc = counts.select(
        "_s",
        "_n",
        F.expr(f"({train_pct} * _n) div 100").alias("_base"),
        (base % 100).alias("_rem"),
    )
    tot = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rem_rank = Window.orderBy(F.desc("_rem"), F.asc("_s"))
    quotas = (
        alloc.withColumn("_target", F.expr(f"({train_pct} * sum(_n) over ()) div 100"))
        .withColumn("_sum_base", F.sum("_base").over(tot))
        .withColumn("_rr", F.row_number().over(rem_rank))
        .select(
            "_s",
            (
                F.col("_base")
                + (F.col("_rr") <= F.col("_target") - F.col("_sum_base")).cast("long")
            ).alias("_quota"),
        )
    )
    key = F.md5(F.col("doc_id").cast("string").cast("binary"))
    w = Window.partitionBy("lang").orderBy(key.asc(), F.col("doc_id").asc())
    ranked = df.withColumn("_rank", F.row_number().over(w).cast("long"))
    return (
        ranked.join(
            F.broadcast(quotas), ranked["lang"] == quotas["_s"]
        )
        .withColumn(
            "split",
            F.when(F.col("_rank") <= F.col("_quota"), "train").otherwise(
                "holdout"
            ),
        )
        .drop("_s", "_quota", "_rank")
    )


def bootstrap_replicate_means(
    df: DataFrame,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Deterministic BOOTSTRAP resampling for uncertainty estimation:
    per replicate, each row's resample multiplicity is a Binomial(3,
    1/3) draw (the standard Poisson(1) approximation) derived from md5
    buckets of (replicate, trial, id) — RNG-free, reproducible on any
    engine, stable under corpus growth, the d19/d11 hash-sampling
    contract applied to inference. The replicate statistic is the
    weighted fixed-point mean in integer cents (truncating div of
    non-negative sums).

    The spread of the 16 replicate means IS the sampling
    uncertainty of the corpus mean — the piece the point-estimate
    aggregates (q01/a06) don't report. Plan: one bounded explode
    (reps× rows, reps fixed), one hash agg on the replicate id;
    output is 16 scalar rows. Returns (rep, n_eff, mean_cents)
    where n_eff is the replicate's total resample weight."""
    cents = F.round(F.col(value_col) * 100).cast("long")
    base = df.select(
        F.col(id_col).cast("string").alias("_id"), cents.alias("_cents")
    )
    rep = F.explode(
        F.sequence(F.lit(0), F.lit(15))
    ).alias("rep")
    exploded = base.select("_id", "_cents", rep)
    # ONE md5 per (row, replicate); the three Bernoulli trials read
    # disjoint 8-hex-digit slices of the same digest (each < 2^32, so
    # the mod-1e6 bias is ~0.03% — the hash cost is the hot-path term
    # at scale, and this is 3× less hashing than three seeded digests).
    digest = F.md5(
        F.concat(
            F.lit("bs:"), F.col("rep").cast("string"), F.lit(":"),
            F.col("_id"),
        ).cast("binary")
    )
    wt = sum(
        (
            F.conv(F.substring(digest, 1 + 8 * j, 8), 16, 10)
            .cast("long") % 1_000_000
            < 333_333
        ).cast("long")
        for j in range(3)
    )
    return (
        exploded.withColumn("_wt", wt)
        .groupBy(F.col("rep").cast("long").alias("rep"))
        .agg(
            F.sum("_wt").cast("long").alias("n_eff"),
            F.sum(F.col("_wt") * F.col("_cents")).cast("long").alias("_tot"),
        )
        .select(
            "rep",
            "n_eff",
            F.when(F.col("n_eff") == 0, F.lit(None))
            .otherwise(F.expr("_tot div n_eff"))
            .cast("long")
            .alias("mean_cents"),
        )
    )


def bootstrap_ci(df: DataFrame, value_col: str, id_col: str) -> DataFrame:
    """Bootstrap CONFIDENCE INTERVAL from the :func:`
    bootstrap_replicate_means` replicates — the percentile method,
    nearest-rank form (st01 reports the replicate spread; this reduces
    it to the interval a decision actually consumes). Bounds are the
    ceil-rank order statistics of the 12.5%/87.5% band (with 16
    replicates the classic 2.5/97.5 ranks degenerate to min/max, so
    this is the tightest informative pair), plus the replicate median
    and the SCALED integer variance n·Σm² − (Σm)² (exact — the float variance
    of the means would drift cross-engine; a consumer divides by n²
    once at read time).

    Replicates with zero effective weight (possible only on tiny
    inputs) are dropped before ranking; ranks are over the n_reps
    SURVIVING means. One bounded agg over 16 rows — the sorted
    array is reps-long, never data-proportional. Returns ONE row:
    (n_reps, ci_lo_cents, ci_hi_cents, median_cents, var_scaled)."""
    means = bootstrap_replicate_means(df, value_col, id_col).filter(
        F.col("mean_cents").isNotNull()
    )
    arr = F.sort_array(F.collect_list("mean_cents"))

    def at_rank(ppm: int) -> str:
        # ceil nearest-rank, guarded for the empty-input edge (ANSI
        # element_at throws out-of-bounds rather than returning NULL)
        return (
            f"CASE WHEN size(_a) = 0 THEN NULL ELSE element_at(_a,"
            f" CAST(greatest(1, ({ppm} * size(_a) + 999999)"
            f" div 1000000) AS INT)) END"
        )

    return (
        means.agg(
            arr.alias("_a"),
            F.sum(F.col("mean_cents") * F.col("mean_cents"))
            .cast("long")
            .alias("_sq"),
            F.sum("mean_cents").cast("long").alias("_s"),
        )
        .select(
            F.expr("size(_a)").cast("long").alias("n_reps"),
            F.expr(at_rank(125_000)).cast("long").alias("ci_lo_cents"),
            F.expr(at_rank(875_000)).cast("long").alias("ci_hi_cents"),
            F.expr(at_rank(500_000)).cast("long").alias("median_cents"),
            F.expr("size(_a) * coalesce(_sq, 0) - coalesce(_s, 0) *"
                   " coalesce(_s, 0)")
            .cast("long")
            .alias("var_scaled"),
        )
    )


def permutation_test_means(
    df: DataFrame,
    value_col: str,
    id_col: str,
    group_col,
) -> DataFrame:
    """Deterministic RANDOMIZATION test for a two-group mean
    difference: the observed group assignment's mean gap, next to
    16 pseudo-assignments where each row's group is an
    md5-bucket draw at the observed group-1 rate (integer ppm from the
    data, one 1-row agg broadcast back) — the randomization-test
    variant of a permutation test, exactly reproducible on any engine
    (true label shuffling needs a total-order permutation; the
    rate-preserving reassignment is the standard scalable stand-in).
    If the observed |diff| sits in the tail of the pseudo-assignment
    diffs, the gap is unlikely under "labels don't matter".

    ``group_col`` is a boolean/0-1 Column or column name. Means are
    truncating integer cents of non-negative sums; empty pseudo-groups
    yield NULL means (never hit at realistic sizes). One bounded
    16× explode + one hash agg; output is 16+1 scalar
    rows — the observed row carries ``perm_id = -1``. Returns
    (perm_id, mean_a_cents, mean_b_cents, diff_cents)."""
    grp = (
        F.col(group_col) if isinstance(group_col, str) else group_col
    ).cast("long")
    cents = F.round(F.col(value_col) * 100).cast("long")
    base = df.select(
        F.col(id_col).cast("string").alias("_id"),
        cents.alias("_cents"),
        grp.alias("_g"),
    )

    def _means(src, g, perm_expr=None):
        a_n = F.sum(g).cast("long")
        b_n = (F.count(F.lit(1)) - F.sum(g)).cast("long")
        a_sum = F.sum(g * F.col("_cents")).cast("long")
        b_sum = F.sum((1 - g) * F.col("_cents")).cast("long")
        aggs = [
            a_n.alias("_an"), b_n.alias("_bn"),
            a_sum.alias("_as"), b_sum.alias("_bs"),
        ]
        if perm_expr is None:
            # Observed row: a GLOBAL aggregate (always exactly one row,
            # even on empty input) with perm_id stamped on — a groupBy
            # on the literal -1 would return 0 rows for an empty frame
            # while the oracle's ungrouped obs CTE returns 1 NULL row
            # (the r8 ADVICE empty-input asymmetry).
            out = src.agg(*aggs).withColumn(
                "perm_id", F.lit(-1).cast("long")
            )
        else:
            out = src.groupBy(perm_expr.alias("perm_id")).agg(*aggs)
        mean_a = (
            F.when(F.col("_an") == 0, F.lit(None))
            .otherwise(F.expr("_as div _an")).cast("long")
        )
        mean_b = (
            F.when(F.col("_bn") == 0, F.lit(None))
            .otherwise(F.expr("_bs div _bn")).cast("long")
        )
        return out.select(
            "perm_id",
            mean_a.alias("mean_a_cents"),
            mean_b.alias("mean_b_cents"),
            (mean_a - mean_b).cast("long").alias("diff_cents"),
        )

    observed = _means(base, F.col("_g"))
    ppm = base.agg(
        F.expr("(1000000 * sum(_g)) div count(*)")
        .cast("long")
        .alias("_ppm")
    )
    exploded = base.crossJoin(F.broadcast(ppm)).select(
        "_cents",
        "_id",
        "_ppm",
        F.explode(
            F.sequence(F.lit(0), F.lit(15))
        ).alias("_p"),
    )
    pseudo = (
        hash_bucket(
            F.concat(
                F.lit("pt:"), F.col("_p").cast("string"), F.lit(":"),
                F.col("_id"),
            ),
            1_000_000,
        )
        < F.col("_ppm")
    ).cast("long")
    permuted = _means(
        exploded.withColumn("_gx", pseudo),
        F.col("_gx"),
        F.col("_p").cast("long"),
    )
    return observed.unionByName(permuted)


def jackknife_group_means(
    df: DataFrame,
    value_col: str,
    group_col,
    group_alias: str = "grp",
) -> DataFrame:
    """Delete-one-GROUP jackknife sensitivity of the mean: for every
    group g, the mean over all rows NOT in g — the standard influence
    diagnostic (which month/segment/source is moving the headline
    number?) and the grouped sibling of the delete-one jackknife,
    completing the inference family (st01 bootstrap, st02
    randomization test).

    Integer-exact: values become rounded cents (the st01/st02 idiom),
    the leave-out mean is ``floor((S − s_g) / (N − n_g))`` with the
    floor RECONSTRUCTED the e28 way — ``(x − pmod(x, d)) div d`` — so
    a SIGNED numerator (refunds/credits driving a leave-out sum
    negative) still matches DuckDB's flooring ``//`` exactly; after
    subtracting the non-negative ``pmod`` the division is exact and
    truncation is harmless (r9 ADVICE item). The delta against the
    overall mean is a SIGNED subtraction of two already-evaluated
    integers (portable). A group that is the ENTIRE input yields NULL
    (the r8 ADVICE empty/degenerate-input lesson, applied both
    engines).

    Scale shape: one hash agg to the group grain, one 1-row global agg
    broadcast back — group-grain cost, no window, no second scan of
    the fact. Returns (``group_alias``, n_g, jk_mean_cents,
    overall_mean_cents, delta_cents).
    """
    grp = F.col(group_col) if isinstance(group_col, str) else group_col
    cents = F.round(F.col(value_col) * 100).cast("long")
    g = df.groupBy(grp.alias(group_alias)).agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(cents).cast("long").alias("_s_g"),
    )
    t = g.agg(
        F.sum("n_g").cast("long").alias("_n"),
        F.sum("_s_g").cast("long").alias("_s"),
    )
    jk = F.when(F.col("_n") == F.col("n_g"), F.lit(None)).otherwise(
        F.expr(
            "(_s - _s_g - pmod(_s - _s_g, _n - n_g)) div (_n - n_g)"
        )
    ).cast("long")
    overall = F.expr("(_s - pmod(_s, _n)) div _n").cast("long")
    return g.crossJoin(F.broadcast(t)).select(
        group_alias,
        "n_g",
        jk.alias("jk_mean_cents"),
        overall.alias("overall_mean_cents"),
        (jk - overall).cast("long").alias("delta_cents"),
    )


def cuped_adjusted_means(
    units: DataFrame,
    y_col: str = "y",
    x_col: str = "x",
    group_col: str = "grp",
) -> DataFrame:
    """CUPED covariate-adjusted group means — the variance-reduction
    estimator every experimentation platform applies before comparing
    groups: ``adj_g = ȳ_g − θ·(x̄_g − x̄)`` with ``θ = Cov(x,y)/Var(x)``
    fit on ALL units, where ``x`` is a pre-period covariate (unaffected
    by group assignment) and ``y`` the metric. Groups whose units had
    unusually active pre-periods get their means pulled back toward
    what the covariate predicts.

    Engine-exact by the a15 moment discipline: the input is a
    UNIT-grain frame with INTEGER ``x``/``y`` (callers pre-scale money
    to cents), the five moment sums accumulate in DECIMAL(38,0)
    (exact, order-free), and θ / the adjusted means are evaluated once
    per group as a STRUCTURALLY FIXED double expression of those exact
    moments (identical shape in the DuckDB twin), rounded to 6. Var(x)
    = 0 degenerates to the unadjusted means (θ treated as 0, NULL
    theta). Scale shape: one group-grain agg + a 1-row broadcast —
    st03's plan with wider moments. Returns (``group_col``, n_units,
    raw_mean, adjusted_mean, theta)."""
    xi = F.col(x_col).cast("long").cast("decimal(38,0)")
    yi = F.col(y_col).cast("long").cast("decimal(38,0)")
    g = units.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("_ng"),
        F.sum(xi).alias("_sxg"),
        F.sum(yi).alias("_syg"),
        F.sum(xi * xi).alias("_sxxg"),
        F.sum(xi * yi).alias("_sxyg"),
    )
    t = g.agg(
        F.sum("_ng").cast("long").alias("_n"),
        F.sum("_sxg").alias("_sx"),
        F.sum("_syg").alias("_sy"),
        F.sum("_sxxg").alias("_sxx"),
        F.sum("_sxyg").alias("_sxy"),
    )
    j = g.crossJoin(F.broadcast(t))
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxx = F.col("_sxx").cast("double")
    sxy = F.col("_sxy").cast("double")
    var_x = n * sxx - sx * sx
    theta = (n * sxy - sx * sy) / var_x
    ng = F.col("_ng").cast("double")
    raw_mean = F.col("_syg").cast("double") / ng
    xbar_g = F.col("_sxg").cast("double") / ng
    xbar = sx / n
    adj = F.when(
        var_x > 0, raw_mean - theta * (xbar_g - xbar)
    ).otherwise(raw_mean)
    return j.select(
        group_col,
        F.col("_ng").alias("n_units"),
        F.round(raw_mean, 6).alias("raw_mean"),
        F.round(adj, 6).alias("adjusted_mean"),
        F.when(var_x > 0, F.round(theta, 6)).alias("theta"),
    )


def rank_sum_test(df: DataFrame, value_col: str, group_col) -> DataFrame:
    """Exact rank-sum statistics per group — the Mann–Whitney /
    Kruskal–Wallis family's shared core (two groups → Wilcoxon rank-sum
    / U; K groups → the rank sums Kruskal–Wallis' H is built from),
    completing the nonparametric leg of the inference family (st01
    bootstrap, st02 randomization, st03 jackknife, st04 CUPED).

    Integer-exact: values become rounded cents; tied values take
    AVERAGE ranks, kept integral by reporting DOUBLED sums — a tied
    block of ``n_v`` values preceded by ``lt`` smaller rows has average
    rank ``lt + (n_v + 1)/2``, so each member contributes ``2·lt + n_v
    + 1`` to the doubled rank sum. The doubled expectation under H0 is
    ``n_g·(N + 1)``; ``dev_x2`` is their signed difference (evaluated
    integers, portable). Invariants a test can pin: Σ rank_sum_x2 =
    N·(N+1), Σ dev_x2 = 0.

    Scale design: the per-value "rows below" count is the a26 two-level
    construction — distinct values bucket by (digit_count, 2-digit
    prefix) (strictly value-ordered across buckets for non-negative
    integers), bucket totals take the only unpartitioned running sum
    (≤ ~1.1k rows at ANY size), row-level exclusive counts are windows
    partitioned BY bucket. No global single-partition window anywhere.
    Accumulation in DECIMAL(38,0) (HUGEINT twin), outputs cast to
    BIGINT — the doubled sums stay under 2·N² which fits until
    N ≈ 2·10⁹ rows; past that, return the decimals unchanged.

    Returns one row per group: (``grp``, n_g, rank_sum_x2,
    expected_x2, dev_x2).
    """
    grp = F.col(group_col) if isinstance(group_col, str) else group_col
    cents = F.round(F.col(value_col) * 100).cast("long")
    base = df.select(grp.alias("grp"), cents.alias("_c"))
    # r14 (guide §2.4, the mad_outlier_profile pattern): base feeds the
    # value histogram, the (group, value) histogram and the total count
    # — lazy checkpoint runs the scan+projection once (A/B in
    # OPTIMIZATION_r14.md, st05).
    base = base.localCheckpoint(eager=False)
    pv = base.groupBy("_c").agg(F.count(F.lit(1)).cast("long").alias("_n_v"))
    s = F.col("_c").cast("string")
    b = pv.select(
        "_c",
        "_n_v",
        F.length(s).alias("_dc"),
        F.substring(s, 1, 2).cast("int").alias("_p2"),
    )
    dec = F.col("_n_v").cast("decimal(38,0)")
    totals = b.groupBy("_dc", "_p2").agg(F.sum(dec).alias("_bt"))
    asc = Window.orderBy(F.asc("_dc"), F.asc("_p2"))
    below = F.sum("_bt").over(asc.rowsBetween(Window.unboundedPreceding, -1))
    totals = totals.select(
        "_dc",
        "_p2",
        F.coalesce(below, F.lit(0).cast("decimal(38,0)")).alias("_below"),
    )
    in_b = (
        Window.partitionBy("_dc", "_p2")
        .orderBy(F.asc("_c"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lt = F.col("_below") + F.coalesce(
        F.sum(dec).over(in_b), F.lit(0).cast("decimal(38,0)")
    )
    pvl = b.join(F.broadcast(totals), ["_dc", "_p2"]).select(
        "_c", "_n_v", lt.alias("_lt")
    )
    gv = base.groupBy("grp", "_c").agg(
        F.count(F.lit(1)).cast("long").alias("_n_gv")
    )
    j = gv.join(pvl, "_c")
    contrib = F.col("_n_gv").cast("decimal(38,0)") * (
        F.lit(2).cast("decimal(38,0)") * F.col("_lt")
        + F.col("_n_v")
        + F.lit(1)
    )
    per_g = j.groupBy("grp").agg(
        F.sum("_n_gv").cast("long").alias("n_g"),
        F.sum(contrib).cast("long").alias("rank_sum_x2"),
    )
    total = base.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    return per_g.crossJoin(F.broadcast(total)).select(
        "grp",
        "n_g",
        "rank_sum_x2",
        (F.col("n_g") * (F.col("_n") + 1)).cast("long").alias("expected_x2"),
        (F.col("rank_sum_x2") - F.col("n_g") * (F.col("_n") + 1))
        .cast("long")
        .alias("dev_x2"),
    )


def _group_below_counts(
    base: DataFrame, group_alias: str, weight: str | None = None
) -> DataFrame:
    """Per-(group, distinct value) exclusive below-counts — the a26/st05
    two-level bucket construction applied PER GROUP: distinct values
    bucket by (digit_count, 2-digit prefix) (strictly value-ordered
    across buckets for NON-NEGATIVE integers — callers must feed
    non-negative ``_c``), bucket totals take a running sum partitioned
    by group (≤ ~1.1k bucket rows per group at ANY size), row-level
    exclusive counts are windows partitioned by (group, bucket). No
    single-partition window anywhere; the bucket-totals join is
    broadcast, which assumes a BOUNDED group alphabet (the repo's
    standing broadcast rule).

    With ``weight`` (a non-negative integer column on ``base``), counts
    become weight SUMS — the ranks turn into the weighted-CDF positions
    a weighted median selects against.

    Input: (``group_alias``, _c[, weight]) rows. Output one row per
    distinct (group, value): (``group_alias``, _c, _n_v BIGINT, _lt
    DECIMAL(38,0)).
    """
    unit = F.lit(1) if weight is None else F.col(weight)
    pv = base.groupBy(group_alias, "_c").agg(
        F.sum(unit).cast("long").alias("_n_v")
    )
    s = F.col("_c").cast("string")
    b = pv.select(
        group_alias,
        "_c",
        "_n_v",
        F.length(s).alias("_dc"),
        F.substring(s, 1, 2).cast("int").alias("_p2"),
    )
    dec = F.col("_n_v").cast("decimal(38,0)")
    totals = b.groupBy(group_alias, "_dc", "_p2").agg(F.sum(dec).alias("_bt"))
    asc = Window.partitionBy(group_alias).orderBy(F.asc("_dc"), F.asc("_p2"))
    below = F.sum("_bt").over(asc.rowsBetween(Window.unboundedPreceding, -1))
    totals = totals.select(
        group_alias,
        "_dc",
        "_p2",
        F.coalesce(below, F.lit(0).cast("decimal(38,0)")).alias("_below"),
    )
    in_b = (
        Window.partitionBy(group_alias, "_dc", "_p2")
        .orderBy(F.asc("_c"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lt = F.col("_below") + F.coalesce(
        F.sum(dec).over(in_b), F.lit(0).cast("decimal(38,0)")
    )
    return b.join(F.broadcast(totals), [group_alias, "_dc", "_p2"]).select(
        group_alias, "_c", "_n_v", lt.alias("_lt")
    )


def _group_nearest_rank(
    bc: DataFrame, sizes: DataFrame, group_alias: str, out_alias: str
) -> DataFrame:
    """Select, per group, the value at ascending rank ``(n_g + 1) div
    2`` (the LOWER nearest-rank median) from a below-counts frame: the
    unique distinct value whose half-open rank interval
    ``(_lt, _lt + _n_v]`` contains the target. ``sizes`` is the
    group-bounded (group, n_g) frame (broadcast)."""
    j = bc.join(F.broadcast(sizes), group_alias)
    target = F.shiftright(F.col("n_g") + 1, 1).cast("decimal(38,0)")
    return j.filter(
        (F.col("_lt") < target) & (F.col("_lt") + F.col("_n_v") >= target)
    ).select(group_alias, F.col("_c").alias(out_alias))


def mad_outlier_profile(df: DataFrame, value_col: str, group_col) -> DataFrame:
    """Robust per-group outlier profile: exact lower nearest-rank
    MEDIAN of the value (integer cents), the MAD (median absolute
    deviation — the same rank rule over ``|x − median|``), and the
    count of rows whose absolute deviation STRICTLY exceeds ``3·MAD``
    — the median/MAD robust z-score the mean/stddev anomaly family
    (e16) is fragile to under heavy tails, completing the robust leg
    of the inference family next to e28's Theil–Sen median slope.

    Integer-exact: values are rounded cents (must be NON-NEGATIVE —
    the bucket ordering of the selection kernel requires it, and a
    price column is); deviations are non-negative by construction;
    the lower median at rank ``(n+1) div 2`` uses ``shiftright(n+1,
    1)`` (exact, no float). Known MAD degeneracy: a group where more
    than half the rows share one value has MAD = 0, so EVERY
    differing row counts as an outlier — that is the textbook
    behavior, not a bug.

    Scale design: two passes of the per-group selection kernel (values,
    then deviations), each a hash agg at (group, distinct value) grain
    + group-partitioned bucket windows (≤ ~1.1k bucket rows per group);
    the median/MAD tables are group-bounded and broadcast back. No
    global sort, no single-partition window, no per-group row window.

    Returns one row per group: (``grp``, n_g, median_cents,
    mad_cents, n_outliers).
    """
    grp = F.col(group_col) if isinstance(group_col, str) else group_col
    cents = F.round(F.col(value_col) * 100).cast("long")
    base = df.select(grp.alias("grp"), cents.alias("_c"))
    # r14 (guide §2.4): base is consumed three times (sizes, the value
    # selection pass, the deviation build) and dev twice (the MAD
    # selection pass, the outlier count) — lazily materialize both so
    # the scan+projection and the median join each execute once
    # instead of per consumer. Order-balanced interleaved A/B at sf0.1:
    # median 4.42 → 1.63 s; results byte-identical (exceptAll 0/0).
    base = base.localCheckpoint(eager=False)
    sizes = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_g")
    )
    med = _group_nearest_rank(
        _group_below_counts(base, "grp"),
        sizes,
        "grp",
        "median_cents",
    )
    dev = base.join(F.broadcast(med), "grp").select(
        "grp",
        F.col("median_cents"),
        F.abs(F.col("_c") - F.col("median_cents")).alias("_c"),
    ).localCheckpoint(eager=False)
    mad = _group_nearest_rank(
        _group_below_counts(dev.select("grp", "_c"), "grp"),
        sizes,
        "grp",
        "mad_cents",
    )
    thr = dev.join(F.broadcast(mad), "grp")
    out = thr.groupBy("grp").agg(
        F.max("median_cents").cast("long").alias("median_cents"),
        F.max("mad_cents").cast("long").alias("mad_cents"),
        F.sum(
            F.when(F.col("_c") > F.lit(3) * F.col("mad_cents"), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_outliers"),
    )
    return out.join(F.broadcast(sizes), "grp").select(
        "grp", "n_g", "median_cents", "mad_cents", "n_outliers"
    )


def weighted_median(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_col,
) -> DataFrame:
    """Exact WEIGHTED lower nearest-rank median per group: the smallest
    value whose weighted CDF reaches ``(W + 1) div 2`` of the group's
    total weight W — "half the shipped units cost less than this", the
    quantity-weighted form the plain median (st06) can't answer.
    Values are rounded cents, weights non-negative integers; selection
    rides the same per-group two-level bucket kernel as st06 with
    counts generalized to weight sums — no global sort, no
    single-partition window, no per-group row window. Zero-total-weight
    groups produce no row (no rank to select).

    Returns (``grp``, total_weight, weighted_median_cents).
    """
    grp = F.col(group_col) if isinstance(group_col, str) else group_col
    cents = F.round(F.col(value_col) * 100).cast("long")
    w = F.col(weight_col).cast("long")
    base = df.select(
        grp.alias("grp"), cents.alias("_c"), w.alias("_w")
    )
    sizes = base.groupBy("grp").agg(
        F.sum("_w").cast("long").alias("n_g")
    ).filter(F.col("n_g") > 0)
    sel = _group_nearest_rank(
        _group_below_counts(base, "grp", weight="_w"),
        sizes,
        "grp",
        "weighted_median_cents",
    )
    return sel.join(F.broadcast(sizes), "grp").select(
        "grp",
        F.col("n_g").alias("total_weight"),
        "weighted_median_cents",
    )


def bowley_skewness(df: DataFrame, value_col: str, group_col) -> DataFrame:
    """Quartile (Bowley) skewness per group (a35): (Q3 + Q1 − 2·Q2) /
    (Q3 − Q1) from EXACT ceil nearest-rank quartiles — the robust
    asymmetry scalar next to the MAD profile's robust spread: a
    moment-based skew (one extreme order away from ±∞) says nothing a
    heavy-tailed price column can trust; the quartile form is bounded
    in [−1, 1] and outlier-immune.

    Built on the per-group two-level bucket selection kernel (the
    a26/st05/st06 machinery — one (group, distinct value) hash agg,
    group-partitioned bucket windows, NO global sort, NO per-group
    row window); the three quartile targets are ceil ranks
    (q·n + 99) div 100 (the a20 rule). The numerator stays SIGNED and
    UNDIVIDED alongside the truncating ppm (signed div ≡ //, the fc05
    probe); Q1 = Q3 (zero IQR) yields NULL ppm.

    Values must be non-negative integers (cents) — the bucket
    ordering's standing precondition. Returns (grp, n_g, q1_cents,
    q2_cents, q3_cents, iqr_cents, skew_num_cents, bowley_ppm).
    """
    grp = F.col(group_col) if isinstance(group_col, str) else group_col
    cents = F.round(F.col(value_col) * 100).cast("long")
    base = df.select(grp.alias("grp"), cents.alias("_c"))
    sizes = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_g")
    )
    bc = _group_below_counts(base, "grp")
    j = bc.join(F.broadcast(sizes), "grp")
    picks = []
    for q, name in ((25, "q1_cents"), (50, "q2_cents"), (75, "q3_cents")):
        target = F.expr(f"({q} * n_g + 99) div 100").cast("decimal(38,0)")
        picks.append(
            j.filter(
                (F.col("_lt") < target)
                & (F.col("_lt") + F.col("_n_v") >= target)
            ).select("grp", F.col("_c").cast("long").alias(name))
        )
    out = sizes
    for p in picks:
        out = out.join(p, "grp")
    return out.select(
        "grp",
        "n_g",
        "q1_cents",
        "q2_cents",
        "q3_cents",
        (F.col("q3_cents") - F.col("q1_cents")).cast("long").alias(
            "iqr_cents"
        ),
        (
            F.col("q3_cents") + F.col("q1_cents") - 2 * F.col("q2_cents")
        ).cast("long").alias("skew_num_cents"),
        F.expr(
            "CASE WHEN q3_cents = q1_cents THEN NULL"
            " ELSE (1000000 * (q3_cents + q1_cents - 2 * q2_cents))"
            " div (q3_cents - q1_cents) END"
        ).cast("long").alias("bowley_ppm"),
    )


def bootstrap_diff_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    flag_col: str,
) -> DataFrame:
    """Bootstrap CI for a TWO-GROUP mean difference (st15): st01's
    deterministic Binomial(3,1/3) resampling stream applied to an
    A-vs-B question — per replicate both groups' fixed-point means
    come from the SAME md5 weight draw (group membership is a row
    property, so one hash stream resamples the whole frame and the
    per-replicate difference is internally consistent), and the
    percentile-method band reduces the 16 signed differences
    with the st07 ceil-rank rule. st02 answers "could this gap be
    chance?" by BREAKING the grouping; st15 answers "how big is the
    gap, give or take" by KEEPING it — the estimation-vs-testing
    pair.

    All integer: per-group means are truncating divs of non-negative
    sums, the difference is a signed subtraction of evaluated longs,
    and the band bounds are order statistics over the ≤ 16
    surviving differences (a replicate that leaves either group
    empty — tiny inputs only — drops). The OBSERVED full-sample
    difference rides along. One bounded explode + one rep-grain agg
    + one reps-row reduction. Returns ONE row: (n_reps,
    obs_diff_cents, ci_lo_cents, median_cents, ci_hi_cents).
    """
    cents = F.round(F.col(value_col) * 100).cast("long")
    base = df.select(
        F.col(id_col).cast("string").alias("_id"),
        cents.alias("_cents"),
        F.col(flag_col).cast("long").alias("_g"),
    )
    rep = F.explode(
        F.sequence(F.lit(0), F.lit(15))
    ).alias("rep")
    exploded = base.select("_id", "_cents", "_g", rep)
    digest = F.md5(
        F.concat(
            F.lit("bs:"), F.col("rep").cast("string"), F.lit(":"),
            F.col("_id"),
        ).cast("binary")
    )
    wt = sum(
        (
            F.conv(F.substring(digest, 1 + 8 * j, 8), 16, 10)
            .cast("long") % 1_000_000
            < 333_333
        ).cast("long")
        for j in range(3)
    )
    per = (
        exploded.withColumn("_wt", wt)
        .groupBy("rep")
        .agg(
            F.sum(F.when(F.col("_g") == 1, F.col("_wt")).otherwise(0))
            .cast("long").alias("_na"),
            F.sum(
                F.when(F.col("_g") == 1, F.col("_wt") * F.col("_cents"))
                .otherwise(0)
            ).cast("long").alias("_ta"),
            F.sum(F.when(F.col("_g") == 0, F.col("_wt")).otherwise(0))
            .cast("long").alias("_nb"),
            F.sum(
                F.when(F.col("_g") == 0, F.col("_wt") * F.col("_cents"))
                .otherwise(0)
            ).cast("long").alias("_tb"),
        )
    )
    diffs = per.select(
        F.when(
            (F.col("_na") > 0) & (F.col("_nb") > 0),
            F.expr("(_ta div _na) - (_tb div _nb)"),
        ).cast("long").alias("_d")
    ).filter(F.col("_d").isNotNull())
    obs = base.agg(
        F.sum(F.when(F.col("_g") == 1, F.col("_cents")).otherwise(0))
        .cast("long").alias("_ota"),
        F.sum((F.col("_g") == 1).cast("long")).cast("long").alias("_ona"),
        F.sum(F.when(F.col("_g") == 0, F.col("_cents")).otherwise(0))
        .cast("long").alias("_otb"),
        F.sum((F.col("_g") == 0).cast("long")).cast("long").alias("_onb"),
    ).select(
        F.when(
            (F.col("_ona") > 0) & (F.col("_onb") > 0),
            F.expr("(_ota div _ona) - (_otb div _onb)"),
        ).cast("long").alias("obs_diff_cents")
    )

    def at_rank(ppm: int) -> str:
        return (
            f"CASE WHEN size(_a) = 0 THEN NULL ELSE element_at(_a,"
            f" CAST(greatest(1, ({ppm} * size(_a) + 999999)"
            f" div 1000000) AS INT)) END"
        )

    band = diffs.agg(F.sort_array(F.collect_list("_d")).alias("_a")).select(
        F.expr("size(_a)").cast("long").alias("n_reps"),
        F.expr(at_rank(125_000)).cast("long").alias("ci_lo_cents"),
        F.expr(at_rank(500_000)).cast("long").alias("median_cents"),
        F.expr(at_rank(875_000)).cast("long").alias("ci_hi_cents"),
    )
    return band.crossJoin(obs).select(
        "n_reps",
        "obs_diff_cents",
        "ci_lo_cents",
        "median_cents",
        "ci_hi_cents",
    )


def tukey_fences(df: DataFrame, value_col: str, group_col) -> DataFrame:
    """Tukey boxplot fences per group (a36): Q1/Q3 from the exact
    ceil nearest-rank selection kernel (the a35 quartiles), fences at
    1.5·IQR, and the counts beyond each fence — the boxplot's whisker
    companion to a35's skew scalar and the QUANTILE-based outlier
    count next to st06's median/MAD one (Tukey fences are the
    convention BI tools draw; MAD is the robust-statistics one — both
    now exist, cross-checkable).

    Integer discipline: the 1.5 multiplier never materializes — a
    point is an outlier iff  2·x > 2·Q3 + 3·IQR  (or mirrored below),
    pure BIGINT comparisons with no halves. Values non-negative cents
    (the kernel's standing precondition). Same plan as a35 plus one
    conditional-count pass over the base.

    Returns (grp, n_g, q1_cents, q3_cents, iqr_cents, n_low,
    n_high, outlier_ppm), all BIGINT.
    """
    grp = F.col(group_col) if isinstance(group_col, str) else group_col
    cents = F.round(F.col(value_col) * 100).cast("long")
    base = df.select(grp.alias("grp"), cents.alias("_c"))
    sizes = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_g")
    )
    bc = _group_below_counts(base, "grp")
    j = bc.join(F.broadcast(sizes), "grp")
    picks = []
    for q, name in ((25, "q1_cents"), (75, "q3_cents")):
        target = F.expr(f"({q} * n_g + 99) div 100").cast("decimal(38,0)")
        picks.append(
            j.filter(
                (F.col("_lt") < target)
                & (F.col("_lt") + F.col("_n_v") >= target)
            ).select("grp", F.col("_c").cast("long").alias(name))
        )
    qs = picks[0].join(picks[1], "grp")
    flagged = base.join(F.broadcast(qs), "grp").select(
        "grp",
        "q1_cents",
        "q3_cents",
        (
            2 * F.col("_c")
            > 2 * F.col("q3_cents")
            + 3 * (F.col("q3_cents") - F.col("q1_cents"))
        ).cast("long").alias("_hi"),
        (
            2 * F.col("_c")
            < 2 * F.col("q1_cents")
            - 3 * (F.col("q3_cents") - F.col("q1_cents"))
        ).cast("long").alias("_lo"),
    )
    return (
        flagged.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.max("q1_cents").cast("long").alias("q1_cents"),
            F.max("q3_cents").cast("long").alias("q3_cents"),
            F.sum("_lo").cast("long").alias("n_low"),
            F.sum("_hi").cast("long").alias("n_high"),
        )
        .select(
            "grp",
            "n_g",
            "q1_cents",
            "q3_cents",
            (F.col("q3_cents") - F.col("q1_cents")).cast("long").alias(
                "iqr_cents"
            ),
            "n_low",
            "n_high",
            F.expr(
                "(1000000 * (n_low + n_high)) div n_g"
            ).cast("long").alias("outlier_ppm"),
        )
    )
