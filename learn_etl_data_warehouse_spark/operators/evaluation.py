"""Model-evaluation operators: ranking quality (AUC) as exact integer
arithmetic.

Reference analog: the reference pipeline ships no model-eval surface
(server.py is report aggregation), but any warehouse feeding a
classifier needs "how well does this score separate the classes"
next to the drift monitors (pf02 categorical, pf03 KS). AUC is the
standard answer, and the rank-sum (Mann–Whitney U) formulation makes
it computable exactly — no float CDFs, no trapezoids:

    AUC = [ Σ_s np_s · (2·cum_nn_below(s) + nn_s) ] / (2·n_pos·n_neg)

per distinct score s with np_s positives and nn_s negatives — each
(pos, neg) pair counts 2 if pos scores higher, 1 on a tie, 0 otherwise,
all in DECIMAL(38,0); ONE truncating ppm division at the end, so a
DuckDB HUGEINT twin agrees exactly (the pf03 determinism pattern).

Scale shape: one hash agg to (score, np, nn) — the CDF grid, bounded by
distinct score values, not row count — then one ordered window over
that grid and a final single-row agg. Same single-ordered-partition
caveat as ``profiling.ks_drift``: fine to ~1e7-1e8 distinct scores;
beyond that, swap the window for the d14 per-shard-offset prefix sum.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def auc_ranking(
    df: DataFrame,
    label: Column,
    score: Column,
) -> DataFrame:
    """Exact AUC of integer ``score`` ranking boolean ``label``.

    Returns one row ``(n_pos, n_neg, n_scores, auc_ppm)`` where
    ``auc_ppm = (1e6 · 2U) div (2·n_pos·n_neg)`` with the ties-averaged
    rank statistic 2U kept integral throughout (ties contribute 1 per
    pair instead of the float 0.5).
    """
    per_score = (
        df.select(label.cast("boolean").alias("_y"), score.alias("_s"))
        .filter(F.col("_y").isNotNull() & F.col("_s").isNotNull())
        .groupBy("_s")
        .agg(
            F.sum(F.col("_y").cast("long")).alias("_np"),
            F.sum((~F.col("_y")).cast("long")).alias("_nn"),
        )
    )
    w = Window.orderBy("_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    contrib = per_score.select(
        "_np",
        "_nn",
        (F.sum("_nn").over(w) - F.col("_nn")).alias("_below"),
    ).select(
        "_np",
        "_nn",
        (
            F.col("_np").cast("decimal(38,0)")
            * (2 * F.col("_below") + F.col("_nn")).cast("decimal(38,0)")
        ).alias("_pair2"),
    )
    return contrib.agg(
        F.sum("_np").cast("long").alias("n_pos"),
        F.sum("_nn").cast("long").alias("n_neg"),
        F.count(F.lit(1)).alias("n_scores"),
        F.expr(
            # a single-class input has zero (pos, neg) pairs — AUC is
            # undefined, so emit NULL instead of an ANSI divide-by-zero
            "CASE WHEN sum(_np) = 0 OR sum(_nn) = 0 THEN NULL ELSE"
            " CAST((CAST(1000000 AS DECIMAL(38,0)) * sum(_pair2))"
            " div (CAST(2 AS DECIMAL(38,0)) * sum(_np) * sum(_nn))"
            " AS BIGINT) END"
        ).alias("auc_ppm"),
    )


def threshold_metrics(
    df: DataFrame,
    label: Column,
    score: Column,
) -> DataFrame:
    """Precision / recall / F1 swept over score thresholds — the
    operating-point companion to :func:`auc_ranking` (AUC says how well
    the score RANKS; this says what you get when you CUT at a value).

    Thresholds are the digit-count bands of the positive integer score
    (e19's integer order-of-magnitude trick — no percentile machinery,
    no float log10): classifying "predict positive when score has ≥ b
    digits" for each observed band b, cumulated from the top band down.
    All metrics are truncating-ppm integers — precision = 1e6·TP div P̂,
    recall = 1e6·TP div P, F1 as the ppm harmonic mean (2·p·r div
    (p+r)) — so a HUGEINT oracle agrees exactly; zero denominators
    yield NULL, never an ANSI error.

    Scale shape: one hash agg to the band grid (≤ 19 rows for BIGINT
    scores), one ordered window over that grid, integer arithmetic out
    — the same bounded-grid posture as a28/pf04.

    Returns (band, n, pos, cum_n, cum_pos, precision_ppm, recall_ppm,
    f1_ppm), one row per non-empty band, descending.
    """
    per_band = (
        df.select(label.cast("boolean").alias("_y"), score.alias("_s"))
        .filter(F.col("_y").isNotNull() & F.col("_s").isNotNull())
        .groupBy(F.length(F.col("_s").cast("string")).alias("band"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("_y").cast("long")).alias("pos"),
        )
    )
    w = Window.orderBy(F.desc("band")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per_band.select(
        F.col("band").cast("long").alias("band"),
        F.col("n").cast("long").alias("n"),
        F.col("pos").cast("long").alias("pos"),
        F.sum("n").over(w).cast("long").alias("cum_n"),
        F.sum("pos").over(w).cast("long").alias("cum_pos"),
        F.sum("pos").over(tot).cast("long").alias("_total_pos"),
    )
    prec = F.expr("CASE WHEN cum_n = 0 THEN NULL"
                  " ELSE (1000000 * cum_pos) div cum_n END")
    rec = F.expr("CASE WHEN _total_pos = 0 THEN NULL"
                 " ELSE (1000000 * cum_pos) div _total_pos END")
    out = cum.select(
        "band", "n", "pos", "cum_n", "cum_pos",
        prec.cast("long").alias("precision_ppm"),
        rec.cast("long").alias("recall_ppm"),
    )
    f1 = F.expr(
        "CASE WHEN precision_ppm IS NULL OR recall_ppm IS NULL"
        " OR precision_ppm + recall_ppm = 0 THEN NULL"
        " ELSE (2 * precision_ppm * recall_ppm)"
        " div (precision_ppm + recall_ppm) END"
    )
    return out.withColumn("f1_ppm", f1.cast("long"))


def cohens_kappa(rated: DataFrame) -> DataFrame:
    """Cohen's kappa per group (st13): chance-corrected agreement
    between two binary raters — the honest upgrade of raw agreement
    (knn03's label-agreement rate) when both raters lean toward the
    majority class: po can look great while kappa exposes that chance
    alone explains most of it.

    Exactness contract: with cell counts n11/n10/n01/n00, marginals
    a1 = n11+n10, b1 = n11+n01 (and complements), kappa is the EXACT
    rational  (N·agree − (a1·b1 + a0·b0)) / (N² − (a1·b1 + a0·b0))
    — numerator SIGNED (kappa < 0 = worse than chance; Spark's
    truncating div ≡ DuckDB BIGINT //, the fc05 probe), products in
    DECIMAL(38,0)/HUGEINT (N² passes 2^63 at ~3e9 rows — the a31
    class), ONE truncating div at the end. po_ppm / pe_ppm ride along
    (both ≤ 1e6, overflow-safe to emit).

    Plan shape: one hash agg to the per-group 2×2 cells (conditional
    sums — no (a, b)-cell shuffle needed), scalar arithmetic after.
    Degenerate chance-perfect groups (den = 0: a rater is constant
    AND matches the other's marginal exactly) yield NULL kappa_ppm —
    absent, never silently wrong.

    Returns (grp, n_docs, n11, n10, n01, n00, po_ppm, pe_ppm,
    kappa_ppm), all BIGINT.
    """
    a = F.col("rater_a").cast("long")
    b = F.col("rater_b").cast("long")
    cells = rated.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(((a == 1) & (b == 1)).cast("long")).cast("long").alias("n11"),
        F.sum(((a == 1) & (b == 0)).cast("long")).cast("long").alias("n10"),
        F.sum(((a == 0) & (b == 1)).cast("long")).cast("long").alias("n01"),
        F.sum(((a == 0) & (b == 0)).cast("long")).cast("long").alias("n00"),
    )
    dec = "CAST(n_docs AS DECIMAL(38,0))"
    chance = (
        "(CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)"
        " + CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00))"
    )
    return cells.select(
        "grp",
        "n_docs",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr(
            f"CAST((CAST(1000000 AS DECIMAL(38,0)) * (n11 + n00))"
            f" div n_docs AS BIGINT)"
        ).alias("po_ppm"),
        F.expr(
            f"CAST((CAST(1000000 AS DECIMAL(38,0)) * {chance})"
            f" div ({dec} * n_docs) AS BIGINT)"
        ).alias("pe_ppm"),
        F.expr(
            f"CASE WHEN {dec} * n_docs = {chance} THEN NULL"
            f" ELSE CAST((CAST(1000000 AS DECIMAL(38,0))"
            f" * ({dec} * (n11 + n00) - {chance}))"
            f" div ({dec} * n_docs - {chance}) AS BIGINT) END"
        ).alias("kappa_ppm"),
    )
