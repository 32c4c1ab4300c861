"""Corpus-cleaning pipeline: the composed flow a training-data prep job
runs over a document collection — the end-to-end counterpart of the
individual operators in ``operators/dedup.py`` / ``operators/text.py``.

Stages (all shuffle-bounded, SCALE.md):
1. exact dedup on the normalized fingerprint (1 shuffle);
2. near-dup removal: MinHash-LSH pairs → connected components → keep
   the minimum id of each duplicate component (exactly one survivor
   per cluster, even when the pair set is incomplete);
3. quality gate: language detected, quality score above threshold;
4. feature attachment for downstream sampling/packing.

Returns (clean_corpus, stats). With ``compute_stats=True`` the stages
are persisted and counted (three extra actions); pass False when only
the final corpus matters — the plan then executes once, lazily.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..operators import dedup, text


def clean_corpus(
    docs: DataFrame,
    compute_stats: bool = True,
) -> tuple[DataFrame, DataFrame | None]:
    """Exact dedup, then MinHash-LSH near-dup removal (every band bucket
    kept: stage 1's exact dedup has already collapsed identical
    documents), then the quality gate."""
    # 1. exact dedup
    exact = dedup.dedup_exact(docs)
    if compute_stats:
        # persist the reused stages so the counting actions don't re-run
        # the sketch pipeline once per stage
        exact = exact.persist(StorageLevel.MEMORY_AND_DISK)
        n_input = docs.count()
        n_exact = exact.count()

    # 2. near-dup removal: one survivor (min id) per CONNECTED COMPONENT
    # of the near-dup graph — pairwise loser-dropping would over-keep on
    # incomplete pair sets (see dedup.connected_components docstring)
    pairs = dedup.minhash_lsh_pairs(
        exact,
        num_hashes=64,
        bands=16,
    )
    comp = dedup.connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    neardup_free = exact.join(losers, "doc_id", "left_anti")
    if compute_stats:
        neardup_free = neardup_free.persist(StorageLevel.MEMORY_AND_DISK)
        n_neardup = neardup_free.count()

    # 3. quality gate
    featured = text.add_text_features(neardup_free)
    clean = featured.filter(
        (F.col("quality") >= 0.5) & (F.col("lang_pred") != "und")
    )
    if not compute_stats:
        return clean, None
    n_clean = clean.count()
    stats = docs.sparkSession.createDataFrame(
        [(n_input, n_exact, n_neardup, n_clean)],
        "n_input long, n_after_exact long, n_after_neardup long, n_clean long",
    )
    return clean, stats


def dataset_card(docs: DataFrame) -> DataFrame:
    """Per-source dataset card: the one-table corpus summary a training
    run publishes next to its data (docs, token volume, duplication
    rate, language mix) — the reporting face of the d01/t01/t03
    primitives, all in EXACT integers so the card is oracle-checkable.

    Per source: document and char/token volume, distinct normalized
    fingerprints (d01's md5) → ``dup_ppm = 1e6 − (1e6·distinct) div
    docs``, mean tokens per doc in truncating ppm, language count and
    the dominant language (count desc, lang asc — deterministic).

    One scan feeds two hash aggs (per-source moments; per
    (source, lang) counts + a top-1 window bounded by the language
    count). No floats, no collect.

    Returns (source, n_docs, total_tokens, total_chars, mean_tokens_ppm,
    n_fingerprints, dup_ppm, n_langs, top_lang).
    """
    base = docs.select(
        "source",
        "lang",
        text.fingerprint("text").alias("_fp"),
        text.token_count("text").alias("_tc"),
        F.length("text").alias("_n"),
    )
    per_source = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_tc").cast("long").alias("total_tokens"),
        F.sum("_n").cast("long").alias("total_chars"),
        F.countDistinct("_fp").cast("long").alias("n_fingerprints"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )
    lang_w = Window.partitionBy("source").orderBy(
        F.desc("_lc"), F.asc("lang")
    )
    top_lang = (
        base.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("_lc"))
        .withColumn("_r", F.row_number().over(lang_w))
        .filter(F.col("_r") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return per_source.join(top_lang, "source").select(
        "source",
        "n_docs",
        "total_tokens",
        "total_chars",
        F.expr("(1000000 * total_tokens) div n_docs")
        .cast("long")
        .alias("mean_tokens_ppm"),
        "n_fingerprints",
        F.expr("1000000 - (1000000 * n_fingerprints) div n_docs")
        .cast("long")
        .alias("dup_ppm"),
        "n_langs",
        "top_lang",
    )


def dataset_card_diff(old_docs: DataFrame, new_docs: DataFrame) -> DataFrame:
    """Card-over-card drift between two corpus versions — what a
    training run reads before trusting a refreshed dataset (the r6
    verdict's item 6: d31 reports one snapshot; ingestion wants the
    DELTA between two manifest txns).

    Computes :func:`dataset_card` on both versions and full-outer-joins
    on source: every metric appears as old/new/delta, with deltas as
    plain signed-integer SUBTRACTION (no division anywhere near a
    negative — the cross-engine trap), counts coalesced to 0 for
    added/removed sources, and a per-source ``status`` of
    added / removed / changed / unchanged (top-language flips count as
    changed). Cost is two card scans + one tiny source-grain join —
    the cards are bounded by source cardinality, so the join is a
    metadata-sized broadcast at any corpus scale.

    Compose with the manifest warehouse for real snapshot pairs:
    ``read_snapshot(spark, table, as_of=t)`` for each side (the
    e2e test does exactly that across a commit).
    """
    metrics = ["n_docs", "total_tokens", "total_chars", "n_fingerprints",
               "dup_ppm", "n_langs"]
    old = dataset_card(old_docs).select(
        "source",
        *[F.col(m).alias(f"{m}_old") for m in metrics],
        F.col("top_lang").alias("top_lang_old"),
    )
    new = dataset_card(new_docs).select(
        "source",
        *[F.col(m).alias(f"{m}_new") for m in metrics],
        F.col("top_lang").alias("top_lang_new"),
    )
    j = old.join(new, "source", "full_outer")
    added = F.col("n_docs_old").isNull()
    removed = F.col("n_docs_new").isNull()
    deltas = [
        (F.coalesce(F.col(f"{m}_new"), F.lit(0))
         - F.coalesce(F.col(f"{m}_old"), F.lit(0)))
        .cast("long")
        .alias(f"{m}_delta")
        for m in metrics
    ]
    changed = (
        sum(
            (F.coalesce(F.col(f"{m}_new"), F.lit(0))
             != F.coalesce(F.col(f"{m}_old"), F.lit(0))).cast("int")
            for m in metrics
        )
        > 0
    ) | (
        F.coalesce(F.col("top_lang_new"), F.lit(""))
        != F.coalesce(F.col("top_lang_old"), F.lit(""))
    )
    status = (
        F.when(added, F.lit("added"))
        .when(removed, F.lit("removed"))
        .when(changed, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        "source",
        *[F.col(f"{m}_old") for m in metrics],
        *[F.col(f"{m}_new") for m in metrics],
        *deltas,
        "top_lang_old",
        "top_lang_new",
        status.alias("status"),
    )
