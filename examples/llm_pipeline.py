"""Runnable tour of the LLM-data-pipeline surface: quality filters →
dedup → LM scoring → domain mix → exact split → chunking → source audit.

    python examples/llm_pipeline.py

Reads the sf0.001 documents fixture and runs the curation stages a
training-data pipeline chains at scale, printing what each stage kept.
Every stage shown here is a driver-contract query with a DuckDB oracle
twin (see COVERAGE.md for the evidence map); this example just walks
them in pipeline order.
"""
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import functions as F

from learn_etl_data_warehouse_spark.operators import dedup, text
from learn_etl_data_warehouse_spark.operators.sampling import domain_mix
from learn_etl_data_warehouse_spark.session import get_spark
from learn_etl_data_warehouse_spark.sources.parquet import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    spark = get_spark(master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, SF_DIR, "documents")
    n0 = docs.count()
    print(f"corpus: {n0} docs")

    # 0b. multimodal ingest ledger (m07): the byte-level payload audit a
    # pipeline runs BEFORE spending decode cycles — per-modality byte
    # mass, size extrema, distinct-content count and duplicate ppm, all
    # native binary expressions (no codec touched). The deterministic
    # doc_id % 3 modality mix mirrors the m07 driver query.
    from learn_etl_data_warehouse_spark.operators.multimodal import (
        documents_as_media,
        media_payload_audit,
    )

    media = documents_as_media(docs).withColumn(
        "media_type",
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("media_id") % 3 + 1).cast("int"),
        ),
    )
    for r in media_payload_audit(media).orderBy("media_type").collect():
        print(
            f"media ledger [{r['media_type']}]: {r['n']} payloads"
            f", {r['sum_bytes']} bytes, {r['n_distinct']} distinct"
            f", dup {r['dup_ppm']} ppm"
        )

    # 0c. intake hygiene (pf17 + t39 + st13): the string-length profile
    # a feed monitor alarms on (NULL vs present-but-blank split), the
    # per-source lexical-richness shelf (template corpora show a low
    # hapax share), and Cohen's kappa between the two cheapest quality
    # raters — raw agreement flatters majority-leaning raters, kappa
    # does not.
    from learn_etl_data_warehouse_spark.operators.evaluation import (
        cohens_kappa,
    )
    from learn_etl_data_warehouse_spark.operators.profiling import (
        string_length_profile,
    )

    prof = string_length_profile(
        [("documents", "text", docs, F.col("text"))]
    ).collect()[0]
    print(
        f"intake profile [text]: len {prof['min_len']}-{prof['max_len']}"
        f" mean {prof['mean_len_micro'] / 1e6:.1f} chars,"
        f" {prof['n_null']} null / {prof['n_blank']} blank"
    )
    rich = text.lexical_richness(docs).orderBy("source").collect()
    lo = min(rich, key=lambda r: r["hapax_share_ppm"])
    print(
        f"lexical richness: {len(rich)} sources; most template-like ="
        f" {lo['source']} (hapax share {lo['hapax_share_ppm']} ppm,"
        f" ttr {lo['ttr_ppm']} ppm)"
    )
    _nw = text.token_count("text")
    _nonws = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    kap = cohens_kappa(
        docs.select(
            F.lit("all").alias("grp"),
            (_nw >= 40).cast("long").alias("rater_a"),
            ((_nw > 0) & (_nonws >= 4 * _nw)).cast("long").alias("rater_b"),
        )
    ).collect()[0]
    print(
        f"rater agreement: po {kap['po_ppm']} ppm vs chance"
        f" {kap['pe_ppm']} ppm -> kappa {kap['kappa_ppm']} ppm"
    )

    # 1. heuristic quality gates (C4 + Gopher families)
    kept = text.c4_filters(docs).filter(F.col("kept")).select("doc_id")
    docs1 = docs.join(kept, "doc_id", "left_semi")
    print(f"c4_filters kept {docs1.count()}/{n0}")

    # 1b. train the fast linear quality model on the rule gate's labels
    # (fastText-style distillation — cl01/cl02/cl03 in the contract) and
    # report how faithfully it reproduces the gate it will replace
    from learn_etl_data_warehouse_spark.operators.classifier import (
        perceptron_score,
        perceptron_train,
        quality_features,
    )

    feats = quality_features(docs, min_words=40)
    weights = perceptron_train(feats, rounds=8)
    scored_clf = perceptron_score(feats, weights)
    agree = scored_clf.filter(
        F.col("pred") == (F.col("label") == 1)
    ).count()
    print(f"trained classifier (8 rounds) agrees with the word-floor-40 C4 gate on {agree}/{n0}")

    # 1c. the trained model's scores GATE the corpus, then d19's
    # quality-weighted sampling runs over the survivors — the composed
    # d33 stage (classifier as a pipeline component, not a demo)
    from learn_etl_data_warehouse_spark.operators.sampling import (
        quality_weighted_sample,
    )

    clf_kept = scored_clf.filter(F.col("pred")).select("doc_id")
    gated = docs1.join(clf_kept, "doc_id", "left_semi")
    n_gated = gated.count()
    sampled = quality_weighted_sample(gated)
    docs1b = gated.join(sampled.select("doc_id"), "doc_id", "left_semi")
    print(
        f"classifier gate kept {n_gated}, "
        f"quality-weighted sample kept {docs1b.count()}"
    )

    # 2. exact dedup on normalized text
    docs2 = dedup.dedup_exact(docs1b)
    print(f"exact dedup kept {docs2.count()}")

    # 2b. exact-substring repeat report (Lee et al.): how much of the
    # surviving corpus sits inside repeated spans of >= 8 tokens —
    # the d34 diagnostic a pipeline watches before deciding to scrub
    rep = dedup.maximal_repeat_stats(docs2).agg(
        F.sum("n_tokens").alias("toks"),
        F.sum("n_covered").alias("covered"),
    ).collect()[0]
    print(
        f"exact-substring repeats (>=8 tokens) cover "
        f"{rep['covered']}/{rep['toks']} tokens"
    )

    # 2d. LSH-tuning audit (d36): before trusting the MinHash near-dup
    # pass, measure its estimator quality ON THIS CORPUS at the chosen
    # signature size — est vs exact Jaccard per candidate pair plus the
    # mean absolute error. This is the report a curation run reads to
    # pick k (signature width) and the band shape: a fat error at the
    # dedup threshold means more hashes / more bands, a tight one means
    # the cheap setting suffices.
    audit = dedup.minhash_estimate_audit(docs2)
    au = audit.agg(
        F.count(F.lit(1)).alias("pairs"),
        F.avg(F.abs(F.col("err_ppm"))).alias("mae_ppm"),
        F.sum(
            F.when(
                (F.col("est_jacc_ppm") >= 800_000)
                != (F.col("exact_jacc_ppm") >= 800_000),
                1,
            ).otherwise(0)
        ).alias("flips"),
    ).collect()[0]
    if au["pairs"]:
        print(
            f"minhash audit (k=16, 1-hash band): {au['pairs']} candidate "
            f"pairs, mean |est-exact| {au['mae_ppm']:.0f} ppm, "
            f"{au['flips']} pairs flip across the 0.8 dedup threshold"
        )
    else:
        print("minhash audit (k=16, 1-hash band): no candidate pairs")

    # 3. bigram-LM quality score (the KenLM-filter analog, integer ppm)
    scored = text.lm_score_documents(docs2)
    docs3 = (
        docs2.join(scored, "doc_id")
        .filter(F.col("score_ppm") >= 35000)
        .select(docs2["*"])
    )
    print(f"LM gate (>=35000 ppm) kept {docs3.count()}")

    # 4. domain mix: keep all of src0/src1, downsample the rest
    # (md5-bucket thresholds, RNG-free and growth-stable)
    mixed = domain_mix(
        docs3, {"src0": 1.0, "src1": 1.0}, default_rate=0.5
    )
    print(f"domain mix kept {mixed.count()}")

    # 5. exact-count stratified holdout: train size is exactly
    # (98·N) div 100 with per-lang proportions within one row
    from learn_etl_data_warehouse_spark.operators.sampling import (
        exact_stratified_split,
    )

    split = exact_stratified_split(mixed, train_pct=98)
    train = split.filter(F.col("split") == "train").drop("split")
    print(
        f"exact split: {train.count()} train / "
        f"{split.filter(F.col('split') == 'holdout').count()} holdout"
    )

    # 5b. novelty curriculum: score the train docs' 3-gram novelty
    # (t33 — grams owned by their min-id doc) and report the spread a
    # curriculum scheduler would order by; low-novelty docs are
    # near-rehashes the earlier dedup stages kept.
    nov = dedup.ngram_novelty(train).agg(
        F.count(F.lit(1)).alias("docs"),
        F.min("novelty_ppm").alias("lo"),
        F.expr("percentile_approx(novelty_ppm, 0.5)").alias("med"),
        F.max("novelty_ppm").alias("hi"),
    ).collect()[0]
    print(
        f"novelty curriculum: {nov['docs']} docs, novelty ppm "
        f"min {nov['lo']} / median {nov['med']} / max {nov['hi']}"
    )

    # 5c. Zipf naturalness skeleton (t35): type/mass per rank decade of
    # the train corpus — a Zipfian corpus loses mass smoothly per
    # decade; boilerplate piles types into one. Frequency-grain, no
    # global rank.
    zipf = text.zipf_bucket_stats(train).orderBy("rank_bucket").collect()
    print(
        "zipf profile: "
        + ", ".join(
            f"decade {r['rank_bucket']}: {r['n_types']} types"
            f"/{r['sum_freq']} tokens"
            for r in zipf
        )
    )

    # 6. sliding-window chunking into training sequences
    chunks = text.chunk_documents(train, chunk_size=32, stride=24)
    print(f"chunks: {chunks.count()}")

    # 6b. stream-packing audit (t43): before the packing job runs,
    # measure what cutting the shuffled token stream every 128 tokens
    # would cost — bins, tail waste, and the share of docs straddling
    # a sequence boundary (attention contamination). The audited order
    # is d14's epoch-shuffle order by construction.
    pk = text.packing_audit(train, capacity=128, n_shards=4).agg(
        F.sum("n_docs").alias("docs"),
        F.sum("total_tokens").alias("toks"),
        F.sum("n_bins").alias("bins"),
        F.sum("waste_tokens").alias("waste"),
        F.sum("n_crossings").alias("cross"),
    ).collect()[0]
    print(
        f"packing audit (cap 128): {pk['docs']} docs / {pk['toks']} tokens"
        f" -> {pk['bins']} bins, {pk['waste']} waste tokens,"
        f" {pk['cross']} boundary-crossing docs"
    )

    # 9. corpus cardinality audit from the deterministic HLL sketch
    # (sk01): a 64-register max-mergeable state estimates the final
    # corpus's distinct-source count next to the exact number — at
    # 100 TB the sketch is what a per-shard audit actually keeps.
    from learn_etl_data_warehouse_spark.operators.sketches import (
        md5_hll_estimate,
        md5_hll_registers,
    )

    import math

    tagged = docs2.withColumn("_c", F.lit("corpus"))
    est = md5_hll_estimate(
        md5_hll_registers(tagged, "source", "_c")
    ).collect()[0]
    exact = docs2.select("source").distinct().count()
    # small-range (linear counting) correction from the emitted zero-
    # register count — the consumer-side fix the raw oracle-exact
    # estimate deliberately leaves out. The standard HLL regime switch:
    # with zero empty registers the corpus is out of the linear-counting
    # regime (log(64/0) is undefined) — report the raw estimate.
    if est["n_zero_registers"] > 0:
        lc = round(64 * math.log(64 / est["n_zero_registers"]))
        corrected = f"linear-counting {lc}"
    else:
        corrected = "linear-counting n/a (no empty registers)"
    print(
        f"hll source audit: raw est {est['est_ndv']}, "
        f"{corrected}, exact {exact} "
        f"({est['n_zero_registers']} empty registers)"
    )
    spark.stop()


if __name__ == "__main__":
    main()
