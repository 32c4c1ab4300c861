"""Deduplication family for the documents surface.

Five strategies, ordered by cost/recall tradeoff. All are built to scale:
candidate generation is always a key-equality shuffle (hash partition on a
bucket key), never an O(n²) cross join; exact verification only runs
inside candidate buckets.

- exact:          hash-groupBy on a normalized fingerprint (1 shuffle)
- ngram-jaccard:  inverted-index self-join on shared n-grams, exact
                  Jaccard from intersection counts (SQL-expressible)
- minhash-LSH:    shingle → K seeded min-hashes → band → bucket join
- simhash:        64-bit weighted-bit signature, bucket by band for
                  near-identical pairs
- embedding:      cosine near-dup via random-hyperplane LSH buckets +
                  in-bucket exact verify (see similarity.py)

Hash choice: ``xxhash64(seed, value)`` — JVM-side, bit-stable across
runs/partitions, no Python in the loop.

Cache policy: NOTHING here persists. Every multi-consumer sketch table
(grams / posting lists / signatures) is read by branches whose subplans
are identical, so AQE's runtime exchange reuse computes the shared
shuffle once — measured equal-or-faster than the r2 persist versions,
and a long-lived session (the driver runs ~100 queries in one) no longer
accumulates CacheManager entries that only an explicit unpersist frees.
Lineage truncation where genuinely needed (iterative connected
components) uses localCheckpoint, whose blocks the ContextCleaner frees
on GC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import fingerprint, tokens


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on the normalized-text fingerprint; keeps the smallest
    id per duplicate class (deterministic winner). One shuffle on the
    fingerprint; at 100 TB this is the standard first pass."""
    w = Window.partitionBy("_fp").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_fp", fingerprint(text_col))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )


def dedup_against(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup (r4): keep only new-batch documents whose
    normalized-text fingerprint does NOT already exist in the corpus —
    the steady-state ingest path (a daily crawl drop deduped against the
    accumulated corpus, vs :func:`dedup_exact`'s one-shot pass).

    LEFT ANTI join on the fingerprint: the corpus side reduces to its
    DISTINCT fingerprints before the join (one column, aggressively
    compressible), the new batch — typically orders of magnitude
    smaller — shuffles against it, and nothing is collected. The new
    batch is also deduped within itself (min-id winner), so the output
    is ingestible as-is."""
    fp_new = dedup_exact(new_docs, text_col, id_col).withColumn(
        "_fp", fingerprint(text_col)
    )
    corpus_fps = corpus.select(fingerprint(text_col).alias("_fp")).distinct()
    return fp_new.join(corpus_fps, "_fp", "left_anti").drop("_fp")


def word_ngrams(col, n: int = 3):
    """Word-level n-gram (shingle) array, fully JVM-side.

    Built by zipping the token array with its own shifted copies (n-1
    ``zip_with`` passes), then slicing off the null tail — ~4× faster than
    the per-gram ``slice``+``concat_ws`` formulation because each element
    is touched O(n) times total instead of via per-gram array allocation.
    Documents shorter than n words collapse to a single whole-text gram.
    """
    toks = tokens(col)
    count = F.size(toks)
    acc = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(count - j, F.lit(0)))
        # zip_with pads the shorter side with null; concat propagates the
        # null so padded tails die in the final slice.
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    grams = F.slice(acc, 1, F.greatest(count - (n - 1), F.lit(1)))
    return F.when(count < n, F.array(F.concat_ws(" ", toks))).otherwise(grams)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing ≥1 n-gram.

    Inverted-index plan: explode distinct n-grams → self-join on the
    n-gram (hash shuffle on the gram, NOT a cross join) → pair-count =
    |A∩B|; |A∪B| = |A|+|B|-|A∩B|. Pairs with zero shared grams never
    materialize.

    ``max_doc_freq`` is the web-scale skew guard: a gram present in d
    documents fans out into d·(d-1)/2 candidate rows in the self-join, so
    ONE stopword shingle ("of the and"-class) turns the plan quadratic —
    AQE skew splitting rebalances tasks but cannot shrink the row count.
    With the cap, grams whose document frequency exceeds it are dropped
    from the gram universe entirely (blacklist semantics: they count
    toward neither intersections nor set sizes — the standard stopword
    treatment, and exactly mirrorable in the SQL oracle). Candidate count
    is then bounded by Σ_g df(g)² ≤ max_doc_freq · Σ_g df(g), i.e. linear
    in corpus size. ``None`` = exact, no cap.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.

    Plan selection: with a cap the inverted index materializes as
    POSTING LISTS — ``groupBy(gram).collect_list(id)`` (each list ≤ cap
    ids, so the single-row memory is bounded by construction), candidate
    pairs explode from each list JVM-side, and the cap is a plain filter
    on the same aggregate — one shuffle replaces the self-join plus the
    separate hot-gram branch. Without a cap a posting list can be
    arbitrarily long (one row holding a hot gram's whole corpus), so the
    uncapped path keeps the equi-self-join formulation, which spreads a
    hot gram's fan-out across tasks instead of one row.

    No persist anywhere (the r2 version cached the shared posting lists /
    gram table across an entire driver session — a CacheManager leak):
    the two capped branches read the SAME gram aggregate, so AQE's
    runtime ReusedExchange computes that shuffle once; in the uncapped
    path |A| is just the doc's distinct-gram count, computable per-row
    from the source text with no join, and the self-join's two sides
    share one exchange the same way. Measured at sf0.01: identical rows,
    capped 0.97→0.72 s, uncapped 5.2→1.0 s.
    """
    grams = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias("_g"),
    )
    if max_doc_freq is not None:
        # posting lists, sorted so emitted pairs are (smaller, larger)
        posts = (
            grams.groupBy("_g")
            .agg(F.sort_array(F.collect_list("_id")).alias("_ids"))
            .filter(F.size("_ids") <= max_doc_freq)
            # r14 (guide §2.4): posts feeds both the intersection
            # explode and the set-size explode — the ReusedExchange
            # noted above dedupes the shuffle, but the collect_list
            # final aggregation above it still ran once per branch.
            # Lazy checkpoint builds the posting lists once (A/B in
            # OPTIMIZATION_r14.md, d02).
            .localCheckpoint(eager=False)
        )
        pair_expr = F.expr(
            "flatten(transform(_ids, (x, i) -> "
            "transform(slice(_ids, i + 2, size(_ids)), y -> "
            "struct(x AS id_a, y AS id_b))))"
        )
        inter = (
            posts.select(F.explode(pair_expr).alias("_p"))
            .groupBy(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("_inter"))
        )
        # post-cap set sizes (blacklist semantics: dropped grams count
        # toward nothing) — second read of the reused gram aggregate
        sizes = (
            posts.select(F.explode("_ids").alias("_id"))
            .groupBy("_id")
            .agg(F.count(F.lit(1)).alias("_sz"))
        )
    else:
        # |A| needs no inverted index uncapped: it's the row's own
        # distinct-gram count — a narrow projection of the source table
        sizes = df.select(
            F.col(id_col).alias("_id"),
            F.size(F.array_distinct(word_ngrams(F.col(text_col), n))).alias("_sz"),
        )
        a = grams.alias("a")
        b = grams.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a._g") == F.col("b._g")) & (F.col("a._id") < F.col("b._id")),
            )
            .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("_inter"))
        )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_sza"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("_szb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("_inter").cast("double")
                / (F.col("_sza") + F.col("_szb") - F.col("_inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, signature array<long>) — signature[k] = min over shingles of
    the k-seeded hash. Computed via one explode + one groupBy; the
    per-seed min is a map-side-combinable aggregate, so the shuffle
    carries only num_hashes longs per document.

    Hash scheme: each shingle string is hashed ONCE (xxhash64), and the K
    seeded hashes derive from that 8-byte base value — K long-hashes
    instead of K string-hashes per shingle, which is the dominant cost at
    corpus scale. Still deterministic and uniform per seed."""
    exploded = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), shingle_n))).alias("_g"),
    ).select("_id", F.xxhash64("_g").alias("_h"))
    mins = [
        F.min(F.xxhash64(F.lit(k), F.col("_h"))).alias(f"_h{k}")
        for k in range(num_hashes)
    ]
    sig = exploded.groupBy("_id").agg(*mins)
    return sig.select(
        F.col("_id").alias(id_col),
        F.array(*[F.col(f"_h{k}") for k in range(num_hashes)]).alias("signature"),
    )


def _band_buckets(
    sig: DataFrame, num_hashes: int, bands: int, id_col: str
) -> DataFrame:
    """(_id, band, bucket) relation from a signature table: each band's
    slice of the signature hashed to one bucket id — the slim LSH join
    key, shared by the one-shot and incremental paths."""
    rows_per_band = num_hashes // bands
    return sig.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("signature").getItem(b * rows_per_band + r)
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_band"),
    ).select("_id", "_band.band", "_band.bucket")


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """The persistable LSH index over a corpus: ``(signatures, buckets)``
    where signatures is ``(id, signature array<long>)`` and buckets is
    the slim ``(_id, band, bucket)`` relation. Write both as tables
    (bucket-partitioned on ``(band, bucket)`` at scale) and the daily
    ingest never re-reads corpus text — the index IS the dedup state,
    and it grows by appending each accepted batch's rows
    (:func:`minhash_dedup_against` returns them).

    The signature table is lazily checkpointed (r14, guide §2.4/§3.3):
    it is the 64-min aggregate over the exploded shingle stream and
    every consumer re-derives the post-exchange aggregation per
    reference when left lazy (AQE exchange reuse collapses the
    scan+partial-agg below the exchange, not the final agg above it). A
    LAZY ``localCheckpoint`` (no job at construction; materialized by
    the first action) computes it once — interleaved A/B at sf0.1 on
    d24's index+ingest shape: 4.72 → 3.55 s (1.33×). The one-shot pair
    path (d03) measured a wash and stays un-checkpointed."""
    sig = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n
    ).localCheckpoint(eager=False)
    return sig, _band_buckets(sig, num_hashes, bands, id_col)


def minhash_dedup_against(
    new_docs: DataFrame,
    index_sigs: DataFrame,
    index_buckets: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Incremental near-dup dedup: the steady-state ingest path
    (:func:`dedup_against`'s exact analog, lifted to MinHash+LSH).

    A new document is dropped when an LSH candidate neighbor at
    ``est_jaccard ≥ threshold`` exists in the indexed corpus, or among
    LOWER-ID new-batch documents (the same deterministic lower-id-wins
    rule as the one-shot pipeline). Only the new batch's text is ever
    shingled — the corpus contributes its stored signatures and bucket
    keys, so per-day cost is proportional to the batch plus the touched
    buckets, never the accumulated corpus. That asymmetry is the whole
    point at 100 TB: the one-shot pass is a full-corpus shuffle; this is
    a keyed join against a static, bucket-partitioned index.

    Returns ``(survivors, new_sigs, new_buckets)`` — survivors is the
    filtered ``new_docs``; the other two, filtered to survivors, are the
    index-append rows that keep the state current for the next batch.

    Bucket-size capping note: the one-shot path's ``max_bucket_size``
    guard is a build-time property of the index (apply it when the index
    is built); the incremental join inherits whatever capping the stored
    buckets carry.
    """
    assert num_hashes % bands == 0
    # The new batch's signature table is referenced six times below
    # (both vs_corpus joins, both vs_new sides, the survivor semis); a
    # LAZY localCheckpoint computes the 64-min aggregate once (see
    # minhash_index's note — same r14 A/B, 1.33× on the d24 shape).
    sig_new = minhash_signatures(
        new_docs, text_col, id_col, num_hashes, shingle_n
    ).localCheckpoint(eager=False)
    banded_new = _band_buckets(sig_new, num_hashes, bands, id_col)
    est = F.round(
        F.size(
            F.filter(
                F.zip_with(F.col("_sa"), F.col("_sb"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / F.lit(float(num_hashes)),
        6,
    )
    # new vs corpus: candidate ids via the bucket join, then one
    # signature verify per distinct pair
    vs_corpus = (
        banded_new.select(F.col("_id").alias("_new"), "band", "bucket")
        .join(
            index_buckets.select(F.col("_id").alias("_old"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("_new", "_old")
        .dropDuplicates(["_new", "_old"])
        .join(
            sig_new.select(F.col(id_col).alias("_new"), F.col("signature").alias("_sa")),
            "_new",
        )
        .join(
            index_sigs.select(F.col(id_col).alias("_old"), F.col("signature").alias("_sb")),
            "_old",
        )
        .filter(est >= threshold)
        .select(F.col("_new").alias(id_col))
        .distinct()
    )
    # new vs new: same banding within the batch, lower id wins
    a = banded_new.alias("a")
    b = banded_new.alias("b")
    vs_new = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("_keep"), F.col("b._id").alias("_drop"))
        .dropDuplicates(["_keep", "_drop"])
        .join(
            sig_new.select(F.col(id_col).alias("_keep"), F.col("signature").alias("_sa")),
            "_keep",
        )
        .join(
            sig_new.select(F.col(id_col).alias("_drop"), F.col("signature").alias("_sb")),
            "_drop",
        )
        .filter(est >= threshold)
        .select(F.col("_drop").alias(id_col))
        .distinct()
    )
    dropped = vs_corpus.union(vs_new).distinct()
    survivors = new_docs.join(dropped, id_col, "left_anti")
    keep_ids = survivors.select(id_col)
    new_sigs = sig_new.join(keep_ids, id_col, "left_semi")
    new_buckets = banded_new.join(
        keep_ids.select(F.col(id_col).alias("_id")), "_id", "left_semi"
    )
    return survivors, new_sigs, new_buckets


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.7,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash + LSH near-dup candidate pairs with exact-verified
    estimated Jaccard.

    Band plan: split the K-hash signature into ``bands`` bands of K/bands
    rows each; hash each band; self-join on (band_index, band_hash) — a
    key-equality shuffle whose fan-out is the duplicate-cluster size, not
    n². Estimated Jaccard = fraction of matching signature positions
    (unbiased MinHash estimator); pairs below ``threshold`` are dropped.

    ``max_bucket_size`` is the web-scale guard for MEGA duplicate
    clusters (boilerplate pages, templated spam): a band bucket of c
    docs emits c·(c-1)/2 candidates in EVERY band, so one 10⁵-doc
    cluster is 5·10⁹ rows × bands. Buckets over the cap are dropped
    before the self-join (the standard MinHashLSH treatment — such
    clusters are better handled by the exact-fingerprint pass that runs
    first in the corpus pipeline). Recall within the cap is unchanged;
    ``None`` keeps every bucket.

    Returns (id_a, id_b, est_jaccard), id_a < id_b, distinct.
    """
    assert num_hashes % bands == 0
    # No persist: the two verify-join sides are identical subplans (one
    # reused exchange), so dropping the cache re-runs the narrow
    # signature stage once more while freeing CacheManager for the rest
    # of the session — measured a wash at sf0.01 (2.20 vs 2.22 s), and
    # r2's persist leaked across the driver's ~100-query single session.
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    # Candidate generation on a SLIM (id, band, bucket) relation — no
    # signature payload. With heavy duplicate clusters a bucket of c docs
    # emits c² candidate rows in EVERY band; carrying arrays (or
    # computing the 64-way comparison) per candidate multiplies that
    # cost ×bands. Dedup the bare id pairs first, then join the cached
    # signatures back exactly once per distinct pair.
    banded = _band_buckets(sig, num_hashes, bands, id_col)
    if max_bucket_size is not None:
        # over-cap bucket list is small by construction (≤ rows/cap);
        # broadcast anti-join against the banded relation
        big = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket_size)
            .select("band", "bucket")
        )
        banded = banded.join(F.broadcast(big), ["band", "bucket"], "left_anti")
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sig.select(F.col(id_col).alias("id_a"), F.col("signature").alias("_sa"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("signature").alias("_sb"))
    est = F.round(
        F.size(
            F.filter(
                F.zip_with(F.col("_sa"), F.col("_sb"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / F.lit(float(num_hashes)),
        6,
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph →
    (id, component) with component = the minimum id in the component.

    Why: pairwise loser-dropping over-keeps on incomplete pair sets
    (pairs (b,c),(a,c) without (a,b) keep both a and b from one duplicate
    cluster). Components give exactly one survivor per cluster.

    Algorithm: min-label propagation with pointer jumping — each round a
    node adopts the minimum label among itself and its neighbors, then
    additionally the label of its current label (path halving), giving
    O(log diameter) rounds instead of O(diameter). Each round is two
    joins + a map-side-combinable min; lineage is truncated per round
    with localCheckpoint (without it the plan doubles every round and
    Catalyst re-analysis stack-overflows on deep graphs). The
    convergence check is a cheap count of changed labels.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    # localCheckpoint (not persist): each round's plan must TRUNCATE
    # lineage, or the logical plan doubles per iteration and Catalyst
    # re-analysis blows up (observed: 8-round chain → StackOverflowError).
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        stepped = labels.join(neigh, labels.id == neigh.src, "left").select(
            "id",
            F.least(
                F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
            ).alias("label"),
        )
        # pointer jumping: labels only ever decrease and label[x] <= x,
        # so adopting label[label] is always an improvement-or-equal
        lab_map = stepped.select(
            F.col("id").alias("_lid"), F.col("label").alias("_llabel")
        )
        new_labels = (
            stepped.join(lab_map, stepped.label == F.col("_lid"), "left")
            .select(
                "id",
                F.coalesce(F.col("_llabel"), F.col("label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("id"), F.col("label").alias("component"))


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document, fully JVM-side.

    Per token: h = xxhash64(token). For each bit position the classic
    algorithm sums +1/-1; the signature bit is the sign of the sum.
    Implemented as explode(tokens) → per-bit conditional sums (64
    map-side-combinable aggregates) → bit reassembly. No Python, no UDF;
    the shuffle carries 64 longs per doc.
    """
    tok = df.select(
        F.col(id_col).alias("_id"),
        F.explode(tokens(F.col(text_col))).alias("_t"),
    ).withColumn("_h", F.xxhash64(F.col("_t")))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_b{i}")
        for i in range(64)
    ]
    agg = tok.groupBy("_id").agg(*bit_sums)
    sig = agg.select(
        F.col("_id").alias(id_col),
        sum(
            [
                F.when(F.col(f"_b{i}") > 0, F.lit(1).cast("long")).otherwise(0)
                * F.lit(2 ** i if i < 63 else -(2 ** 63)).cast("long")
                for i in range(64)
            ]
        ).alias("simhash"),
    )
    return sig


def simhash_near_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-identical pairs by SimHash: band the 64-bit signature into
    ``bands`` 16-bit chunks — any pair within hamming distance
    ``bands - 1`` shares at least one exact chunk (pigeonhole), so the
    candidate join is again key-equality. Exact hamming verify inside
    buckets via bit_count(xor).

    ``max_bucket_size`` mirrors :func:`minhash_lsh_pairs`' mega-cluster
    guard: a chunk bucket of c docs fans out c·(c-1)/2 candidates, so
    over-cap buckets (boilerplate clusters — handled by the exact pass)
    drop before the self-join."""
    # Same slim-candidates shape as minhash_lsh_pairs: id-only bucket
    # join → dedup → verify via two signature lookups. No persist (same
    # rationale as minhash_lsh_pairs: identical verify-join subplans get
    # a reused exchange; caching leaked across the driver session).
    chunks = sig.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), b * (64 // bands))
                        .bitwiseAND(F.lit((1 << (64 // bands)) - 1))
                        .alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_c"),
    ).select("_id", "_c.band", "_c.chunk")
    if max_bucket_size is not None:
        big = (
            chunks.groupBy("band", "chunk")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket_size)
            .select("band", "chunk")
        )
        chunks = chunks.join(F.broadcast(big), ["band", "chunk"], "left_anti")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    ha = sig.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("_ha"))
    hb = sig.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("_hb"))
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def edit_distance_pairs(
    df: DataFrame,
    prefix_len: int = 64,
    bucket_width: int = 8,
    max_distance: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    len_col: str = "n_chars",
    max_block_size: int = 200,
    sub_prefix_len: int = 16,
) -> DataFrame:
    """Fuzzy near-dup candidates via EDIT DISTANCE: block on
    (lang, ⌊n_chars/bucket_width⌋) — the standard record-linkage
    length+attribute blocking — then verify ``levenshtein`` on the
    ``prefix_len``-char prefix within each block.

    Block fan-in is HARD-BOUNDED (the web-scale skew guard, same class
    as d02's doc-frequency cap and d03's oversized-bucket anti-join): a
    block larger than ``max_block_size`` is split by a secondary key —
    the first ``sub_prefix_len`` chars of the prefix — and any sub-block
    STILL over the cap is dropped from pair generation. Every block that
    reaches the self-join therefore holds ≤ max_block_size docs, so one
    hot (lang, length) key costs at most cap² comparisons instead of a
    corpus-killing |block|². Recall trades, all documented: pairs whose
    lengths straddle a bucket boundary are missed; in an oversized block,
    pairs differing inside the first sub_prefix_len chars are missed;
    a >cap cluster sharing its sub-prefix (boilerplate headers) is
    skipped entirely — exact members of it are d01's job, hashed
    near-dups d03's. The secondary key only activates above the cap, so
    small-corpus results are unchanged.

    Plan: window counts partition by the same keys the join shuffles on
    (Catalyst reuses the exchange), levenshtein runs only on surviving
    candidates and a fixed-length prefix — O(prefix_len²) per pair at
    any corpus size. Total verify work is ≤ n × max_block_size pairs —
    LINEAR in corpus size with the cap as the slope. The cap default is
    200, set by measurement: the r5 scale probe grew the corpus 16× and
    near-cap-but-unsplit blocks at the old 1000 default turned the
    4 s query into 517 s (125×, the quadratic knee); at 200 the same
    growth stays linear (see SCALE.md)."""
    d0 = df.select(
        F.col(id_col),
        F.col(lang_col).alias("_lang"),
        F.floor(F.col(len_col) / bucket_width).alias("_b"),
        F.substring(F.col(text_col), 1, prefix_len).alias("_p"),
    )
    w1 = Window.partitionBy("_lang", "_b")
    d1 = d0.withColumn(
        "_sub",
        F.when(
            F.count(F.lit(1)).over(w1) > max_block_size,
            F.substring(F.col("_p"), 1, sub_prefix_len),
        ).otherwise(F.lit("")),
    )
    w2 = Window.partitionBy("_lang", "_b", "_sub")
    d = (
        d1.withColumn("_n2", F.count(F.lit(1)).over(w2))
        .filter(F.col("_n2") <= max_block_size)
        .drop("_n2")
    )
    # r14 note: a lazy localCheckpoint on d (both self-join sides) was
    # A/B'd and measured a WASH (med 4.28 → 4.47 s at sf0.1) — the
    # levenshtein verification dominates, not the blocking windows —
    # so d stays lazy (the d03 one-shot precedent).
    a, b = d.alias("a"), d.alias("b")
    # r14 (guide §1.2 per-task work): BOUNDED levenshtein — the
    # threshold form computes a banded DP of O(prefix·max_distance)
    # per pair instead of O(prefix²), returning the EXACT distance for
    # pairs within the bound and −1 past it, so the kept rows (and
    # their reported distances) are identical to the unbounded form.
    # A/B in OPTIMIZATION_r14.md (d13).
    lev = F.levenshtein(
        F.col("a._p"), F.col("b._p"), int(max_distance)
    )
    return (
        a.join(
            b,
            (F.col("a._lang") == F.col("b._lang"))
            & (F.col("a._b") == F.col("b._b"))
            & (F.col("a._sub") == F.col("b._sub"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            lev.cast("bigint").alias("edit_distance"),
        )
        .filter(
            (F.col("edit_distance") >= 0)
            & (F.col("edit_distance") <= max_distance)
        )
    )


def hot_span_scrub(
    df: DataFrame,
    span_len: int = 6,
    max_df: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplicate SPAN removal — the C4 'repeated
    three-sentence span' cleaning pass (Raffel et al.) re-expressed over
    token spans: any run of ``span_len`` consecutive tokens occurring in
    more than ``max_df`` distinct documents is 'hot', and every token
    covered by a hot-span occurrence is scrubbed from every document.
    Finer-grained than whole/near-doc dedup (d01-d05): boilerplate
    (headers, license blocks, navigation chrome) is removed while the
    unique remainder of each page survives.

    Returns one row per input document: ``n_kept`` / ``n_removed`` token
    counts and ``text_clean`` (surviving tokens, original order; empty
    string when everything was boilerplate — the row still appears, so a
    downstream ``filter(n_kept > 0)`` is explicit, not implicit).

    Plan shape, all key-hash shuffles, nothing driver-side: span
    doc-frequency is one groupBy on the span string; hot spans join back
    to span occurrences by key EQUALITY — each occurrence matches its one
    span, so a stop-span hot key fans out linearly in its occurrence
    count, never quadratically (no pair join anywhere); coverage expands
    each hot occurrence to ``span_len`` (doc, pos) rows and distincts;
    the final per-doc rebuild is a groupBy on the doc id with an
    array_sort over (pos, tok) structs — per-doc state bounded by doc
    length. Every operation is exact string/integer work, so the result
    is engine-portable and oracle-checkable."""
    toks = df.select(
        F.col(id_col), tokens(text_col).alias("_t")
    )
    sh = toks.filter(F.size("_t") >= span_len).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("_t") - span_len + 1),
                lambda p: F.array_join(F.slice("_t", p, span_len), " "),
            )
        ).alias("_p0", "_g"),
    ).select(F.col(id_col), (F.col("_p0") + 1).alias("_spos"), F.col("_g"))
    hot = (
        sh.groupBy("_g")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("_g")
    )
    cov = (
        sh.join(hot, "_g")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(
                    F.col("_spos"), F.col("_spos") + span_len - 1
                )
            ).alias("_pos"),
        )
        .distinct()
    )
    # r14 rebuild (guide §2.3/§2.4): the old shape exploded EVERY token
    # to a (doc, pos, tok) row, left-joined coverage at that grain and
    # re-assembled each document with a collect_list groupBy — two
    # all-token shuffles to scrub a coverage set that is tiny next to
    # the corpus. Coverage now aggregates to ONE sorted position array
    # per touched document and joins back at DOC grain; the rebuild is
    # pure array arithmetic on the row (array_except of the position
    # range, element_at projection), so the only remaining all-token
    # work is the span shingle explode the algorithm needs anyway.
    # Interleaved A/B at sf0.1: see OPTIMIZATION_r14.md (d17).
    # Semantics are unchanged: docs with NULL token arrays still drop
    # (the join input filter mirrors the old posexplode), all-covered
    # docs still emit an empty-string row.
    cov_doc = cov.groupBy(id_col).agg(
        F.array_sort(F.collect_list("_pos")).alias("_cps")
    )
    base = toks.filter(F.size("_t") >= 1)
    kept_positions = F.array_except(
        F.sequence(F.lit(1), F.size("_t")), F.col("_cps")
    )
    return base.join(cov_doc, id_col, "left").select(
        F.col(id_col),
        (F.size("_t") - F.coalesce(F.size("_cps"), F.lit(0)))
        .cast("long")
        .alias("n_kept"),
        F.coalesce(F.size("_cps"), F.lit(0)).cast("long").alias("n_removed"),
        F.when(F.col("_cps").isNull(), F.array_join("_t", " "))
        .otherwise(
            F.array_join(
                F.transform(
                    kept_positions, lambda p: F.element_at(F.col("_t"), p)
                ),
                " ",
            )
        )
        .alias("text_clean"),
    )


def dedup_bag_of_words(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Order-insensitive exact dedup: the fingerprint is the md5 of the
    SORTED token multiset, so documents that differ only in token order
    (shuffled boilerplate, reordered lists, template permutations)
    collapse into one class — a real web-corpus failure mode d01's
    order-sensitive fingerprint keeps. Same plan as d01: one shuffle on
    the fingerprint, min-id winner. Between d01 (exact) and d02+
    (similarity): still exact-match semantics, just on the bag."""
    bag = F.md5(
        F.array_join(
            F.array_sort(tokens(F.lower(F.col(text_col)))), " "
        ).cast("binary")
    )
    w = Window.partitionBy("_bfp").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_bfp", bag)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_bfp", "_rn")
    )


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    quality: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup removal that keeps each cluster's BEST member, not its
    lowest id: cluster the pair graph with :func:`connected_components`,
    rank members by (quality DESC, id ASC), drop everyone but rank 1.
    Documents in no pair pass through untouched. This is the selection
    policy production corpus dedup actually wants — min-id keeps
    whichever duplicate happened to be crawled first; quality-ranked
    keeps the cleanest copy.

    ``quality`` must be a deterministic rounded expression (e.g.
    ``text.quality_score``) so the ranking is engine-stable. Scale: the
    per-cluster window partitions on the component id — cluster sizes
    are bounded by the pair-generation stage's own caps (d02's doc-freq
    cap / d03's bucket bound), so no window partition can go quadratic.
    """
    cc = connected_components(pairs)
    member_q = cc.join(
        df.select(F.col(id_col).alias("id"), quality.alias("_q")), "id"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("component").orderBy(
        F.col("_q").desc(), F.col("id")
    )
    losers = (
        member_q.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select(F.col("id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "lang",
    window: int = 2,
    prefix: int = 16,
) -> DataFrame:
    """Sorted-neighborhood (SNM) candidate pairs — the classic
    entity-resolution blocking the dedup family lacked.

    Records are ordered inside each ``block_col`` block by a
    normalized-prefix sort key ((key, id) — a total order, so the
    neighborhood is deterministic) and each record is paired with its
    next ``window`` neighbors via ``lead``; pairs carry the rank gap
    and the exact Levenshtein distance between the sort keys (both
    engines agree bit-for-bit on levenshtein — the d13 precedent).

    Scale shape: ONE shuffle (partition by block) + block-partitioned
    windows; candidate volume is exactly ``window`` pairs per record —
    linear, never quadratic. Pairs spanning a block boundary are
    missed by design (the standard SNM recall trade; run multi-pass
    with rotated keys when that matters — same posture as d02's
    doc-frequency cap).
    """
    if window < 1:
        raise ValueError("sorted_neighborhood_pairs: window must be >= 1")
    from pyspark.sql import Window as W

    norm = F.regexp_replace(
        F.lower(F.trim(F.col(text_col))), r"\s+", " "
    )
    n = df.select(
        F.col(id_col).alias("_id"),
        F.col(block_col).alias("block"),
        F.substring(norm, 1, int(prefix)).alias("_k"),
    )
    win = W.partitionBy("block").orderBy(F.col("_k"), F.col("_id"))
    # window expressions are not allowed inside a generator: compute
    # the leads as plain columns first, then explode the struct array
    for k in range(1, int(window) + 1):
        n = n.withColumn(
            f"_id{k}", F.lead("_id", k).over(win)
        ).withColumn(f"_k{k}", F.lead("_k", k).over(win))
    neigh = F.array(
        *[
            F.struct(
                F.col(f"_id{k}").alias("id_b"),
                F.col(f"_k{k}").alias("k_b"),
                F.lit(k).cast("long").alias("gap"),
            )
            for k in range(1, int(window) + 1)
        ]
    )
    return (
        n.withColumn("_nb", F.explode(neigh))
        .filter(F.col("_nb.id_b").isNotNull())
        .select(
            F.col("_id").alias("id_a"),
            F.col("_nb.id_b").alias("id_b"),
            F.col("_nb.gap").alias("gap"),
            F.levenshtein(F.col("_k"), F.col("_nb.k_b"))
            .cast("long")
            .alias("key_lev"),
            "block",
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_pct: int = 80,
    max_doc_freq: int = 50,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT near-dups: |A∩B| / |A| ≥
    ``threshold_pct``% — the subset-document detector. A short doc
    fully embedded in a long one scores containment ≈ 1 while its
    JACCARD is tiny (the union is dominated by the long doc), so this
    is the dedup pass that catches quotes, boilerplate inclusion, and
    page-within-crawl dups that d02's symmetric Jaccard misses.

    Same capped posting-list plan as :func:`ngram_jaccard_pairs`
    (blacklist semantics on grams with df > ``max_doc_freq`` — the cap
    is mandatory here, the asymmetric score has the same hot-gram
    quadratic exposure). The threshold is the pure integer predicate
    ``100·inter ≥ pct·|A|`` (the t16 no-float-ratio posture);
    containment_ppm is the truncating integer ppm.

    Emits DIRECTED pairs: (src_id — the contained side, within_id,
    n_shared, containment_ppm); a near-identical pair appears in both
    directions.
    """
    grams = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array_distinct(word_ngrams(F.col(text_col), n))
        ).alias("_g"),
    )
    posts = (
        grams.groupBy("_g")
        .agg(F.sort_array(F.collect_list("_id")).alias("_ids"))
        .filter(F.size("_ids") <= max_doc_freq)
    )
    pair_expr = F.expr(
        "flatten(transform(_ids, (x, i) -> "
        "transform(slice(_ids, i + 2, size(_ids)), y -> "
        "struct(x AS id_a, y AS id_b))))"
    )
    inter = (
        posts.select(F.explode(pair_expr).alias("_p"))
        .groupBy(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    sizes = (
        posts.select(F.explode("_ids").alias("_id"))
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("_sz"))
    )
    j = (
        inter.join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("_sz", "_sza"), "id_a")
        .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("_sz", "_szb"), "id_b")
    )
    directed = j.select(
        F.col("id_a").alias("src_id"), F.col("id_b").alias("within_id"),
        F.col("_inter"), F.col("_sza").alias("_szs"),
    ).unionByName(
        j.select(
            F.col("id_b").alias("src_id"), F.col("id_a").alias("within_id"),
            F.col("_inter"), F.col("_szb").alias("_szs"),
        )
    )
    return (
        directed.filter(100 * F.col("_inter") >= threshold_pct * F.col("_szs"))
        .select(
            "src_id",
            "within_id",
            F.col("_inter").cast("long").alias("n_shared"),
            F.expr("(1000000 * _inter) div _szs").cast("long").alias(
                "containment_ppm"
            ),
        )
    )


def maximal_repeat_stats(
    df: DataFrame,
    levels: tuple[int, ...] = (4, 8, 16),
    min_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprint_grams: bool = False,
    fingerprint_min_level: int = 8,
    fingerprint_recheck: str = "rebuild",
) -> DataFrame:
    """Variable-length EXACT-SUBSTRING repeat detection + scrub stats —
    the Lee et al. ("Deduplicating Training Data Makes Language Models
    Better") suffix-array exact-substring pass, re-expressed with the
    Manber–Myers PREFIX-DOUBLING construction instead of a monolithic
    suffix array: the dedup family member d17's fixed 6-token hot-span
    window approximates (r8 verdict item 5).

    For every token position the doubling chain builds the 2·L-gram
    from the L-gram and its ``lead(L)`` neighbor (one window shuffle
    total — each step is a ``lead`` over the same (doc, pos) order), so
    L-gram keys for all power-of-two ``levels`` come out of log₂(max
    level) narrow column ops, never a per-length re-scan. A position
    STARTS a repeat of length ≥ L when its L-gram occurs more than once
    in the corpus — occurrences counted WITHIN documents too (Lee et
    al. semantics; d17 counts distinct documents, so a doc repeating
    its own paragraph is invisible there, and d17's fixed window also
    misses any repeat shorter than 6 tokens — both pinned in
    tests/test_operators.py).

    The scrub is coverage at ``min_len``: token position p is covered
    when some duplicated ``min_len``-gram starts within the preceding
    ``min_len − 1`` positions (a ROWS window max — positions are
    contiguous), i.e. p lies inside SOME repeated span of length ≥
    ``min_len``; repeats of any greater length are covered through
    their contained ``min_len``-grams, which is what makes the fixed
    detection grain variable-length in effect.

    Scale shape: one (doc,pos) window shuffle for the doubling chain,
    one hash agg over (level, gram) for the hot set, one key-equality
    join back (occurrence-linear — no pair join anywhere), one bounded
    ROWS window for coverage, one per-doc agg. ``fingerprint_grams=
    True`` (the d02/d13 hash-then-recheck discipline): for levels ≥
    ``fingerprint_min_level`` the corpus-proportional hot-set count and
    flag join shuffle 8-byte ``xxhash64(level, gram)`` fingerprints
    instead of up-to-16-token gram strings, and the exact string
    recheck runs only on SURVIVOR documents (those holding a
    fingerprint-hot position) — conformance-tested identical to the
    string path (tests/test_operators.py). Short levels keep strings
    even under the flag: they are majority-duplicated in natural text
    (99% of fixture docs hold a dup 4-gram vs ~10% a dup 8-gram), so
    hashing them degenerates the recheck into a full second pass — see
    :func:`_repeat_coverage`.

    HONEST SCALE CLAIM (PROBE_FP_r10.json, measured at 1× and 16×
    sf0.1): the ONLY fingerprint mode that reduces total shuffle bytes
    is ``fingerprint_recheck='hash128'`` (two independent xxhash64s as
    the identity check, skipping the string-rebuild pass): 1.35× fewer
    bytes at both scales. The default ``'rebuild'`` recheck shuffles
    MORE bytes than the string path at 16× (975 vs 447 MB — the rebuild
    re-shuffles survivor grams as strings anyway). Neither mode wins
    WALL TIME on a single 128 GiB local[32] JVM (hash128 is 0.84× at
    16× here: hash compute exceeds the byte saving when shuffle I/O is
    not the bottleneck). The recommended cluster-scale mode is
    ``fingerprint_grams=True, fingerprint_recheck='hash128'``, on the
    standard argument that multi-node shuffle (network + spill) is the
    dominant cost at 100 TB — a claim this single-node image CANNOT
    demonstrate; treat it as shuffle-byte-backed, not wall-time-backed.
    The default keeps strings everywhere so the DuckDB oracle compares
    the exact production plan.

    Returns one row per non-blank document: (id, n_tokens,
    rep{L}_starts per level, n_covered, n_kept). Blank/whitespace-only
    documents produce NO output row.
    """
    q = _repeat_coverage(
        df, levels, min_len, text_col, id_col, fingerprint_grams,
        fingerprint_min_level, fingerprint_recheck,
    )
    levels = tuple(sorted(int(x) for x in levels))
    return q.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        *[
            F.sum(f"_dup{lvl}").cast("long").alias(f"rep{lvl}_starts")
            for lvl in levels
        ],
        F.sum("_cov").cast("long").alias("n_covered"),
        (F.count(F.lit(1)) - F.sum("_cov")).cast("long").alias("n_kept"),
    )


def _level_grams(
    p: DataFrame, levels: tuple[int, ...], id_col: str
) -> DataFrame:
    """Prefix-doubling level grams from a (id, _pos, _w) position frame:
    one row per (position, level) with the non-null ``level``-gram
    starting there — (id, _pos, lvl, g). One window shuffle total."""
    w_ord = Window.partitionBy(id_col).orderBy("_pos")
    col_of = {1: "_w"}
    cur = 1
    frame = p
    while cur < levels[-1]:
        nxt = cur * 2
        frame = frame.withColumn(
            f"_s{nxt}",
            F.concat(
                F.col(col_of[cur]),
                F.lit(" "),
                F.lead(col_of[cur], cur).over(w_ord),
            ),
        )
        col_of[nxt] = f"_s{nxt}"
        cur = nxt
    return (
        frame.select(
            F.col(id_col),
            "_pos",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(lvl).cast("long").alias("lvl"),
                            F.col(col_of[lvl]).alias("g"),
                        )
                        for lvl in levels
                    ]
                )
            ).alias("_x"),
        )
        .select(F.col(id_col), "_pos", F.col("_x.lvl").alias("lvl"), F.col("_x.g").alias("g"))
        .filter(F.col("g").isNotNull())
    )


def _repeat_coverage(
    df: DataFrame,
    levels: tuple[int, ...],
    min_len: int,
    text_col: str,
    id_col: str,
    fingerprint_grams: bool = False,
    fingerprint_min_level: int = 8,
    fingerprint_recheck: str = "rebuild",
) -> DataFrame:
    """Shared kernel of :func:`maximal_repeat_stats` /
    :func:`maximal_repeat_scrub`: one row per non-blank token position
    with the per-level duplicated-gram start flags and the ``min_len``
    coverage flag — (id, _pos, _w, _dup{L}…, _cov).

    ``fingerprint_grams=True`` replaces the gram STRINGS in both
    corpus-proportional shuffles (hot-set count, flag join) with
    8-byte ``xxhash64(level, gram)`` fingerprints for every level ≥
    ``fingerprint_min_level``, then string-rechecks only the
    survivors: documents holding a fingerprint-hot position rebuild
    their grams (same doubling chain, survivor docs only) and the
    exact (level, gram) occurrence count is confirmed before any
    position is flagged. Every occurrence of a truly duplicated gram
    shares its fingerprint, so the survivor-local recount equals the
    global count — no false negatives; fingerprint collisions only add
    survivors that the string recheck then rejects.

    Levels BELOW ``fingerprint_min_level`` keep the string path even
    under the flag: short grams are both cheap to shuffle (~5 bytes per
    token vs the 8-byte hash) and majority-duplicated in natural text —
    measured on the fixture corpus, 99% of documents hold a duplicated
    4-gram but only ~10% a duplicated 8-gram, so hashing level 4 turns
    the "survivor" recheck into a second full-corpus pass (the first
    probe ran 3× SLOWER on exactly that shape) while hashing levels
    ≥ 8 confines the recheck to the genuinely repeat-bearing tail.

    ``fingerprint_recheck`` picks how survivors are confirmed:

    - ``"rebuild"`` — exact string recheck: survivor docs rebuild
      their long grams and recount. Byte-exact, but the rebuild cost
      is proportional to the REPEAT-BEARING share of the corpus — on
      a repeat-saturated corpus (the 16× rotation-amplified probe,
      where every copy shares nearly all its long grams with its
      siblings) it degenerates into a second full pass.
    - ``"hash128"`` — two INDEPENDENT xxhash64 fingerprints are the
      gram's identity (the content-digest standard every blob-dedup
      system rests on; collision odds ~2⁻¹²⁸ per pair): one count
      shuffle on 16-byte keys, one flag join, NO rebuild pass — the
      shape that survives any repeat density at 100 TB."""
    levels = tuple(sorted(int(x) for x in levels))
    if len(set(levels)) != len(levels):
        raise ValueError(
            f"maximal_repeat: duplicate levels in {levels} (r9 ADVICE: "
            "each level may appear once)"
        )
    for lvl in levels:
        if lvl < 2 or lvl & (lvl - 1):
            raise ValueError(
                f"maximal_repeat: level {lvl} is not a power of two >= 2"
            )
    if min_len not in levels:
        raise ValueError("maximal_repeat: min_len must be one of levels")
    p = (
        df.select(F.col(id_col), F.posexplode(tokens(text_col)).alias("_pos", "_w"))
        .filter(F.col("_w") != "")
    )
    lv = _level_grams(p, levels, id_col)
    if fingerprint_grams:
        if fingerprint_recheck not in ("rebuild", "hash128"):
            raise ValueError(
                "maximal_repeat: fingerprint_recheck must be 'rebuild' "
                f"or 'hash128', got {fingerprint_recheck!r}"
            )
        fp_min = int(fingerprint_min_level)
        short_lv = tuple(l for l in levels if l < fp_min)
        long_lv = tuple(l for l in levels if l >= fp_min)
        flag_frames = []
        if short_lv:
            sl = lv.filter(F.col("lvl").isin(list(short_lv)))
            hot_s = (
                sl.groupBy("lvl", "g")
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > 1)
                .select("lvl", "g", F.lit(1).alias("_h"))
            )
            flag_frames.append(
                sl.join(hot_s, ["lvl", "g"], "left")
                .groupBy(id_col, "_pos")
                .agg(
                    *[
                        F.max(
                            F.when(
                                (F.col("lvl") == lvl)
                                & F.col("_h").isNotNull(),
                                1,
                            ).otherwise(0)
                        )
                        .cast("long")
                        .alias(f"_dup{lvl}")
                        for lvl in short_lv
                    ]
                )
            )
        if long_lv and fingerprint_recheck == "hash128":
            # digest-identity: two independent 64-bit fingerprints ARE
            # the gram; one 16-byte-key count shuffle + one flag join,
            # no rebuild pass at any repeat density.
            lv128 = lv.filter(F.col("lvl").isin(list(long_lv))).select(
                F.col(id_col), "_pos", "lvl",
                F.xxhash64("lvl", "g").alias("_fp"),
                F.xxhash64("g", "lvl", F.lit("mr2")).alias("_fp2"),
            )
            hot128 = (
                lv128.groupBy("_fp", "_fp2")
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > 1)
                .select("_fp", "_fp2")
            )
            flag_frames.append(
                lv128.join(hot128, ["_fp", "_fp2"])
                .groupBy(id_col, "_pos")
                .agg(
                    *[
                        F.max(F.when(F.col("lvl") == lvl, 1).otherwise(0))
                        .cast("long")
                        .alias(f"_dup{lvl}")
                        for lvl in long_lv
                    ]
                )
            )
        elif long_lv:
            # 100 TB posture: the two corpus-proportional shuffles move
            # 8-byte fingerprints, never the long gram strings.
            lv_light = lv.filter(F.col("lvl").isin(list(long_lv))).select(
                F.col(id_col), "_pos", "lvl",
                F.xxhash64("lvl", "g").alias("_fp"),
            )
            hotf = (
                lv_light.groupBy("_fp")
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > 1)
                .select("_fp")
            )
            sv = lv_light.join(hotf, "_fp").select(id_col, "_pos", "lvl")
            # String recheck on survivors: rebuild the long-level grams
            # for candidate docs only (fresh-named keys — same-lineage
            # joins are ambiguous by attribute id, the r5c5 _bk lesson).
            sv_docs = sv.select(F.col(id_col).alias("_svid")).distinct()
            p2 = p.join(
                sv_docs, p[id_col] == F.col("_svid"), "leftsemi"
            )
            lv2 = _level_grams(p2, long_lv, id_col)
            svk = sv.select(
                F.col(id_col).alias("_cid"),
                F.col("_pos").alias("_cpos"),
                F.col("lvl").alias("_clvl"),
            )
            cand = lv2.join(
                svk,
                (F.col(id_col) == F.col("_cid"))
                & (F.col("_pos") == F.col("_cpos"))
                & (F.col("lvl") == F.col("_clvl")),
            ).select(id_col, "_pos", "lvl", "g")
            hot2 = (
                cand.groupBy("lvl", "g")
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > 1)
                .select(F.col("lvl").alias("_hlvl"), F.col("g").alias("_hg"))
            )
            flagged = cand.join(
                hot2,
                (F.col("lvl") == F.col("_hlvl"))
                & (F.col("g") == F.col("_hg")),
            ).select(id_col, "_pos", "lvl")
            flag_frames.append(
                flagged.groupBy(id_col, "_pos").agg(
                    *[
                        F.max(F.when(F.col("lvl") == lvl, 1).otherwise(0))
                        .cast("long")
                        .alias(f"_dup{lvl}")
                        for lvl in long_lv
                    ]
                )
            )
        q = p.select(id_col, "_pos", "_w")
        for flf in flag_frames:
            q = q.join(flf, [id_col, "_pos"], "left")
        q = q.select(
            F.col(id_col),
            "_pos",
            "_w",
            *[
                F.coalesce(F.col(f"_dup{lvl}"), F.lit(0))
                .cast("long")
                .alias(f"_dup{lvl}")
                for lvl in levels
            ],
        )
        wcov = (
            Window.partitionBy(id_col)
            .orderBy("_pos")
            .rowsBetween(-(min_len - 1), 0)
        )
        return q.withColumn("_cov", F.max(F.col(f"_dup{min_len}")).over(wcov))
    else:
        hot = (
            lv.groupBy("lvl", "g")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .select("lvl", "g", F.lit(1).alias("_h"))
        )
        fl = (
            lv.join(hot, ["lvl", "g"], "left")
            .groupBy(id_col, "_pos")
            .agg(
                *[
                    F.max(
                        F.when(
                            (F.col("lvl") == lvl) & F.col("_h").isNotNull(), 1
                        ).otherwise(0)
                    )
                    .cast("long")
                    .alias(f"_dup{lvl}")
                    for lvl in levels
                ]
            )
        )
    q = p.select(id_col, "_pos", "_w").join(
        fl, [id_col, "_pos"], "left"
    ).select(
        F.col(id_col),
        "_pos",
        "_w",
        *[
            F.coalesce(F.col(f"_dup{lvl}"), F.lit(0)).cast("long").alias(f"_dup{lvl}")
            for lvl in levels
        ],
    )
    wcov = (
        Window.partitionBy(id_col)
        .orderBy("_pos")
        .rowsBetween(-(min_len - 1), 0)
    )
    return q.withColumn("_cov", F.max(F.col(f"_dup{min_len}")).over(wcov))


def maximal_repeat_scrub(
    df: DataFrame,
    levels: tuple[int, ...] = (4, 8, 16),
    min_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprint_grams: bool = False,
    fingerprint_min_level: int = 8,
    fingerprint_recheck: str = "rebuild",
) -> DataFrame:
    """The ACTIONABLE form of :func:`maximal_repeat_stats`: remove
    every token covered by a duplicated span of length ≥ ``min_len``
    and rebuild the surviving text in original order — the Lee et al.
    exact-substring REMOVAL itself, where the stats form is the
    diagnostic. The rebuild is d17's idiom: collect (pos, token)
    structs conditionally (``when`` yields NULL on covered positions
    and collect_list skips NULLs), array_sort restores order, join
    with spaces. Fully-covered documents keep their row with an empty
    ``text_clean`` (the d17 explicit-filter contract).
    ``fingerprint_grams=True`` selects the hashed-shuffle kernel (see
    :func:`maximal_repeat_stats` — the 100 TB posture). Returns one row
    per non-blank document: (id, n_kept, n_removed, text_clean)."""
    q = _repeat_coverage(
        df, levels, min_len, text_col, id_col, fingerprint_grams,
        fingerprint_min_level, fingerprint_recheck,
    )
    kept_struct = F.when(
        F.col("_cov") == 0,
        F.struct(F.col("_pos").alias("p"), F.col("_w").alias("t")),
    )
    return q.groupBy(id_col).agg(
        (F.count(F.lit(1)) - F.sum("_cov")).cast("long").alias("n_kept"),
        F.sum("_cov").cast("long").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["t"],
            ),
            " ",
        ).alias("text_clean"),
    )


def minhash_estimate_audit(
    docs: DataFrame,
    k: int = 16,
    max_bucket: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ORACLE-EXACT MinHash: md5-derived k-hash signatures (the
    sk01/d11 portable-hash discipline) audited against the EXACT token
    Jaccard on every candidate pair — the estimator-quality view the
    xxhash64 production path (d03/d24, rows-only by nature) can't give
    an oracle for. Candidates come from the classic 1-hash band: docs
    sharing the same first minhash value bucket together (that IS the
    LSH recall mechanism), buckets over ``max_bucket`` docs are dropped
    whole (d02's hot-posting-list cap — a stop-gram bucket is noise).

    est_jacc_ppm = 10⁶·(matching components) div k; exact_jacc_ppm
    from the distinct-token sets of the pair (|∩| via one token join
    bounded by capped-bucket pair volume, |∪| = na + nb − |∩|). The
    audit row carries both plus the signed error — the per-pair
    evidence behind the "MinHash estimates Jaccard" claim, cross-engine
    exact.

    Returns (id_a, id_b, est_jacc_ppm, exact_jacc_ppm, err_ppm).
    """
    if k < 1:
        raise ValueError("minhash_estimate_audit: k must be >= 1")
    toks = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.explode(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            ).alias("_t"),
        )
        .filter(F.col("_t") != "")
        .distinct()
    )
    mins = [
        F.min(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"{i}:"), F.col("_t")
                        ).cast("binary")
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long")
        ).alias(f"_m{i}")
        for i in range(int(k))
    ]
    sig = toks.groupBy("_id").agg(
        *mins, F.count(F.lit(1)).cast("long").alias("_n")
    )
    sig = sig.select(
        "_id",
        "_n",
        F.col("_m0").alias("_bucket"),
        F.array(*[F.col(f"_m{i}") for i in range(int(k))]).alias("_sig"),
    )
    bsz = sig.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_bn"))
    sig = sig.join(
        bsz.filter(F.col("_bn") <= int(max_bucket)).select("_bucket"),
        "_bucket",
    )
    a = sig.select(
        F.col("_bucket"),
        F.col("_id").alias("id_a"),
        F.col("_n").alias("_na"),
        F.col("_sig").alias("_sa"),
    )
    b = sig.select(
        F.col("_bucket"),
        F.col("_id").alias("id_b"),
        F.col("_n").alias("_nb"),
        F.col("_sig").alias("_sb"),
    )
    pairs = a.join(b, "_bucket").filter(F.col("id_a") < F.col("id_b"))
    pairs = pairs.select(
        "id_a",
        "id_b",
        "_na",
        "_nb",
        F.expr(
            "CAST((1000000 * size(filter(zip_with(_sa, _sb,"
            f" (x, y) -> x = y), v -> v))) div {int(k)} AS BIGINT)"
        ).alias("est_jacc_ppm"),
    )
    ta = toks.select(F.col("_id").alias("id_a"), F.col("_t").alias("_ta"))
    tb = toks.select(F.col("_id").alias("id_b"), F.col("_t").alias("_tb"))
    inter = (
        pairs.select("id_a", "id_b")
        .join(ta, "id_a")
        .join(tb, "id_b")
        .filter(F.col("_ta") == F.col("_tb"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("_inter"))
    )
    out = pairs.join(inter, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        "est_jacc_ppm",
        F.expr(
            "CAST((1000000 * coalesce(_inter, 0)) div"
            " (_na + _nb - coalesce(_inter, 0)) AS BIGINT)"
        ).alias("exact_jacc_ppm"),
    )
    return out.withColumn(
        "err_ppm",
        (F.col("est_jacc_ppm") - F.col("exact_jacc_ppm")).cast("long"),
    )


def ngram_novelty(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """N-GRAM NOVELTY scoring: per document, how much of its distinct
    ``n``-gram vocabulary appears in NO lower-id document — the
    curriculum/diversity instrument (feed novel documents first, demote
    near-rehashes) that sits between exact dedup (d01: all-or-nothing)
    and Jaccard pairs (d02: pairwise, no corpus-order notion). A gram's
    single owner is the MIN doc id holding it (deterministic under
    ties), so Σ n_novel = |corpus gram vocabulary| — a conservation
    check a consumer can audit.

    Plan: one shuffle on the gram key for the min-owner agg, one join
    back on the same key (AQE exchange reuse — the d02 posture), one
    per-doc agg; occurrence-linear, no pair join. Documents shorter
    than ``n`` words hold their whole-text gram (word_ngrams'
    convention); blank documents produce NO row.

    Returns (id, n_grams, n_novel, novelty_ppm) with novelty_ppm =
    10⁶·n_novel div n_grams over the doc's DISTINCT grams.
    """
    dg = (
        df.filter(F.trim(F.col(text_col)) != "")
        .select(
            F.col(id_col).alias("_id"),
            F.explode(word_ngrams(F.col(text_col), n)).alias("_g"),
        )
        .distinct()
    )
    first = dg.groupBy("_g").agg(F.min("_id").alias("_first"))
    return (
        dg.join(first, "_g")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("_first") == F.col("_id")).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_grams",
            "n_novel",
            F.expr("(1000000 * n_novel) div n_grams")
            .cast("long")
            .alias("novelty_ppm"),
        )
    )


def lsh_band_scurve(
    docs: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int = 50,
    max_df: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The MEASURED LSH S-CURVE: candidate-capture probability per
    exact-Jaccard decile at a (bands × rows_per_band) MinHash banding —
    the textbook 1 − (1 − s^r)^b curve evaluated on YOUR corpus instead
    of assumed, and the instrument that closes the band/row tuning loop
    d36's per-pair audit opens (d36 judges estimator error on
    candidates; this judges RECALL SHAPE against ground truth).

    The MinHash item is the word 3-GRAM SHINGLE (d02/d03's grain — a
    unigram vocabulary is too small to discriminate: the fixture's
    sliced sf0.1 corpus holds 31 distinct words, and real-web stop
    words are the same failure), df-capped first: shingles held by
    more than ``max_df`` docs drop from signatures AND ground truth —
    the d02 hot-posting cap, and what keeps the ground-truth self-join
    Σ df² ≤ max_df·Σ df, i.e. shingle-LINEAR (the uncapped probe
    measured 177× at 16× on a dup-saturated corpus, the d13 lesson).
    Signatures are d36's oracle-exact md5 k-hash kernel (k = b·r) over
    the capped shingle sets; band j's bucket key is the j-th r-slice
    of the signature; buckets over ``max_bucket`` docs are dropped
    whole. Both caps mirrored in the oracle. Ground truth is the exact
    capped-shingle Jaccard of every shingle-sharing pair; the driver
    query additionally slices the corpus (the g03 budget discipline).

    Returns ≤ 10 rows: (decile, n_pairs, n_candidates, capture_ppm)
    where decile = ⌊exact_jacc/0.1⌋ capped at 9.
    """
    k = int(bands) * int(rows_per_band)
    toks = (
        docs.filter(F.trim(F.col(text_col)) != "")
        .select(
            F.col(id_col).alias("_id"),
            F.explode(
                word_ngrams(F.lower(F.col(text_col)), 3)
            ).alias("_t"),
        )
        .distinct()
    )
    df_ok = (
        toks.groupBy("_t")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= int(max_df))
        .select("_t")
    )
    # r14 (guide §2.4): the capped token stream feeds the signature agg
    # AND both ground-truth join sides; the signature table feeds the
    # band explode AND both set-size joins — lazily checkpoint each so
    # the explode+distinct+df-cap join and the k-min agg run once
    # instead of per consumer (A/B in OPTIMIZATION_r14.md, d38).
    toks = toks.join(df_ok, "_t").localCheckpoint(eager=False)
    mins = [
        F.min(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit(f"{i}:"), F.col("_t")).cast("binary")
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long")
        ).alias(f"_m{i}")
        for i in range(k)
    ]
    sig = toks.groupBy("_id").agg(
        *mins, F.count(F.lit(1)).cast("long").alias("_n")
    ).localCheckpoint(eager=False)
    bucket_keys = [
        F.concat_ws(
            ":",
            F.lit(str(j)),
            *[
                F.col(f"_m{j * rows_per_band + i}").cast("string")
                for i in range(rows_per_band)
            ],
        ).alias("_bk")
        for j in range(bands)
    ]
    bkt = sig.select(
        "_id", F.explode(F.array(*bucket_keys)).alias("_bk")
    )
    bsz = bkt.groupBy("_bk").agg(F.count(F.lit(1)).alias("_bn"))
    # both candidate self-join sides re-run the band explode + the
    # bucket-size filter otherwise
    bkt = bkt.join(
        bsz.filter(F.col("_bn") <= int(max_bucket)).select("_bk"), "_bk"
    ).localCheckpoint(eager=False)
    cand = (
        bkt.select(F.col("_bk"), F.col("_id").alias("id_a"))
        .join(
            bkt.select(F.col("_bk"), F.col("_id").alias("id_b")), "_bk"
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .withColumn("_is_cand", F.lit(1))
    )
    ta = toks.select(F.col("_id").alias("id_a"), "_t")
    tb = toks.select(F.col("_id").alias("id_b"), "_t")
    inter = (
        ta.join(tb, "_t")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("_i"))
    )
    na = sig.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    nb = sig.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    pairs = (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr("(1000000 * _i) div (_na + _nb - _i)").alias("_jacc"),
        )
        .join(cand, ["id_a", "id_b"], "left")
    )
    return (
        pairs.select(
            F.expr("least(_jacc div 100000, 9)")
            .cast("long")
            .alias("decile"),
            F.coalesce(F.col("_is_cand"), F.lit(0)).alias("_c"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("_c").cast("long").alias("n_candidates"),
        )
        .withColumn(
            "capture_ppm",
            F.expr("(1000000 * n_candidates) div n_pairs").cast("long"),
        )
    )


def neardup_pair_provenance(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    n: int = 3,
    threshold: float = 0.7,
    max_doc_freq: int | None = 50,
) -> DataFrame:
    """NEAR-DUP pair provenance (d39): d02's exact n-gram Jaccard pairs
    classified by whether they stay inside one source or cross sources —
    crawl artifact vs genuine syndication, at the similarity grain
    where the small corpus actually HAS structure (exact-dup provenance
    is empty below sf0.1 on the fixtures).

    Pair mass is kept fixed-point: each pair contributes
    round(jaccard·1e6) ppm (the round-6 jaccard is cross-engine exact,
    its 1e6 lift lands within 1e-10 of an integer — never a half
    boundary), so sums are order-independent BIGINTs. Returns
    (scope, n_pairs, sum_jacc_ppm, mean_jacc_ppm)."""
    pairs = ngram_jaccard_pairs(
        docs, text_col, id_col, n, threshold, max_doc_freq
    )
    src = docs.select(F.col(id_col), F.col(source_col))
    sa = src.select(
        F.col(id_col).alias("id_a"), F.col(source_col).alias("_src_a")
    )
    sb = src.select(
        F.col(id_col).alias("id_b"), F.col(source_col).alias("_src_b")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.when(
                F.col("_src_a") == F.col("_src_b"), F.lit("same_source")
            )
            .otherwise(F.lit("cross_source"))
            .alias("scope"),
            F.round(F.col("jaccard") * 1_000_000)
            .cast("long")
            .alias("_jp"),
        )
        .groupBy("scope")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("_jp").cast("long").alias("sum_jacc_ppm"),
        )
        .select(
            "scope",
            "n_pairs",
            "sum_jacc_ppm",
            F.expr("sum_jacc_ppm div n_pairs").cast("long").alias(
                "mean_jacc_ppm"
            ),
        )
    )
