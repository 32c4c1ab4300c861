"""Similarity search over embedding columns (array<float>).

Two paths:
- :func:`cosine_topk` — exact brute-force top-k against a query vector.
  One narrow map (JVM-side fold for the dot product) + a top-k reduce
  (``orderBy().limit(k)`` → Spark's TakeOrdered, which keeps only k rows
  per partition — no global sort materialization).
- :func:`lsh_topk` / :func:`lsh_near_pairs` — random-hyperplane (sign)
  LSH: bucket by sign bits, probe only matching buckets. At 100 TB the
  bucket key becomes the partition key; brute force within buckets.

Everything is deterministic: hyperplanes derive from xxhash64(seed, dim),
not RNG state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate — JVM-side sequential fold, no UDF."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.

    The query is a literal array (broadcast into codegen, not a join).
    Deterministic tie-break on id. Returns (id, cosine) rounded to 6
    decimals for cross-engine stability.
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    sim = F.round(cosine_similarity(F.col("embedding"), q), 6)
    return (
        df.select(F.col("vec_id"), sim.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def pairwise_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    bucket_col: str | None = None,
) -> DataFrame:
    """Exact cosine near-duplicate pairs (id_a < id_b, cosine ≥ threshold).

    Without ``bucket_col`` this is a full cross self-join — only for
    bounded inputs (verification, small dims). At scale pass a bucket
    column (e.g. from :func:`add_lsh_buckets`) so the join is key-equality
    on the bucket. A pair can collide in several buckets (multi-probe
    LSH), so bucketed pairs are deduplicated.
    """
    # r14 (guide §2.3 "per-task work after the shape is right"): the
    # norm is a per-ROW property — computing it before the self-join
    # replaces two of the three 64-element array folds each PAIR paid
    # (dot + both norms) with one extra double on the row. The float
    # result is bit-identical: the same sqrt(Σx²) doubles feed the same
    # dot/(na·nb) expression tree, only the evaluation site moves.
    cols = [
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_v"),
        _norm(F.col("embedding")).alias("_nrm"),
    ]
    if bucket_col is not None:
        cols.append(F.col(bucket_col).alias("_bk"))
    sel = df.select(*cols)
    a, b = sel.alias("a"), sel.alias("b")
    cond = F.col("a._id") < F.col("b._id")
    if bucket_col is not None:
        cond = cond & (F.col("a._bk") == F.col("b._bk"))
    sim = F.round(
        _dot(F.col("a._v"), F.col("b._v"))
        / (F.col("a._nrm") * F.col("b._nrm")),
        6,
    )
    out = a.join(b, cond).select(
        F.col("a._id").alias("id_a"),
        F.col("b._id").alias("id_b"),
        sim.alias("cosine"),
    )
    if bucket_col is not None:
        out = out.dropDuplicates(["id_a", "id_b"])
    return out.filter(F.col("cosine") >= threshold)


def cosine_pairs_blocked(df: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via distributed block-pair
    matrix products — recall is exactly 1 and NOTHING is materialized on
    the driver.

    Rows hash into 8 blocks; every unordered block pair
    (bi ≤ bj) becomes one grouped task that numpy-multiplies the two
    blocks (vectorized FLOPs, Arrow transfer). ONE scan: each row
    explodes to the 8 pairs it participates in, one shuffle on the
    pair key — replication factor 8, the classic O(n·√tasks) cost
    any exact all-pairs operator pays. At 100 TB the block count must
    grow so a block (n/8 vectors here) fits in a task's memory;
    parallelism grows as blocks²/2. For approximate (sub-replicated) candidates
    use :func:`lsh_near_pairs` instead.

    Semantics identical to :func:`pairwise_near_dups`:
    (id_a < id_b, cosine rounded to 6, ≥ threshold).
    """
    import numpy as np
    import pandas as pd

    # block pairs this row participates in: (blk, j) for j ≥ blk and
    # (i, blk) for i ≤ blk; array_union dedups the (blk, blk) overlap
    pair_list = F.array_union(
        F.transform(
            F.sequence(F.col("_blk"), F.lit(7)),
            lambda j: F.struct(F.col("_blk").alias("bi"), j.alias("bj")),
        ),
        F.transform(
            F.sequence(F.lit(0), F.col("_blk")),
            lambda i: F.struct(i.alias("bi"), F.col("_blk").alias("bj")),
        ),
    )
    exploded = (
        df.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
        .withColumn(
            "_blk", F.pmod(F.xxhash64(F.col("_id")), F.lit(8)).cast("int")
        )
        .withColumn("_p", F.explode(pair_list))
        .select(
            "_id", "_v", "_blk",
            F.col("_p.bi").alias("bi"), F.col("_p.bj").alias("bj"),
        )
    )

    def mult(key: tuple, g: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        lmask = (g["_blk"] == bi).to_numpy()
        rmask = (g["_blk"] == bj).to_numpy()
        if not lmask.any() or not rmask.any():
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        ids = g["_id"].to_numpy()
        M = np.asarray([np.asarray(v, dtype=np.float64) for v in g["_v"]])
        nrm = np.sqrt((M * M).sum(axis=1))
        lids, rids = ids[lmask], ids[rmask]
        sims = np.round(
            (M[lmask] @ M[rmask].T) / (nrm[lmask][:, None] * nrm[rmask][None, :]), 6
        )
        # strict != : same-block groups (bi == bj) see each pair in both
        # orders, disjoint blocks once — min/max ordering + drop_duplicates
        # emits each unordered pair exactly once either way
        keep = (lids[:, None] != rids[None, :]) & (sims >= threshold)
        ai, aj = np.nonzero(keep)
        out = pd.DataFrame(
            {
                "id_a": np.minimum(lids[ai], rids[aj]),
                "id_b": np.maximum(lids[ai], rids[aj]),
                "cosine": sims[ai, aj],
            }
        )
        return out.drop_duplicates(["id_a", "id_b"])

    return exploded.groupby("bi", "bj").applyInPandas(
        mult, schema="id_a long, id_b long, cosine double"
    )


def quantize_int8(df: DataFrame) -> DataFrame:
    """Symmetric int8 quantization per vector — the standard compression
    step before shipping an embedding corpus into an ANN index (4×
    smaller than float32, dot products stay SIMD-friendly).

    scale = max|x| / 127; q[i] = round(x[i] / scale) ∈ [-127, 127].
    All-zero vectors quantize to zeros with scale 0. Pure Column
    expressions (transform/array_max — codegen'd, no Python).

    Engine-exactness note: the rounding is round-to-INTEGER of an
    identically-computed double — both engines agree there. round(x, k>0)
    would NOT be safe (DuckDB's pre-multiply by 10^k perturbs the value;
    CLAUDE.md invariant 1), which is why the scale is emitted raw.
    """
    v = F.col("embedding")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = (amax / F.lit(127.0)).alias("scale")
    q = F.when(amax == 0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(
            v,
            lambda x: F.greatest(
                F.lit(-127),
                F.least(
                    F.lit(127),
                    F.round(x.cast("double") / (amax / F.lit(127.0))).cast("int"),
                ),
            ),
        )
    )
    return df.select(F.col("vec_id"), scale, q.alias("qvec"))


def _hyperplane(dim: int, bit: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: component j of
    plane `bit` is a signed value derived from xxhash64-style mixing done
    driver-side (tiny: bits × dim floats)."""
    import hashlib

    vals = []
    for j in range(dim):
        h = hashlib.md5(f"{42}:{bit}:{j}".encode()).digest()
        u = int.from_bytes(h[:8], "big") / 2**64  # [0,1)
        vals.append(2.0 * u - 1.0)
    return vals


def add_lsh_buckets(df: DataFrame, dim: int, n_bits: int = 8) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) bucketing: ``n_bits`` sign
    bits packed into a long. Cosine-similar vectors collide with
    probability (1 - θ/π)^n_bits. Pure column expressions — the planes are
    literal arrays baked into codegen."""
    bucket = F.lit(0).cast("long")
    for bit in range(n_bits):
        plane = F.array(*[F.lit(v) for v in _hyperplane(dim, bit)])
        sign = (_dot(F.col("embedding"), plane) >= 0).cast("long")
        bucket = bucket + sign * F.lit(2**bit).cast("long")
    return df.withColumn("lsh_bucket", bucket)


def lsh_near_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_bits: int = 8,
) -> DataFrame:
    """Scale path for near-dup pairs: LSH bucket → in-bucket exact verify.
    Recall < 1 by construction (pairs split across buckets are missed);
    raise recall with fewer bits or multi-probe."""
    bucketed = add_lsh_buckets(df, dim, n_bits)
    return pairwise_near_dups(
        bucketed, threshold, bucket_col="lsh_bucket"
    )


def ivf_build_centroids(
    df: DataFrame,
    n_cells: int = 16,
    iterations: int = 2,
    seed: str = "mod",
) -> list[list[float]]:
    """Deterministic k-means-lite for an IVF index: seed cells, then run
    Lloyd iterations with the argmin computed JVM-side. Only the
    n_cells×dim centroid matrix ever reaches the driver — the data-side
    work is two narrow passes per iteration plus one small aggregation.

    ``seed="mod"`` (historical default, keeps s06/s09-s11 outputs
    stable): initial cells are ``id % n_cells``. On CLUSTERED data this
    is a poor start — every seed group is a mixture of all clusters, so
    every initial centroid sits near the global mean and Lloyd can
    struggle to split them. ``seed="vectors"`` starts from the
    ``n_cells`` smallest-id vectors as centroids (the km01 k-smallest-id
    posture) — distinct data points, so cells separate immediately; use
    it for the knn02/d30 scale paths. Both are RNG-free."""
    if seed == "vectors":
        seed_rows = (
            df.select(F.col("vec_id").alias("_i"), F.col("embedding").alias("_v"))
            .orderBy("_i")
            .limit(int(n_cells))
            .collect()
        )
        seed_vecs = [[float(x) for x in r["_v"]] for r in seed_rows]
        assigned = ivf_assign(df, seed_vecs).select(
            F.col("ivf_cell").alias("_cell"), F.col("embedding").alias("_v")
        )
    elif seed == "mod":
        assigned = df.select(
            (F.col("vec_id") % n_cells).cast("int").alias("_cell"),
            F.col("embedding").alias("_v"),
        )
    else:
        raise ValueError(f"ivf_build_centroids: unknown seed mode {seed!r}")
    for _ in range(iterations):
        cents = (
            assigned.select("_cell", F.posexplode("_v").alias("_p", "_x"))
            .groupBy("_cell", "_p")
            .agg(
                (
                    F.sum(F.round(F.col("_x").cast("double") * 1e6).cast("long")).cast(
                        "double"
                    )
                    / 1e6
                    / F.count(F.lit(1))
                ).alias("_m")
            )
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in cents:
            by_cell.setdefault(r["_cell"], {})[r["_p"]] = r["_m"]
        centroids = [
            [by_cell[c][p] for p in sorted(by_cell[c])] for c in sorted(by_cell)
        ]
        assigned = ivf_assign(
            assigned.withColumnRenamed("_v", "embedding"), centroids
        ).select(F.col("ivf_cell").alias("_cell"), F.col("embedding").alias("_v"))
    return centroids


def ivf_assign(df: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Attach ``ivf_cell`` = argmax-cosine centroid, fully JVM-side
    (array of (score, cell) structs → array_max; ties break to the
    highest cell id, deterministically)."""
    scored = F.array(
        *[
            F.struct(
                cosine_similarity(
                    F.col("embedding"), F.array(*[F.lit(float(x)) for x in c])
                ).alias("score"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return df.withColumn("ivf_cell", F.array_max(scored)["cell"])


def ivf_topk(
    df: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF search: rank cells by centroid similarity to the query
    (driver-side, tiny), probe the top ``nprobe`` cells, exact cosine
    rank within them. At scale the table is written partitioned/bucketed
    by ``ivf_cell`` so the probe is a partition-pruned scan."""
    import math

    def cos(a: list[float], b: list[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else 0.0

    ranked = sorted(
        range(len(centroids)), key=lambda i: (-cos(centroids[i], query_vec), i)
    )
    probes = ranked[:nprobe]
    assigned = ivf_assign(df, centroids)
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    sim = F.round(cosine_similarity(F.col("embedding"), q), 6)
    return (
        assigned.filter(F.col("ivf_cell").isin(probes))
        .select(F.col("vec_id"), sim.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_bits: int = 8,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket or
    a 1-bit-flip neighbor bucket (multi-probe), then exact cosine rank.
    The candidate filter is a bucket-key IN-list — partition-prunable when
    the table is written bucketed/partitioned by the LSH key."""
    dim = len(query_vec)
    q_bucket = 0
    for bit in range(n_bits):
        plane = _hyperplane(dim, bit)
        dot = sum(float(a) * b for a, b in zip(query_vec, plane))
        q_bucket += (1 if dot >= 0 else 0) << bit
    probes = [q_bucket] + [q_bucket ^ (1 << b) for b in range(n_bits)]
    bucketed = add_lsh_buckets(df, dim, n_bits)
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    sim = F.round(cosine_similarity(F.col("embedding"), q), 6)
    return (
        bucketed.filter(F.col("lsh_bucket").isin(probes))
        .select(F.col("vec_id"), sim.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def random_projection(df: DataFrame, k: int = 8) -> DataFrame:
    """Data-independent random-projection sketch (Achlioptas-style ±1
    signs): ``proj_q[j] = Σ_pos sign(pos, j) · floor(v[pos]·1000000)`` —
    the dimensionality-reduction pass before a brute/IVF ANN stage when
    the native dimension is large.

    Engine- and scale-portable by construction:

    - the "projection matrix" is never materialized or broadcast — the
      ±1 sign is ``ascii(md5(pos_j)) % 2``, recomputable on any executor
      (and in any engine: md5/ascii are bit-identical everywhere), so at
      100 TB nothing ships with the task but the expression;
    - contributions are ``sign · floor(v·1000000)`` integers: the double
      product is IEEE-exact-rounded identically in every engine and
      ``floor`` has no half-boundary ambiguity (unlike ``round``), so
      the integer sum is partial-aggregation-order-independent and
      cross-engine exact.

    Plan: one posexplode (×dim), one generated ×k fanout, one partial
    agg + shuffle on (id, j). Returns (id, j, proj_q) scalar rows.
    """
    e = df.select("vec_id", F.posexplode("embedding").alias("pos", "val"))
    fanout = e.select(
        "vec_id",
        "pos",
        "val",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j"),
    )
    seed = F.ascii(
        F.substring(
            F.md5(
                F.concat_ws(
                    "_",
                    F.col("pos").cast("string"),
                    F.col("j").cast("string"),
                ).cast("binary")
            ),
            1,
            1,
        )
    )
    sign = F.when(seed % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    contrib = sign * F.floor(F.col("val").cast("double") * 1_000_000).cast("long")
    return (
        fanout.withColumn("_c", contrib)
        .groupBy(F.col("vec_id"), F.col("j").cast("bigint").alias("j"))
        .agg(F.sum("_c").alias("proj_q"))
    )


def pq_train(
    df: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    iterations: int = 2,
) -> list[list[list[float]]]:
    """Product-quantization codebook training (Jégou et al., the standard
    ANN compression stage): split the D-dim space into ``m`` subspaces of
    D/m dims and k-means each to ``n_codes`` codewords — so a vector
    stores as m small codes (m bytes at n_codes=256) instead of D floats,
    a 10²-10³× memory cut that makes billion-vector search feasible.

    Same deterministic k-means-lite recipe as :func:`ivf_build_centroids`
    (seed = id % n_codes, no RNG; fixed-point means so training is
    run/partition-order independent), but ALL m subspaces train in the
    same two jobs per iteration: one posexplode keyed by
    (sub = p // subdim, code) for the means, one narrow projection for
    the reassign. Only the m×n_codes×subdim codebook (= D×n_codes floats)
    ever reaches the driver."""
    first = df.select("embedding").head()
    dim = len(first[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sd = dim // m
    assigned = df.select(
        F.col("embedding").alias("_v"),
        F.array(
            *[(F.col("vec_id") % n_codes).cast("int") for _ in range(m)]
        ).alias("_codes"),
    )
    codebooks: list[list[list[float]]] = []
    for _ in range(iterations):
        rows = (
            assigned.select(
                F.posexplode("_v").alias("_p", "_x"), F.col("_codes")
            )
            .select(
                (F.col("_p") / sd).cast("int").alias("_sub"),
                (F.col("_p") % sd).alias("_d"),
                F.element_at(
                    F.col("_codes"), (F.col("_p") / sd).cast("int") + 1
                ).alias("_code"),
                F.col("_x"),
            )
            .groupBy("_sub", "_code", "_d")
            .agg(
                (
                    F.sum(
                        F.round(F.col("_x").cast("double") * 1e6).cast("long")
                    ).cast("double")
                    / 1e6
                    / F.count(F.lit(1))
                ).alias("_m")
            )
            .collect()
        )
        book: dict[int, dict[int, dict[int, float]]] = {}
        for r in rows:
            book.setdefault(r["_sub"], {}).setdefault(r["_code"], {})[
                r["_d"]
            ] = r["_m"]
        codebooks = [
            [
                [book[s][c][d] for d in sorted(book[s][c])]
                for c in sorted(book[s])
            ]
            for s in sorted(book)
        ]
        assigned = assigned.select(
            "_v", _pq_assign_expr(codebooks, sd, "_v").alias("_codes")
        )
    return codebooks


def _pq_assign_expr(
    codebooks: list[list[list[float]]], sd: int, vec_col: str
) -> Column:
    """array<int> of per-subspace argmin-L2² codeword ids, fully JVM-side
    (struct array_min per subspace; ties break to the LOWEST code id)."""
    subs = []
    for s, book in enumerate(codebooks):
        sub = F.slice(F.col(vec_col), s * sd + 1, sd)
        scored = F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            sub,
                            F.array(*[F.lit(float(x)) for x in cw]),
                            lambda a, b: (a.cast("double") - b)
                            * (a.cast("double") - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("d2"),
                    F.lit(c).alias("code"),
                )
                for c, cw in enumerate(book)
            ]
        )
        subs.append(F.array_min(scored)["code"])
    return F.array(*subs)


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """(id, pq_codes array<int>) — the compressed representation. A
    narrow map (no shuffle); at scale this is what lands in the index
    table, 4-8 bytes per vector instead of 256-1024."""
    sd = len(codebooks[0][0])
    return df.select(
        F.col("vec_id"), _pq_assign_expr(codebooks, sd, "embedding").alias("pq_codes")
    )


def pq_topk(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the query stays full-precision;
    each subspace contributes table[sub][code] = L2²(query_sub, codeword)
    from an m×n_codes lookup table computed driver-side (tiny) and baked
    into the plan as literals. Scoring a vector is m array lookups + a
    sum — no vector math per row at query time, which is the entire point
    of PQ at billion scale. Returns (id, adc_distance) ascending,
    deterministic tie-break on id."""
    sd = len(codebooks[0][0])
    table = [
        [
            sum(
                (float(query_vec[s * sd + d]) - cw[d]) ** 2
                for d in range(sd)
            )
            for cw in book
        ]
        for s, book in enumerate(codebooks)
    ]
    codes = pq_encode(df, codebooks)
    tbl = F.array(
        *[F.array(*[F.lit(round(v, 9)) for v in row]) for row in table]
    )
    dist = F.aggregate(
        F.transform(
            F.col("pq_codes"),
            lambda code, s: F.element_at(
                F.element_at(tbl, s.cast("int") + 1), code + 1
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        codes.select(
            F.col("vec_id"), F.round(dist, 6).alias("adc_distance")
        )
        .orderBy(F.col("adc_distance").asc(), F.col("vec_id").asc())
        .limit(k)
    )


def ivfpq_topk(
    df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-PQ: the standard billion-scale ANN composition — IVF limits
    WHICH vectors are scored (probe the ``nprobe`` cells nearest the
    query; on a real table the cell is a partition key, so this is a
    partition-pruned scan), PQ limits WHAT scoring costs (ADC lookup
    table, no per-row vector math). Memory per indexed vector is m codes
    + a cell id; the full-precision column is only needed at build/
    re-rank time. Returns (id, adc_distance) ascending.

    Residual-free variant (codes quantize the raw vectors, not the
    cell-relative residuals) — simpler, slightly lower recall, same
    plan shape; the recall test pins the composition's floor."""
    import math

    def cos(a: list[float], b: list[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else 0.0

    ranked = sorted(
        range(len(centroids)), key=lambda i: (-cos(centroids[i], query_vec), i)
    )
    probes = ranked[:nprobe]
    candidates = ivf_assign(df, centroids).filter(
        F.col("ivf_cell").isin(probes)
    )
    return pq_topk(candidates, codebooks, query_vec, k)


def semantic_dedup(
    df: DataFrame,
    cluster_col: str,
    threshold: float = 0.4,
) -> DataFrame:
    """SemDeDup-style embedding dedup: within each cluster, drop every
    vector that has a LOWER-id neighbor at cosine ≥ ``threshold``.

    The public SemDeDup recipe (Abbas et al. 2023) k-means-clusters the
    embeddings, then removes near-duplicates only *within* clusters so
    the pairwise cost is Σ|cluster|², never corpus². Here the cluster
    column is a parameter: pass a given partition (the fixture's
    ``label``) for an oracle-exact run, or :func:`ivf_assign` cells from
    :func:`ivf_build_centroids` for the self-contained production path —
    the plan is identical either way (one key-equality join on the
    cluster, one anti join).

    Keep rule: a row survives iff NO lower-id in-cluster neighbor exists
    at or above the threshold (independent-drop variant — the rule
    evaluates against all lower-id rows, not just surviving ones, which
    makes it order-free, single-pass, and expressible as NOT EXISTS for
    the oracle; chained/greedy keeping is :func:`connected_components`'
    job, see d09/d10).

    Scale: the pairwise stage is bounded by the largest cluster
    (choose n_cells so clusters are ~√corpus); nothing is collected.
    """
    # Skipping the pair dedup would be safe here (a cluster is a
    # partition, pairs can't duplicate) but measured SLOWER at sf0.1
    # (same-JVM interleaved min-of-3: 7.06 s vs 4.20 s) — the pair-dedup
    # exchange gives AQE a materialized stage whose runtime stats let it
    # plan the downstream anti join better.
    pairs = pairwise_near_dups(df, threshold=threshold, bucket_col=cluster_col)
    losers = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return df.join(losers, "vec_id", "left_anti")


def semantic_dedup_auto(df: DataFrame, threshold: float = 0.4) -> DataFrame:
    """Scale path for :func:`semantic_dedup` (the verdict's d21 item):
    clusters come from an IVF index sized to the corpus — ``n_cells =
    ceil(n / 256)`` — so the within-cluster pairwise stage
    is bounded at ~n·256 comparisons no matter how the
    corpus grows, instead of inheriting whatever size a given partition
    column happens to have. This IS the published SemDeDup recipe
    (k-means cells ∝ corpus size); the label-cluster form stays the
    oracle-exact twin.

    One bounded driver scalar (the corpus count sizes the codebook) and
    the n_cells×dim centroid matrix are the only driver state — the
    codebook grows as n/256 rows, the standard IVF shape
    (shard or hierarchical k-means past ~1e6 cells). Keep rule and plan
    are :func:`semantic_dedup`'s verbatim: drop every vector with a
    LOWER-id same-cell neighbor at cosine ≥ ``threshold``.

    Returns the surviving rows of ``df`` (cell column projected off).
    """
    n = df.count()
    n_cells = max(4, -(-int(n) // 256))
    centroids = ivf_build_centroids(df, n_cells=n_cells, seed="vectors")
    assigned = ivf_assign(df, centroids)
    return semantic_dedup(
        assigned, cluster_col="ivf_cell", threshold=threshold
    ).drop("ivf_cell")


def rerank_exact(
    df: DataFrame,
    candidates: DataFrame,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Two-stage retrieval's second stage: re-score an ANN candidate set
    (any (id, …) frame — IVF-PQ top-N, LSH bucket hits) with EXACT
    cosine against the full-precision vectors, return the true top-k of
    the candidates. The standard production shape: the ANN stage bounds
    HOW MANY vectors are touched, the re-rank restores exact ordering
    among them — recall is the ANN stage's, precision of the final
    ranking is exact.

    Plan: semi-join the vector table to the candidate ids (broadcast —
    candidates are top-N-sized by construction), then the same
    TakeOrdered top-k as :func:`cosine_topk`. Never scores the corpus.
    """
    ids = candidates.select(F.col("vec_id")).distinct()
    subset = df.join(F.broadcast(ids), "vec_id", "left_semi")
    return cosine_topk(subset, query_vec, k=k)


def mmr_rerank(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    pool: int = 50,
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k.

    Greedy MMR: repeatedly take argmax of
    ``0.5·sim(q,d) − 0.5·max_{s∈selected} sim(d,s)`` — relevance
    traded against redundancy with what's already picked.

    Scale shape: the candidate POOL is selected distributedly (exact
    cosine over the whole corpus, top ``pool`` with deterministic
    tie-break), then the greedy loop runs driver-side over the bounded
    pool — pool×dim floats reach the driver, the IVF-centroid posture
    (bounded metadata, never the corpus). The loop is inherently
    sequential (each pick changes the next score), so distributing it
    buys nothing at k picks from a bounded pool; determinism comes
    from the total order (score DESC, id ASC) at every pick.

    Returns (rank, id, rel, score) for the k picks, floats rounded to
    6 decimals.
    """
    qv = [float(v) for v in query_vec]
    qlit = F.array(*[F.lit(v) for v in qv])
    cand = (
        df.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
        .withColumn(
            "_rel", F.round(cosine_similarity(F.col("_v"), qlit), 6)
        )
        .orderBy(F.col("_rel").desc(), F.col("_id").asc())
        .limit(int(pool))
        .collect()
    )
    import math

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na > 0 and nb > 0 else 0.0

    selected: list = []
    remaining = list(cand)
    while remaining and len(selected) < int(k):
        best = None
        best_key = None
        for r in remaining:
            div = max(
                (cos(r["_v"], s[1]["_v"]) for s in selected),
                default=0.0,
            )
            score = 0.5 * r["_rel"] - (1.0 - 0.5) * div
            key = (score, -r["_id"])
            if best_key is None or key > best_key:
                best, best_key = r, key
        selected.append((round(best_key[0], 6), best))
        remaining.remove(best)
    rows = [
        (i + 1, r["_id"], float(r["_rel"]), float(score))
        for i, (score, r) in enumerate(selected)
    ]
    return df.sparkSession.createDataFrame(
        rows, "rank long, vec_id long, rel double, score double"
    )


def hard_negatives(
    df: DataFrame,
    k: int = 3,
    min_cos: float = 0.2,
    anchor_filter: Column | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    ``k`` most-similar vectors carrying a DIFFERENT label (similarity
    floor ``min_cos`` bounds the candidate set). Directed — every
    anchor ranks its own negatives; ties broken (cosine DESC, id ASC)
    so the mined set is deterministic and oracle-checkable (cosine
    rounded to 6 decimals, the s01/s02 convention).

    Exact all-pairs here — right for the bounded benchmark corpus and
    for verification; at 100 TB run the same ranking over LSH/IVF
    bucket candidates instead (the two-stage s12 posture), which
    changes recall, not the ranking rule. ``anchor_filter`` restricts
    the ANCHOR side only (the negative pool stays full) — per-anchor
    results are independent, so a slice certifies the ranking rule
    exactly at a fraction of the pair volume.
    """
    from pyspark.sql import Window

    sel = df.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_v"),
        F.col("label").alias("_l"),
    )
    anchors = sel if anchor_filter is None else df.filter(
        anchor_filter
    ).select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_v"),
        F.col("label").alias("_l"),
    )
    a, b = anchors.alias("a"), sel.alias("b")
    sim = F.round(cosine_similarity(F.col("a._v"), F.col("b._v")), 6)
    pairs = (
        a.join(
            b,
            (F.col("a._id") != F.col("b._id"))
            & (F.col("a._l") != F.col("b._l")),
        )
        .select(
            F.col("a._id").alias("anchor_id"),
            F.col("b._id").alias("neg_id"),
            sim.alias("cosine"),
        )
        .filter(F.col("cosine") >= float(min_cos))
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("neg_id")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= int(k))
    )


def kmeans_lloyd_exact(
    df: DataFrame,
    k: int = 8,
    rounds: int = 2,
) -> DataFrame:
    """Fully-distributed Lloyd k-means in exact integer arithmetic.

    Complements :func:`ivf_build_centroids` (which collects the tiny
    centroid matrix to the driver for the IVF index path): here the
    centroids STAY distributed as a (cluster, pos, val) long-form
    frame, so the whole iteration is joins + aggregations — the shape
    that runs unchanged on a 1000-executor cluster — and every value
    is an integer, so an external SQL engine replays the identical
    rounds exactly (the repo's oracle contract; float Lloyd is
    accumulation-order nondeterministic).

    Mechanics: components are quantized to
    ``floor(x · 1e6) + 1000000`` (the s08 IEEE-pinned float
    multiply; the offset keeps every value non-negative for components
    ≥ −offset/1e6, so centroid means use truncating div ≡ DuckDB
    floor-div). Seeds are the ``k`` smallest ids (cluster = seed rank
    − 1, no RNG); each round assigns every vector to its argmin
    squared-distance centroid (ties → smallest cluster id) and
    re-averages. A cluster that loses all members simply drops out —
    both engines drop it identically through the group-by.

    Plan shape per round: one broadcast join of the ≤ k·dim centroid
    frame onto the quantized long form (no shuffle), one
    (vec_id, cluster) partial-aggregated sum, one per-vector top-1
    window, one (cluster, pos) re-aggregation. The long form is
    localCheckpoint'ed once so the unrolled lineage never re-explodes
    the source. Overflow bound: diff² ≤ (2·(1e6+offset))² ≈ 1.6e13,
    × dim(64) ≈ 1e15 per vector — far inside BIGINT.

    Returns (vec_id, cluster BIGINT, dist_sq BIGINT) — the final
    assignment and its squared distance in offset-micro space.
    """
    from pyspark.sql import Window

    if k < 1 or rounds < 1:
        raise ValueError("kmeans_lloyd_exact: k and rounds must be >= 1")
    base = quantize_long_form(
        df
    ).localCheckpoint()
    seeds = (
        df.select("vec_id")
        .orderBy("vec_id")
        .limit(int(k))
        .select(
            "vec_id",
            (F.row_number().over(Window.orderBy("vec_id")) - 1)
            .cast("long")
            .alias("cluster"),
        )
    )
    cents = base.join(seeds, "vec_id").select(
        "cluster", "pos", F.col("q").alias("val")
    )
    assign = None
    for r in range(int(rounds)):
        assign = assign_to_centroids(base, cents)
        if r < int(rounds) - 1:
            cents = centroids_from_state(kmeans_state(base, assign))
    return assign


def quantize_long_form(df: DataFrame) -> DataFrame:
    """The (vec_id, pos, q) integer long form :func:`kmeans_lloyd_exact`
    iterates on — factored out so the incremental state maintainer
    shares the exact same quantization (floor(x·1e6) + offset)."""
    return df.select(
        "vec_id",
        F.posexplode("embedding").alias("pos", "_x"),
    ).select(
        "vec_id",
        F.col("pos").cast("long").alias("pos"),
        (
            F.floor(F.col("_x").cast("double") * 1_000_000)
            + F.lit(1_000_000)
        )
        .cast("long")
        .alias("q"),
    )


def assign_to_centroids(base: DataFrame, cents: DataFrame) -> DataFrame:
    """Argmin squared-distance assignment of quantized long-form
    vectors against a (cluster, pos, val) centroid frame — one
    broadcast join + partial-agg sum + per-vector top-1 window, ties
    to the smallest cluster (the km01 kernel, shared with the
    incremental maintainer). Returns (vec_id, cluster, dist_sq)."""
    from pyspark.sql import Window

    diff = F.col("q") - F.col("val")
    d = (
        base.join(F.broadcast(cents), "pos")
        .groupBy("vec_id", "cluster")
        .agg(F.sum(diff * diff).alias("dist_sq"))
    )
    wa = Window.partitionBy("vec_id").orderBy(
        F.col("dist_sq").asc(), F.col("cluster").asc()
    )
    return (
        d.withColumn("_rn", F.row_number().over(wa))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "cluster", "dist_sq")
    )


def kmeans_state(base: DataFrame, assign: DataFrame) -> DataFrame:
    """Additive cluster state (cluster, pos, sum_q, n) from an
    assignment — the integer sufficient statistic a centroid is
    derived from (``val = sum_q div n``). Sums and counts merge under
    addition, so per-batch states roll up exactly (the maintain_rollup
    taxonomy: this is the all-additive case)."""
    return (
        assign.select("vec_id", "cluster")
        .join(base, "vec_id")
        .groupBy("cluster", "pos")
        .agg(
            F.sum("q").cast("long").alias("sum_q"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )


def centroids_from_state(state: DataFrame) -> DataFrame:
    """(cluster, pos, val) centroids from the additive state —
    truncating div on non-negative sums, the km01 arithmetic."""
    return state.select(
        "cluster", "pos", F.expr("sum_q div n").cast("long").alias("val")
    )


def knn_classify(df: DataFrame, k: int = 5) -> DataFrame:
    """k-NN majority-vote label assignment — the label-transfer /
    auto-labeling pass a curation pipeline runs to propagate a small
    labeled set onto unlabeled vectors (here every vector votes for
    every other, the leave-one-out self-consistency variant).

    Exact top-k by cosine via :func:`cosine_pairs_blocked` at
    threshold −1 (all pairs — recall exactly 1; at corpus scale swap
    in :func:`lsh_near_pairs`/:func:`ivf_topk` candidates, the vote is
    unchanged). Fully deterministic: neighbor rank breaks cosine ties
    by neighbor id ascending, the vote breaks count ties by label
    ascending — so a SQL oracle with the same two row_numbers agrees
    exactly.

    Returns (``vec_id``, pred_label BIGINT, votes BIGINT).
    """
    if k < 1:
        raise ValueError("knn_classify: k must be >= 1")
    labels = df.select(
        F.col("vec_id").alias("_nbr"), F.col("label").cast("long").alias("_nl")
    )
    pairs = cosine_pairs_blocked(df, threshold=-1.0)
    # r14 note: a lazy checkpoint on the pair kernel (it feeds both
    # symmetrization arms) was A/B'd and measured a wash-to-worse at
    # idle (med 1.47 -> 1.57 s at sf0.1) - AQE exchange reuse already
    # dedupes the kernel below the union - so it stays lazy.
    sym = pairs.select(
        F.col("id_a").alias("_id"), F.col("id_b").alias("_nbr"), "cosine"
    ).unionAll(
        pairs.select(
            F.col("id_b").alias("_id"), F.col("id_a").alias("_nbr"), "cosine"
        )
    )
    rank_w = Window.partitionBy("_id").orderBy(
        F.desc("cosine"), F.asc("_nbr")
    )
    topk = (
        sym.withColumn("_rn", F.row_number().over(rank_w))
        .filter(F.col("_rn") <= k)
        .join(labels, "_nbr")
    )
    return _majority_vote(topk, "vec_id")


def _majority_vote(topk: DataFrame, id_col: str) -> DataFrame:
    """Shared k-NN vote tail: (_id, _nl) neighbor-label rows →
    (id, pred_label, votes); count ties break by label ascending."""
    votes = topk.groupBy("_id", "_nl").agg(F.count(F.lit(1)).alias("votes"))
    vote_w = Window.partitionBy("_id").orderBy(F.desc("votes"), F.asc("_nl"))
    return (
        votes.withColumn("_vr", F.row_number().over(vote_w))
        .filter(F.col("_vr") == 1)
        .select(
            F.col("_id").alias(id_col),
            F.col("_nl").alias("pred_label"),
            F.col("votes").cast("long").alias("votes"),
        )
    )


def knn_classify_ivf(df: DataFrame, k: int = 5, nprobe: int = 2) -> DataFrame:
    """Scale path for :func:`knn_classify` (the verdict's knn01 item):
    candidates come from an IVF index instead of the exact all-pairs
    kernel, so FLOPs are ~nprobe·n·cell_size rather than n². The
    codebook is sized to the corpus — ``n_cells = max(16, ceil(n /
    256))`` — so cell size, and with it per-vector candidate work,
    stays BOUNDED as the corpus
    grows (a fixed n_cells would re-grow cells linearly with n and be
    quadratic again, the embeddings probe's 4× point showed exactly
    that); one bounded count() sizes it.

    Plan: build deterministic IVF centroids (:func:`ivf_build_centroids`
    — id-seeded, no RNG), assign every corpus vector to its argmax cell,
    and give every QUERY vector its top-``nprobe`` cells (JVM-side
    array_sort of (score, cell) structs; the first probe is exactly
    :func:`ivf_assign`'s cell, ties to the highest cell id). Candidates
    = corpus vectors in a probed cell; exact cosine ranks the top-k
    within them (cosine ties → neighbor id asc), then the same majority
    vote as the exact form (count ties → label asc). A neighbor lives in
    exactly ONE cell, so no candidate pair duplicates — one key-equality
    shuffle on the cell id, nothing on the driver but the centroid
    matrix.

    Recall is the IVF stage's (≥ nprobe/n_cells coverage of the true
    neighborhood, 1.0 when a vector's true neighbors share its cells);
    the exact form at ``threshold=-1`` is the conformance twin.

    Returns (``vec_id``, pred_label BIGINT, votes BIGINT).
    """
    if k < 1:
        raise ValueError("knn_classify_ivf: k must be >= 1")
    n_cells = max(16, -(-df.count() // 256))
    nprobe = min(int(nprobe), int(n_cells))
    centroids = ivf_build_centroids(df, n_cells=n_cells, seed="vectors")
    corpus = ivf_assign(df, centroids).select(
        F.col("ivf_cell").alias("_cell"),
        F.col("vec_id").alias("_nbr"),
        F.col("embedding").alias("_nv"),
        F.col("label").cast("long").alias("_nl"),
    )
    scored = F.array(
        *[
            F.struct(
                cosine_similarity(
                    F.col("embedding"), F.array(*[F.lit(float(x)) for x in c])
                ).alias("score"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    probes = F.slice(F.reverse(F.array_sort(scored)), 1, nprobe)
    queries_df = df.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_qv"),
        F.explode(F.transform(probes, lambda s: s["cell"])).alias("_cell"),
    )
    sim = F.round(cosine_similarity(F.col("_qv"), F.col("_nv")), 6)
    cand = (
        queries_df.join(corpus, "_cell")
        .filter(F.col("_id") != F.col("_nbr"))
        .select("_id", "_nbr", "_nl", sim.alias("cosine"))
    )
    rank_w = Window.partitionBy("_id").orderBy(F.desc("cosine"), F.asc("_nbr"))
    topk = (
        cand.withColumn("_rn", F.row_number().over(rank_w))
        .filter(F.col("_rn") <= k)
    )
    return _majority_vote(topk, "vec_id")


def nearest_centroid_confusion(df: DataFrame) -> DataFrame:
    """Nearest-centroid classification + confusion matrix: assign every
    vector to the label whose fixed-point centroid it is most cosine-
    similar to, then count (true_label, pred_label) cells — the
    embedding-quality eval a labeling pipeline runs ("are the clusters
    actually separable?").

    Centroids use the same engine-exact fixed-point mean as the s05
    surface (round(v·1e6)→int sum→half-up div), so an external engine
    rebuilds bit-identical centroid doubles; similarities are round-6
    cosines with (label asc) tie-break. The centroid frame is one row
    per label — broadcast, so classification is a map-side cross join,
    no shuffle beyond the tiny centroid aggregation.

    Returns (true_label BIGINT, pred_label BIGINT, n BIGINT).
    """
    from learn_etl_data_warehouse_spark.functions.aggregates import (
        fixed_point_avg,
    )

    ex = df.select(
        F.col("label").alias("_cl"), F.posexplode("embedding").alias("_p", "_v")
    )
    cent_long = ex.groupBy("_cl", "_p").agg(
        fixed_point_avg(F.col("_v").cast("double"), 1_000_000, 6).alias("_c")
    )
    cents = cent_long.groupBy("_cl").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_p", "_c"))),
            lambda s: s["_c"],
        ).alias("_cv")
    )
    sim = F.round(
        cosine_similarity(F.col("embedding"), F.col("_cv")), 6
    ).alias("_sim")
    scored = df.select(
        F.col("vec_id").alias("_id"),
        F.col("label").cast("long").alias("_true"),
        "embedding",
    ).crossJoin(F.broadcast(cents)).select("_id", "_true", "_cl", sim)
    pick = Window.partitionBy("_id").orderBy(F.desc("_sim"), F.asc("_cl"))
    return (
        scored.withColumn("_rn", F.row_number().over(pick))
        .filter(F.col("_rn") == 1)
        .groupBy(
            F.col("_true").alias("true_label"),
            F.col("_cl").cast("long").alias("pred_label"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def knn_label_agreement(df: DataFrame, k: int = 5) -> DataFrame:
    """k-NN LABEL-AGREEMENT audit: per vector, how many of its k exact
    nearest neighbors (cosine) carry the vector's OWN label — the
    cluster-purity / mislabel-detection diagnostic (a point whose
    neighborhood disagrees with its label is the standard label-noise
    candidate; Northcutt-style confident-learning starts here). The
    complement of knn01: that PREDICTS a label from the neighborhood,
    this SCORES the given label against it.

    Same exact kernel (cosine_pairs_blocked at threshold −1, ranked by
    (cosine DESC, neighbor id)), so determinism and the oracle story
    are knn01's; the agreement rate is truncating ppm over the
    neighbors actually present (a corpus smaller than k+1 shrinks the
    denominator, never divides by zero — singleton corpora emit no
    pairs and the vector keeps n_neighbors = 0 via the left join with
    agree_ppm NULL).

    Returns (``vec_id``, label, n_neighbors, agree_n, agree_ppm).
    """
    if k < 1:
        raise ValueError("knn_label_agreement: k must be >= 1")
    own = df.select(
        F.col("vec_id").alias("_id"),
        F.col("label").cast("long").alias("_ol"),
    )
    labels = df.select(
        F.col("vec_id").alias("_nbr"),
        F.col("label").cast("long").alias("_nl"),
    )
    pairs = cosine_pairs_blocked(df, threshold=-1.0)
    # r14 note: a lazy checkpoint on the pair kernel (it feeds both
    # symmetrization arms) was A/B'd and measured a wash-to-worse at
    # idle (med 1.47 -> 1.57 s at sf0.1) - AQE exchange reuse already
    # dedupes the kernel below the union - so it stays lazy.
    sym = pairs.select(
        F.col("id_a").alias("_id"), F.col("id_b").alias("_nbr"), "cosine"
    ).unionAll(
        pairs.select(
            F.col("id_b").alias("_id"), F.col("id_a").alias("_nbr"), "cosine"
        )
    )
    rank_w = Window.partitionBy("_id").orderBy(
        F.desc("cosine"), F.asc("_nbr")
    )
    topk = (
        sym.withColumn("_rn", F.row_number().over(rank_w))
        .filter(F.col("_rn") <= k)
        .join(labels, "_nbr")
        .join(own, "_id")
    )
    agg = topk.groupBy("_id", "_ol").agg(
        F.count(F.lit(1)).cast("long").alias("n_neighbors"),
        F.sum(F.when(F.col("_nl") == F.col("_ol"), 1).otherwise(0))
        .cast("long")
        .alias("agree_n"),
    )
    return own.join(agg, ["_id", "_ol"], "left").select(
        F.col("_id").alias("vec_id"),
        F.col("_ol").alias("label"),
        F.coalesce("n_neighbors", F.lit(0)).cast("long").alias(
            "n_neighbors"
        ),
        F.coalesce("agree_n", F.lit(0)).cast("long").alias("agree_n"),
        F.expr(
            "CASE WHEN n_neighbors > 0 THEN"
            " (1000000 * agree_n) div n_neighbors END"
        )
        .cast("long")
        .alias("agree_ppm"),
    )


def core_density(
    df: DataFrame,
    threshold: float = 0.4,
    min_pts: int = 4,
) -> DataFrame:
    """DBSCAN-style CORE-POINT density audit: per vector, the exact
    count of neighbors with cosine ≥ ``threshold``, and the core flag
    (count ≥ ``min_pts``) — the density-estimation half of DBSCAN
    (the clustering half is :func:`~..dedup.connected_components` over
    the core subgraph, d10's loop). Embedding-space density is the
    signal a curation pipeline reads for over-represented regions
    that near-dup thresholds miss.

    Neighbor counts come from :func:`cosine_pairs_blocked` (exact,
    recall 1, nothing driver-side); each undirected pair contributes
    to both endpoints; isolated vectors report 0 via the left join.
    Returns (vec_id, n_neighbors, is_core ∈ {0, 1})."""
    pairs = cosine_pairs_blocked(df, threshold)
    ends = pairs.select(F.col("id_a").alias("vec_id")).unionAll(
        pairs.select(F.col("id_b").alias("vec_id"))
    )
    counts = ends.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_neighbors")
    )
    return (
        df.select("vec_id")
        .join(counts, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("n_neighbors", F.lit(0))
            .cast("long")
            .alias("n_neighbors"),
            (F.coalesce("n_neighbors", F.lit(0)) >= int(min_pts))
            .cast("long")
            .alias("is_core"),
        )
    )


def centroid_margin_quality(df: DataFrame) -> DataFrame:
    """CLUSTER-QUALITY audit via the centroid margin — the simplified-
    silhouette idea in the repo's exact-integer form: per vector,
    margin = cos(v, own-label centroid) − max over OTHER labels of
    cos(v, centroid), both as round-6 cosines lifted to integer micro
    (the s02/ml01 precedent: round-6 cosines are cross-engine equal, so
    their micro lift is exact). A NEGATIVE margin means the point sits
    closer to another label's centroid — the misfit ml01's confusion
    matrix counts as a miss, here quantified per label with the margin
    mass kept UNDIVIDED (signed sums never divide — the fc02 bias
    discipline).

    Same plan as ml01: fixed-point centroids (one tiny agg, broadcast),
    map-side scoring, one label-grain agg. Returns per label: (label,
    n, n_misfit, misfit_ppm, sum_margin_micro)."""
    from learn_etl_data_warehouse_spark.functions.aggregates import (
        fixed_point_avg,
    )

    ex = df.select(
        F.col("label").alias("_cl"), F.posexplode("embedding").alias("_p", "_v")
    )
    cent_long = ex.groupBy("_cl", "_p").agg(
        fixed_point_avg(F.col("_v").cast("double"), 1_000_000, 6).alias("_c")
    )
    cents = cent_long.groupBy("_cl").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_p", "_c"))),
            lambda s: s["_c"],
        ).alias("_cv")
    )
    sim_micro = F.round(
        F.round(cosine_similarity(F.col("embedding"), F.col("_cv")), 6)
        * 1_000_000
    ).cast("long")
    scored = (
        df.select(
            F.col("vec_id").alias("_id"),
            F.col("label").cast("long").alias("_true"),
            "embedding",
        )
        .crossJoin(F.broadcast(cents))
        .select("_id", "_true", "_cl", sim_micro.alias("_m"))
    )
    per = scored.groupBy("_id", "_true").agg(
        F.max(
            F.when(F.col("_cl").cast("long") == F.col("_true"), F.col("_m"))
        ).alias("_own"),
        F.max(
            F.when(F.col("_cl").cast("long") != F.col("_true"), F.col("_m"))
        ).alias("_other"),
    )
    margin = (F.col("_own") - F.col("_other")).cast("long")
    return (
        per.select(F.col("_true").alias("label"), margin.alias("_mg"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((F.col("_mg") < 0).cast("long")).cast("long").alias(
                "n_misfit"
            ),
            F.sum("_mg").cast("long").alias("sum_margin_micro"),
        )
        .select(
            "label",
            "n",
            "n_misfit",
            F.expr("(1000000 * n_misfit) div n").cast("long").alias(
                "misfit_ppm"
            ),
            "sum_margin_micro",
        )
    )


def ivf_recall_audit(emb: DataFrame) -> DataFrame:
    """Oracle-exact IVF recall audit — the d38 pattern applied to the
    ANN cell geometry: per-``nprobe`` capture of the EXACT cosine top-k,
    in integer ppm, over a bounded deterministic query budget.

    Geometry is the production IVF shape (argmax-cosine cell
    assignment, ties to the HIGHEST cell like :func:`ivf_assign`; query
    cell ranking ties to the LOWEST cell like :func:`ivf_topk`) at
    round-6 cosine precision so both engines agree bit-for-bit — the
    d21/km01 twin discipline: the audit pins the recall curve of the
    geometry; s06/s11 remain the production kernels.

    Capture needs no materialized IVF top-k: an exact-top-k member
    whose cell is probed ALWAYS survives the candidate top-k (anything
    outranking it among candidates outranks it globally, and fewer
    than k rows do), so ``captured(nprobe) = #{exact top-k rows whose
    cell rank <= nprobe}`` exactly.

    Scale posture: centroids and the query set are fixed budgets
    (8 rows, ``<= 2000/100`` queries) broadcast to
    every executor; assignment is a row-linear N x 8 scan and the
    ground truth a Q x N broadcast join — linear in the table at fixed
    audit budget, no all-pairs anywhere."""
    spark = emb.sparkSession
    cos6 = lambda a, b: F.round(cosine_similarity(a, b), 6)  # noqa: E731
    cents = F.broadcast(
        emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("_cell"), F.col("embedding").alias("_cv")
        )
    )
    assign = (
        emb.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
        .join(cents)
        .select(
            "_vid", "_cell", cos6(F.col("_v"), F.col("_cv")).alias("_cs")
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_vid").orderBy(
                    F.desc("_cs"), F.desc("_cell")
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .select("_vid", "_cell")
    )
    queries = F.broadcast(
        emb.filter(
            (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000)
        ).select(F.col("vec_id").alias("_qid"), F.col("embedding").alias("_qv"))
    )
    qcell = (
        queries.join(cents)
        .select(
            "_qid", "_cell", cos6(F.col("_qv"), F.col("_cv")).alias("_cs")
        )
        .withColumn(
            "_cell_rank",
            F.row_number().over(
                Window.partitionBy("_qid").orderBy(
                    F.desc("_cs"), F.asc("_cell")
                )
            ),
        )
        .select("_qid", "_cell", "_cell_rank")
    )
    gt = (
        emb.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
        .join(queries, F.col("_vid") != F.col("_qid"))
        .select(
            "_qid", "_vid", cos6(F.col("_v"), F.col("_qv")).alias("_cs")
        )
        .withColumn(
            "_rnk",
            F.row_number().over(
                Window.partitionBy("_qid").orderBy(
                    F.desc("_cs"), F.asc("_vid")
                )
            ),
        )
        .filter(F.col("_rnk") <= 10)
        .select("_qid", "_vid")
    )
    hit = gt.join(assign, "_vid").join(F.broadcast(qcell), ["_qid", "_cell"])
    grid = F.broadcast(
        spark.createDataFrame([(int(n),) for n in (1, 2, 4, 8)], "nprobe long")
    )
    nq = queries.agg(F.count(F.lit(1)).alias("_nq"))
    return (
        grid.join(hit)
        .groupBy("nprobe")
        .agg(
            F.sum(
                (F.col("_cell_rank") <= F.col("nprobe")).cast("long")
            ).alias("captured")
        )
        .join(nq)
        .select(
            "nprobe",
            "captured",
            (F.lit(10) * F.col("_nq")).cast("long").alias("expected"),
            F.expr("(1000000 * captured) div (10 * _nq)")
            .cast("long")
            .alias("recall_ppm"),
        )
        .orderBy("nprobe")
    )


def _l2sq_micros_col(a: Column, b: Column, idxs: list[int]) -> Column:
    """floor(1e6 · Σ (a[i]−b[i])²) over 1-BASED positions ``idxs`` as a
    LEFT-ASSOCIATIVE chain of double adds — the token-for-token twin of
    :func:`l2sq_micros_sql`, so both engines evaluate the identical
    IEEE expression tree (floats widened to double BEFORE arithmetic;
    float-typed subtraction would round differently)."""
    s = None
    for i in idxs:
        d = F.element_at(a, i).cast("double") - F.element_at(b, i).cast(
            "double"
        )
        t = d * d
        s = t if s is None else s + t
    return F.floor(s * F.lit(1000000.0)).cast("long")


def l2sq_micros_sql(a: str, b: str, idxs: list[int]) -> str:
    """The DuckDB twin of :func:`_l2sq_micros_col`: same 1-based
    positions, same left-associative add chain, same cast-to-double-
    first discipline, same floor(×1e6) lift. ONE Python loop shape
    feeds both engines (the a15/ml07 mirroring discipline)."""
    terms = [
        f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        f" * (CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        for i in idxs
    ]
    return f"CAST(floor(({' + '.join(terms)}) * 1000000) AS BIGINT)"


def pq_adc_recall_audit(emb: DataFrame) -> DataFrame:
    """Oracle-exact PQ/ADC recall audit — d38's measured-capture
    discipline for the product-quantization path: ADC top-k vs the
    exact L2 top-k over a bounded query budget, as a recall CURVE over
    codebook sizes 4, 8 and 16, in integer ppm. The grid is
    prefix-nested — the n-code codebook is codewords 0..n-1 of the
    largest — so per-(vector, sub, code) distances are computed ONCE
    and each grid point is an argmin over a prefix.

    Twin-geometry framing (the d21/km01 pattern): codebooks are the
    SEED codewords — subvectors of the 16 smallest-id
    vectors, i.e. :func:`pq_train` at round 0 — and every distance is
    floor-micro integer (:func:`_l2sq_micros_col`), so the DuckDB
    oracle reproduces the audit bit-for-bit. :func:`pq_topk`'s trained
    float codebooks stay the production kernel (recall-tested
    in-repo); this audits the ADC mechanism itself: per-subspace
    argmin code assignment (ties to the LOWEST code, like
    ``_pq_assign_expr``), an m x n lookup table per query, score =
    sum of m lookups.

    Scale posture: codebooks and queries are fixed budgets broadcast
    everywhere; assignment is row-linear (N x 28 x m
    bounded expressions), ADC a (grid, sub, code)-key join, ground
    truth a Q x N broadcast join — linear in the table at fixed audit
    budget."""
    spark = emb.sparkSession
    n_max = 16
    # The dimension is the embeddings fixture's 64, declared here and
    # NOT probed with a .head() — an eager driver job at
    # plan-construction time made this the one non-lazy q_* builder
    # (r12 ADVICE). ArrayType carries no length in the schema; a wrong
    # dim fails loudly (ANSI element_at past the array end throws).
    sd = 64 // 4
    sub_idxs = [list(range(s * sd + 1, (s + 1) * sd + 1)) for s in range(4)]
    cents = F.broadcast(
        emb.filter(F.col("vec_id") < n_max).select(
            F.col("vec_id").alias("_code"), F.col("embedding").alias("_cv")
        )
    )
    queries = F.broadcast(
        emb.filter(
            (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000)
        ).select(F.col("vec_id").alias("_qid"), F.col("embedding").alias("_qv"))
    )
    grid = F.broadcast(
        spark.createDataFrame(
            [(int(n),) for n in (4, 8, 16)], "n_codes long"
        )
    )

    def _per_sub(a: str, b: str, out: str) -> list:
        frames = []
        for s in range(4):
            frames.append(
                F.struct(
                    F.lit(s).cast("long").alias("_sub"),
                    _l2sq_micros_col(F.col(a), F.col(b), sub_idxs[s]).alias(
                        out
                    ),
                )
            )
        return frames

    l2all = (
        emb.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
        .join(cents)
        .select(
            "_vid",
            "_code",
            F.explode(F.array(*_per_sub("_v", "_cv", "_l2"))).alias("_e"),
        )
        .select("_vid", "_code", F.col("_e._sub").alias("_sub"),
                F.col("_e._l2").alias("_l2"))
    )
    assign = (
        grid.join(l2all, F.col("_code") < F.col("n_codes"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("n_codes", "_vid", "_sub").orderBy(
                    F.asc("_l2"), F.asc("_code")
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .select("n_codes", "_vid", "_sub", "_code")
    )
    qtable = (
        queries.join(cents)
        .select(
            "_qid",
            "_code",
            F.explode(F.array(*_per_sub("_qv", "_cv", "_t"))).alias("_e"),
        )
        .select("_qid", "_code", F.col("_e._sub").alias("_sub"),
                F.col("_e._t").alias("_t"))
    )
    adc = (
        assign.join(F.broadcast(qtable), ["_sub", "_code"])
        .filter(F.col("_vid") != F.col("_qid"))
        .groupBy("n_codes", "_qid", "_vid")
        .agg(F.sum("_t").alias("_adc"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("n_codes", "_qid").orderBy(
                    F.asc("_adc"), F.asc("_vid")
                )
            ),
        )
        .filter(F.col("_rn") <= 10)
        .select("n_codes", "_qid", "_vid")
    )
    exact = (
        emb.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
        .join(queries, F.col("_vid") != F.col("_qid"))
        .select(
            "_qid",
            "_vid",
            _l2sq_micros_col(
                F.col("_v"), F.col("_qv"), list(range(1, 65))
            ).alias("_l2"),
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_qid").orderBy(
                    F.asc("_l2"), F.asc("_vid")
                )
            ),
        )
        .filter(F.col("_rn") <= 10)
        .select("_qid", "_vid")
    )
    nq = queries.agg(F.count(F.lit(1)).alias("_nq"))
    return (
        adc.join(exact, ["_qid", "_vid"])
        .groupBy("n_codes")
        .agg(F.count(F.lit(1)).cast("long").alias("captured"))
        .join(nq)
        .select(
            "n_codes",
            "captured",
            (F.lit(10) * F.col("_nq")).cast("long").alias("expected"),
            F.expr("(1000000 * captured) div (10 * _nq)")
            .cast("long")
            .alias("recall_ppm"),
        )
        .orderBy("n_codes")
    )

def hyperplane_recall_audit(
    emb: DataFrame,
    n_bits: int = 8,
    k: int = 10,
    query_mod: int = 100,
    query_cap: int = 2000,
    radii: tuple[int, ...] = (0, 1, 2),
) -> DataFrame:
    """Oracle-exact hyperplane-LSH recall audit (s17) — the third leg of
    the ANN audit matrix (LSH banding d38, IVF s15, PQ/ADC s16): per
    multi-probe HAMMING RADIUS capture of the exact cosine top-k, in
    integer ppm, over a bounded deterministic query budget.

    Geometry is the sign-random-projection hash in its oracle-
    expressible form: bit j of a vector's bucket is
    ``proj_q(v, j) >= 0`` where proj_q is :func:`random_projection`'s
    md5-±1-sign INTEGER projection (the s08 discipline — cross-engine
    exact by construction, no float hyperplane dot anywhere). The
    float-hyperplane kernels (:func:`add_lsh_buckets` / :func:`lsh_topk`)
    stay the production path; this audits the hyperplane-LSH MECHANISM
    — same bucket geometry class, recall curve driver-checkable.

    Capture needs no materialized LSH top-k (the s15 argument): the
    radius-r candidate set is every vector within Hamming r of the
    query's bucket, and an exact-top-k member inside the candidate set
    always survives the candidate exact-cosine top-k (anything
    outranking it among candidates outranks it globally, and fewer
    than k rows do) — so ``captured(r) = #{exact top-k rows with
    hamming(bucket_v, bucket_q) <= r}`` exactly. ``lsh_topk``'s
    1-bit-flip multi-probe is radius 1; radius 0 is the plain bucket.

    Scale posture: bits are one s08 projection pass (row-linear,
    dim x n_bits bounded fanout); query bits are a broadcast fixed
    budget; ground truth a Q x N broadcast join; the hamming join is
    k x Q x n_bits rows. Linear in the table at fixed audit budget, no
    all-pairs anywhere."""
    spark = emb.sparkSession
    cos6 = lambda a, b: F.round(cosine_similarity(a, b), 6)  # noqa: E731
    bits = random_projection(emb, k=n_bits).select(
        F.col("vec_id").alias("_vid"),
        F.col("j").alias("_j"),
        (F.col("proj_q") >= 0).cast("int").alias("_bit"),
    )
    # r14 note: a lazy checkpoint on the 2×-consumed bits projection
    # was A/B'd twice at idle and measured a wash (2.57/2.58, then
    # 2.61/2.47 — sign flips inside noise); left lazy.
    qbits = F.broadcast(
        bits.filter(
            (F.col("_vid") % query_mod == 0) & (F.col("_vid") < query_cap)
        ).select(
            F.col("_vid").alias("_qid"),
            "_j",
            F.col("_bit").alias("_qbit"),
        )
    )
    queries = F.broadcast(
        emb.filter(
            (F.col("vec_id") % query_mod == 0) & (F.col("vec_id") < query_cap)
        ).select(F.col("vec_id").alias("_qid"), F.col("embedding").alias("_qv"))
    )
    gt = (
        emb.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
        .join(queries, F.col("_vid") != F.col("_qid"))
        .select(
            "_qid", "_vid", cos6(F.col("_v"), F.col("_qv")).alias("_cs")
        )
        .withColumn(
            "_rnk",
            F.row_number().over(
                Window.partitionBy("_qid").orderBy(
                    F.desc("_cs"), F.asc("_vid")
                )
            ),
        )
        .filter(F.col("_rnk") <= k)
        .select("_qid", "_vid")
    )
    ham = (
        gt.join(bits, "_vid")
        .join(qbits, ["_qid", "_j"])
        .groupBy("_qid", "_vid")
        .agg(
            F.sum((F.col("_bit") != F.col("_qbit")).cast("long")).alias(
                "_h"
            )
        )
    )
    grid = F.broadcast(
        spark.createDataFrame([(int(r),) for r in radii], "radius long")
    )
    nq = queries.agg(F.count(F.lit(1)).alias("_nq"))
    return (
        grid.join(ham)
        .groupBy("radius")
        .agg(
            F.sum((F.col("_h") <= F.col("radius")).cast("long")).alias(
                "captured"
            )
        )
        .join(nq)
        .select(
            "radius",
            "captured",
            (F.lit(int(k)) * F.col("_nq")).cast("long").alias("expected"),
            F.expr(f"(1000000 * captured) div ({k} * _nq)")
            .cast("long")
            .alias("recall_ppm"),
        )
        .orderBy("radius")
    )

def davies_bouldin_cosine(df: DataFrame) -> DataFrame:
    """DAVIES–BOULDIN cluster-quality index, cosine variant (km02) —
    the within/between summary next to ml08's per-point margins: per
    cluster, scatter = mean cosine DISSIMILARITY to the own centroid
    and r_max = the worst (scatter_i + scatter_j) / separation_ij over
    other clusters — high r_max means some neighbor cluster overlaps
    this one. The classic index is the mean of r_max; the per-cluster
    rows are kept so the OFFENDING clusters are visible (sum/divide in
    the consumer's float world if the scalar is wanted).

    Exact-integer discipline: centroids are fixed-point means (the
    ml01/ml08 twin pattern), every cosine is the round-6 micro lift
    (cross-engine equal — the s02 precedent), dissimilarity =
    1e6 − cos_micro is non-negative, scatter's mean and r's ratio are
    truncating div. Identical centroids (separation 0) yield NULL
    r_max rather than a division blow-up.

    Plan: one tiny centroid agg (k×dim), broadcast everywhere; one
    map-side own-centroid pass + label-grain agg; a k²-bounded
    centroid cross for separations. Labels play the cluster role so
    the oracle is expressible (the d21 label-cluster twin discipline);
    production clusterings feed km01's assignment in as labels."""
    from learn_etl_data_warehouse_spark.functions.aggregates import (
        fixed_point_avg,
    )

    ex = df.select(
        F.col("label").alias("_cl"), F.posexplode("embedding").alias("_p", "_v")
    )
    cent_long = ex.groupBy("_cl", "_p").agg(
        fixed_point_avg(F.col("_v").cast("double"), 1_000_000, 6).alias("_c")
    )
    cents = cent_long.groupBy("_cl").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_p", "_c"))),
            lambda s: s["_c"],
        ).alias("_cv")
    )
    cos_micro = lambda a, b: F.round(  # noqa: E731
        F.round(cosine_similarity(a, b), 6) * 1_000_000
    ).cast("long")
    own = (
        df.select(
            F.col("label").cast("long").alias("_l"),
            F.col("embedding").alias("_ev"),
        )
        .join(
            F.broadcast(cents), F.col("_cl").cast("long") == F.col("_l")
        )
        .select(
            "_l",
            (F.lit(1_000_000) - cos_micro(F.col("_ev"), F.col("_cv"))).alias(
                "_diss"
            ),
        )
    )
    sc = own.groupBy("_l").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_diss").cast("long").alias("_sd"),
    ).select(
        F.col("_l").alias("label"),
        "n",
        F.expr("_sd div n").cast("long").alias("scatter_micro"),
    )
    # fresh names at select for the centroid self-cross (the fp03
    # attribute-id lesson)
    a = cents.select(
        F.col("_cl").cast("long").alias("_li"), F.col("_cv").alias("_vi")
    )
    b = cents.select(
        F.col("_cl").cast("long").alias("_lj"), F.col("_cv").alias("_vj")
    )
    d = (
        a.join(F.broadcast(b), F.col("_li") != F.col("_lj"))
        .select(
            "_li",
            "_lj",
            (
                F.lit(1_000_000) - cos_micro(F.col("_vi"), F.col("_vj"))
            ).alias("_dij"),
        )
    )
    si = sc.select(
        F.col("label").alias("_li"), F.col("scatter_micro").alias("_si")
    )
    sj = sc.select(
        F.col("label").alias("_lj"), F.col("scatter_micro").alias("_sj")
    )
    r = (
        d.join(F.broadcast(si), "_li")
        .join(F.broadcast(sj), "_lj")
        .groupBy("_li")
        .agg(
            F.max(
                F.when(
                    F.col("_dij") > 0,
                    F.expr("(1000000 * (_si + _sj)) div _dij"),
                )
            ).cast("long").alias("r_max_ppm")
        )
        .select(F.col("_li").alias("label"), "r_max_ppm")
    )
    return sc.join(r, "label", "left").select(
        "label", "n", "scatter_micro", "r_max_ppm"
    )

def rerank_recall_audit(emb: DataFrame) -> DataFrame:
    """Oracle-exact TWO-STAGE RERANK recall audit (s18) — the s12
    pipeline's audit, completing the ANN matrix's last leg: IVF cell
    probe (s15 geometry) → ADC candidate ranking (s16 geometry) →
    exact re-rank of the top ``rerank_m`` candidates, measured as
    capture of the exact L2 top-k per rerank budget, integer ppm.

    The capture argument composes s15's: an exact-top-k member
    survives the final exact re-rank iff it reaches the re-rank pool —
    i.e. its cell is probed AND its ADC rank among probed-cell
    candidates is <= rerank_m (anything exact-outranking it in the
    pool exact-outranks it globally, and fewer than k do). So
    ``captured(m') = #{gt: cell_rank <= nprobe AND adc_rank <= m'}``
    with no materialized final ranking. The measured curve answers THE
    two-stage tuning question: how big must the re-rank pool be before
    the ADC stage stops costing recall.

    All geometry is the established twin kit: argmax-round-6-cosine
    cells (ties high, queries tie low — ivf_assign/ivf_topk), seed
    codebooks = the 16 smallest-id vectors (pq_train round
    0), every distance a floor-micro integer from
    :func:`_l2sq_micros_col` / :func:`l2sq_micros_sql`. Fixed audit
    budgets broadcast everywhere; the ADC candidate ranking is the one
    data-proportional window (per query, vectors in probed cells —
    the same cost class as s15's assignment scan)."""
    spark = emb.sparkSession
    cos6 = lambda a, b: F.round(cosine_similarity(a, b), 6)  # noqa: E731
    first_dim = 64
    if first_dim % 4 != 0:
        raise ValueError(f"dim {first_dim} not divisible by m=4")
    sd = first_dim // 4
    sub_idxs = [list(range(s * sd + 1, (s + 1) * sd + 1)) for s in range(4)]
    cents = F.broadcast(
        emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("_cell"), F.col("embedding").alias("_cv")
        )
    )
    codes = F.broadcast(
        emb.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("_code"), F.col("embedding").alias("_kv")
        )
    )
    queries = F.broadcast(
        emb.filter(
            (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000)
        ).select(F.col("vec_id").alias("_qid"), F.col("embedding").alias("_qv"))
    )
    assign = (
        emb.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
        .join(cents)
        .select(
            "_vid", "_cell", cos6(F.col("_v"), F.col("_cv")).alias("_cs")
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_vid").orderBy(
                    F.desc("_cs"), F.desc("_cell")
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .select("_vid", "_cell")
    )
    qcell = F.broadcast(
        queries.join(cents)
        .select(
            "_qid", "_cell", cos6(F.col("_qv"), F.col("_cv")).alias("_cs")
        )
        .withColumn(
            "_cell_rank",
            F.row_number().over(
                Window.partitionBy("_qid").orderBy(
                    F.desc("_cs"), F.asc("_cell")
                )
            ),
        )
        .filter(F.col("_cell_rank") <= 2)
        .select("_qid", "_cell")
    )

    def _per_sub(a: str, b: str, out: str) -> list:
        return [
            F.struct(
                F.lit(s).cast("long").alias("_sub"),
                _l2sq_micros_col(F.col(a), F.col(b), sub_idxs[s]).alias(out),
            )
            for s in range(4)
        ]

    vcode = (
        emb.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
        .join(codes)
        .select(
            "_vid",
            "_code",
            F.explode(F.array(*_per_sub("_v", "_kv", "_l2"))).alias("_e"),
        )
        .select("_vid", F.col("_e._sub").alias("_sub"), "_code",
                F.col("_e._l2").alias("_l2"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_vid", "_sub").orderBy(
                    F.asc("_l2"), F.asc("_code")
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .select("_vid", "_sub", "_code")
    )
    qtab = F.broadcast(
        queries.join(codes)
        .select(
            "_qid",
            "_code",
            F.explode(F.array(*_per_sub("_qv", "_kv", "_t"))).alias("_e"),
        )
        .select("_qid", F.col("_e._sub").alias("_sub"), "_code",
                F.col("_e._t").alias("_t"))
    )
    cand = (
        assign.join(qcell, "_cell")
        .filter(F.col("_vid") != F.col("_qid"))
        .select("_qid", "_vid")
    )
    adc_rank = (
        cand.join(vcode, "_vid")
        .join(qtab, ["_qid", "_sub", "_code"])
        .groupBy("_qid", "_vid")
        .agg(F.sum("_t").alias("_adc"))
        .withColumn(
            "_adc_rank",
            F.row_number().over(
                Window.partitionBy("_qid").orderBy(
                    F.asc("_adc"), F.asc("_vid")
                )
            ),
        )
        .select("_qid", "_vid", "_adc_rank")
    )
    gt = (
        emb.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
        .join(queries, F.col("_vid") != F.col("_qid"))
        .select(
            "_qid",
            "_vid",
            _l2sq_micros_col(
                F.col("_v"), F.col("_qv"), list(range(1, first_dim + 1))
            ).alias("_l2"),
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_qid").orderBy(
                    F.asc("_l2"), F.asc("_vid")
                )
            ),
        )
        .filter(F.col("_rn") <= 10)
        .select("_qid", "_vid")
    )
    hit = gt.join(adc_rank, ["_qid", "_vid"])
    grid = F.broadcast(
        spark.createDataFrame(
            [(int(v),) for v in (10, 25, 50, 100)], "rerank_m long"
        )
    )
    nq = queries.agg(F.count(F.lit(1)).alias("_nq"))
    return (
        grid.join(hit)
        .groupBy("rerank_m")
        .agg(
            F.sum(
                (F.col("_adc_rank") <= F.col("rerank_m")).cast("long")
            ).alias("captured")
        )
        .join(nq)
        .select(
            "rerank_m",
            "captured",
            (F.lit(10) * F.col("_nq")).cast("long").alias("expected"),
            F.expr("(1000000 * captured) div (10 * _nq)")
            .cast("long")
            .alias("recall_ppm"),
        )
        .orderBy("rerank_m")
    )


def simplified_silhouette_cosine(df: DataFrame) -> DataFrame:
    """Simplified (centroid-based) silhouette, cosine variant (km03):
    per point, a = dissimilarity to the OWN centroid and b = min
    dissimilarity to any OTHER centroid, s = (b − a) / max(a, b) in
    signed truncating ppm — rolled up per cluster as mean / min s and
    the misassigned count (b < a: the point sits closer to a
    neighbor's centroid, exactly what km01's next Lloyd round would
    move). The true silhouette's O(n²) pairwise pass is replaced by
    the k-centroid form — the standard scale-out trade, and the only
    honest one at 100 TB (pairwise a/b would be a self-join on the
    corpus).

    km02 answers "which CLUSTERS overlap" at cluster grain; km03
    distributes that to point grain and rolls up, so a cluster whose
    mean looks fine but holds a misassigned tail is visible
    (n_negative > 0). Same exactness contract as km02: fixed-point
    centroids (ml01 twin pattern), round-6 micro cosines (s02
    precedent), signed truncating div ≡ // (fc05 probe). a = b = 0
    (point equal to two identical centroids) yields NULL s — counted
    in n, absent from n_scored; single-cluster inputs score NULL
    everywhere (no "other" centroid exists).

    Plan: one k×dim centroid agg broadcast into a k-bounded per-point
    cross — row-linear, no point-point joins.

    Returns (label, n, n_scored, n_negative, mean_s_ppm, min_s_ppm).
    """
    from learn_etl_data_warehouse_spark.functions.aggregates import (
        fixed_point_avg,
    )

    ex = df.select(
        F.col("label").alias("_cl"), F.posexplode("embedding").alias("_p", "_v")
    )
    cent_long = ex.groupBy("_cl", "_p").agg(
        fixed_point_avg(F.col("_v").cast("double"), 1_000_000, 6).alias("_c")
    )
    cents = cent_long.groupBy("_cl").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_p", "_c"))),
            lambda s: s["_c"],
        ).alias("_cv")
    ).select(F.col("_cl").cast("long").alias("_kl"), "_cv")
    diss = (
        df.select(
            F.col("vec_id").alias("_id"),
            F.col("label").cast("long").alias("_l"),
            F.col("embedding").alias("_ev"),
        )
        .crossJoin(F.broadcast(cents))
        .select(
            "_id",
            "_l",
            "_kl",
            (
                F.lit(1_000_000)
                - F.round(
                    F.round(cosine_similarity(F.col("_ev"), F.col("_cv")), 6)
                    * 1_000_000
                ).cast("long")
            ).alias("_diss"),
        )
    )
    ab = diss.groupBy("_id", "_l").agg(
        F.max(F.when(F.col("_kl") == F.col("_l"), F.col("_diss"))).alias(
            "_a"
        ),
        F.min(F.when(F.col("_kl") != F.col("_l"), F.col("_diss"))).alias(
            "_b"
        ),
    )
    s = ab.select(
        "_l",
        "_a",
        "_b",
        F.expr(
            "CASE WHEN greatest(_a, _b) = 0 THEN NULL"
            " ELSE (1000000 * (_b - _a)) div greatest(_a, _b) END"
        ).cast("long").alias("_s"),
    )
    return s.groupBy(F.col("_l").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count("_s").cast("long").alias("n_scored"),
        F.sum(
            F.when(F.col("_b") < F.col("_a"), 1).otherwise(0)
        ).cast("long").alias("n_negative"),
        F.expr(
            "CASE WHEN count(_s) = 0 THEN NULL"
            " ELSE sum(_s) div count(_s) END"
        ).cast("long").alias("mean_s_ppm"),
        F.min("_s").cast("long").alias("min_s_ppm"),
    )
