"""Text-analysis operators for the documents surface.

All hot-path operators are native Column expressions (JVM-side, codegen'd)
— no Python in the loop. These are the building blocks a training-data
pipeline runs over every document at 100 TB, so per-row Python is
disqualifying.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"\s+"
#: BPE-ish word/number/punctuation splitter for subword-flavored counting.
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization → array<string> (empty array for blank)."""
    return F.split(F.trim(_c(col)), TOKEN_SPLIT_RE)


def token_count(col: Column | str) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    t = F.trim(_c(col))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, TOKEN_SPLIT_RE))).cast("long")


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-flavored count: runs of letters, runs of digits, and each
    punctuation mark count separately (regexp-driven, stays JVM-side)."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(BPE_ISH_RE), 0)).cast("long")


def punct_ratio(col: Column | str) -> Column:
    """Fraction of non-alphanumeric, non-space characters."""
    c = _c(col)
    stripped = F.regexp_replace(c, r"[^A-Za-z0-9\s]", "")
    n = F.length(c)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        (n - F.length(stripped)).cast("double") / n.cast("double")
    )


#: Tiny per-language marker sets for the n-gram/stopword language-ID
#: heuristic. Deliberately minimal and deterministic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "des", "est"],
    "id": ["yang", "dan", "di", "itu", "dengan"],
}


def marker_hits(col: Column | str, markers: list[str]) -> Column:
    """Count of tokens that are in the marker list (array_intersect-free:
    counts duplicates, which matters for short texts)."""
    toks = tokens(F.lower(_c(col)))
    return F.size(F.filter(toks, lambda t: t.isin(markers))).cast("long")


def lang_id(col: Column | str) -> Column:
    """Stopword-marker language ID: argmax of per-language marker hits,
    'und' (undetermined) when nothing matches. On tied hit counts the
    lexicographically LARGEST language code wins (array_max compares the
    (hits, code) struct fields in order: id > fr > es > en > de) — the t03
    oracle encodes the same reverse order."""
    scored = F.array(
        *[
            F.struct(
                marker_hits(col, m).alias("hits"),
                F.lit(code).alias("code"),
            )
            for code, m in sorted(LANG_MARKERS.items())
        ]
    )
    best = F.array_max(F.filter(scored, lambda s: s["hits"] > 0))
    return F.when(best.isNull(), F.lit("und")).otherwise(best["code"])


def quality_score(text_col: Column | str) -> Column:
    """Composite quality heuristic in [0, 1]: rewards mid-length documents
    and whitespace structure, penalizes punctuation soup.

    score = 0.4 * min(1, tokens/64) + 0.3 * (1 - punct_ratio)
          + 0.3 * (distinct_tokens / tokens)   [0 when empty]
    """
    tc = token_count(text_col)
    distinct = F.size(F.array_distinct(tokens(F.lower(_c(text_col))))).cast("long")
    len_term = F.least(F.lit(1.0), tc.cast("double") / F.lit(64.0))
    punct_term = F.lit(1.0) - punct_ratio(text_col)
    dedup_term = F.when(tc == 0, F.lit(0.0)).otherwise(
        distinct.cast("double") / tc.cast("double")
    )
    return F.round(
        F.lit(0.4) * len_term + F.lit(0.3) * punct_term + F.lit(0.3) * dedup_term, 6
    )


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of case-folded, whitespace-collapsed text.
    Stable across engines (md5 is bit-exact everywhere), used as the exact
    dedup key."""
    normalized = F.regexp_replace(F.lower(F.trim(_c(col))), r"\s+", " ")
    return F.md5(normalized.cast("binary"))


def add_text_features(df: DataFrame) -> DataFrame:
    """Convenience: attach the full feature set as columns."""
    return (
        df.withColumn("token_count", token_count("text"))
        .withColumn("bpe_ish_tokens", bpe_ish_token_count("text"))
        .withColumn("punct_ratio", F.round(punct_ratio("text"), 6))
        .withColumn("lang_pred", lang_id("text"))
        .withColumn("quality", quality_score("text"))
        .withColumn("fingerprint", fingerprint("text"))
    )


def repetition_metrics(df: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals per document:

    - ``dup_token_frac``  = 1 - distinct_tokens / tokens (0 for empty) —
      pure array expressions, no explode, no shuffle;
    - ``top_bigram_frac`` = occurrences of the most frequent word bigram
      / total bigrams (0 when the doc has < 2 tokens) — one explode +
      two partial-aggregating shuffles keyed by doc, so the plan scales
      linearly in corpus size.

    These are the repetition filters a pretraining pipeline runs to drop
    boilerplate/spam (high top_bigram_frac) and token-loop degenerate
    text (high dup_token_frac).
    """
    col = F.lower(F.col("text"))
    tc = token_count("text")
    toks = tokens(col)
    dup = F.when(tc == 0, F.lit(0.0)).otherwise(
        F.lit(1.0)
        - F.size(F.array_distinct(toks)).cast("double") / tc.cast("double")
    )
    base = df.select(
        F.col("doc_id"),
        F.round(dup, 6).alias("dup_token_frac"),
        F.when(
            tc < 2, F.array().cast("array<string>")
        ).otherwise(
            F.zip_with(
                F.slice(toks, 1, F.size(toks) - 1),
                F.slice(toks, 2, F.size(toks) - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("_bigrams"),
    )
    counts = (
        base.select("doc_id", F.explode("_bigrams").alias("_g"))
        .groupBy("doc_id", "_g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("doc_id")
        .agg(
            (F.max("_c").cast("double") / F.sum("_c").cast("double")).alias(
                "_frac"
            )
        )
    )
    return base.join(counts, "doc_id", "left").select(
        "doc_id",
        "dup_token_frac",
        F.round(F.coalesce(F.col("_frac"), F.lit(0.0)), 6).alias(
            "top_bigram_frac"
        ),
    )


def contamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: per training document, how many of its
    distinct word n-grams appear anywhere in the eval corpus, plus a
    ``contaminated`` flag. The Dolma/RedPajama-style overlap check run
    before training so eval answers don't leak into the corpus.

    Plan: distinct n-grams per doc (JVM-side shingling, one explode) →
    inner join against the eval corpus's distinct gram SET → count per
    doc → left join back so clean docs report 0. The eval side is a
    benchmark — bounded by construction — so it broadcasts.
    """
    from .dedup import word_ngrams

    doc_grams = docs.select(
        F.col("doc_id"),
        F.explode(F.array_distinct(word_ngrams(F.col("text"), n))).alias("_g"),
    )
    eval_grams = eval_docs.select(
        F.explode(F.array_distinct(word_ngrams(F.col("text"), n))).alias("_g")
    ).distinct()
    eval_grams = F.broadcast(eval_grams)
    hits = (
        doc_grams.join(eval_grams, "_g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return docs.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_shared_grams"),
        (F.coalesce(F.col("_n"), F.lit(0)) > 0).alias("contaminated"),
    )


def fuzzy_decontamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    threshold_pct: int = 50,
) -> DataFrame:
    """Document-level fuzzy decontamination: (train, eval) pairs whose
    DISTINCT word-n-gram Jaccard similarity reaches ``threshold_pct`` —
    the near-duplicate leak rule that catches paraphrased or lightly
    edited eval examples :func:`contamination`'s corpus-level gram
    containment can't attribute to a specific eval document.

    The threshold compares in cross-multiplied integers
    (``100·|A∩B| ≥ pct·|A∪B|``) — no float ratio anywhere, so an
    external SQL engine reproduces the pair set exactly.

    Plan: per-side distinct grams (narrow shingling) → inner join on the
    gram with the eval side broadcast (an eval benchmark is bounded by
    construction) → one aggregation keyed by the (train, eval) pair.
    Candidate fan-out is bounded by shared-gram count against a
    benchmark-sized set — at 100 TB this is d02's inverted-index shape
    with one side pinned small, which is why it broadcasts instead of
    shuffling the corpus.

    Returns (doc_id, eval_id, n_shared, union_sz) for flagged pairs.
    """
    from .dedup import word_ngrams

    grams = lambda c: F.array_distinct(word_ngrams(c, n))  # noqa: E731
    dg = docs.select(
        "doc_id",
        F.explode(grams(F.col("text"))).alias("_g"),
    )
    eg = eval_docs.select(
        F.col("doc_id").alias("eval_id"),
        F.explode(grams(F.col("text"))).alias("_g"),
    )
    sa = docs.select(
        "doc_id",
        F.size(grams(F.col("text"))).alias("_sa"),
    )
    sb = eval_docs.select(
        F.col("doc_id").alias("eval_id"),
        F.size(grams(F.col("text"))).alias("_sb"),
    )
    eg, sb = F.broadcast(eg), F.broadcast(sb)
    inter = dg.join(eg, "_g").groupBy("doc_id", "eval_id").agg(
        F.count(F.lit(1)).alias("_i")
    )
    union = F.col("_sa") + F.col("_sb") - F.col("_i")
    return (
        inter.join(sa, "doc_id")
        .join(sb, "eval_id")
        .filter(F.lit(100) * F.col("_i") >= F.lit(threshold_pct) * union)
        .select(
            "doc_id",
            "eval_id",
            F.col("_i").cast("long").alias("n_shared"),
            union.cast("long").alias("union_sz"),
        )
    )


#: PII patterns, ordered: each stage's replacement token must not match a
#: later pattern (emails scrub first so their digits can't look like
#: phone fragments). Deliberately simple regexes — deterministic and
#: cross-engine identical; production swaps in a vetted ruleset.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "[IP]"),
    ("phone", r"\+?\d[\d\- ]{7,}\d", "[PHONE]"),
]


def scrub_pii(df: DataFrame) -> DataFrame:
    """PII redaction pass: emails, IPv4 addresses, and phone-like digit
    runs replaced by typed tokens, with per-category match counts (the
    audit trail a corpus release ships). Pure ``regexp_replace`` /
    ``regexp_extract_all`` column expressions — codegen'd, no Python,
    order-pinned by PII_PATTERNS.

    DuckDB-parity note: DuckDB's ``regexp_replace`` needs the ``'g'``
    flag to match Spark's replace-all (CLAUDE.md invariant 4); counts
    use ``regexp_extract_all`` lengths on both engines.
    """
    # counts are computed on each stage's PRE-redaction text, then the
    # stage's replace feeds the next pattern — one projection, no joins
    t = F.col("text")
    exprs = [F.col("doc_id")]
    for name, pat, token in PII_PATTERNS:
        exprs.append(
            F.size(F.regexp_extract_all(t, F.lit(pat), 0)).cast("long").alias(f"n_{name}")
        )
        t = F.regexp_replace(t, pat, token)
    exprs.append(t.alias("text_clean"))
    return df.select(*exprs)


def c4_filters(
    df: DataFrame,
    min_words: int = 10,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """C4-style heuristic document filters (Raffel et al., the cleaning
    pass behind the C4 corpus): per document, the classic cheap signals —

    - ``n_words``          whitespace word count;
    - ``mean_word_len``    non-whitespace chars / words (0 when empty);
    - ``line_term_frac``   fraction of non-blank lines ending in terminal
      punctuation (``. ! ? "``) — C4's "keep lines that look like prose"
      rule, reported per-document here;
    - ``has_brace``        curly brace anywhere (C4 drops code-ish pages);
    - ``has_lorem``        case-folded "lorem ipsum" placeholder text;
    - ``kept``             the conjunction: word count in
      [min_words, 100,000], mean word length in
      [2.0, 12.0], no braces, no lorem.

    Everything is native Column expressions (split / filter lambdas /
    regexp), codegen'd and shuffle-free — the filter pass is a pure map
    over the corpus, which is exactly what you want in front of 100 TB:
    it prunes before any shuffle-bearing operator runs. Ratios are
    integer-division results rounded to 6 places, so oracle comparison is
    bit-stable cross-engine.

    ``keep_cols`` passes source columns through the output so a pipeline
    can ``.filter("kept")`` directly — a narrow map — instead of
    re-joining the flags back to the corpus (a pointless shuffle at
    scale; d16 uses this).
    """
    reserved = {
        "n_words", "mean_word_len", "line_term_frac",
        "has_brace", "has_lorem", "kept", "doc_id",
    }
    clash = sorted(set(keep_cols or []) & reserved)
    if clash:
        raise ValueError(
            f"c4_filters keep_cols {clash} collide with output columns "
            f"(reserved: sorted({sorted(reserved)})); rename them upstream"
        )
    c = _c("text")
    nw = token_count("text")
    nonws = F.length(F.regexp_replace(c, r"\s", ""))
    mean_wl = F.when(nw == 0, F.lit(0.0)).otherwise(
        nonws.cast("double") / nw.cast("double")
    )
    lines = F.filter(
        F.split(c, r"\n"), lambda x: F.trim(x) != F.lit("")
    )
    term_lines = F.filter(lines, lambda x: F.rtrim(x).rlike(r'[.!?"]$'))
    line_frac = F.when(F.size(lines) == 0, F.lit(0.0)).otherwise(
        F.size(term_lines).cast("double") / F.size(lines).cast("double")
    )
    has_brace = c.contains("{") | c.contains("}")
    has_lorem = F.lower(c).contains("lorem ipsum")
    mean_wl_r = F.round(mean_wl, 6)
    kept = (
        (nw >= min_words)
        & (nw <= 100_000)
        & (mean_wl_r >= 2.0)
        & (mean_wl_r <= 12.0)
        & ~has_brace
        & ~has_lorem
    )
    return df.select(
        F.col("doc_id"),
        *[F.col(c) for c in (keep_cols or [])],
        nw.alias("n_words"),
        mean_wl_r.alias("mean_word_len"),
        F.round(line_frac, 6).alias("line_term_frac"),
        has_brace.alias("has_brace"),
        has_lorem.alias("has_lorem"),
        kept.alias("kept"),
    )


def tfidf_top_terms(df: DataFrame, k: int = 3) -> DataFrame:
    """Top-k terms per document by a fixed-point tf-idf score.

    score_fp = tf × round(1e6 × N / df)  — idf kept transcendental-free
    (no ln) so the score is integer math on both engines; a log-scaled
    idf would hash-differently cross-engine at ulp boundaries (libm ln is
    not IEEE-pinned the way +,×,/ are). Ranking ties break on the term
    string, so top-k is fully deterministic.

    Plan: one explode → (doc, term) term frequencies; document
    frequencies then AGGREGATE THE TF OUTPUT (tf's rows are exactly the
    distinct (doc, term) pairs), so the corpus is scanned and shuffled
    once and the dfreq branch reuses tf's exchange instead of running
    its own distinct. Corpus size N joins in as a 1-row broadcast,
    keeping the whole thing lazy and distributed. Final top-k is a
    per-doc window on the scored rows.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col("doc_id"), F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("_tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score_fp",
            (
                F.col("_tf")
                * F.round(
                    F.lit(1000000.0) * F.col("_n") / F.col("_df")
                ).cast("long")
            ).cast("long"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_fp").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "rnk", "term", "score_fp")
    )


GOPHER_STOPWORDS = ["and", "be", "have", "of", "that", "the", "to", "with"]


def gopher_rules(
    df: DataFrame,
    min_words: int = 50,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_stopwords: int = 2,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, the
    MassiveText filtering battery) — the second classic heuristic set
    next to :func:`c4_filters`:

    - ``n_words``          whitespace word count in [min_words, 100,000];
    - ``mean_word_len``    non-whitespace chars / words in
      [min_mean_word_len, max_mean_word_len];
    - ``symbol_ratio``     (# ``#`` + # ``...`` occurrences) / words,
      ≤ 0.1 — the 'symbol soup' rule;
    - ``alpha_word_frac``  fraction of words containing ≥1 ASCII letter,
      ≥ 0.8 — drops digit/punctuation streams;
    - ``n_stopwords``      DISTINCT members of the 8-word Gopher stopword
      list present (case-folded), ≥ min_stopwords — the 'is this prose'
      signal;
    - ``kept``             the conjunction.

    Like c4_filters this is ONE codegen'd projection — no shuffle, no
    UDF, no explode — so it composes in front of any 100 TB pipeline as
    a pure map. Ratios round to 6 places (integer-count divisions, IEEE
    division — bit-stable cross-engine, same idiom as t02/t12)."""
    c = _c("text")
    t = tokens("text")
    nw = token_count("text")
    nwd = nw.cast("double")
    nonws = F.length(F.regexp_replace(c, r"\s", ""))
    mean_wl = F.round(
        F.when(nw == 0, F.lit(0.0)).otherwise(nonws.cast("double") / nwd), 6
    )
    n_hash = F.length(c) - F.length(F.regexp_replace(c, r"#", ""))
    n_ellipsis = (
        F.length(c) - F.length(F.replace(c, F.lit("...")))
    ) / F.lit(3)
    symbol_ratio = F.round(
        F.when(nw == 0, F.lit(0.0)).otherwise(
            (n_hash + n_ellipsis).cast("double") / nwd
        ),
        6,
    )
    n_alpha = F.size(F.filter(t, lambda x: x.rlike("[A-Za-z]")))
    alpha_frac = F.round(
        F.when(nw == 0, F.lit(0.0)).otherwise(n_alpha.cast("double") / nwd), 6
    )
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop = F.size(
        F.array_intersect(
            F.transform(t, lambda x: F.lower(x)), stop_arr
        )
    ).cast("long")
    kept = (
        (nw >= min_words)
        & (nw <= 100_000)
        & (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len)
        & (symbol_ratio <= 0.1)
        & (alpha_frac >= 0.8)
        & (n_stop >= min_stopwords)
    )
    return df.select(
        F.col("doc_id"),
        nw.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_frac.alias("alpha_word_frac"),
        n_stop.alias("n_stopwords"),
        kept.alias("kept"),
    )


def build_vocab(df: DataFrame, size: int = 1000) -> DataFrame:
    """Vocabulary construction: the top-``size`` whitespace tokens by
    corpus frequency, assigned dense ids by rank — the word→id table a
    tokenizer/embedding pipeline trains against.

    Deterministic end to end: rank order is (count DESC, token ASC), so
    ties can't reshuffle ids between runs or engines. Scale shape: one
    explode + partial-aggregated shuffle on the token (type counts, not
    corpus rows, leave the aggregation), then ``orderBy().limit(size)``
    — Spark's TakeOrdered, a distributed top-k that keeps ``size`` rows
    per partition and never materializes a global sort. Only the final
    id assignment (a window over the already-limited ``size`` rows) is
    single-partition, and it is bounded by construction.

    Returns (token_id BIGINT starting at 1, token, n_occurrences).
    """
    return vocab_from_counts(token_counts_table(df), size)


def token_counts_table(df: DataFrame) -> DataFrame:
    """Corpus token-frequency table (token, n) — the aggregation state
    :func:`build_vocab` ranks."""
    toks = df.select(
        F.explode(tokens(F.lower(_c("text")))).alias("token")
    ).filter(F.col("token") != "")
    return toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))


def vocab_from_counts(counts: DataFrame, size: int = 1000) -> DataFrame:
    """Rank the count table into the dense-id vocab (see
    :func:`build_vocab` for the determinism/scale contract)."""
    from pyspark.sql import Window

    top = counts.orderBy(F.col("n").desc(), F.col("token")).limit(size)
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    return top.select(
        F.row_number().over(w).cast("long").alias("token_id"),
        "token",
        "n",
    )


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window chunking: cut each document into token windows of
    ``chunk_size`` advancing by ``stride`` (overlap = chunk_size −
    stride) — the unit a context-bounded trainer or retrieval index
    ingests. A document shorter than one window yields exactly one
    (possibly short) chunk; the final window is allowed to run short
    rather than re-reading the tail twice.

    Deterministic and engine-portable by construction: the chunk count
    is pure non-negative integer arithmetic (``1 + ceil(extra/stride)``
    computed as ``(extra + stride − 1) div stride``, identical under
    truncating and flooring division because the operands are
    non-negative), and chunk text is a positional slice — no hashing,
    no RNG.

    Scale shape: narrow per-row work only (split → sequence → explode →
    slice), zero shuffles and zero Python; output rows ≈ input rows ×
    mean(n_tokens)/stride, and the explode fan-out is bounded per row by
    the document length, so there is no hot key to skew a downstream
    exchange.

    Returns (id, chunk_id BIGINT 0-based, n_chunk_tokens, chunk_text).
    """
    if stride <= 0 or chunk_size <= 0:
        raise ValueError("chunk_size and stride must be positive")
    toks = tokens(_c("text"))
    extra = F.greatest(F.size(toks) - chunk_size, F.lit(0))
    n_chunks = (
        F.lit(1) + F.floor((extra + F.lit(stride - 1)) / F.lit(stride))
    ).cast("long")
    exploded = df.select(
        F.col("doc_id"),
        toks.alias("_toks"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
            "chunk_id"
        ),
    )
    start = (F.col("chunk_id") * stride + 1).cast("int")
    chunk = F.slice(F.col("_toks"), start, F.lit(chunk_size))
    return exploded.select(
        F.col("doc_id"),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def bpe_pair_counts(df: DataFrame, top: int = 200) -> DataFrame:
    """Round-0 BPE statistics: global counts of adjacent CHARACTER
    pairs within words — the argmax table a byte-pair-encoding trainer
    consumes each merge round (Sennrich-style: overlapping pairs count
    naively, so ``"aaa"`` contributes 2 to (a, a)).

    One explode per word and one partial-aggregated shuffle keyed by
    the pair; the top-``top`` cut is a distributed TakeOrdered under
    the strict total order (n DESC, a, b) — deterministic, bounded,
    engine-portable. Returns (a, b, n)."""
    words = (
        df.select(F.explode(tokens(F.lower(_c("text")))).alias("w"))
        .filter(F.col("w") != "")
        .filter(F.length("w") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> struct(substring(w, i, 1) AS a,"
                "             substring(w, i + 1, 1) AS b))"
            )
        ).alias("p")
    )
    counts = pairs.groupBy("p.a", "p.b").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return counts.orderBy(F.col("n").desc(), "a", "b").limit(top)


#: WordPiece continuation-aware symbolization: first char plain, every
#: later char '##'-prefixed — the representation the merge scores run on.
_WP_SYMS = (
    "transform(sequence(1, length(w)),"
    " i -> CASE WHEN i = 1 THEN substring(w, 1, 1)"
    "      ELSE '##' || substring(w, i, 1) END)"
)


def wordpiece_pair_scores(df: DataFrame, top: int = 200) -> DataFrame:
    """Round-0 WordPiece statistics: the likelihood-ratio merge scores
    a WordPiece trainer ranks each round — for every adjacent symbol
    pair over the ##-symbolized corpus, ``score_pico = (n_ab · 10¹²)
    div (n_a · n_b)`` (Schuster & Nakajima's count(ab)/(count(a)·
    count(b)), held integer at pico granularity — the g12 ranking
    idiom; a float score could tie-break differently cross-engine).
    BPE (t17) merges the most FREQUENT pair; WordPiece merges the pair
    most surprising under independence — the score table is where the
    two trainers diverge.

    One explode for symbol counts, one for pair counts, two joins on
    the symbol key, DECIMAL(38,0) products (symbol-count squares pass
    BIGINT around 3·10⁹ symbols). The top-``top`` cut is a distributed
    TakeOrdered under the strict total order (score DESC, a, b).
    Returns (a, b, n_ab, n_a, n_b, score_pico)."""
    words = (
        df.select(F.explode(tokens(F.lower(_c("text")))).alias("w"))
        .filter(F.col("w") != "")
    )
    # r14 note: lazy checkpoints on the word stream + symbol counts
    # were A/B'd and measured WORSE at idle (med 2.76 -> 3.37 s at
    # sf0.1) - materializing the exploded token stream costs more than
    # re-tokenizing - so both stay lazy.
    syms = words.select(F.explode(F.expr(_WP_SYMS)).alias("s"))
    sym_counts = syms.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n_s")
    )
    pairs = (
        words.filter(F.length("w") >= 2)
        .select(F.expr(_WP_SYMS).alias("sy"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(2, size(sy)),"
                    " i -> struct(sy[i - 2] AS a, sy[i - 1] AS b))"
                )
            ).alias("p")
        )
        .groupBy("p.a", "p.b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    scored = (
        pairs.join(
            sym_counts.select(
                F.col("s").alias("a"), F.col("n_s").alias("n_a")
            ),
            "a",
        )
        .join(
            sym_counts.select(
                F.col("s").alias("b"), F.col("n_s").alias("n_b")
            ),
            "b",
        )
        .select(
            "a",
            "b",
            "n_ab",
            "n_a",
            "n_b",
            F.expr(
                "CAST((CAST(n_ab AS DECIMAL(38,0)) * 1000000000000)"
                " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ).alias("score_pico"),
        )
    )
    return scored.orderBy(
        F.col("score_pico").desc(), "a", "b"
    ).limit(top)


def bigram_lm(
    df: DataFrame,
    min_context: int = 5,
    top: int | None = 3,
) -> DataFrame:
    """Bigram language-model table: top continuations per context word.

    Counts adjacent lowercase token pairs across the corpus, keeps
    contexts seen >= ``min_context`` times, and returns the ``top``
    continuations per context under the strict order (count DESC, word
    ASC). Conditional probability is integer ppm (truncating division
    on non-negative counts → engine-portable).

    Scale shape: one narrow explode, one hash agg on (w1, w2), a
    re-agg on w1 for context totals, and a w1-partitioned top-k window
    — the same count/rank skeleton as vocab building (t14), never a
    driver-side vocabulary.
    """
    return bigram_lm_from_counts(
        bigram_counts_table(df), min_context, top
    )


def bigram_counts_table(df: DataFrame) -> DataFrame:
    """The raw (w1, w2, n2) adjacent-pair count table — the additive
    STATE a bigram LM derives from (one narrow explode + one hash
    agg)."""
    t = df.select(tokens(F.lower(_c("text"))).alias("t")).filter(
        F.size("t") >= 2
    )
    pairs = (
        t.select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    return pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))


def bigram_lm_from_counts(
    bi: DataFrame, min_context: int = 5, top: int | None = 3
) -> DataFrame:
    """Derive the LM table (context totals, ppm conditionals, optional
    per-context top-k) from a (w1, w2, n2) count table — the read side
    of the incremental maintenance split."""
    from pyspark.sql import Window

    ctx = bi.groupBy("w1").agg(F.sum("n2").alias("n1"))
    out = (
        bi.join(ctx, "w1")
        .filter(F.col("n1") >= int(min_context))
        .withColumn("cond_ppm", F.expr("(1000000 * n2) div n1"))
    )
    if top is not None:
        w = Window.partitionBy("w1").orderBy(
            F.col("n2").desc(), F.col("w2")
        )
        out = out.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= int(top)
        )
    return out.select("w1", "w2", "n2", "n1", "cond_ppm")


def lm_score_documents(df: DataFrame) -> DataFrame:
    """Per-document LM-likelihood quality score in integer ppm.

    Scores each document by the mean conditional probability (ppm,
    truncating mean) of its adjacent-token bigrams under a bigram LM —
    the fixed-point analog of the KenLM-perplexity quality filters used
    in web-corpus curation. The LM is trained on the corpus itself
    (``bigram_lm(top=None, min_context=1)``).

    Documents with < 2 tokens have no bigrams and are omitted (no
    0/0 score). One explode, two hash aggs, one (w1, w2) equi-join —
    no Python, no driver state.
    """
    t = df.select(
        F.col("doc_id"), tokens(F.lower(_c("text"))).alias("t")
    ).filter(F.size("t") >= 2)
    bg = (
        t.select(
            F.col("doc_id"),
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    # r14 (guide §2.4): the self-trained LM's pair stream is the
    # SAME (tokenize → adjacent-pair → blank-filter) stream the
    # scoring join reads — bigram_counts_table(df) produces exactly
    # this multiset (its size ≥ 2 filter matches; the id column
    # aggregates away). Derive the counts from one lazily
    # checkpointed stream instead of re-tokenizing the corpus (A/B
    # in OPTIMIZATION_r14.md, t19).
    bg = bg.localCheckpoint(eager=False)
    counts = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("n2")
    )
    lm = bigram_lm_from_counts(counts, min_context=1, top=None)
    # The LM is trained on this very stream with min_context=1, so every
    # bigram finds its row: the join is inner and cond_ppm never null.
    j = bg.join(lm.select("w1", "w2", "cond_ppm"), ["w1", "w2"])
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.count("cond_ppm").alias("n_known"),
        F.expr("sum(cond_ppm) div count(1)").alias("score_ppm"),
    )


def collocations(
    df: DataFrame,
    min_pair: int = 5,
    top: int = 100,
) -> DataFrame:
    """PMI-ranked collocations (statistically-bound word pairs).

    Pointwise mutual information compares a bigram's joint frequency
    with what its parts predict — the standard collocation extractor
    ("new york" scores high, "of the" low). The usual ``log`` form is
    not cross-engine reproducible (libm ``log`` is not correctly
    rounded), so the score is the RATIO inside the log, in truncating
    ppm over exact integers:

        pmi_ratio_ppm = (1e6 · N · c(w1,w2)) div (c(w1,·) · c(·,w2))

    with every marginal derived from the bigram table itself (left
    occurrences, right occurrences, total bigrams) — monotone in PMI,
    so the ranking is identical. The numerator runs in DECIMAL(38,0)
    (1e6·N·c overflows BIGINT near ~1e12 bigram corpora).

    Plan shape: the bigram count table (one narrow explode + one hash
    agg — shared shape with ``bigram_counts_table``), two re-aggs on
    single words (tiny), two key-equality joins, one 1-row broadcast
    total, and a TakeOrdered top-``top`` under the strict order
    (score DESC, w1, w2). No driver-side vocabulary, no Python.

    Returns (w1, w2, n_pair, n_left, n_right, pmi_ratio_ppm).
    """
    all_bi = bigram_counts_table(df)
    bi = all_bi.filter(F.col("n2") >= int(min_pair))
    left = all_bi.groupBy("w1").agg(F.sum("n2").alias("n_left"))
    right = all_bi.groupBy("w2").agg(F.sum("n2").alias("n_right"))
    total = all_bi.agg(F.sum("n2").alias("n_total"))
    out = (
        bi.join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            F.col("n2").alias("n_pair"),
            "n_left",
            "n_right",
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * n_total * n2)"
                " div (CAST(n_left AS DECIMAL(38,0)) * n_right)"
                " AS BIGINT)"
            ).alias("pmi_ratio_ppm"),
        )
    )
    return out.orderBy(
        F.col("pmi_ratio_ppm").desc(), "w1", "w2"
    ).limit(int(top))


def readability_scores(df: DataFrame) -> DataFrame:
    """Flesch-style reading-ease per document, fully in integer micros.

    The classic 206.835 − 1.015·(words/sentence) − 84.6·(syllables/
    word) formula with the counting primitives an engine can actually
    agree on: words = ``[a-z0-9]+`` runs of the lowercased text (the
    corpus token convention), sentences = ``[.!?]+`` runs (min 1),
    syllables ≈ ``[aeiouy]+`` vowel groups — the standard heuristic.
    The constants are scaled to micros and both divisions are
    truncating on non-negative operands, so the score is engine-exact
    (no float ratio anywhere; ranking and thresholding behave exactly
    like the float formula at micro resolution).

    One narrow projection — no shuffle, no UDF; three codegen'd
    regexp_extract_all counts per row. Rows with zero words are
    dropped (no readability without words).

    Returns (id, n_words, n_sentences, n_syllables, score_micros).
    """
    t = F.lower(_c("text"))
    words = F.size(
        F.regexp_extract_all(t, F.lit("[a-z0-9]+"), 0)
    ).cast("long")
    sents = F.greatest(
        F.lit(1).cast("long"),
        F.size(F.regexp_extract_all(t, F.lit("[.!?]+"), 0)).cast("long"),
    )
    syll = F.size(
        F.regexp_extract_all(t, F.lit("[aeiouy]+"), 0)
    ).cast("long")
    return (
        df.select(
            F.col("doc_id").alias("id"),
            words.alias("n_words"),
            sents.alias("n_sentences"),
            syll.alias("n_syllables"),
        )
        .filter(F.col("n_words") > 0)
        .withColumn(
            "score_micros",
            (
                F.lit(206_835_000).cast("long")
                - F.expr("(1015000 * n_words) div n_sentences")
                - F.expr("(84600000 * n_syllables) div n_words")
            ).cast("long"),
        )
    )


def sentence_stats(df: DataFrame) -> DataFrame:
    """Per-document sentence segmentation stats: sentence count, mean
    words per sentence (truncating ppm — no float division), and the
    longest sentence in words. The structural profile sentence-aware
    chunkers and readability gates key on (t21 approximates sentences
    from punctuation counts; this materializes the segmentation).

    Sentences split on ``[.!?]+`` runs, empties dropped after trim —
    an enders-free non-empty document is one sentence. Entirely
    array-expression work (split/filter/transform/aggregate — JVM
    codegen, zero explode, zero shuffle): the classic narrow map.

    Returns (id, n_sentences, total_words, avg_words_ppm,
    max_sentence_words) — all BIGINT; empty docs report zeros.
    """
    sents = F.filter(
        F.split(F.col("text"), r"[.!?]+"),
        lambda s: F.trim(s) != "",
    )
    words = lambda s: F.size(  # noqa: E731
        F.filter(F.split(F.trim(s), r"\s+"), lambda w: w != "")
    )
    n_sent = F.size(sents).cast("long")
    total = F.aggregate(
        sents, F.lit(0).cast("long"), lambda acc, s: acc + words(s)
    )
    mx = F.coalesce(
        F.array_max(F.transform(sents, words)), F.lit(0)
    ).cast("long")
    return df.select(
        F.col("doc_id"),
        n_sent.alias("n_sentences"),
        total.alias("total_words"),
        F.when(n_sent > 0, (total * 1_000_000).cast("long"))
        .otherwise(F.lit(0))
        .alias("_num"),
        mx.alias("max_sentence_words"),
    ).select(
        "doc_id",
        "n_sentences",
        "total_words",
        F.when(F.col("n_sentences") > 0,
               F.expr("_num div n_sentences"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("avg_words_ppm"),
        "max_sentence_words",
    )


def bigram_kn(
    df: DataFrame,
    min_context: int = 5,
    top: int | None = 3,
) -> DataFrame:
    """Kneser-Ney-smoothed bigram table (absolute discount d = 3/4) in
    PURE integer arithmetic — the LM-pipeline upgrade over t18's raw
    conditional ppm: rare continuations are discounted and mass is
    re-routed through the CONTINUATION probability ("how many contexts
    does w2 follow"), the insight that makes KN the standard n-gram
    smoother.

        p_KN(w2|w1) = max(c(w1,w2)−d, 0)/c(w1)
                      + d·N1+(w1,·)/c(w1) · N1+(·,w2)/N1+(·,·)

    With d = 3/4 everything is rational; multiplying through by
    4·c(w1)·N1+(·,·) gives the single integer quotient

        p_ppm = (1e6·(max(4·n2−3, 0)·Ntot + 3·N1fwd(w1)·Ncont(w2)))
                div (4·c1(w1)·Ntot)

    evaluated in DECIMAL(38,0) (Spark ``div`` on decimals returns the
    floored BIGINT and matches HUGEINT ``//`` — probed), so an
    external engine agrees exactly. Ranking: p_ppm DESC, w2 ASC.

    Derived states are all aggregates of the additive (w1, w2, n2)
    table: context totals + continuation-type counts per w1, context
    counts per w2, one global distinct-pair count (a broadcast 1-row
    frame). Returns (w1, w2, n2, p_kn_ppm, rnk ≤ ``top``).
    """
    return bigram_kn_from_counts(
        bigram_counts_table(df), min_context, top
    )


def bigram_kn_from_counts(
    counts: DataFrame,
    min_context: int = 5,
    top: int | None = 3,
) -> DataFrame:
    """KN scoring over an EXISTING (w1, w2, n2) count table — the
    derivation half of :func:`bigram_kn`, factored so a stored counts
    table serves smoothed probabilities without re-tokenizing the
    corpus; all KN statistics are aggregates of the counts table
    itself."""
    from pyspark.sql import Window

    c = counts
    ctx = c.groupBy("w1").agg(
        F.sum("n2").cast("long").alias("_c1"),
        F.count(F.lit(1)).cast("long").alias("_n1fwd"),
    )
    cont = c.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("_ncont")
    )
    tot = c.agg(F.count(F.lit(1)).cast("long").alias("_ntot"))
    scored = (
        c.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("_c1") >= min_context)
        .withColumn(
            "p_kn_ppm",
            F.expr(
                "(1000000 * (greatest(4 * n2 - 3, 0)"
                " * CAST(_ntot AS DECIMAL(38,0))"
                " + 3 * _n1fwd * _ncont))"
                " div (4 * _c1 * CAST(_ntot AS DECIMAL(38,0)))"
            ).cast("long"),
        )
    )
    out = scored.select("w1", "w2", "n2", "p_kn_ppm")
    if top is None:
        return out
    w = Window.partitionBy("w1").orderBy(F.desc("p_kn_ppm"), F.asc("w2"))
    return (
        out.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= top)
    )


def bm25_scores(df: DataFrame, terms: list[str], k: int = 20) -> DataFrame:
    """Integer-exact BM25 retrieval ranking for a fixed query-term set —
    the search-scoring companion to ``tfidf_top_terms`` (which profiles
    a corpus; this ranks documents FOR A QUERY).

    Okapi BM25 with k1 = 6/5, b = 3/4 folded into one rational:

        tf_norm = 22·T·tf / (10·T·tf + 3·T + 9·dl·N)      (ppm, trunc)
        idf2    = floor(log2(1 + (N + 1)/(df + ½)))
                = length(bin((2N + 2) div (2df + 1))) − 1  (exact)
        score   = Σ_terms idf2 · tf_norm_ppm

    with N docs, T total tokens, dl the doc length. The idf uses
    floor-log2 via the binary-string length of the truncated ratio —
    floor(log2(x)) = bitlen(floor(x)) − 1 for x ≥ 1, so the usual
    transcendental ln (libm, not IEEE-pinned cross-engine) never
    appears; the t10 rationale, kept logarithmic instead of t10's raw
    N/df ratio. Numerators ride DECIMAL(38,0)/HUGEINT — 1e6·22·T·tf
    clears BIGINT near T ≈ 4e11 tokens, i.e. well inside a 100 TB
    corpus.

    Plan: one explode → token stream, reused for doc lengths and the
    query-term tf (the filter pushes the bounded term list to the
    scan); dfreq and the (N, T) totals broadcast; final top-k is a
    TakeOrdered under the (score, id) total order with ranks assigned
    inside the k-row result — no global sort shuffle.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col("doc_id"), F.explode(tokens(F.lower(_c("text")))).alias("term")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_dl"))
    totals = dl.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_dl").alias("_t")
    )
    tf = (
        toks.filter(F.col("term").isin(list(terms)))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfreq), "term")
        .join(F.broadcast(totals))
        .withColumn(
            "_idf2",
            (
                F.length(F.expr("bin((2 * _n + 2) div (2 * _df + 1))")) - 1
            ).cast("long"),
        )
        .withColumn(
            "_tfn_ppm",
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * 22 * _t * _tf) div"
                " (CAST(10 AS DECIMAL(38,0)) * _t * _tf"
                "  + CAST(3 AS DECIMAL(38,0)) * _t"
                "  + CAST(9 AS DECIMAL(38,0)) * _dl * _n) AS BIGINT)"
            ),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
        F.sum(F.col("_idf2") * F.col("_tfn_ppm")).cast("long").alias(
            "score_ppm"
        ),
    )
    top = per_doc.orderBy(
        F.col("score_ppm").desc(), F.col("doc_id")
    ).limit(k)
    w = Window.orderBy(F.col("score_ppm").desc(), F.col("doc_id"))
    return top.select(
        F.col("doc_id"),
        F.row_number().over(w).cast("long").alias("rnk"),
        "n_terms_matched",
        "score_ppm",
    )


def textrank_keywords_from_counts(
    counts: DataFrame, iterations: int = 5, top: int = 20
) -> DataFrame:
    """TextRank keyword ranking from a (w1, w2, ...) adjacent-pair
    count table such as :func:`bigram_counts_table`, so a stored counts
    table can be re-ranked without re-tokenizing the corpus.

    Symmetric distinct word-adjacency edges (self-pairs dropped) feed
    the integer fixed-point PageRank kernel (graph.py — the g02
    posture); the top-``top`` cut is a distributed TakeOrdered under
    the strict (rank DESC, word ASC) order with the dense id window
    only over the bounded result. Returns (kw_rank, word,
    rank_micros)."""
    from pyspark.sql import Window

    from .graph import pagerank_fixed_point

    bg = counts.filter(F.col("w1") != F.col("w2")).select("w1", "w2")
    edges = (
        bg.select(F.col("w1").alias("src"), F.col("w2").alias("dst"))
        .unionByName(
            bg.select(F.col("w2").alias("src"), F.col("w1").alias("dst"))
        )
        .distinct()
    )
    pr = pagerank_fixed_point(edges, iterations=iterations)
    topf = pr.orderBy(F.col("rank_micros").desc(), "node").limit(top)
    w = Window.orderBy(F.col("rank_micros").desc(), "node")
    return topf.select(
        F.row_number().over(w).cast("long").alias("kw_rank"),
        F.col("node").alias("word"),
        "rank_micros",
    )


def pmi_collocations(df: DataFrame) -> DataFrame:
    """Collocation mining by pointwise mutual information over the
    BIGRAM distribution: for each adjacent pair, lift = P(a,b) /
    (P(a)·P(b)) with the margins taken over bigram positions (row
    margin n_a = Σ_b n_ab, column margin n_b = Σ_a n_ab — fully
    derivable from the (w1, w2, n2) state). The
    top-30 pairs by lift are the phrases ("new york") a tokenizer
    or stop-phrase list wants.

    Integer-exact: lift as the g12 pico-score — (n_ab · N · 10¹²) div
    (n_a · n_b) in DECIMAL(38,0) (HUGEINT twin); ranking on the integer
    score with (w1, w2) tie-break, so cross-engine order is total. A
    float PMI (log) would rank identically but hash differently — the
    pico lift IS the monotone surrogate (log is monotone), the repo's
    standing dodge of libm.

    Scale design: one narrow explode + hash aggs at pair/word grain;
    margins join at word grain (hash join, data-proportional); the
    global top-k is orderBy().limit() — TakeOrderedAndProject, per-
    partition heaps + one k-row merge at the driver, NO global sort.
    A 5-occurrence pair floor prunes the rank candidate set before the
    joins.
    """
    bc = bigram_counts_table(df)
    ra = bc.groupBy("w1").agg(F.sum("n2").cast("long").alias("n_a"))
    cb = bc.groupBy("w2").agg(F.sum("n2").cast("long").alias("n_b"))
    tot = bc.agg(F.sum("n2").cast("long").alias("_nn"))
    j = (
        bc.filter(F.col("n2") >= 5)
        .join(ra, "w1")
        .join(cb, "w2")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "lift_pico",
            F.expr(
                "(CAST(n2 AS DECIMAL(38,0)) * _nn * 1000000000000)"
                " div (CAST(n_a AS DECIMAL(38,0)) * n_b)"
            ).cast("long"),
        )
    )
    return (
        j.orderBy(F.desc("lift_pico"), F.asc("w1"), F.asc("w2"))
        .limit(30)
        .select("w1", "w2", F.col("n2").cast("long"), "n_a", "n_b",
                "lift_pico")
    )


# t34's suffix-strip rules. FIRST MATCH WINS, IN TUPLE ORDER — the
# tuple is NOT length-sorted, so do not add a suffix assuming a longer
# entry later in the tuple can win over an earlier shorter one (it
# can't: e.g. a hypothetical "ings" added after "ing" would never
# fire). A token >= min_len + len(sfx) chars loses its first matching
# suffix (Porter-lite, deterministic — ONE Python literal feeds the
# Spark transform and the oracle's CASE chain, so parity holds for any
# order, but the stems themselves change if the order changes).
STEM_SUFFIXES = ("ing", "edly", "ed", "es", "ly", "s")


def stem_column(col):
    """Rule-based stem of one (lowercased) token Column — the
    STEM_SUFFIXES chain as nested CASE: first matching suffix strips
    when the remainder keeps 3 chars. Pure string ops,
    engine-exact."""
    c = F.lower(_c(col))
    # a when-chain evaluates in order: earlier TUPLE entries win
    out = None
    for sfx in STEM_SUFFIXES:
        cond = c.endswith(sfx) & (
            F.length(c) >= 3 + len(sfx)
        )
        branch = F.substring(c, F.lit(1), F.length(c) - F.lit(len(sfx)))
        out = F.when(cond, branch) if out is None else out.when(cond, branch)
    return out.otherwise(c)


def stem_stats(df: DataFrame) -> DataFrame:
    """TEXT NORMALIZATION report: per document, raw vs stemmed distinct
    vocabulary under the STEM_SUFFIXES rule chain — the
    vocabulary-reduction measurement a normalization pass is judged by
    (how much does suffix folding shrink the type count). One narrow
    transform + per-doc agg; blank documents produce NO row. Returns
    (id, n_tokens, n_distinct_raw, n_distinct_stem, reduction_ppm)
    with reduction_ppm = 10⁶·(raw − stem) div raw."""
    toks = (
        df.filter(F.trim(F.col("text")) != "")
        .select(
            F.col("doc_id").alias("_id"),
            F.explode(tokens(F.lower(F.col("text")))).alias("_t"),
        )
        .filter(F.col("_t") != "")
    )
    st = toks.withColumn("_s", stem_column(F.col("_t")))
    return (
        st.groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.countDistinct("_t").cast("long").alias("n_distinct_raw"),
            F.countDistinct("_s").cast("long").alias("n_distinct_stem"),
        )
        .select(
            F.col("_id").alias("doc_id"),
            "n_tokens",
            "n_distinct_raw",
            "n_distinct_stem",
            F.expr(
                "(1000000 * (n_distinct_raw - n_distinct_stem))"
                " div n_distinct_raw"
            )
            .cast("long")
            .alias("reduction_ppm"),
        )
    )


def zipf_bucket_stats(docs: DataFrame) -> DataFrame:
    """ZIPF rank-bucket profile of the corpus vocabulary (t35): how
    many word types and how much token mass sit at ranks 1-9, 10-99,
    100-999, ... — the log-log rank/frequency skeleton a curation run
    eyeballs for naturalness (a Zipfian corpus loses mass smoothly per
    decade; template/boilerplate corpora pile types into one decade).

    NO global per-word rank is materialized (the t26 discipline): a
    frequency-f run of the descending rank order occupies the CLOSED
    rank interval [before_f + 1, before_f + cnt_f] where before_f =
    #types with higher frequency — so bucket membership is interval
    overlap at FREQUENCY GRAIN (distinct frequency values, O(√tokens)
    many), and the word-level tie order inside a run can't matter
    because buckets only count types. One word agg + one bounded
    freq-grain window + a 7-row bucket explode.

    Returns (rank_bucket, n_types, sum_freq): rank_bucket = decimal
    digit count of the rank (rank 1-9 -> 1, 10-99 -> 2, ...), buckets
    with no types omitted."""
    words = (
        docs.select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("_f"))
    )
    freqs = words.groupBy("_f").agg(
        F.count(F.lit(1)).cast("long").alias("_cnt")
    )
    wf = Window.orderBy(F.desc("_f")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    runs = freqs.select(
        "_f",
        "_cnt",
        F.coalesce(F.sum("_cnt").over(wf), F.lit(0)).alias("_before"),
    )
    b = runs.sparkSession.range(1, 8).select(
        F.col("id").alias("rank_bucket")
    )
    lo = F.expr("CAST(power(10, rank_bucket - 1) AS BIGINT)")
    hi = F.expr("CAST(power(10, rank_bucket) AS BIGINT) - 1")
    overlap = (
        F.least(hi, F.col("_before") + F.col("_cnt"))
        - F.greatest(lo, F.col("_before") + 1)
        + 1
    )
    return (
        runs.join(F.broadcast(b))
        .select(
            "rank_bucket",
            "_f",
            F.when(overlap > 0, overlap).otherwise(F.lit(0)).alias("_n"),
        )
        .filter(F.col("_n") > 0)
        .groupBy("rank_bucket")
        .agg(
            F.sum("_n").cast("long").alias("n_types"),
            F.sum(F.col("_n") * F.col("_f")).cast("long").alias("sum_freq"),
        )
    )


def token_burstiness(docs: DataFrame) -> DataFrame:
    """FANO-FACTOR token burstiness per group (t37): variance-to-mean
    ratio of tokens-per-document — 1e6 ppm ≈ Poisson-like document
    lengths, far above = bursty/bimodal (template + longform mixes),
    far below = near-constant lengths (chunked/truncated corpora). A
    curation dashboard number next to t02's quality scores.

    The a15 moment discipline: Σx and Σx² accumulate as integers, the
    per-row square is taken AFTER casting x to DECIMAL(38,0) (a BIGINT
    x·x ANSI-throws for a single doc past ~3·10⁹ tokens) and the
    variance numerator n·Σx² − (Σx)² is assembled in DECIMAL(38,0)
    (BIGINT would overflow once Σx² passes ~9·10¹⁸ — ~10¹² long docs),
    and the single division is the non-negative
    (1e6·(nΣx² − (Σx)²)) div (n·Σx) — Spark DECIMAL div ≡ DuckDB
    HUGEINT // (the e18 probe). Returns (group, n_docs, sum_tokens,
    fano_ppm); fano NULL when the group has no tokens."""
    x = token_count("text").cast("long")
    m = (
        docs.groupBy(F.col("source").alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(x).cast("long").alias("sum_tokens"),
            # square AND accumulate IN decimal — a BIGINT per-row x*x
            # ANSI-throws past x ~3e9 tokens, and a long sum of x²
            # overflows at ~9e18 (10¹² long docs), the a31 class; the
            # cast-before-multiply matches the DuckDB twin's HUGEINT
            F.sum(x.cast("decimal(38,0)") * x).alias("_sx2"),
        )
    )
    return m.select(
        "grp",
        "n_docs",
        "sum_tokens",
        F.when(
            F.col("sum_tokens") > 0,
            F.expr(
                "(1000000 * (n_docs * _sx2 - CAST(sum_tokens AS"
                " DECIMAL(38,0)) * sum_tokens)) div (n_docs * sum_tokens)"
            ),
        )
        .cast("long")
        .alias("fano_ppm"),
    )

def charclass_profile(docs: DataFrame) -> DataFrame:
    """Character-class & encoding-artifact profile per group (t38) —
    the pre-tokenizer health check a corpus intake runs: class masses
    (letters / digits / whitespace / other-ASCII / non-ASCII) plus
    three artifact detectors — U+FFFD replacement chars (decoder
    already gave up), C0 control chars outside tab/newline/CR (binary
    bleed), and the classic UTF-8-read-as-Latin-1 mojibake signatures
    ('â€', 'Ã©', …). The fixture corpus is clean ASCII, so the
    artifact columns earn their keep in the unit test's corrupted
    rows; on a real crawl they are the triage numbers.

    Every class count is strip-and-diff — length(text) −
    length(regexp_replace(text, class, '')) — with character classes
    chosen to parse identically in Java regex and RE2 (DuckDB needs
    the 'g' flag, the standing invariant). One narrow projection + one
    agg; nonascii_ppm divides the non-negative char mass by total
    chars, truncating both engines."""
    t = F.col("text")
    n = F.length(t)

    def _cls(pattern: str):
        return (n - F.length(F.regexp_replace(t, pattern, ""))).cast(
            "long"
        )

    letters = _cls("[A-Za-z]")
    digits = _cls("[0-9]")
    ws = _cls("[ \\t\\n\\r]")
    nonascii = _cls("[^\\x00-\\x7f]")
    per = docs.select(
        F.col("source").alias("grp"),
        n.cast("long").alias("_n"),
        letters.alias("_l"),
        digits.alias("_d"),
        ws.alias("_w"),
        nonascii.alias("_na"),
        t.contains("�").cast("long").alias("_repl"),
        t.rlike("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]").cast("long").alias(
            "_ctrl"
        ),
        (
            t.contains("â€") | t.contains("Ã©")
            | t.contains("Ã¨") | t.contains("Ã¼")
            | t.contains("Ã±") | t.contains("Â«")
        ).cast("long").alias("_moji"),
    )
    return (
        per.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_n").cast("long").alias("total_chars"),
            F.sum("_l").cast("long").alias("n_letters"),
            F.sum("_d").cast("long").alias("n_digits"),
            F.sum("_w").cast("long").alias("n_whitespace"),
            F.sum("_na").cast("long").alias("n_nonascii"),
            F.sum("_repl").cast("long").alias("n_replacement_docs"),
            F.sum("_ctrl").cast("long").alias("n_control_docs"),
            F.sum("_moji").cast("long").alias("n_mojibake_docs"),
        )
        .select(
            "grp",
            "n_docs",
            "total_chars",
            "n_letters",
            "n_digits",
            "n_whitespace",
            (
                F.col("total_chars")
                - F.col("n_letters")
                - F.col("n_digits")
                - F.col("n_whitespace")
                - F.col("n_nonascii")
            ).cast("long").alias("n_other_ascii"),
            "n_nonascii",
            "n_replacement_docs",
            "n_control_docs",
            "n_mojibake_docs",
            F.when(
                F.col("total_chars") > 0,
                F.expr("(1000000 * n_nonascii) div total_chars"),
            ).cast("long").alias("nonascii_ppm"),
        )
    )


def packing_audit(
    docs: DataFrame,
    capacity: int = 128,
    n_shards: int = 16,
) -> DataFrame:
    """STREAM-PACKING audit (t43): pretraining batches are built by
    concatenating the (shuffled) token stream and cutting every
    ``capacity`` tokens — zero padding waste, but any document
    straddling a cut leaks across two training sequences (attention
    contamination). This audits that trade per shard BEFORE the
    packing job runs: bins needed, tail waste, and the number/share of
    BOUNDARY-CROSSING documents.

    Geometry mirrors d14's shuffle exactly (same 'shard:'/'ord:' md5
    keys, same (ord, id) within-shard order), so the audited order IS
    the order the epoch shuffle would feed the packer. Per doc:
    tokens-before via one per-shard running sum (no total sort — the
    d14 discipline); the doc crosses a cut iff
    before div capacity ≠ (before + tok − 1) div capacity (tok > 0;
    all quantities non-negative, truncating div both engines). Returns
    one row per shard: (shard, n_docs, total_tokens, n_bins,
    waste_tokens, n_crossings, crossing_ppm)."""
    from learn_etl_data_warehouse_spark.operators.sampling import (
        hash_bucket,
    )

    cap = int(capacity)
    ord_key = F.md5(
        F.concat(F.lit("ord:"), F.col("doc_id").cast("string")).cast("binary")
    )
    base = docs.select(
        F.col("doc_id"),
        hash_bucket(
            F.concat(F.lit("shard:"), F.col("doc_id").cast("string")),
            n_shards,
        ).alias("shard"),
        ord_key.alias("_ord"),
        token_count("text").alias("_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.asc("_ord"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("_tok").over(w), F.lit(0)).cast("long")
    scored = base.select(
        "shard",
        "_tok",
        before.alias("_before"),
    ).select(
        "shard",
        "_tok",
        (
            (F.col("_tok") > 0)
            & (
                F.expr(f"_before div {cap}")
                != F.expr(f"(_before + _tok - 1) div {cap}")
            )
        ).cast("long").alias("_cross"),
    )
    return (
        scored.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_tok").cast("long").alias("total_tokens"),
            F.sum("_cross").cast("long").alias("n_crossings"),
        )
        .select(
            F.col("shard").cast("long").alias("shard"),
            "n_docs",
            "total_tokens",
            F.expr(f"(total_tokens + {cap} - 1) div {cap}")
            .cast("long")
            .alias("n_bins"),
            (
                F.expr(f"((total_tokens + {cap} - 1) div {cap}) * {cap}")
                - F.col("total_tokens")
            ).cast("long").alias("waste_tokens"),
            "n_crossings",
            F.expr("(1000000 * n_crossings) div n_docs")
            .cast("long")
            .alias("crossing_ppm"),
        )
    )


def lexical_richness(docs: DataFrame) -> DataFrame:
    """Lexical-richness profile per group (t39): token mass, distinct
    vocabulary, HAPAX LEGOMENA (once-only tokens within the group),
    type-token ratio and hapax share in truncating ppm — the
    template-vs-organic signal next to t37's burstiness: scraped
    boilerplate shows a LOW hapax share (the same tokens over and
    over), organic prose keeps minting one-offs. t26's Heaps curve
    tracks vocabulary GROWTH over doc ranks; this is the settled
    per-group summary a curation dashboard shelves next to it.

    One (group, token) shuffle (lowercased whitespace tokens, blanks
    dropped), one group re-agg — gram-linear. A group with zero
    tokens yields NULL ratios (absent, never a divide blow-up).

    Returns (group, n_tokens, vocab, hapax, ttr_ppm,
    hapax_share_ppm), all BIGINT.
    """
    return richness_from_counts(
        source_token_counts_table(docs)
    )


def source_token_counts_table(docs: DataFrame) -> DataFrame:
    """The ADDITIVE (group, token, n) state behind
    :func:`lexical_richness` — counts merge under addition, so the
    per-source richness shelf maintains incrementally exactly like
    the LM/vocab families (one small table, counts add)."""
    toks = docs.select(
        F.col("source").alias("grp"),
        F.explode(tokens(F.lower(_c("text")))).alias("tok"),
    ).filter(F.col("tok") != "")
    return toks.groupBy("grp", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def richness_from_counts(tc: DataFrame) -> DataFrame:
    """Finalize a (group, token, n) state to the t39 output shape."""
    return tc.groupBy(F.col("grp").alias("source")).agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("long").alias(
            "hapax"
        ),
        F.expr(
            "CASE WHEN sum(n) = 0 THEN NULL"
            " ELSE (1000000 * count(1)) div sum(n) END"
        ).cast("long").alias("ttr_ppm"),
        F.expr(
            "CASE WHEN count(1) = 0 THEN NULL"
            " ELSE (1000000 * sum(CASE WHEN n = 1 THEN 1 ELSE 0 END))"
            " div count(1) END"
        ).cast("long").alias("hapax_share_ppm"),
    )


def boilerplate_prefixes(docs: DataFrame) -> DataFrame:
    """Template/boilerplate detection by shared opening (t41): docs
    grouped on their first 8 lowercased tokens — the cheap
    screen for form letters, scraped templates and generated pages
    whose BODIES differ enough to slip past exact dedup (d01) while
    d34's repeat scrub only fires on long verbatim runs. A prefix
    held by many docs across many sources is boilerplate; one confined
    to a single source is that source's template.

    Only prefixes reaching 2 documents emit (aggregate grain — the
    output is bounded by duplicated-prefix count, never the corpus);
    share ppm numerator born in DECIMAL(38,0) (the a31 class). Docs
    shorter than k tokens group on their full token list; blank docs
    drop. Returns (prefix, n_docs, n_sources, share_ppm).
    """
    t = tokens(F.lower(_c("text")))
    prefix = F.array_join(F.slice(t, 1, 8), " ")
    b = docs.select(
        F.col("source"), prefix.alias("prefix")
    ).filter(F.col("prefix") != "")
    tot = b.agg(F.count(F.lit(1)).alias("_t"))
    g = (
        b.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "prefix",
        "n_docs",
        "n_sources",
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * n_docs) div _t"
            " AS BIGINT)"
        ).alias("share_ppm"),
    )


def repeated_sentences(
    docs: DataFrame,
    prefix_words: int | None = None,
) -> DataFrame:
    """Cross-document repeated sentences (t42): boilerplate at the
    SENTENCE grain — t41 screens shared DOC openings, d34 long
    verbatim token runs; this catches the reused disclaimer/footer
    sentence embedded mid-document that both miss. Sentences follow
    t23's convention (split on [.!?]+ runs, trim, drop empties),
    case-folded; a 5-word floor keeps "yes" / "thanks" out of
    the ledger.

    ``prefix_words`` switches the grouping key from the full sentence
    to its first-k-word OPENER — the fuzzier screen that also groups
    near-identical variants ("please contact us at <different
    numbers>"); on this fixture the full-sentence grain is empty
    below sf0.1 (rotation-amplified text repeats openers, not whole
    sentences), so the driver query rides the opener grain and the
    full-sentence mode is unit-pinned — the d39 empty-grain
    precedent, resolved by parameter instead of an empty driver row.

    Per repeated key: occurrence count, distinct docs and distinct
    sources (cross-source = true boilerplate, the t41 distinction).
    Output bounded by duplicated-key count. One explode + one hash
    agg, gram-linear. Returns (sentence_key, n_occurrences, n_docs,
    n_sources).
    """
    sents = F.filter(
        F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s) != ""
    )
    ex = docs.select(
        F.col("doc_id"),
        F.col("source"),
        F.explode(sents).alias("_s"),
    ).select(
        "doc_id",
        "source",
        F.filter(
            F.split(F.lower(F.trim(F.col("_s"))), r"\s+"),
            lambda w: w != "",
        ).alias("_t"),
    )
    ex = ex.filter(F.size(F.col("_t")) >= 5)
    if prefix_words is None:
        key = F.array_join(F.col("_t"), " ")
    else:
        key = F.array_join(F.slice(F.col("_t"), 1, int(prefix_words)), " ")
    return (
        ex.select("doc_id", "source", key.alias("sentence_key"))
        .groupBy("sentence_key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
        .filter(F.col("n_occurrences") >= 2)
    )
