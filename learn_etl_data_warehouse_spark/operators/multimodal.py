"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

The decode kernels (features, thumbnails, frame samples) are
deterministic functions of the payload bytes, so every worker returns
the same values for the same media.

Design rules for 100 TB of media:
- media bytes ride in a ``binary`` column next to typed metadata
  (``media_type``, ``byte_len``, ``sha256``) so filters/joins run on
  metadata without touching payloads (parquet column pruning keeps the
  blob unread);
- per-batch processing via ``mapInPandas`` (Arrow batches) — the decode
  amortizes over a batch, and ``spark.sql.execution.arrow.maxRecordsPerBatch``
  bounds memory per task;
- outputs are fixed-size feature arrays, never re-encoded blobs, so
  downstream joins/aggregations stay columnar.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image/audio/video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("byte_len", T.LongType(), True),
        T.StructField("sha256", T.StringType(), True),
    ]
)

FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("byte_len", T.LongType(), True),
        T.StructField("features", T.ArrayType(T.DoubleType()), True),
    ]
)


def attach_media_metadata(df: DataFrame) -> DataFrame:
    """Typed metadata derivation — native expressions over the binary
    column (length + content hash); this is the columnar-filterable layer."""
    return df.withColumn("byte_len", F.length(F.col("payload")).cast("long")).withColumn(
        "sha256", F.sha2(F.col("payload"), 256)
    )


def _decode_media(payload: bytes) -> list[float]:
    """Feature kernel: deterministic byte histogram over FEATURE_DIM
    buckets, L1-normalized (a null payload yields the zero vector)."""
    if payload is None:
        return [0.0] * FEATURE_DIM
    counts = [0] * FEATURE_DIM
    for b in payload[:4096]:  # bounded work per item, like a thumbnail decode
        counts[b % FEATURE_DIM] += 1
    total = sum(counts) or 1
    return [c / total for c in counts]


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction via ``mapInPandas``.

    The iterator-of-batches shape is the real production contract: each
    pandas batch holds ``maxRecordsPerBatch`` rows, the decode loop is
    per-batch Python (the unavoidable slow path for codec work), and the
    output schema is fixed so Catalyst can plan downstream joins.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_decode_media(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "byte_len": pdf["payload"].map(
                        lambda b: 0 if b is None else len(b)
                    ),
                    "features": feats,
                }
            )

    return df.mapInPandas(run, schema=FEATURES_SCHEMA)


THUMB_H, THUMB_W = 4, 4

RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("pixels", T.ArrayType(T.DoubleType()), True),
    ]
)

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_index", T.IntegerType(), False),
        T.StructField("byte_offset", T.LongType(), False),
        T.StructField("frame_feature", T.DoubleType(), True),
    ]
)


def _resize_one(payload: bytes, h: int, w: int) -> list[float]:
    """Resize kernel: a deterministic h×w 'grayscale' grid of payload
    byte means in [0,1], row-major (an empty payload yields the zero
    grid)."""
    if not payload:
        return [0.0] * (h * w)
    n = h * w
    chunk = max(len(payload) // n, 1)
    return [
        sum(payload[i * chunk : (i + 1) * chunk]) / max(len(payload[i * chunk : (i + 1) * chunk]), 1) / 255.0
        for i in range(n)
    ]


def resize_images(df: DataFrame) -> DataFrame:
    """Batch image resize via mapInPandas — the per-batch loop is where
    decode work amortizes; output is a fixed-size pixel array so the
    result is columnar again."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "height": THUMB_H,
                    "width": THUMB_W,
                    "pixels": [_resize_one(p, THUMB_H, THUMB_W) for p in pdf["payload"]],
                }
            )

    return df.mapInPandas(run, schema=RESIZED_SCHEMA)


def _sample_frames(payload: bytes, n_frames: int) -> list[tuple[int, int, float]]:
    """Frame sampler: evenly spaced byte offsets, byte-mean feature."""
    size = len(payload) if payload is not None else 0
    rows = []
    for i in range(n_frames):
        off = (size * i) // n_frames
        window = payload[off : off + 64] if payload else b""
        rows.append((i, off, (sum(window) / max(len(window), 1)) / 255.0))
    return rows


def sample_frames(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Video frame sampling: emit ``n_frames`` evenly spaced
    (frame_index, byte_offset, feature) rows per media item — a 1→N
    mapInPandas."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [],
                "frame_index": [],
                "byte_offset": [],
                "frame_feature": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for i, off, feat in _sample_frames(payload, n_frames):
                    out["media_id"].append(mid)
                    out["frame_index"].append(i)
                    out["byte_offset"].append(off)
                    out["frame_feature"].append(feat)
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=FRAMES_SCHEMA)


def decode_batches(df: DataFrame, byte_budget: int) -> DataFrame:
    """Decode-batch scheduling: assign each media item to a per-modality,
    APPROXIMATELY budget-sized batch — the grouping step before the
    mapInPandas decode kernels (m02-m04) run, sized so an Arrow batch ≈
    one GPU/worker decode call.

    Same plan shape as t06 sequence packing: one shuffle on the modality,
    a running prefix-sum window within it, batch = floor(offset/budget).
    Deterministic (ordered by id), SQL-mirrorable, no Python.

    Packing bound (greedy by START offset, not by end): batch k owns the
    items whose prefix offset falls in [k·budget, (k+1)·budget), so the
    item straddling the upper boundary overflows into k — a batch carries
    at most ``budget + max(byte_len) - 1`` payload bytes, and an item
    larger than the budget overflows its batch by itself. Callers must
    size the decoder budget with that headroom (or pre-split oversized
    payloads). True reset-on-overflow greedy packing is a sequential
    recurrence — not expressible as a closed-form window — and buys
    nothing here because the decode kernels stream Arrow slices anyway.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("media_type")
        .orderBy("media_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum("byte_len").over(w), F.lit(0)).cast("long")
    return df.select(
        F.col("media_id"),
        F.col("media_type"),
        F.col("byte_len").cast("long").alias("byte_len"),
        offset.alias("byte_offset"),
        F.floor(offset / F.lit(byte_budget)).cast("long").alias("batch_id"),
    )


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter used by tests/bench: treat document text bytes as an opaque
    payload so the multimodal plumbing exercises real (non-null) binary
    data from the fixture tables."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )


def media_payload_audit(df: DataFrame) -> DataFrame:
    """Byte-level PAYLOAD audit per modality (m07): count, byte mass,
    size extrema, distinct-content count and duplicate ppm — the
    ingest-ledger numbers a multimodal pipeline checks before spending
    decode cycles (all from :func:`attach_media_metadata`'s native
    binary expressions: no codec, no Python, works for any modality).
    Returns (media_type, n, sum_bytes, min_bytes, max_bytes,
    n_distinct, dup_ppm); output bounded by the modality alphabet."""
    m = attach_media_metadata(df)
    return (
        m.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("byte_len").cast("long").alias("sum_bytes"),
            F.min("byte_len").cast("long").alias("min_bytes"),
            F.max("byte_len").cast("long").alias("max_bytes"),
            F.countDistinct("sha256").cast("long").alias("n_distinct"),
        )
        .select(
            "media_type",
            "n",
            "sum_bytes",
            "min_bytes",
            "max_bytes",
            "n_distinct",
            F.expr("(1000000 * (n - n_distinct)) div n")
            .cast("long")
            .alias("dup_ppm"),
        )
    )


def media_size_histogram(df: DataFrame) -> DataFrame:
    """Payload size histogram per modality (m08): digit-count buckets
    (the e19 log10-by-string-length trick — bucket b spans
    [10^(b−1), 10^b), no libm) over byte lengths, with per-bucket
    extrema and the within-modality share — the size-mix view next to
    m07's totals ledger: a modality whose mass migrates buckets
    (thumbnails appearing, clips lengthening) drifts HERE before the
    mean moves. Output bounded by |modalities| · ~10 buckets.

    Returns (media_type, size_bucket, n, min_bytes, max_bytes,
    share_ppm), all BIGINT; share truncating within modality.
    """
    m = attach_media_metadata(df)
    b = m.select(
        F.col("media_type"),
        F.col("byte_len"),
        F.length(F.col("byte_len").cast("string")).cast("long").alias(
            "size_bucket"
        ),
    )
    cells = b.groupBy("media_type", "size_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("byte_len").cast("long").alias("min_bytes"),
        F.max("byte_len").cast("long").alias("max_bytes"),
    )
    tot = cells.groupBy("media_type").agg(F.sum("n").alias("_t"))
    return cells.join(tot, "media_type").select(
        "media_type",
        "size_bucket",
        "n",
        "min_bytes",
        "max_bytes",
        F.expr("(1000000 * n) div _t").cast("long").alias("share_ppm"),
    )
