"""XML source/sink over Spark 4's built-in XML data source (the
spark-xml package folded into core as of Spark 4.0) — the enterprise
interchange dialect next to CSV/JSONL/fixed-width.

Contract mirrors the other sources:

- reads take an explicit schema (no inference pass over a 100 TB
  extract; sampled inference silently drops fields absent from the
  sample);
- reads are PERMISSIVE with a ``_corrupt`` column so one malformed
  record quarantines instead of failing the job (same split semantics
  as :mod:`.jsonl`);
- ``row_tag`` scopes the record element; attributes surface with the
  source's standard ``_`` prefix.

Scale note: unlike text/JSONL, an XML file is NOT line-splittable — the
source parses whole files per task — so many medium files beat one
giant file; land extracts pre-sharded (the same guidance as Excel).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt"


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: T.StructType,
) -> DataFrame:
    """Schema-first permissive XML scan: records that fail to parse or
    type land in ``_corrupt`` (raw record text, data columns null)."""
    full = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
    )
    return (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .schema(full)
        .load(path)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean_rows_without_corrupt_col, quarantined_raw_records).

    Breaks lineage with a lazy localCheckpoint first: Spark disallows
    corrupt-only projections straight off a raw scan
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN — the same restriction the JSONL
    source dodges with a text scan + ``from_json``, unavailable here
    because XML records span lines so there is no independent text scan
    to parse from). The parse then runs ONCE and both branches share it
    — read per-shard so the checkpoint is bounded by the shard, not the
    corpus.
    """
    base = df.localCheckpoint(eager=False)
    clean = base.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = base.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_record")
    )
    return clean, bad


def write_xml(
    df: DataFrame, path: str, row_tag: str = "row", root_tag: str = "rows"
) -> None:
    """Shard to one XML document per partition (part files under
    ``path``), ``root_tag``/``row_tag`` structured — the round-trip
    partner of :func:`read_xml`."""
    (
        df.write.format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .mode("overwrite")
        .save(path)
    )
