"""Reference CSV dialect reader (SURVEY §2.1 S3).

The reference's denormalized exports (``assets/oltp/dummy_ojol_transactions
.csv``) use ``;`` separators, ``,`` as the decimal mark, and
``dd/MM/yyyy HH.mm`` timestamps. Decimal-comma is not something the Spark
CSV source parses natively, so every column is read as string and the
caller normalizes a numeric one with ``regexp_replace(',', '.')`` before
the cast — a narrow, codegen'd transformation that pipelines into the
scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

OJOL_CSV_TS_FORMAT = "dd/MM/yyyy HH.mm"


def read_ojol_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read a ``;``-separated reference-dialect CSV.

    All columns arrive as string (header=True, no inference — SURVEY §1.2:
    explicit typing only). The caller types the columns it uses: a
    decimal-comma number with ``regexp_replace(',', '.')`` and a cast, a
    timestamp with ``to_timestamp`` and :data:`OJOL_CSV_TS_FORMAT`.
    """
    return spark.read.csv(path, sep=";", header=True, inferSchema=False)
