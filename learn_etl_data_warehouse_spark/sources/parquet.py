"""Parquet catalog over the driver-generated fixture tables.

Parquet is the engine's native batch format: vectorized scan, predicate
pushdown, column pruning, min/max row-group skipping all come free from
the Spark parquet source (replaces reference ``pd.read_sql_query`` full
scans, server.py:53-56).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


#: Session settings that change the schema Spark reads from a footer.
_FOOTER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

#: Footer schemas already read, per (file, settings): the file's identity
#: when it was read, and the schema. One entry per path and settings, so a
#: rewritten file replaces its entry.
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` that reads each file's footer schema once.
    Without a schema the read runs a Spark job for the footer; with the
    schema it has already seen, planning the scan runs none. The file is
    known by its inode, size and mtime, so a rewritten file has its schema
    read again. Directories, and paths the local filesystem does not
    have, are read as before: a file inside a directory can change without
    the directory's own stat changing."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (os.path.abspath(path), tuple(spark.conf.get(c, None) for c in _FOOTER_CONFS))
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    seen = _SCHEMAS.get(key)
    if seen is not None and seen[0] == stamp:
        return spark.read.schema(seen[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Schema comes from the parquet footer (it is
    authoritative — written by the driver); we intentionally do not force
    TESTDATA_SCHEMAS here so timestamp precision survives as-written. The
    footer is read once per file (:func:`_read_parquet`).

    The events fixture has shipped in two flavors across driver rounds:
    TIMESTAMP(NANOS) (r1-r3), which Spark's parquet reader rejects
    outright, and plain microsecond timestamps without isAdjustedToUTC
    (r4+), which Spark reads as TIMESTAMP_NTZ. Both are normalized to the
    session-zone TIMESTAMP type the whole query surface was built on: the
    nanos path flips the session to read nanos as long and floor-converts
    to microseconds (the same truncation DuckDB and pandas apply), and the
    NTZ path casts under the UTC session (value-identical to DuckDB's
    naive read), so oracle comparisons stay bit-identical either way.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return _read_parquet(spark, path)
    # Scope the legacy-conf flip: restore the prior value after planning the
    # scan, so an unrelated raw read of a NANOS file elsewhere still fails
    # loudly instead of silently returning bigint (order-dependent behavior).
    prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        df = _read_parquet(spark, path)
        # Force schema resolution while the flag is on; the parquet footer is
        # read at analysis time, so the resolved bigint type sticks to `df`
        # even after the conf is restored.
        dtypes = dict(df.dtypes)
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)
    if dtypes.get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtypes.get("ts") == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
