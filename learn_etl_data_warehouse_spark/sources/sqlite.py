"""SQLite adapters (SURVEY §2.1 S2/S4; reference server.py:53-56,115-130).

Extract: the reference reads its OLTP fact with ``SELECT * FROM <t>`` into
pandas. The engine picks the extract path by probing the session JVM for a
sqlite-jdbc driver:

- **JDBC path** (jar present): ``spark.read.jdbc`` partitioned on SQLite's
  implicit ``rowid`` — the actually-scalable shape (N executors each pull
  a rowid range straight from the source; nothing flows through the
  driver). This is what a real deployment pointing the engine at a big
  OLTP extract gets.
- **Shim path** (jar absent — this image): stdlib sqlite3 → Arrow →
  DataFrame, same ingest-edge pattern as Excel. Fine at dim scale; the
  golden parity tests pin their byte-level expectations to this path via
  ``force_shim=True`` so results stay identical whether or not a jar
  happens to be on the classpath.

Either way, ``all_string=True`` mirrors the reference's typeless OLTP
extract (SURVEY §1.2 rule: never infer, cast explicitly downstream).

Sink: the reference's ``to_sql(if_exists='replace')`` drop-and-recreate
semantics map to ``mode('overwrite')``. The engine-native sink is
partitioned parquet (see plans.warehouse); SQLite writing is kept for
byte-level parity runs and goes through the same pandas edge.
"""

from __future__ import annotations

import sqlite3

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SQLITE_JDBC_DRIVER = "org.sqlite.JDBC"


def sqlite_jdbc_available(spark: SparkSession) -> bool:
    """True when a sqlite-jdbc driver class is loadable in the session
    JVM (i.e. a jar was shipped via ``spark.jars`` / the classpath)."""
    try:
        spark._jvm.java.lang.Class.forName(SQLITE_JDBC_DRIVER)
        return True
    except Exception:
        return False


def _read_sqlite_jdbc(
    spark: SparkSession,
    db_path: str,
    table: str,
    all_string: bool,
    num_partitions: int,
) -> DataFrame:
    """Partitioned JDBC extract: wrap the table to surface SQLite's
    implicit ``rowid``, split it into ``num_partitions`` ranges, and let
    executors read their ranges concurrently. The one driver-side query
    fetches only the 2-value rowid bounds."""
    url = f"jdbc:sqlite:{db_path}"

    def reader():
        return (
            spark.read.format("jdbc")
            .option("url", url)
            .option("driver", SQLITE_JDBC_DRIVER)
        )

    bounds = (
        reader()
        .option(
            "query",
            f'SELECT min(rowid) AS lo, max(rowid) AS hi FROM "{table}"',
        )
        .load()
        .collect()[0]
    )
    wrapped = f'(SELECT rowid AS _rid, * FROM "{table}")'
    r = reader().option("dbtable", wrapped)
    if bounds["lo"] is not None and bounds["hi"] > bounds["lo"]:
        r = (
            r.option("partitionColumn", "_rid")
            .option("lowerBound", int(bounds["lo"]))
            .option("upperBound", int(bounds["hi"]) + 1)
            .option("numPartitions", num_partitions)
        )
    df = r.load().drop("_rid")
    if all_string:
        df = df.select([F.col(c).cast("string").alias(c) for c in df.columns])
    return df


def read_sqlite_table(
    spark: SparkSession,
    db_path: str,
    table: str,
    all_string: bool = True,
    force_shim: bool = False,
) -> DataFrame:
    """Extract a SQLite table. ``all_string=True`` mirrors the reference's
    typeless OLTP extract: every value arrives as its TEXT form. Uses the
    partitioned JDBC path when a driver jar is present (unless
    ``force_shim``), the sqlite3 shim otherwise."""
    if not force_shim and sqlite_jdbc_available(spark):
        return _read_sqlite_jdbc(spark, db_path, table, all_string, 8)
    con = sqlite3.connect(db_path)
    try:
        cur = con.execute(f'SELECT * FROM "{table}"')
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
    finally:
        con.close()
    schema = None
    if all_string:
        schema = T.StructType([T.StructField(c, T.StringType(), True) for c in cols])
        rows = [
            tuple(None if v is None else str(v) for v in r) for r in rows
        ]
    return spark.createDataFrame(rows, schema=schema)


def write_sqlite_table(df: DataFrame, db_path: str, table: str) -> None:
    """Replace-semantics sink (reference ``to_sql(if_exists='replace')``).

    Collects through Arrow — only for parity-sized outputs (the reference
    warehouse is <2k rows); the engine-native sink is parquet.
    """
    pdf = df.toPandas()
    con = sqlite3.connect(db_path)
    try:
        pdf.to_sql(table, con, if_exists="replace", index=False)
    finally:
        con.close()
