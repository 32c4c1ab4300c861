"""PySpark-native analytics engine with the query surface of
``hariangr/learn_etl_data_warehouse`` (reference: an Indonesian ride-hailing
star-schema ETL + dashboard server), rebuilt Spark-first.

Layout
------
- :mod:`.session`     — SparkSession factory tuned for local + cluster use
- :mod:`.schemas`     — explicit StructType registry for every source table
- :mod:`.sources`     — parquet / dialect-CSV / Excel / SQLite adapters
- :mod:`.functions`   — cleaning expression library (reference transformer.py
  parity, native Column expressions + pandas_udf twins), histogram aggregate
- :mod:`.operators`   — star joins, rollups, window ops, dedup family,
  similarity search, text analysis, multimodal plumbing
- :mod:`.plans`       — end-to-end pipelines (ojol warehouse rebuild)
- :mod:`.streaming`   — events surface: tumbling/sliding/session windows
  and attribution joins

Design north star: every operator must be shuffle-sane at 100 TB — no
driver-side collects in the engine path, broadcast only bounded dims,
filters/projections pushed to the scan, AQE-friendly plans.
"""

__version__ = "0.1.0"
