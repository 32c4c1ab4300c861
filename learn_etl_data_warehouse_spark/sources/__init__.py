"""Source/sink adapters (SURVEY §2.1).

- :mod:`.parquet` — native parquet catalog over ``/root/testdata/sf*``
- :mod:`.csv_dialect` — the reference's ``;``-separated, decimal-comma,
  ``dd/MM/yyyy HH.mm`` CSV dialect (S3)
- :mod:`.excel` — Excel dim ingest (S1), stdlib xlsx reader
- :mod:`.sqlite` — SQLite fact extract (S2) + warehouse sink (S4)
"""

from .parquet import load_table  # noqa: F401
