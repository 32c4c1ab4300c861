"""End-to-end pipelines (the reference's EP1 ETL, re-expressed)."""

from .warehouse import clean_fact  # noqa: F401
