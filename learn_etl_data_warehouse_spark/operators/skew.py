"""Skew-mitigation join: salting for hot keys.

AQE's skew-join splitter handles moderate skew automatically (enabled in
session.py). This operator is the explicit fallback for pathological
distributions — e.g. the reference's fact, where 931/1878 rows share the
'' merchant key: at 100 TB such a key sends half the table to one
reducer.

Salting scheme: the skewed (big) side gets a deterministic salt in
[0, n) derived from row content (xxhash64 — no RNG, plan is reproducible);
the small side is replicated n ways. The join key becomes
(key, salt), splitting each hot key across n reducers. Equivalent to the
plain join because every (key, salt) pair on the left finds exactly the
one replicated right row with that salt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Join ``big`` to ``small`` on ``key`` with the big side salted.

    ``small`` is replicated ``salt_buckets``× (only viable when it is
    orders of magnitude smaller — the same precondition as broadcasting,
    but without the single-executor memory bound).

    Only ``inner`` and ``left`` are supported: with the small side
    replicated, right/full outer joins would emit each unmatched small
    row once per salt — silently wrong, so they are rejected.

    The salt mixes in ``monotonically_increasing_id`` so even byte-equal
    duplicate rows (the classic dirty-ingest hot key) fan out across
    buckets; which salt a row gets never affects the join result, so
    output determinism is preserved."""
    salted_big = big.withColumn(
        "_salt",
        F.pmod(
            F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets)
        ),
    )
    replicated_small = small.withColumn(
        "_salt",
        F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)])),
    )
    out = salted_big.join(replicated_small, on=[key, "_salt"], how="inner")
    return out.drop("_salt")
