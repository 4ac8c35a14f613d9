"""Skew-aware join utilities.

When the small side of a skewed join fits in memory, ``broadcast()``
makes skew irrelevant — that is the default everywhere in this engine.
``salted_join`` is for the remaining case: a shuffle join whose key
distribution is Zipfian (hub entities). The hot-side key is salted with
``SALT_BUCKETS`` shards and the other side is replicated across the
shards, so one hot key spreads over N reducers instead of one straggler.
AQE's skew-join splitting handles moderate skew automatically; salting
is the explicit fix for the extreme (single-key-dominates) case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Shards a salted join spreads each key over; read at call time.
SALT_BUCKETS = 16


def salted_join(skewed: DataFrame, other: DataFrame, on: str) -> DataFrame:
    """Inner join ``skewed ⋈ other`` on column ``on`` with key salting.

    ``skewed`` gets a random-but-deterministic salt per row
    (hash of the whole row mod buckets); ``other`` is exploded
    ``SALT_BUCKETS`` times. Output columns = skewed ∪ other minus the
    duplicate key.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(SALT_BUCKETS))
    left = skewed.withColumn("__salt__", salt)
    right = other.withColumn(
        "__salt__", F.explode(F.array(*[F.lit(i) for i in range(SALT_BUCKETS)]))
    )
    return left.join(right, [on, "__salt__"]).drop("__salt__")
