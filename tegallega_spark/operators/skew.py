"""Skew-aware join (BASELINE.json 100 TB constraint; q68).

AQE's skew-join splitting handles most runtime skew; `salted_join` covers
the case it can't: a priori known hot keys (e.g. one agency with 100× the
trips) — explode the small side over SALT replicas, scatter the big
side uniformly, join on (key, salt).  Turns one straggler partition into
SALT even ones at the cost of replicating the small side.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


# Replicas of the small side (q68's hot-key spread).
SALT = 8


def salted_join(big: DataFrame, small: DataFrame, key: str) -> DataFrame:
    """Inner equi-join with salting: big side gets a uniform pseudo-random
    salt derived from a stable hash of its whole row key-set
    (deterministic — no rand(), so retries and resumes reproduce the same
    partitioning); small side is exploded over all SALT values."""
    big_cols = big.columns
    small_cols = [c for c in small.columns if c != key]
    b = big.withColumn("__salt", F.pmod(F.xxhash64(*big_cols), F.lit(SALT)))
    s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(SALT - 1)))
    ).withColumn("__salt", F.col("__salt").cast(b.schema["__salt"].dataType))
    joined = b.join(s, [key, "__salt"])
    return joined.select(*big_cols, *small_cols)
