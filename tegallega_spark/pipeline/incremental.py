"""Incremental recomputation (SURVEY §2.10 + §4.1 'incremental recompute').

The reference's incrementality is CI-level: GitHub Actions path filters
rerun the whole pipeline when route-data/geojson/** or routes.json change
(direct-graphs-generation.yml:5-9), and a git-diff guard skips no-op
commits.  The idiomatic Spark mirror is data-level:

- outputs partitioned by relation_id,
- `spark.sql.sources.partitionOverwriteMode=dynamic` so a write only
  replaces the partitions present in the incoming DataFrame,
- change detection by content fingerprint (xxhash64 of the partition's
  rows), not timestamps — the same idempotence the git-diff guard gives.

At 100 TB this is the difference between rewriting the world and
rewriting the ~1 route that changed.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def partition_fingerprints(df: DataFrame) -> DataFrame:
    """Content hash per relation_id partition: order-insensitive
    fingerprint (the data-level analogue of the reference's git diff)."""
    # bit_xor alone is blind to changes that preserve even row
    # multiplicities (xor of two identical rows cancels: swapping 2×A for
    # 2×B keeps xor AND count unchanged), so pair it with a sum of hashes.
    # Under ANSI mode sum(long) overflows on full-range xxhash64 values —
    # decimal(38,0) holds the exact sum for up to ~10^19 rows, and its
    # string form feeds the final combine hash.
    # canonical column order: a partitioned read-back reorders columns
    # (partition key last), which must not change the fingerprint
    row_hash = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    return df.groupBy("relation_id").agg(
        F.bit_xor(row_hash).alias("__x"),
        F.sum(row_hash.cast("decimal(38,0)")).alias("__s"),
        F.count("*").alias("__n"),
    ).select(
        "relation_id",
        F.xxhash64(
            F.col("__x").cast("string"),
            F.col("__s").cast("string"),
            F.col("__n").cast("string"),
        ).alias("fingerprint"),
    )


def changed_partitions(new: DataFrame, previous: DataFrame | None) -> DataFrame:
    """Relations whose content fingerprint differs from the previous run
    (or that are new).  previous=None → everything is changed."""
    new_fp = partition_fingerprints(new)
    if previous is None:
        return new_fp.select("relation_id")
    old_fp = partition_fingerprints(previous).withColumnRenamed(
        "fingerprint", "old_fingerprint"
    )
    j = new_fp.join(old_fp, "relation_id", "left")
    return j.filter(
        F.col("old_fingerprint").isNull()
        | (F.col("fingerprint") != F.col("old_fingerprint"))
    ).select("relation_id")


def write_partitioned(df: DataFrame, out_dir: str) -> None:
    """Dynamic-partition-overwrite write: only partitions present in `df`
    are replaced; untouched relations keep their existing files."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    df.write.mode("overwrite").partitionBy("relation_id").parquet(out_dir)


def incremental_update(
    spark: SparkSession,
    new: DataFrame,
    out_dir: str,
) -> int:
    """One incremental cycle: diff against the current output, rewrite only
    changed/new relation partitions.  Returns #partitions rewritten."""
    try:
        previous = spark.read.parquet(out_dir)
        # partition-column type inference turns numeric-string keys (e.g.
        # relation_id '17077467') into ints on read-back, which would make
        # xxhash64(int) never equal xxhash64(string) — every partition would
        # look changed and the pipeline would silently rewrite everything.
        # Cast the key back to the incoming frame's type before fingerprinting.
        key_type = new.schema["relation_id"].dataType
        previous = previous.withColumn(
            "relation_id", F.col("relation_id").cast(key_type)
        )
    except Exception:
        previous = None
    changed = changed_partitions(new, previous)
    n = changed.count()
    if n == 0:
        return 0
    subset = new.join(F.broadcast(changed), "relation_id")
    write_partitioned(subset, out_dir)
    return n
