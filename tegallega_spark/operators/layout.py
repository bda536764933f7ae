"""Z-order data layout — multi-dimensional data skipping for 100 TB scans.

A table range-partitioned on ONE column prunes scans filtered on that
column and nothing else.  Interleaving the bits of several columns into one
Morton (Z-order) key and range-partitioning + sorting on it gives every
interleaved column locality: a predicate on ANY subset of the dimensions
touches only the files/row-groups whose min-max stats intersect it, which
is how Delta/Iceberg OPTIMIZE ZORDER and the classic Morton-curve
literature get multi-column skipping from single-column clustering.

Everything here is column expressions — the bit interleave compiles into
whole-stage codegen (no UDF).  Clustering a write on the key is one
repartitionByRange (sampled range exchange) + in-partition sort, exactly
the shuffle profile of a sort-based OPTIMIZE; q67 emits the key itself.

The testdata has no reference twin for this (the reference engine has no
layout optimizer); it exists for the training-data pipeline story: corpus
tables laid out by (lang, quality) or embeddings by (bucket, norm) serve
pruned scans for curriculum sampling without a secondary index.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

__all__ = ["interleave_bits", "add_zorder_key"]


def interleave_bits(quantized: list[Column], bits: int = 16) -> Column:
    """Morton-interleave `bits` low bits of each already-quantized
    non-negative int column: result bit (i*ncols + j) = bit i of column j.

    ncols*bits must fit in a signed 64-bit long (≤ 63 total bits).
    """
    ncols = len(quantized)
    if ncols * bits > 63:
        raise ValueError(f"{ncols} cols × {bits} bits exceeds a signed long")
    out = F.lit(0).cast("long")
    for i in range(bits):
        for j, q in enumerate(quantized):
            out = out.bitwiseOR(
                F.shiftleft(
                    F.shiftright(q.cast("long"), i).bitwiseAND(F.lit(1)),
                    i * ncols + j,
                )
            )
    return out


def add_zorder_key(
    df: DataFrame, cols: list[str], bits: int = 16, key_name: str = "__zkey"
) -> DataFrame:
    """Append a Z-order key over `cols` (numeric or timestamp).

    Each column is min-max scaled to [0, 2^bits) using one metadata-sized
    global aggregate broadcast back to every row — the same two-pass shape
    as repartitionByRange's sampling pass.  Constant columns quantize to 0.
    NULL quantizes to 0 (sorts first, same as NULLS FIRST clustering).
    """
    as_num = {c: F.col(c).cast("double") for c in cols}
    stats = df.agg(
        *[F.min(v).alias(f"__mn_{c}") for c, v in as_num.items()],
        *[F.max(v).alias(f"__mx_{c}") for c, v in as_num.items()],
    )
    scale = float(2**bits - 1)
    with_stats = df.join(F.broadcast(stats))
    quantized = []
    for c, v in as_num.items():
        mn, mx = F.col(f"__mn_{c}"), F.col(f"__mx_{c}")
        span = mx - mn
        q = F.when(
            v.isNull() | span.isNull() | (span == 0), F.lit(0)
        ).otherwise(
            F.floor((v - mn) / span * scale)
        )
        quantized.append(q)
    drop = [f"__mn_{c}" for c in cols] + [f"__mx_{c}" for c in cols]
    return with_stats.withColumn(
        key_name, interleave_bits(quantized, bits)
    ).drop(*drop)
