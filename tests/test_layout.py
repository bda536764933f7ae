"""Z-order key: interleave correctness vs a Python reference, and the
key's NULL and constant-column quantization."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from tegallega_spark.operators.layout import add_zorder_key, interleave_bits


def _py_interleave(vals, bits):
    out = 0
    for i in range(bits):
        for j, v in enumerate(vals):
            out |= ((v >> i) & 1) << (i * len(vals) + j)
    return out


def test_interleave_matches_python_reference(spark):
    rows = [(3, 5), (0, 0), (65535, 65535), (1, 0), (0, 1), (12345, 54321)]
    df = spark.createDataFrame(rows, "a long, b long").withColumn(
        "z", interleave_bits([F.col("a"), F.col("b")], 16)
    )
    for r in df.collect():
        assert r.z == _py_interleave((r.a, r.b), 16), (r.a, r.b)


def test_interleave_rejects_long_overflow(spark):
    with pytest.raises(ValueError, match="exceeds"):
        interleave_bits([F.lit(1)] * 4, 16)


def test_zorder_key_null_and_constant(spark):
    df = spark.createDataFrame(
        [(None, 7.0), (5, 7.0), (10, 7.0)], "a int, b double"
    )
    keyed = add_zorder_key(df, ["a", "b"], bits=8)
    rows = {r.a: r["__zkey"] for r in keyed.collect()}
    # constant column quantizes to 0 everywhere; NULL a quantizes to 0 so
    # its key equals the key of the minimum
    assert rows[None] == rows[5] == 0
    assert rows[10] > 0
