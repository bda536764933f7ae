"""Deterministic hash-based sampling — reproducible subsets of a 100 TB corpus.

`df.sample()` is seed-dependent per partition layout, so the same logical
sample is NOT stable across repartitions, retries, or engine versions.
Training-data pipelines need the opposite: a sample that is a pure function
of the row key, so every rerun (and every other engine auditing the run)
selects the identical rows.

The trick: md5 of the key is a uniform 128-bit value; comparing its hex
PREFIX against a threshold string selects a deterministic fraction
(two hex chars → granularity 1/256).  No shuffle, no sort, no RNG state —
the sample predicate pushes down to a parquet scan filter, which is exactly
what you want when sampling 100 TB: the scan is the only cost.

Stratified variant: a per-stratum threshold (CASE over the stratum column)
up- or down-samples each stratum independently — e.g. cap 'en' at 12.5%
while keeping 50% of a low-resource language.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F


def hash_bucket(key: Column) -> Column:
    """Two-hex-char deterministic bucket ('00'..'ff') from a row key."""
    return F.substring(F.md5(key.cast("string").cast("binary")), 1, 2)


def stratified_hash_sample(
    df: DataFrame,
    key: str,
    stratum: str,
    thresholds: dict[str, str],
    default_threshold: str,
) -> DataFrame:
    """Per-stratum deterministic sampling; returns input rows + `bucket`.

    thresholds maps stratum value → two-hex-char threshold; strata absent
    from the map use default_threshold.
    """
    thr: Column = F.lit(default_threshold)
    for value, t in sorted(thresholds.items()):
        thr = F.when(F.col(stratum) == value, F.lit(t)).otherwise(thr)
    return df.withColumn("bucket", hash_bucket(F.col(key))).filter(F.col("bucket") < thr)


def md5_60(x: Column) -> Column:
    """First 15 hex chars of md5(x) — 60 bits — as a non-negative bigint.
    The one text hash every auditable operator uses (hash_frac, SimHash
    shingles, winnowing sketches): any engine with md5 replays it exactly,
    which is what the q36, q62 and q63 DuckDB oracles do."""
    return F.conv(F.substring(F.md5(x.cast("binary")), 1, 15), 16, 10).cast("long")


def hash_frac(key: Column, salt: str = "") -> Column:
    """Deterministic uniform fraction in [0, 1) from a row key: the first 15
    hex chars of md5 (60 bits) as a bigint, divided by 2^60.  Fine-grained
    sibling of hash_bucket — rate comparisons at double precision instead of
    1/256 granularity, still a pure scan-side expression.

    `salt` prefixes the key before hashing, giving an INDEPENDENT hash
    stream: two samplers keyed off the same id with different salts make
    uncorrelated keep decisions.  Without it, any second md5(id)-based
    sampler downstream conditions on the first one's survivors (hash_bucket
    is exactly the top 8 bits of the unsalted fraction) and its effective
    rate is silently wrong."""
    salted = F.concat(F.lit(salt), key.cast("string")) if salt else key.cast("string")
    return md5_60(salted).cast("double") / F.lit(float(1 << 60))


def mixture_sample(
    df: DataFrame,
    key: str,
    stratum: str,
    targets: dict[str, float],
) -> DataFrame:
    """Rebalance a corpus to TARGET domain proportions (The Pile /
    MassiveText-style mixture weighting: the training set is specified as
    "30% web, 30% books, ..." — not as per-domain keep rates).

    Given target output shares w_s (must sum to ~1) and stratum counts n_s,
    the largest feasible output preserving the shares without upsampling is
    N = min_s(n_s / w_s); each stratum keeps rate r_s = w_s * N / n_s (the
    binding stratum keeps everything, the rest downsample).  Strata not in
    `targets` are dropped — the mixture is the whole output.

    Selection is `hash_frac(key) < r_s` — a pure function of the row key, so
    the identical mixture comes back on every rerun and on any engine that
    can evaluate md5 (the DuckDB oracle for q63 recomputes it bit-for-bit).
    The per-stratum counts are one aggregate over the targeted strata; the
    filter itself stays scan-side: no shuffle, no RNG state.
    """
    total_w = sum(targets.values())
    if not math.isclose(total_w, 1.0, rel_tol=1e-6):
        raise ValueError(f"target shares must sum to 1, got {total_w}")
    rows = (
        df.filter(F.col(stratum).isin(list(targets)))
        .groupBy(stratum).count().collect()
    )
    counts = {r[stratum]: r["count"] for r in rows}
    missing = sorted(set(targets) - {s for s in counts if counts.get(s)})
    if missing:
        raise ValueError(f"strata with target weight but no rows: {missing}")
    n_out = min(counts[s] / w for s, w in targets.items())
    rates = {s: w * n_out / counts[s] for s, w in targets.items()}
    # The binding stratum's rate is exactly 1.0 in exact arithmetic, but
    # w * (n/w) / n can land an ulp below 1.0 for non-dyadic weights
    # (0.3 * (1200/0.3) / 1200 == 0.9999999999999998) — at which point a
    # row whose hash_frac sits in that 2e-16 sliver would be dropped and
    # the keep-all contract silently broken.  Snap near-1 rates up.
    rates = {s: 1.0 if r > 1.0 - 1e-12 else r for s, r in rates.items()}
    rate: Column = F.lit(None).cast("double")
    # sort by (type name, repr) not the raw value: stratum values come from
    # a caller-supplied counts/targets dict and may be heterogeneous (ints
    # mixed with strings) — any stable deterministic order works here
    for value, r in sorted(rates.items(), key=lambda kv: (type(kv[0]).__name__, repr(kv[0]))):
        rate = F.when(F.col(stratum) == value, F.lit(r)).otherwise(rate)
    # 'mix|' salt: an independent hash stream from hash_bucket / the
    # stratified sampler, which shares the raw md5(id) prefix — composing
    # the two unsalted would make the downstream rate conditional on this
    # stage's survivors (the correlated-sampler bug)
    return df.filter(hash_frac(F.col(key), salt="mix|") < rate)
