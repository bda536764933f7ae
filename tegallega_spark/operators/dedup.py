"""Deduplication operators.

Reference patterns: first-wins dedup by stop_id (generate_gtfs.py:115-123),
last-wins dedup by relationId (update-routes.js:37).  Extended with the
large-scale near-dup family (MinHash-LSH, SimHash, n-gram Jaccard) a
training-data pipeline needs.

Scale notes (100 TB):
- keep-first/last are a single shuffle on the dedup key (window + filter);
  AQE handles skewed keys.
- MinHash-LSH: signature computation is embarrassingly parallel (one
  per-row Arrow UDF pass); candidate generation joins on
  (band_id, band_hash) buckets so the shuffle volume is #bands × #docs tiny
  rows, never the quadratic pair space.
- SimHash: 60-bit fingerprint per doc from md5 shingle hashes (the same
  hash the DuckDB oracle replays); near-dup candidates join on band
  substrings of the fingerprint.
"""

from __future__ import annotations

import functools
import hashlib

import pandas as pd  # noqa: F401 — resolved by pandas_udf type-hint inference

from pyspark.sql import Column, DataFrame, Window
import pyspark.sql.functions as F

from tegallega_spark.operators.sampling import md5_60
from tegallega_spark.session import (
    _SHUFFLE_NODE_NAMES,
    _has_plan_node,
    attach_intermediates,
    small_scan_input,
)


def parallelize_for_udf(df: DataFrame) -> DataFrame:
    """Match partition count to cluster parallelism before a CPU-bound
    Arrow-UDF stage.

    A small parquet input splits into fewer partitions than cores (split
    size is byte-based), and AQE coalesces tiny shuffles to one partition —
    both right for IO-bound stages but wrong before a Python stage
    whose cost is CPU per row: the UDF then runs 1-2-way on a 32-core
    machine.  Repartitioning a few MB is free; at 100 TB the scan yields
    far more splits than cores and this is a no-op.

    r7: the probe no longer touches df.rdd.  Materializing the Python RDD
    runs the FULL Catalyst optimizer over the upstream plan just to read a
    partition count — on the composed clean_corpus program the profiler
    measured five such deep-prefix optimizations at ~43 s of the 5 k race's
    65 s, each thrown away because the repartition returns a new plan that
    re-optimizes from scratch.  Instead, read sizeInBytes off the ANALYZED
    plan's stats (a plan-tree visitor walk — no optimization, no physical
    planning): the scan's partition count is ~size/maxPartitionBytes, so
    `size < cores × maxPartitionBytes` is exactly the "fewer splits than
    cores" condition the old probe detected, at microsecond cost.  Inputs
    estimated larger keep their (already >= cores) scan/shuffle
    partitioning; the estimate only steers a perf heuristic, so an
    over-estimate merely skips an optional repartition.

    r8: the size-vs-split formula only holds for SCAN-rooted lineage —
    analyzed-plan stats multiply child sizes through joins and ignore
    filters, so a genuinely tiny post-join/post-aggregate frame could be
    estimated over threshold and skip the repartition, running the UDF
    1-2-way (the exact pathology this function prevents).  A plan that
    already contains a shuffle-origin node (join / aggregate / window /
    repartition / sort / dedup) is partitioned by
    spark.sql.shuffle.partitions, not by file splits — for those, compare
    THAT width against cluster parallelism instead (matching what the
    pre-r7 df.rdd probe reported for such plans).

    r9 (ADVICE): the shuffle-node check walks the logical tree's nodeName()s
    via py4j instead of regexing the rendered plan string — a query literal
    or column name containing 'Sort'/'Window'/'Join' (e.g. a filter on
    F.lit("Sort code")) false-positived the string match, routing a tiny
    scan-rooted frame down the shuffle branch where shuffle_parts >= target
    skips the widening repartition.  The walk is O(nodes) py4j calls with
    early exit — tens of ms on the deepest composed plans, once per UDF
    stage.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    max_split = int(
        spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    )
    if small_scan_input(df, target * max_split):
        return df.repartition(target)
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    if shuffle_parts < target and _has_plan_node(
        df._jdf.queryExecution().analyzed(), _SHUFFLE_NODE_NAMES
    ):
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# Keyed dedup
# ---------------------------------------------------------------------------

def dedup_keep_first(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """First occurrence per key wins, 'first' defined by order_col ascending
    (reference generate_gtfs.py:115 — first route's stop metadata kept)."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_keep_last(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Last occurrence per key wins (reference update-routes.js:37 — JS Map
    insertion semantics)."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Shingling + MinHash
# ---------------------------------------------------------------------------

def _normalized_words(text: Column) -> Column:
    """Lowercase word tokens with empties removed."""
    return F.filter(
        F.split(F.lower(text), r"[^a-z0-9]+"), lambda w: w != ""
    )


def word_shingles(text: Column, n: int) -> Column:
    """Distinct n-word shingles of a text column, as array<string>.

    Pure column expressions (transform over a sequence of offsets) — no UDF.
    """
    words = _normalized_words(text)
    num = F.greatest(F.size(words) - F.lit(n - 1), F.lit(0))
    shingles = F.transform(
        F.sequence(F.lit(1), num),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)),
    )
    # a doc shorter than n words contributes its whole text as one shingle
    return F.array_distinct(
        F.when(F.size(words) < n, F.array(F.concat_ws(" ", words))).otherwise(shingles)
    )


# Prime > 2^32: the classic minhash permutation universe.  Scale note
# (measured, r12 stress_skew at 1.3 M docs): reducing shingle hashes mod
# this 32-bit prime is ONLY used for signature/band candidate generation
# — birthday collisions there (~k²/2³³ for k distinct shingles
# corpus-wide) can add or drop CANDIDATES at the margin, never corrupt
# output, because the verified paths recompute exact Jaccard over the
# RAW 64-bit shingle hashes (make_band_shingle_udf stores sh unreduced;
# collision odds 2⁻⁶⁴-scale).  At the raced million-doc scale the effect
# measured as a few hundred extra TRUE pairs surfacing through small
# band buckets; recall of planted pairs stayed 100%.
MINHASH_PRIME = 4294967311  # prime > 2^32


def _perm_constants(num_hashes: int) -> tuple[list[int], list[int]]:
    """(a_i, b_i) of the k universal-hash permutations
    h_i(x) = (a_i*x + b_i) mod P, splitmix64-derived from i.  a < 2^29 and
    x < P ≈ 2^32 keep the product under 2^62: no int64 overflow in the
    numpy band kernel."""
    a_s, b_s = [], []
    for i in range(num_hashes):
        x = (i * 0x9E3779B97F4A7C15 + 0xBF58476D1CE4E5B9) % (1 << 64)
        x ^= x >> 30
        x = (x * 0xD6E8FEB86659FD93) % (1 << 64)
        a_s.append((x % ((1 << 29) - 1)) + 1)
        b_s.append(x % MINHASH_PRIME)
    return a_s, b_s


def _mix_constants(n: int, stream: int) -> list[int]:
    """Deterministic odd 64-bit multipliers (splitmix64 of (stream, i))."""
    out = []
    for i in range(n):
        x = ((stream << 32 | i) * 0x9E3779B97F4A7C15 + 0x94D049BB133111EB) % (1 << 64)
        x ^= x >> 30
        x = (x * 0xBF58476D1CE4E5B9) % (1 << 64)
        x ^= x >> 31
        out.append(x | 1)
    return out


@functools.lru_cache(maxsize=1 << 21)  # bounds worker-lifetime memory
def _word_hash(w: str) -> int:
    """8-byte blake2b of one word, memoized across Arrow batches for the
    (reused) worker's lifetime — a big win under Zipfian vocabularies.
    The one word hash every shingle operator builds its window hashes
    from; `_word_hash("")` is the empty document's hash."""
    return int.from_bytes(hashlib.blake2b(w.encode(), digest_size=8).digest(), "big")


def _window_coef(k: int) -> "np.ndarray":
    """The k odd 64-bit multipliers of the window polynomial (uint64)."""
    import numpy as np

    return np.array(_mix_constants(k, stream=0x5173), dtype=np.uint64)


def _window_hashes(wh: "np.ndarray", coef: "np.ndarray") -> "np.ndarray":
    """Hash of every len(coef)-word window of the uint64 word-hash array
    `wh`: sum_j coef[j] * wh[i + j] mod 2^64 (uint64 multiply-add wraps),
    one shifted-slice pass per coefficient.  Empty when `wh` is shorter
    than the window."""
    m = len(wh) - len(coef) + 1
    if m <= 0:
        return wh[:0]
    acc = wh[:m] * coef[0]
    for j in range(1, len(coef)):
        acc = acc + wh[j : m + j] * coef[j]
    return acc


def _make_shingle_kernel(shingle_n: int):
    """Per-worker closure: text → np.uint64 array of DISTINCT shingle hashes.

    Tokenization is identical to word_shingles (lowercase, [^a-z0-9]+ split,
    empties removed).  A shingle's hash is the window polynomial over its
    word hashes (_word_hash, _window_coef, _window_hashes); np.unique gives
    the distinct set.  Collision odds per distinct-shingle pair are the
    same order as hashing the shingle strings directly (~2⁻⁶⁴), and kernel
    hashes are only ever compared to hashes from this same kernel, so set
    cardinalities — and every Jaccard derived from them — match the
    string-set semantics the oracles compute.
    """
    import re

    import numpy as np

    token_re = re.compile(r"[^a-z0-9]+")
    coef = _window_coef(shingle_n)
    empty = np.array([_word_hash("")], dtype=np.uint64)

    def kernel(text: str | None) -> "np.ndarray":
        words = [w for w in token_re.split((text or "").lower()) if w]
        n = len(words)
        if n == 0:
            return empty
        wh = np.fromiter(map(_word_hash, words), dtype=np.uint64, count=n)
        # a doc shorter than shingle_n words is one shingle: the whole
        # text, hashed by the prefix of the same polynomial
        return np.unique(_window_hashes(wh, coef[:n]))

    return kernel


def _make_band_kernel(num_hashes: int, bands: int):
    """Shared numpy step: distinct shingle hashes (uint64) → band hashes.

    MinHash permutations as one matrix min, then each band's rows_per_band
    signature values combined with a second odd-multiplier polynomial plus a
    splitmix-style avalanche so band buckets hash-partition uniformly.  All
    numpy — no per-band byte hashing.
    """
    import numpy as np

    a_s, b_s = _perm_constants(num_hashes)
    A = np.array(a_s, dtype=np.int64)[:, None]
    B = np.array(b_s, dtype=np.int64)[:, None]
    P = MINHASH_PRIME
    rows_per_band = num_hashes // bands
    BC = np.array(_mix_constants(rows_per_band, stream=0xBAD5), dtype=np.uint64)

    def band_kernel(sh: "np.ndarray") -> "np.ndarray":
        hv = (sh % np.uint64(P)).astype(np.int64)
        sig = ((A * hv + B) % P).min(axis=1)
        bh = (
            sig[: bands * rows_per_band].reshape(bands, rows_per_band).astype(np.uint64)
            * BC
        ).sum(axis=1, dtype=np.uint64)
        bh ^= bh >> np.uint64(30)
        bh *= np.uint64(0xBF58476D1CE4E5B9)
        bh ^= bh >> np.uint64(27)
        return bh.view(np.int64)

    return band_kernel


def make_band_hash_udf(shingle_n: int = 3, num_hashes: int = 32, bands: int = 16):
    """Arrow-vectorized text→LSH band hashes (array<long>, length `bands`).

    For pipelines that only need the LSH *buckets* (the verified near-dup
    path recomputes exact Jaccard per candidate, so full signatures are
    never compared), this fuses tokenize→shingle-hash→permute→band-hash
    into one numpy pass (shared shingle kernel: memoized word hashes +
    positional polynomial) and emits `bands` longs per document instead of
    `num_hashes` — nothing else ever shuffles or persists.
    """
    from pyspark.sql.functions import pandas_udf

    kernel = _make_shingle_kernel(shingle_n)
    band_kernel = _make_band_kernel(num_hashes, bands)

    @pandas_udf("array<long>")
    def band_hashes(texts: pd.Series) -> pd.Series:
        return pd.Series([band_kernel(kernel(t)).tolist() for t in texts])

    return band_hashes


def make_band_shingle_udf(shingle_n: int = 3, num_hashes: int = 32, bands: int = 16):
    """Arrow-vectorized text → struct<bh: array<long>, sh: array<long>>.

    One pass emits BOTH the LSH band hashes and the distinct shingle-hash
    set.  The band kernel already derives the signature from the shingle
    hashes, so computing them separately (band UDF over the corpus, then a
    second text scan + shingle UDF over the verify candidates) would do the
    tokenize+hash work twice; fusing halves the Python CPU and removes a
    whole UDF stage.  The trade is storage: the persisted frame carries
    the shingle arrays (≈ tokenized corpus size) instead of just `bands`
    longs/doc.
    """
    from pyspark.sql.functions import pandas_udf

    kernel = _make_shingle_kernel(shingle_n)
    band_kernel = _make_band_kernel(num_hashes, bands)

    @pandas_udf("struct<bh: array<long>, sh: array<long>>")
    def encode(texts: pd.Series) -> pd.DataFrame:
        bh_out, sh_out = [], []
        for t in texts:
            sh = kernel(t)
            bh_out.append(band_kernel(sh).tolist())
            sh_out.append(sh.view("int64").tolist())
        return pd.DataFrame({"bh": bh_out, "sh": sh_out})

    return encode


def _pairs_from_band_hashes(
    bh: DataFrame,
    max_bucket: int | None = None,
    remediate_dropped: bool = False,
) -> DataFrame:
    """Distinct bare (id_a, id_b) pairs from (__id, __bh: array<long>).

    max_bucket (off by default — exact banded semantics) drops band buckets
    with more than max_bucket members BEFORE the self-join: a bucket of k
    docs emits k² join rows, so one template shingle-block shared by 10⁶
    docs is a 10¹²-row hot key.  Dropping over-full buckets is the
    standard LSH spam guard — the docs in them still collide in their
    OTHER, more selective bands unless they are template-only, which is
    exactly the spam being guarded against.  The count+join reads the
    banded rows twice; at scale that re-scan is one cheap aggregate versus
    a quadratic hot-key blowup.

    remediate_dropped (r12 verdict #2): a dropped mega-bucket forfeits
    ALL its internal true duplicates — at 100 TB the hottest template
    cluster is exactly what dedup most needs to remove.  With remediation
    on, each dropped bucket is resolved by a bounded STAR pass instead of
    vanishing: its minimum __id becomes the representative and every
    other member emits one (rep, member) candidate pair — O(k) pairs per
    k-member bucket, never the O(k²) self-join the guard exists to avoid.
    Star pairs are a SUBSET of the true banded candidate set (every
    member really did collide with the representative in that band), so
    LSH soundness is unchanged; downstream estimate/exact-Jaccard
    verification filters any non-duplicate that merely shared the bucket.
    Under first-wins/connected-components consumption the star collapses
    the whole template cluster onto its representative, which restores
    the reference's keep-one-canonical-doc contract
    (generate_gtfs.py:115-123) inside the region the guard drops.  Cost:
    one extra aggregate over the banded rows plus a broadcast-size join
    (#dropped buckets is tiny by construction)."""
    banded = bh.select(
        "__id", F.posexplode("__bh").alias("band_idx", "band_hash")
    )
    star = None
    if max_bucket is not None:
        ok = (
            banded.groupBy("band_idx", "band_hash")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") <= max_bucket)
            .select("band_idx", "band_hash")
        )
        if remediate_dropped:
            dropped = banded.join(ok, ["band_idx", "band_hash"], "left_anti")
            rep = dropped.groupBy("band_idx", "band_hash").agg(
                F.min("__id").alias("id_a")
            )
            # rep is the bucket MIN, so id_a < id_b holds by construction
            star = (
                dropped.join(F.broadcast(rep), ["band_idx", "band_hash"])
                .filter(F.col("__id") != F.col("id_a"))
                .select("id_a", F.col("__id").alias("id_b"))
            )
        banded = banded.join(ok, ["band_idx", "band_hash"], "left_semi")
    left = banded.select(F.col("__id").alias("id_a"), "band_idx", "band_hash")
    right = banded.select(F.col("__id").alias("id_b"), "band_idx", "band_hash")
    pairs = (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.dropDuplicates(["id_a", "id_b"])


def make_shingle_hash_udf(shingle_n: int):
    """Arrow-vectorized text→sorted distinct shingle-hash array (array<long>).

    Same tokenization as word_shingles; each distinct shingle becomes
    an 8-byte hash (shared kernel: memoized blake2b word hashes + positional
    polynomial), so exact set intersection/union runs over compact long
    arrays instead of wide string arrays (≈3× smaller shuffle, and the set
    math stays JVM-side).  Hashed-set Jaccard equals string-set Jaccard up
    to 64-bit collisions (~(|A|+|B|)²/2⁶⁵ per pair — negligible and would
    surface as an oracle mismatch)."""
    from pyspark.sql.functions import pandas_udf

    kernel = _make_shingle_kernel(shingle_n)

    @pandas_udf("array<long>")
    def shingle_hashes_arr(texts: pd.Series) -> pd.Series:
        return pd.Series([kernel(t).view("int64").tolist() for t in texts])

    return shingle_hashes_arr


def exact_jaccard_for_pairs(
    pairs: DataFrame, df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """Recompute EXACT shingle-set Jaccard for candidate (id_a, id_b) pairs.

    Shingle-hash sets are joined back only for documents that appear in a
    pair (semi-join first, pushed below the UDF projection), so at scale the
    arrays shuffle for the candidate subset, not the corpus."""
    # both cand_ids and the final join read `pairs`; both join sides read
    # `sh` — persist each so the candidate pipeline / shingle UDF run once
    pairs = pairs.persist()
    cand_ids = (
        pairs.select(F.col("id_a").alias("__id"))
        .union(pairs.select(F.col("id_b").alias("__id")))
        .distinct()
    )
    sh_udf = make_shingle_hash_udf(shingle_n)
    # explicit repartition: AQE would coalesce the tiny semi-join shuffle to
    # ~1 partition (byte-based sizing), serializing the CPU-bound shingle UDF
    sh = (
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
        .join(cand_ids, "__id", "left_semi")
        .repartition(df.sparkSession.sparkContext.defaultParallelism, "__id")
        .select("__id", sh_udf(F.col("__t")).alias("__sh"))
        .persist()
    )
    a = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - common
    return attach_intermediates(
        joined.select(
            "id_a", "id_b", (common.cast("double") / union).alias("jaccard")
        ),
        pairs,
        sh,
    )


def _single_task_minhash_verified(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_hashes: int,
    bands: int,
    threshold: float,
) -> DataFrame:
    """Small-corpus HYBRID profile for the FUSED verified-MinHash path:
    the encode (tokenize → shingle hash → band hash, the CPU-heavy part)
    stays the SAME parallel Arrow UDF the distributed shape uses, and
    only the latency-bound tail — bucket grouping, candidate generation,
    exact-Jaccard verification, microseconds of integer work at gate
    sizes — funnels through ONE executor task via a round-robin
    repartition(1).  The distributed shape schedules ~11 AQE stage jobs
    around the band self-join and two verify joins; this shape is one
    UDF stage + one funnel exchange + one task (~3 jobs), and unlike a
    fully serial profile the encode still scales with cores (a 4× bench
    input measured the serial per-doc kernel overtaking the saved
    scheduling latency).  Semantics replicated exactly: candidates are
    doc-id pairs sharing >= 1 (band, hash) bucket with id_a < id_b
    (self-pairs of a duplicated id excluded, just like the join filter);
    duplicate ids emit one verify row per row-pair exactly as the two
    id-equi-joins do; Jaccard is the same |A∩B| / (|A|+|B|-|A∩B|)
    long→double division over the same distinct kernel-hash sets (which
    pass through Arrow unchanged), so values are bit-identical."""
    import numpy as np
    import pyspark.sql.types as T

    enc_udf = make_band_shingle_udf(shingle_n, num_hashes, bands)
    id_t = df.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("id_a", id_t),
            T.StructField("id_b", id_t),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )
    enc = parallelize_for_udf(df).select(
        F.col(id_col).alias("__id"), enc_udf(F.col(text_col)).alias("__e")
    ).select("__id", F.col("__e.bh").alias("__bh"), F.col("__e.sh").alias("__sh"))

    def fn(batches):
        import pandas as pd

        # Vectorized tail (r14): the per-row bucket dict loop, per-bucket
        # nested pair loops, and per-pair np.intersect1d measured 0.86 s
        # serial at the 4× bench point — rebuilt as numpy group-by
        # (lexsort over band-major (band, hash, row) triples), same-size
        # batched triu pair enumeration, lexsort pair dedup, and a
        # presorted searchsorted set-intersection per pair (0.64 s, pair
        # set and Jaccard doubles identical — same distinct-hash sets,
        # same |A∩B| / (|A|+|B|-|A∩B|) long→double division).
        chunks = [pdf for pdf in batches]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        ids_np = pdf["__id"].to_numpy()
        n = len(ids_np)
        if n < 2:
            return
        # id -> dense code with CODE ORDER == ID ORDER (sorted uniques),
        # so the id_a < id_b canonicalization and pair dedup run on ints
        # for any comparable id type (bigint here, strings in tests)
        uniq_ids = np.unique(ids_np)
        codes = np.searchsorted(uniq_ids, ids_np)
        BH = np.stack(pdf["__bh"].to_numpy())  # (n, bands) int64
        n_bands = BH.shape[1]
        flat_h = BH.T.reshape(-1)  # band-major
        rows_r = np.tile(np.arange(n), n_bands)
        band_of = np.repeat(np.arange(n_bands), n)
        order = np.lexsort((rows_r, flat_h, band_of))
        fh, bo, rr = flat_h[order], band_of[order], rows_r[order]
        newgrp = np.concatenate([[True], (fh[1:] != fh[:-1]) | (bo[1:] != bo[:-1])])
        starts = np.flatnonzero(newgrp)
        sizes = np.diff(np.concatenate([starts, [len(fh)]]))
        pair_a, pair_b = [], []
        for g in np.unique(sizes[sizes >= 2]):
            sel = starts[sizes == g]
            memb = rr[sel[:, None] + np.arange(g)[None, :]]  # (k, g) rows
            iu, ju = np.triu_indices(int(g), 1)
            pair_a.append(memb[:, iu].ravel())
            pair_b.append(memb[:, ju].ravel())
        if not pair_a:
            return
        ra = np.concatenate(pair_a)
        rb = np.concatenate(pair_b)
        ca, cb = codes[ra], codes[rb]
        neq = ca != cb  # a duplicated id never pairs with itself
        ca, cb = ca[neq], cb[neq]
        if not len(ca):
            return
        swap = ca > cb
        lo = np.where(swap, cb, ca)
        hi = np.where(swap, ca, cb)
        po = np.lexsort((hi, lo))
        lo, hi = lo[po], hi[po]
        keep = np.concatenate([[True], (lo[1:] != lo[:-1]) | (hi[1:] != hi[:-1])])
        lo, hi = lo[keep], hi[keep]
        # code -> [presorted distinct-hash arrays]; duplicate ids keep one
        # entry per ROW (one verify row per row-pair, like the equi-joins)
        by_code: dict = {}
        for c, sh in zip(codes.tolist(), pdf["__sh"]):
            by_code.setdefault(c, []).append(np.sort(np.asarray(sh, dtype=np.int64)))
        out_a, out_b, out_j = [], [], []
        for ia, ib in zip(lo.tolist(), hi.tolist()):
            for sa in by_code[ia]:
                for sb in by_code[ib]:
                    if len(sb) < len(sa):
                        s_small, s_big = sb, sa
                    else:
                        s_small, s_big = sa, sb
                    if len(s_big) == 0:
                        common = 0
                    else:
                        idx = np.searchsorted(s_big, s_small)
                        idx[idx == len(s_big)] = 0
                        common = int(np.count_nonzero(s_big[idx] == s_small))
                    union = int(len(sa)) + int(len(sb)) - common
                    j = common / union
                    if j >= threshold:
                        out_a.append(ia)
                        out_b.append(ib)
                        out_j.append(j)
        if out_a:
            yield pd.DataFrame(
                {
                    "id_a": uniq_ids[np.array(out_a, dtype=np.int64)],
                    "id_b": uniq_ids[np.array(out_b, dtype=np.int64)],
                    "jaccard": out_j,
                }
            )

    return enc.repartition(1).mapInPandas(fn, schema)


def minhash_near_duplicates_verified(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    jaccard_threshold: float = 0.7,
    max_bucket: int | None = None,
    remediate_dropped: bool = False,
) -> DataFrame:
    """MinHash-LSH near-dup pairs with EXACT Jaccard verification.

    Candidates are doc pairs sharing at least one LSH band bucket; each
    candidate pair's exact shingle-set Jaccard is recomputed and filtered —
    the output (id_a, id_b, jaccard) is deterministic and equals the exact
    all-pairs result whenever the LSH recall is 1 at the threshold, which
    makes it oracle-checkable (falsifiable) instead of rows-only.  16 bands
    × 2 rows: a pair at jaccard j collides w.p. 1-(1-j²)¹⁶ — ≥0.99998 for
    j ≥ 0.7.  Skew note (100 TB): a shingle shared by k docs puts k rows in
    one band bucket; cap bucket size or salt hot buckets before the
    self-join if the corpus is template-heavy.

    ONE Arrow UDF pass emits band hashes AND the shingle-hash set per doc
    (make_band_shingle_udf); the band self-join shuffles only
    (id, band, hash) rows, and the verify join reads shingle arrays from
    the persisted encoded frame — no second text scan.

    max_bucket / remediate_dropped: the hot-bucket guard and its star
    remediation (see _pairs_from_band_hashes).  Remediation candidates
    flow through the SAME exact-Jaccard verification, so a template
    mega-cluster collapses onto its representative instead of silently
    surviving dedup.

    Shape: the exact-semantics form (max_bucket=None, no remediation) of
    a small scan-rooted input (session.small_scan_input) runs the whole
    LSH+verify tail in one executor task (_single_task_minhash_verified);
    shuffle-origin or large inputs, and the hot-bucket guard, take the
    distributed shape."""
    if max_bucket is None and not remediate_dropped and small_scan_input(df):
        return _single_task_minhash_verified(
            df, id_col, text_col, shingle_n, num_hashes, bands,
            jaccard_threshold,
        )
    enc_udf = make_band_shingle_udf(shingle_n, num_hashes, bands)
    enc = parallelize_for_udf(df).select(
        F.col(id_col).alias("__id"), enc_udf(F.col(text_col)).alias("__e")
    ).persist()  # band self-join reads it twice, verify join twice more
    pairs = _pairs_from_band_hashes(
        enc.select("__id", F.col("__e.bh").alias("__bh")),
        max_bucket=max_bucket, remediate_dropped=remediate_dropped,
    )
    a = enc.select(F.col("__id").alias("id_a"), F.col("__e.sh").alias("sh_a"))
    b = enc.select(F.col("__id").alias("id_b"), F.col("__e.sh").alias("sh_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - common
    exact = joined.select(
        "id_a", "id_b", (common.cast("double") / union).alias("jaccard")
    )
    return attach_intermediates(
        exact.filter(F.col("jaccard") >= jaccard_threshold), enc
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

# q36's SimHash contract: 2-gram shingles, 60-bit fingerprints cut into 13
# bands (every pair within hamming 12 shares one), exact Jaccard ≥ 0.7.
SIMHASH_SHINGLE_N = 2
SIMHASH_MAX_HAMMING = 12
SIMHASH_BANDS = 13
SIMHASH_JACCARD = 0.7


def md5_shingle_hashes(text: Column) -> Column:
    """60-bit integers from the first 15 md5 hex chars of each distinct
    SIMHASH_SHINGLE_N-word shingle — the ENGINE-AUDITABLE hash family
    (DuckDB replays md5 exactly; xxhash64 it cannot).  Same hash as the
    winnowing sketch and hash_frac (sampling.md5_60)."""
    return F.transform(word_shingles(text, SIMHASH_SHINGLE_N), md5_60)


def make_simhash_bitsum_udf():
    """array<long> of 60-bit shingle hashes → 60-bit SimHash fingerprint.
    One numpy pass per Arrow batch; the hash VALUES come from column
    expressions (md5_shingle_hashes), so string semantics live JVM-side,
    consistent with the DuckDB oracle — numpy only does integer bit math."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(60, dtype=np.uint64)

    @pandas_udf("long")
    def fingerprint(hash_arrays: pd.Series) -> pd.Series:
        out = []
        for hv in hash_arrays:
            h = np.asarray(hv, dtype=np.uint64)
            bits = ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            sums = (2 * bits - 1).sum(axis=0)
            out.append(int(((sums > 0).astype(np.uint64) << shifts).sum()))
        return pd.Series(out, dtype="int64")

    return fingerprint


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(__id, __fp) with a 60-bit SimHash per document: md5 shingle hashes
    as a column, bit sums in one Arrow pass — oracle-replayable."""
    fp_udf = make_simhash_bitsum_udf()
    return parallelize_for_udf(df).select(
        F.col(id_col).alias("__id"),
        fp_udf(md5_shingle_hashes(F.col(text_col))).alias("__fp"),
    )


def simhash_near_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """SimHash near-dup pairs: band the 60-bit fingerprint into
    SIMHASH_BANDS chunks; by pigeonhole, any pair within
    SIMHASH_MAX_HAMMING (< bands) shares at least one identical chunk →
    equi-join per chunk, then exact Hamming filter via bit_count(xor).
    The pigeonhole argument needs only bands > max_hamming — chunks not
    covering all bits still guarantee recall (uncovered-bit diffs only
    reduce covered-bit diffs).  The md5 hash family keeps the whole
    contract DuckDB-replayable (see md5_shingle_hashes)."""
    # persist: the banded self-join reads fingerprints from both sides
    fp = simhash_fingerprints(df, id_col, text_col).persist()
    chunk_bits = 60 // SIMHASH_BANDS
    banded = fp.select(
        "__id",
        "__fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("__fp"), b * chunk_bits).bitwiseAND(
                        F.lit((1 << chunk_bits) - 1)
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a = banded.select(F.col("__id").alias("id_a"), F.col("__fp").alias("fp_a"), "band_idx", "band_val")
    b = banded.select(F.col("__id").alias("id_b"), F.col("__fp").alias("fp_b"), "band_idx", "band_val")
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    # hamming filter BEFORE the pair dedup: fingerprints (8 bytes) ride the
    # band join anyway, so filtering each join row first means the dedup
    # shuffle only sees true near-candidates — with coarse chunks (small
    # 60/bands) the unfiltered band join can emit millions of junk pairs
    return attach_intermediates(
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"]),
        fp,
    )


def simhash_near_duplicates_verified(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """SimHash near-dup pairs with EXACT Jaccard verification.

    Candidates come from the banded fingerprint join (hamming ≤
    SIMHASH_MAX_HAMMING guaranteed caught, since bands > max hamming);
    each candidate's exact shingle-set Jaccard is then recomputed and
    filtered, so the output (id_a, id_b, jaccard) is deterministic:
    exactly the pairs with fingerprint hamming ≤ SIMHASH_MAX_HAMMING AND
    exact Jaccard ≥ SIMHASH_JACCARD.
    That CONTRACT is itself oracle-checkable — DuckDB can recompute the
    md5-simhash fingerprints, the hamming distances, and the exact
    Jaccard, so the gate checks what the operator promises
    at every scale.  (A plain exact-Jaccard oracle is STRICTER than the
    operator's horizon: NIGHTLY_r9 at sf0.1 found one 0.7-Jaccard pair at
    hamming 13 — simhash's documented ε materializing, not a banding
    recall bug; the md5 oracle form pins the horizon explicitly.)"""
    cand_full = simhash_near_duplicates(df, id_col, text_col)
    cand = attach_intermediates(cand_full.select("id_a", "id_b"), cand_full)
    exact = exact_jaccard_for_pairs(cand, df, id_col, text_col, SIMHASH_SHINGLE_N)
    return attach_intermediates(
        exact.filter(F.col("jaccard") >= SIMHASH_JACCARD), exact
    )


# ---------------------------------------------------------------------------
# Exact shingle-Jaccard pairs + decontamination (training-data hygiene)
# ---------------------------------------------------------------------------

def _single_task_jaccard_pairs(
    df: DataFrame,
    shingle_n: int,
    threshold: float,
    max_df: int | None,
) -> DataFrame:
    """One-job small-corpus profile for exact_shingle_jaccard_pairs: the
    SAME inverted-index algorithm (same blake2b shingle kernel, same
    postings/DF-cut/cardinality/Jaccard math, same id_a < id_b contract)
    run inside a single executor task.  The distributed shape is ~15
    AQE stage jobs of scheduling latency around one postings exchange at
    bench scale; below the measured byte gate the whole corpus fits one
    task, so pair generation is ONE scheduled job.  Duplicate-id inputs
    aggregate per id exactly as the distributed groupBys do (postings
    keep per-row multiplicity; cardinalities sum; self-pairs excluded by
    the strict id order).  Jaccard is the same long/long → double
    division, so values are bit-identical."""
    import pyspark.sql.types as T

    kernel = _make_shingle_kernel(shingle_n)
    id_t = df.schema["doc_id"].dataType
    schema = T.StructType(
        [
            T.StructField("id_a", id_t),
            T.StructField("id_b", id_t),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )

    def fn(batches):
        from collections import defaultdict

        import pandas as pd

        card: dict = defaultdict(int)
        post: dict = defaultdict(list)
        for pdf in batches:
            for i, t in zip(pdf["doc_id"].tolist(), pdf["text"].tolist()):
                s = kernel(t).view("int64")
                if max_df is None:
                    card[i] += len(s)
                for g in s.tolist():
                    post[g].append(i)
        if max_df is not None:
            # DF counts rows (multiplicity), and cardinalities come from
            # the CUT postings — both exactly as the distributed window
            # form computes them
            for ds in post.values():
                if len(ds) <= max_df:
                    for i in ds:
                        card[i] += 1
        common: dict = defaultdict(int)
        for ds in post.values():
            n = len(ds)
            if n < 2 or (max_df is not None and n > max_df):
                continue
            for x in range(n):
                ix = ds[x]
                for y in range(x + 1, n):
                    iy = ds[y]
                    if ix == iy:
                        continue
                    common[(ix, iy) if ix < iy else (iy, ix)] += 1
        out_a, out_b, out_j = [], [], []
        for (a, b), c in common.items():
            j = c / (card[a] + card[b] - c)
            if j >= threshold:
                out_a.append(a)
                out_b.append(b)
                out_j.append(j)
        if out_a:
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "jaccard": out_j})

    return (
        df.select("doc_id", "text").coalesce(1).mapInPandas(fn, schema)
    )


def exact_shingle_jaccard_pairs(
    df: DataFrame,
    shingle_n: int = 4,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-shingle Jaccard over all pairs via an inverted index.

    The index join only meets pairs that share ≥1 shingle, so the quadratic
    pair space never materializes; the widest shuffle is (shingle → doc id)
    postings.  Returns (id_a, id_b, jaccard) with id_a < id_b.

    Postings carry the 8-byte blake2b shingle hash, not the string (same
    Arrow fast path as exact_jaccard_for_pairs): set cardinalities — and so
    the Jaccard values — are unchanged barring a 64-bit collision, the join
    key is ~3× narrower, and the shingle computation runs vectorized and
    once (persisted; the interpreted HOF path would be re-evaluated for
    each of its three consumers, at scan parallelism).

    `max_df` is the hot-shingle guard: a shingle appearing in k documents
    emits k² rows from the postings self-join, so one boilerplate sentence
    shared corpus-wide is a quadratic hot key at 100 TB.  With `max_df=N`,
    shingles with document frequency > N are dropped from BOTH the join and
    the cardinalities — the standard DF-cut: the result is the exact
    Jaccard over the (DF ≤ N)-shingle sets, and the candidate join is
    bounded by N·(#shingles) rows.  Near-universal shingles carry almost no
    pair-discriminating signal, so at sane N the reported Jaccard barely
    moves (test-pinned).  Default None = exact classic semantics.

    Shape: a small scan-rooted input (session.small_scan_input) runs the
    whole computation in one executor task (_single_task_jaccard_pairs,
    one job; the cc.py small-graph discipline applied to pair
    generation).  Shuffle-origin inputs (post-join/filter frames, whose
    estimates are unreliable upward) and large corpora always take the
    distributed shape below.
    """
    if small_scan_input(df):
        return _single_task_jaccard_pairs(
            df, shingle_n, threshold, max_df
        )
    sh_udf = make_shingle_hash_udf(shingle_n)
    sh_raw = (
        parallelize_for_udf(df)
        .select(F.col("doc_id").alias("__id"), sh_udf(F.col("text")).alias("__sh"))
        .select("__id", F.explode("__sh").alias("__g"))
    )
    if max_df is not None:
        # DF-cut as a window count over ONE shingle-keyed exchange (the
        # span-dedup r5 pattern): the old agg → filter → join-back shape
        # shuffled the postings twice and cached them twice (pre- and
        # post-cut).  The exchange this window creates is ALSO the pair
        # join's co-partitioning: the persisted cut postings come out
        # hash-partitioned on __g, so the self-join below needs no further
        # exchange on either side.
        from pyspark.sql import Window

        spark = df.sparkSession
        n_parts = max(
            int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
            spark.sparkContext.defaultParallelism,
        )
        shp = sh_raw.repartition(n_parts, "__g")
        counted = shp.withColumn(
            "__df", F.count("*").over(Window.partitionBy("__g"))
        )
        sh = counted.filter(F.col("__df") <= max_df).drop("__df").persist()
    else:
        sh = sh_raw.persist()
    handles = [sh]
    card = sh.groupBy("__id").agg(F.count("*").alias("__c"))
    common = (
        sh.select(F.col("__id").alias("id_a"), "__g")
        .join(sh.select(F.col("__id").alias("id_b"), "__g"), "__g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__common"))
    )
    jac = F.col("__common") / (F.col("__ca") + F.col("__cb") - F.col("__common"))
    return attach_intermediates(
        common.join(card.select(F.col("__id").alias("id_a"), F.col("__c").alias("__ca")), "id_a")
        .join(card.select(F.col("__id").alias("id_b"), F.col("__c").alias("__cb")), "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", jac.alias("jaccard")),
        *handles,
    )


def contamination_report(
    corpus: DataFrame,
    blocklist: DataFrame,
    shingle_n: int = 4,
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing ≥1 n-gram shingle
    with any blocklist (test-set) document.

    The blocklist is broadcast — benchmark suites are tiny next to a 100 TB
    corpus, so the corpus never shuffles: one scan, one map-side join, one
    partial-aggregated count.  Returns (doc_id, n_shared_shingles).

    r6: both sides shingle through the Arrow hash kernel
    (make_shingle_hash_udf) instead of the pure-column word_shingles HOF —
    the interpreted transform re-evaluates the tokenize subtree per
    shingle (O(tokens²) regex per doc; 70 s at 100 k docs), and the join
    only needs shingle IDENTITY, for which the kernel's 8-byte hashes are
    exact up to 2⁻⁶⁴ collisions (the q25 oracle would hash-mismatch on
    any corpus-visible one).  Counts are unchanged: both the kernel and
    word_shingles emit per-doc DISTINCT shingles.
    """
    sh_udf = make_shingle_hash_udf(shingle_n)
    bench = (
        parallelize_for_udf(blocklist)
        .select(F.explode(sh_udf(F.col("text"))).alias("__g"))
        .distinct()
    )
    sh = parallelize_for_udf(corpus).select(
        F.col("doc_id"),
        F.explode(sh_udf(F.col("text"))).alias("__g"),
    )
    return (
        sh.join(F.broadcast(bench), "__g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
    )
