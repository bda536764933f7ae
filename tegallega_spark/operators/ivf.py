"""IVF (inverted-file) approximate nearest neighbor — the scale path for
similarity search (north star; complements operators/similarity.py).

Structure: k-means coarse quantizer → every vector assigned to its nearest
centroid's list → a query probes only the `nprobe` nearest lists.  At
100 TB the centroid assignment is a parquet partition column, so a query
is a partition-pruned scan of nprobe/k of the data instead of a full pass.

Training runs Lloyd's k-means driver-side on a bounded hash-ordered
sample (deterministic, corpus-size-independent), then assigns every vector
in one Arrow pass (`train_ivf_index_sampled`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf

from tegallega_spark.operators.similarity import cosine


# Lloyd's iterations of every quantizer trained here and in pq.py.
KMEANS_ITERS = 8
# Row block of the k-means assignment step (see _kmeans_blas).
KMEANS_CHUNK = 65536


def _kmeans_blas(x: np.ndarray, k: int) -> np.ndarray:
    """KMEANS_ITERS rounds of Lloyd's with matmul distances:
    ||x||² - 2x·cᵀ + ||c||² as a BLAS GEMM — instead of broadcasting an
    (n, k, d) tensor (pq._kmeans's
    shape, fine at k=16 subspace codebooks, 32 GB at k≈1400 coarse
    quantizers).  Deterministic first-k init (callers pass a hash-ordered
    sample); empty clusters re-seed from distinct farthest points.

    The assignment step runs in row blocks of KMEANS_CHUNK (ADVICE r8): a
    monolithic (n, k) float64 distance matrix grows ~n·k·8 bytes — with
    semdedup's unclamped k = N/512 and sample = N/16 that is N²/1024
    bytes, ~4 GB per temporary at 2 M vectors and OOM shortly above — a
    silent scale cliff in the component introduced to REMOVE the
    superlinear-training wall.  Chunking caps peak memory at
    O(KMEANS_CHUNK·k) (~0.5 GB per temporary at k=8192) while the GEMMs
    stay BLAS-sized; only O(n) per-row state (assignments, min-distances)
    persists across chunks."""
    x = np.ascontiguousarray(x, dtype=np.float64)
    n = x.shape[0]
    centroids = x[:k].copy()
    x2 = (x * x).sum(axis=1)
    assign = np.empty(n, dtype=np.int64)
    mind2 = np.empty(n, dtype=np.float64)
    chunk = KMEANS_CHUNK
    for _ in range(KMEANS_ITERS):
        c2 = (centroids * centroids).sum(axis=1)
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            d2 = x2[lo:hi, None] - 2.0 * (x[lo:hi] @ centroids.T) + c2[None, :]
            assign[lo:hi] = d2.argmin(axis=1)
            mind2[lo:hi] = np.take_along_axis(
                d2, assign[lo:hi, None], axis=1
            )[:, 0]
        counts = np.bincount(assign, minlength=k)
        sums = np.zeros((k, x.shape[1]))
        np.add.at(sums, assign, x)
        nonempty = counts > 0
        centroids[nonempty] = sums[nonempty] / counts[nonempty][:, None]
        empty = np.flatnonzero(~nonempty)
        if len(empty):
            far = np.argsort(-mind2)
            for rank, j in enumerate(empty):
                centroids[j] = x[far[rank % len(far)]]
    return centroids


def auto_k_lists(n: int) -> int:
    """The standard IVF sizing law: k_lists ≈ √N keeps per-list occupancy
    ≈ √N, so a fixed nprobe/k_lists probe fraction scans O(√N·nprobe)
    rows per query.  Clamped to [16, 4096]: below 16 pruning is
    pointless, above 4096 the centroid table stops being closure-sized
    (4096 × d floats ≈ 2 MB at d=64 — still kilobyte-per-task territory)."""
    return int(np.clip(int(np.sqrt(max(n, 1))), 16, 4096))


def _sample_vectors(
    df: DataFrame, vec_col: str, sample: int, sample_salt: int,
    n: int | None = None,
) -> "np.ndarray":
    """Bounded hash-ordered vector sample as a (sample, d) float64 array —
    deterministic and corpus-size-independent (one pruned scan).
    `sample_salt` draws an INDEPENDENT sample (and therefore an
    independent centroid/boundary system for any quantizer trained on
    it); 0 keeps the original draw.

    When the caller knows the corpus size `n` and the sample is a small
    fraction of it, a HASH-CUTOFF prefilter runs before the top-N sort:
    plain orderBy(h).limit(sample) executes as TakeOrderedAndProject,
    which collects every partition's per-partition top-`sample` to the
    driver — once `sample` exceeds the rows-per-partition, that is the
    WHOLE CORPUS (measured: 8 M vectors / sample = 500 k blew
    spark.driver.maxResultSize at ~500 tasks × full partitions).  The
    prefilter keeps rows with h below the cutoff expected to pass
    1.5 × sample rows (xxhash64 is uniform over the signed 64-bit
    range), then takes the exact top-`sample` within — EXACTNESS
    PRESERVED: if the filtered set has ≥ sample rows, it contains the
    global sample smallest hashes, so the result is bit-identical to
    the unfiltered path (verified by the result-length check, with a
    fallback to the full path in the Binomial-tail case where the
    filter under-selects — probability ~e^{-Ω(sample)})."""
    h = (
        F.xxhash64(vec_col)
        if not sample_salt
        else F.xxhash64(vec_col, F.lit(sample_salt))
    )
    src = df.select(F.col(vec_col).alias("v"), h.alias("h"))
    if n is not None and n > 0 and sample < n // 8:
        frac = min(1.0, 1.5 * sample / n)
        cutoff = int(-(2 ** 63) + frac * 2 ** 64)
        rows = (
            src.filter(F.col("h") < F.lit(cutoff))
            .orderBy("h")
            .limit(sample)
            .collect()
        )
        if len(rows) >= min(sample, n):
            return np.array([r.v for r in rows], dtype=np.float64)
        # under-selected (astronomically unlikely): fall through to the
        # exact unfiltered path
    rows = src.orderBy("h").limit(sample).collect()
    return np.array([r.v for r in rows], dtype=np.float64)


def checked_draw(
    sample_x: "np.ndarray", sample: int, n: int | None
) -> "np.ndarray":
    """The first `sample` rows of a caller-supplied hash-ordered draw, as
    float64.  That prefix IS what the trainer's own sample collect would
    return, so callers training several quantizers from one salt-0 draw
    (q69, q73: PQ codebooks + IVF coarse lists) pay ONE sample scan,
    result-identical.  A draw SHORTER than `sample` is result-identical
    only when it holds the whole corpus (the _ann_setup under-fill case);
    a short draw from a larger corpus would silently train on a different
    sample than the documented result (ADVICE r13).  With the corpus size
    `n` unknown the whole-corpus case cannot be told apart, so any short
    draw is refused."""
    if len(sample_x) < sample and (n is None or n > len(sample_x)):
        raise ValueError(
            f"sample_x has {len(sample_x)} rows < sample={sample} on a "
            f"corpus of {n if n is not None else 'unknown size'} — the "
            "draw must cover `sample` rows (or the whole corpus, with "
            "`n` given) to be result-identical"
        )
    return np.asarray(sample_x, dtype=np.float64)[:sample]


def train_centroids_sampled(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    sample_salt: int = 0,
    n: int | None = None,
    sample_x: "np.ndarray | None" = None,
) -> "np.ndarray":
    """The training half of train_ivf_index_sampled, without the
    assignment pass: a (k, d) centroid table from bounded-sample Lloyd's.
    Callers that derive the assignment from a probe pass anyway (semdedup
    blocks each vector into its top-p cells, of which cell 0 IS the
    assignment) use this to avoid a redundant full-corpus GEMM pass.

    `sample_x`: a caller-supplied hash-ordered draw (the first rows of
    _sample_vectors(df, vec_col, >= sample, sample_salt)), checked and
    cut by checked_draw.  The draw is `max(32·k, 8192)` rows."""
    sample = max(32 * k, 8192)
    if sample_x is not None:
        x = checked_draw(sample_x, sample, n)
    else:
        x = _sample_vectors(df, vec_col, sample, sample_salt, n=n)
    if len(x) < k:
        raise ValueError(
            f"IVF training sample has {len(x)} rows < k={k} lists; lower k"
        )
    return _kmeans_blas(x, k)


def train_ivf_index_sampled(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int | None = None,
    n: int | None = None,
    sample_x: "np.ndarray | None" = None,
) -> "IVFIndex":
    """Coarse quantizer trained on a bounded hash-ordered SAMPLE.

    Full (pyspark.ml) KMeans re-scans the corpus every iteration, so
    growing k_lists with N makes the build superlinear (measured: 441 s
    at 2 M vectors with k capped at 256 — the cap that eased the r7 ANN
    race's recall from 0.994 to 0.95 as occupancy doubled).  IVF's own literature
    trains the coarse quantizer on a learning subset (Jégou TPAMI 2011,
    §V — the same practice `train_pq_codebooks` already follows), which
    makes training cost a function of k alone:

    - sample `max(32·k, 8192)` vectors by hash order (deterministic,
      corpus-size-independent — one pruned scan);
    - Lloyd's driver-side with BLAS matmul distances (_kmeans_blas);
    - assign ALL vectors in one Arrow pass (per-batch argmin via GEMM
      against the closure's (k, d) centroid table).

    k=None applies the √N law (`auto_k_lists`); n=None counts the input
    (pass it when the caller already knows — saves an action).  The
    sample is the salt-0 draw.
    """
    if k is None:
        if n is None:
            n = df.count()
        k = auto_k_lists(n)
    centroids = train_centroids_sampled(df, vec_col, k, n=n, sample_x=sample_x)
    assigned = assign_ivf_lists(df, centroids, vec_col)
    return IVFIndex(assigned, [c.tolist() for c in centroids], vec_col)


# a never-probed empty sub-slot: distances to it are ~1e36, far beyond any
# real squared distance, so it can't enter a top-p probe set
_EMPTY_SLOT = 1e18


class TreeQuantizer:
    """Two-level (hierarchical) k-means coarse quantizer: k1 ≈ √k top
    cells, each split into k2 ≈ k/k1 sub-cells; composite cell id =
    top·k2 + sub.  Probing costs O((k1 + T·k2)·d) ≈ O(√k·d) per vector
    instead of the flat quantizer's O(k·d) — with SemDeDup's k ∝ N rule
    that's the difference between an O(N√N) and an O(N²) blocking pass
    (the r8 semdedup race measured the flat path bending to N^1.7:
    512 k → 149 s, 1 M → 511 s, 2 M → 1,704 s).  Standard vocabulary-tree
    / hierarchical-k-means construction (Nistér & Stewénius CVPR 2006);
    FAISS ships the same idea as IVF with an HNSW/tree coarse quantizer.

    Centroid storage is (k1·k2)·d floats — identical to flat — and rides
    the UDF closure (4 MB at k≈8k, d=64).  Past ~10⁵ cells ship it as a
    broadcast instead of a closure (not needed at current scales).
    Empty sub-slots (a top cell with fewer sample members than k2) hold
    the _EMPTY_SLOT sentinel and are never probed."""

    def __init__(self, c1: "np.ndarray", c2: "np.ndarray") -> None:
        self.c1 = np.ascontiguousarray(c1, dtype=np.float64)  # (k1, d)
        self.c2 = np.ascontiguousarray(c2, dtype=np.float64)  # (k1, k2, d)
        self.k1, self.k2, _ = self.c2.shape

    @property
    def n_cells(self) -> int:
        return self.k1 * self.k2

    def probe_udf(self, probes: int, row_chunk: int = 1024):
        """Arrow-vectorized vector → its `probes` nearest composite cells,
        ordered by true distance to the sub-centroid.  Candidates are the
        sub-cells of the T = probes+1 (≥3) nearest TOP cells.  T must
        EXCEED probes: with T = probes, two near-identical vectors that
        rank near-tied 2nd/3rd top cells oppositely get DIFFERENT
        candidate sets, and the pair can probe disjoint composite cells —
        measured at N=1 M / p=2 / T=2 as a ~0.7% per-quantizer miss rate
        (5 of 110,961 planted pairs missed even through the dual
        blocking), 350× the flat probe's.  With one spare top cell the
        tied tops appear in BOTH candidate sets, so the top-p composite
        pick can only tie on sub-centroid distances — the same ε-class as
        the flat probe, which the dual-quantizer blocking multiplies
        away.  Row-chunked so the (chunk, k2, d) gather stays tens of
        MB."""
        C1, C2 = self.c1, self.c2
        k1, k2 = self.k1, self.k2
        T = min(max(probes + 1, 3), k1)
        p = min(probes, self.n_cells)
        c1sq = (C1 * C1).sum(axis=1)
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("array<int>")
        def probe(vs: pd.Series) -> pd.Series:
            X = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
            out = []
            for lo in range(0, len(X), row_chunk):
                xs = X[lo : lo + row_chunk]
                m = len(xs)
                x2 = (xs * xs).sum(axis=1)
                d1 = x2[:, None] - 2.0 * (xs @ C1.T) + c1sq[None, :]
                if T >= k1:
                    tops = np.argsort(d1, axis=1, kind="stable")[:, :T]
                else:
                    tops = np.argpartition(d1, T - 1, axis=1)[:, :T]
                cand_d = np.empty((m, T * k2))
                cand_id = np.empty((m, T * k2), dtype=np.int64)
                for t in range(T):
                    sel = C2[tops[:, t]]  # (m, k2, d) gather
                    cand_d[:, t * k2 : (t + 1) * k2] = (
                        (xs[:, None, :] - sel) ** 2
                    ).sum(axis=2)
                    cand_id[:, t * k2 : (t + 1) * k2] = (
                        tops[:, t][:, None] * k2 + np.arange(k2)[None, :]
                    )
                pp = min(p, cand_d.shape[1])
                idx = np.argpartition(cand_d, pp - 1, axis=1)[:, :pp]
                ordered = np.take_along_axis(
                    idx,
                    np.argsort(
                        np.take_along_axis(cand_d, idx, 1), axis=1, kind="stable"
                    ),
                    axis=1,
                )
                ids = np.take_along_axis(cand_id, ordered, axis=1)
                out.extend(row.tolist() for row in ids)
            return pd.Series(out)

        return probe


def train_tree_quantizer_sampled(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 4096,
    sample_salt: int = 0,
    n: int | None = None,
) -> "TreeQuantizer":
    """Train a TreeQuantizer on a bounded hash-ordered sample.  Training
    cost is O(sample·√k·d) per Lloyd's iteration (level 1 over k1
    centroids, then level 2 inside each top cell over its sample members)
    versus the flat trainer's O(sample·k·d) — with semdedup's
    sample = 32·k ∝ N that's the difference between O(N^1.5) and O(N²)
    driver work, and the per-iteration temporaries shrink from (N/16,
    N/512) to (N/16, √k)."""
    import math

    k1 = max(2, math.isqrt(k - 1) + 1)  # ceil(sqrt(k)), ≥2
    k2 = (k + k1 - 1) // k1
    x = _sample_vectors(df, vec_col, max(32 * k, 8192), sample_salt, n=n)
    if len(x) < k1:
        raise ValueError(
            f"tree-quantizer training sample has {len(x)} rows < k1={k1}; "
            "lower k"
        )
    c1 = _kmeans_blas(x, k1)
    # assign the sample to its top cell (chunked — same memory bound)
    assign = np.empty(len(x), dtype=np.int64)
    c1sq = (c1 * c1).sum(axis=1)
    chunk = KMEANS_CHUNK
    for lo in range(0, len(x), chunk):
        hi = min(lo + chunk, len(x))
        d2 = -2.0 * (x[lo:hi] @ c1.T) + c1sq[None, :]
        assign[lo:hi] = d2.argmin(axis=1)
    d = x.shape[1]
    c2 = np.full((k1, k2, d), _EMPTY_SLOT)
    for j in range(k1):
        xj = x[assign == j]
        if len(xj) == 0:
            continue
        kj = min(k2, len(xj))
        c2[j, :kj] = _kmeans_blas(xj, kj)
    return TreeQuantizer(c1, c2)


def assign_ivf_lists(
    df: DataFrame, centroids: "np.ndarray | list[list[float]]",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment to column `ivf_list` as ONE Arrow
    pass: the (k, d) table rides the closure (≤ MB), each batch is a GEMM
    + argmin.  At 100 TB
    this is the embarrassingly-parallel half of the build — no shuffle,
    no iteration, scan-partitioned.  (Deliberately NOT widened with
    parallelize_for_udf: with the batch-vectorized GEMM assign and PQ
    encode, a byte-split-narrow scan runs the whole chain in
    milliseconds, and the widening exchange measured as a net loss —
    one more scheduled stage for trivial work.)"""
    c = np.ascontiguousarray(centroids, dtype=np.float64)
    c2 = (c * c).sum(axis=1)

    @pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vs.to_numpy()])
        d2 = c2[None, :] - 2.0 * (x @ c.T)  # +||x||² is argmin-invariant
        return pd.Series(d2.argmin(axis=1).astype(np.int32))

    return df.withColumn("ivf_list", assign(F.col(vec_col)))


class IVFIndex:
    """assigned: the input rows + `ivf_list`; centroids: list[list[float]]."""

    def __init__(self, assigned: DataFrame, centroids: list[list[float]], vec_col: str):
        self.assigned = assigned.persist()
        self.centroids = centroids
        self.vec_col = vec_col

    def encode(self, codebooks) -> "IVFIndex":
        """Attach PQ codes to the inverted lists in place (one call, no
        manual reassignment ritual) and return self so
        `train_ivf_index_sampled(df).encode(cb)` chains.  After this,
        operators.pq.ivfpq_topk(self, cb, q) works directly."""
        from tegallega_spark.operators.pq import encode_pq

        old = self.assigned
        self.assigned = encode_pq(old, codebooks, vec_col=self.vec_col).persist()
        old.unpersist()
        return self

    def _nearest_lists(self, query_vec: list[float], nprobe: int) -> list[int]:
        # numpy, not a python loop: at √N-sized k_lists (thousands) a
        # per-centroid python distance would cost NQ·k·d interpreter ops
        # in the batched path
        c = np.asarray(self.centroids, dtype=np.float64)
        q = np.asarray(query_vec, dtype=np.float64)
        d2 = ((c - q[None, :]) ** 2).sum(axis=1)
        return [int(i) for i in np.argsort(d2, kind="stable")[:nprobe]]

    def search(
        self,
        query_vec: list[float],
        k: int = 10,
        nprobe: int = 4,
    ) -> DataFrame:
        """Cosine top-k `vec_id`s over the nprobe nearest inverted lists only."""
        lists = self._nearest_lists(query_vec, nprobe)
        q = F.array(*[F.lit(float(x)) for x in query_vec])
        candidates = self.assigned.filter(F.col("ivf_list").isin(lists))
        scored = candidates.select(
            "vec_id",
            F.round(cosine(F.col(self.vec_col).cast("array<double>"), q), 6).alias("cos_sim"),
        )
        return scored.orderBy(F.desc("cos_sim"), "vec_id").limit(k)

    def recall_against_exact(self, query_vec: list[float], nprobe: int = 4) -> float:
        """Fraction of the exact top-10 `vec_id`s recovered by the IVF search."""
        from tegallega_spark.operators.similarity import brute_force_topk

        exact = {
            r.vec_id
            for r in brute_force_topk(self.assigned, query_vec, self.vec_col).collect()
        }
        approx = {r.vec_id for r in self.search(query_vec, 10, nprobe).collect()}
        return len(exact & approx) / len(exact) if exact else 1.0
