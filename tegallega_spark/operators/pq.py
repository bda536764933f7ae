"""Product quantization (PQ) — memory-bounded ANN for 100 TB embedding sets.

Classic PQ (Jégou, Douze, Schmid, "Product Quantization for Nearest
Neighbor Search", TPAMI 2011 — public literature): split a d-dim vector
into m subvectors, k-means each subspace to k centroids, store each vector
as m small codes.  A 64-float embedding (256 B) becomes m=8 bytes — 32×
compression — so the code column of a corpus whose raw embeddings are tens
of TB fits a hot tier, and asymmetric distance computation (ADC) scans
codes with m table lookups per row instead of d multiplies.

Spark mapping:
- codebooks train driver-side on a bounded SAMPLE (the PQ paper itself
  trains on a learning subset; sample size is independent of corpus size)
  and broadcast into an Arrow UDF — no iterative cluster-wide jobs;
- encoding is one Arrow pass (numpy argmin over (k, dsub) per subspace);
- search precomputes the query's m×k distance table driver-side, then one
  Arrow pass does `table[sub, code]` gathers + row sums; top-k via
  TakeOrdered, never a global sort;
- exact re-rank of the ADC candidates (standard PQ practice) restores
  exact top-k whenever the true neighbors survive the candidate cut —
  recall is measured, not assumed (`test_scale_ops`-style harness).

Distances are squared-L2, the PQ-native metric; for cosine over
unit-normalized embeddings the two rankings agree (||a-b||² = 2-2cosθ),
so a caller wanting cosine candidates normalizes its vectors first.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf

__all__ = [
    "train_pq_codebooks", "encode_pq", "pq_topk", "ivfpq_topk",
    "ivfpq_topk_batch",
]


def _kmeans(x: np.ndarray, k: int) -> np.ndarray:
    """Deterministic Lloyd's: first-k init (the sample is hash-ordered, so
    first-k is an arbitrary-but-fixed draw), empty clusters re-seeded from
    the farthest points.

    r8: delegates to ivf._kmeans_blas (matmul distances).  The original
    broadcast form materialized an (n, k, d) tensor — fine at k=16
    subspace codebooks, 16 GB at the literature-standard k=256 on a 32 k
    sample — while the GEMM form is (n, k) and algebraically identical
    assignments."""
    from tegallega_spark.operators.ivf import _kmeans_blas

    return _kmeans_blas(np.asarray(x, dtype=np.float64), k)


def train_pq_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    sample: int = 4096,
    n: int | None = None,
    sample_x: "np.ndarray | None" = None,
) -> np.ndarray:
    """(m, k, d/m) codebooks trained on a deterministic hash-ordered sample.

    The sample bound makes training cost independent of corpus size — on
    100 TB this is one pruned scan of `sample` rows, not an iterative job.

    `sample_x`: a caller-supplied salt-0 hash-ordered draw
    (ivf._sample_vectors order — the same xxhash64(vec_col) this function
    sorts by), checked against the corpus size `n` and cut to `sample`
    rows by ivf.checked_draw, the same rule the IVF trainer applies.
    """
    if sample_x is not None:
        from tegallega_spark.operators.ivf import checked_draw

        x = checked_draw(sample_x, sample, n)
    else:
        rows = (
            df.select(F.col(vec_col).alias("v"), F.xxhash64(vec_col).alias("h"))
            .orderBy("h")
            .limit(sample)
            .collect()
        )
        x = np.array([r.v for r in rows], dtype=np.float64)
    if len(x) < k:
        raise ValueError(
            f"PQ training sample has {len(x)} rows < k={k} centroids; "
            "raise `sample` or lower k"
        )
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    return np.stack(
        [_kmeans(x[:, i * dsub : (i + 1) * dsub], k) for i in range(m)]
    )


def encode_pq(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """Append the m-byte PQ code as `pq_code` (array<smallint>, one entry
    per subspace), the column pq_topk and ivfpq_topk read.

    One Arrow pass; codebooks ride into the UDF closure (≤ m·k·dsub floats,
    kilobytes — broadcast by pickling, same as any Spark closure constant).
    """
    cb = codebooks.astype(np.float64)
    m, k, dsub = cb.shape

    @pandas_udf("array<smallint>")
    def enc(vs: pd.Series) -> pd.Series:
        # whole-batch vectorization (r13): the per-row loop paid m small
        # numpy calls per vector — ~0.4 s serial at bench scale when the
        # tiny scan gives the UDF one task.  One broadcasted subtraction
        # computes every (row, subspace, centroid) distance; sums run
        # over the same dsub axis in the same order and argmin keeps
        # numpy's first-minimum rule, so codes are bit-identical to the
        # per-row form.
        if len(vs) == 0:
            # np.stack raises on an empty batch where the old per-row
            # loop returned an empty Series (ADVICE r13)
            return pd.Series([], dtype=object)
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        xs = x.reshape(len(x), m, 1, dsub)
        d2 = ((xs - cb[None]) ** 2).sum(axis=3)  # (batch, m, k)
        codes = d2.argmin(axis=2).astype(np.int16)
        return pd.Series(list(codes))

    return df.withColumn("pq_code", enc(F.col(vec_col)))


def pq_topk(
    encoded: DataFrame,
    codebooks: np.ndarray,
    query_vec: list[float],
    vec_col: str = "embedding",
    k: int = 10,
    rerank: int = 0,
) -> DataFrame:
    """ADC top-k: m×k query distance table (driver), one Arrow gather-sum
    pass over the `pq_code` column, TakeOrdered.  With rerank=R > k, the
    top-R ADC candidates are re-scored with exact cosine on the raw
    vectors and the exact top-k of that pool is returned (columns:
    vec_id, cos_sim) — matching
    similarity.brute_force_topk's output contract so the two are
    interchangeable."""
    cb = codebooks.astype(np.float64)
    m, kk, dsub = cb.shape
    q = np.asarray(query_vec, dtype=np.float64)
    table = np.stack(
        [((cb[i] - q[i * dsub : (i + 1) * dsub]) ** 2).sum(axis=1) for i in range(m)]
    )  # (m, k) query→centroid squared distances

    @pandas_udf("double")
    def adc(codes: pd.Series) -> pd.Series:
        arr = np.stack(codes.to_numpy())  # (batch, m)
        return pd.Series(table[np.arange(m), arr].sum(axis=1))

    # The ADC scan touches ONLY (id, code): the 100 TB contract is that the
    # hot pass reads m-byte codes, never the raw d-float vectors.  Raw
    # vectors come back via a broadcast join for the <= `rerank` survivors.
    scored = encoded.select("vec_id", adc(F.col("pq_code")).alias("adc_dist"))
    if not rerank:
        return scored.orderBy("adc_dist", F.col("vec_id")).limit(k)

    from tegallega_spark.operators.similarity import cosine

    cands = scored.orderBy("adc_dist", F.col("vec_id")).limit(rerank).select("vec_id")
    pool = encoded.select("vec_id", vec_col).join(F.broadcast(cands), on="vec_id")
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        pool.select(
            "vec_id",
            cosine(F.col(vec_col).cast("array<double>"), qlit).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.col("vec_id"))
        .limit(k)
    )


def ivfpq_topk(
    ivf_index,
    codebooks: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 50,
) -> DataFrame:
    """IVF-PQ composition (the standard coarse-quantizer + PQ layout):
    prune to the `nprobe` nearest inverted lists — `ivf_list` is a plain
    column, so on a table partitioned by it this is partition pruning, not
    a filter scan — then ADC-scan only those lists' codes and exact-re-rank
    the survivors.  At 100 TB: touch nprobe/k_lists of the corpus, read
    m-byte codes instead of d-float vectors, fetch raw vectors only for
    `rerank` rows.

    `ivf_index` is an operators.ivf.IVFIndex whose `assigned` DataFrame
    carries PQ codes — call `ivf_index.encode(codebooks)` once after
    training (or any DataFrame-holder with .assigned/.centroids whose
    assigned has `vec_id` and `pq_code`).
    """
    lists = ivf_index._nearest_lists(query_vec, nprobe)
    pruned = ivf_index.assigned.filter(F.col("ivf_list").isin(lists))
    return pq_topk(
        pruned, codebooks, query_vec, vec_col=ivf_index.vec_col, k=k, rerank=rerank
    )


def ivfpq_topk_batch(
    ivf_index,
    codebooks: np.ndarray,
    queries: "np.ndarray | list[list[float]]",
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 50,
) -> DataFrame:
    """Batched IVF-PQ top-k: answer a whole query set in ONE plan.

    `ivfpq_topk` is the serving shape — one query, one small job.  For the
    analytics regime (re-ranking a batch of queries against the corpus:
    near-dup candidate generation, eval-set contamination probes) a
    per-query driver loop pays Spark's fixed job latency per query; this
    operator instead makes the query set data: a broadcast (qid, ivf_list)
    probe table joins the inverted lists — on a corpus bucketed by
    `ivf_list` that join is partition pruning — then one Arrow pass scores
    ADC for every (query, row) pair via a (NQ, m, k) table tensor riding
    the closure, a per-qid window keeps the top-`rerank` candidates, and
    exact cosine re-ranks the ≤ NQ·rerank survivors.

    The scanned row count is NQ · N · nprobe/k_lists; the window that cuts
    it to candidates shuffles only (qid, id, dist) triples.  Queries are
    driver-side by design — a query BATCH is metadata-sized (thousands),
    never corpus-sized; for corpus×corpus problems use the dedup family.

    Returns (qid, vec_id, cos_sim) — per qid, the exact-cosine top-k of
    the ADC candidate pool, matching `ivfpq_topk`'s contract query-wise.
    """
    from pyspark.sql import Window

    from tegallega_spark.operators.similarity import cosine

    q = np.asarray(queries, dtype=np.float64)
    nq = len(q)
    cb = codebooks.astype(np.float64)
    m, kk, dsub = cb.shape

    # (NQ, m, k) ADC tables — one driver-side einsum, kilobytes per query
    tables = np.stack(
        [
            np.stack(
                [((cb[i] - qv[i * dsub : (i + 1) * dsub]) ** 2).sum(axis=1)
                 for i in range(m)]
            )
            for qv in q
        ]
    )

    spark = ivf_index.assigned.sparkSession
    probe = spark.createDataFrame(
        [(qi, li) for qi in range(nq)
         for li in ivf_index._nearest_lists(list(q[qi]), nprobe)],
        "qid int, ivf_list int",
    )
    pruned = ivf_index.assigned.join(F.broadcast(probe), on="ivf_list")

    @pandas_udf("double")
    def adc_b(qids: pd.Series, codes: pd.Series) -> pd.Series:
        arr = np.stack(codes.to_numpy())  # (batch, m)
        qi = qids.to_numpy()
        return pd.Series(tables[qi[:, None], np.arange(m), arr].sum(axis=1))

    scored = pruned.select(
        "qid", "vec_id", adc_b(F.col("qid"), F.col("pq_code")).alias("adc_dist")
    )
    w = Window.partitionBy("qid").orderBy("adc_dist", F.col("vec_id"))
    cands = (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= rerank)
        .select("qid", "vec_id")
    )

    # exact re-rank: raw vectors for the ≤ NQ·rerank survivors only.  The
    # query set joins in as DATA (a broadcast (qid, vec) frame), not as a
    # literal array-of-arrays expression — NQ×dim literal nodes would blow
    # up Catalyst analysis/codegen long before the data does at the
    # thousands-of-queries batch sizes this operator exists for.
    qdf = spark.createDataFrame(
        [(qi, [float(x) for x in qv])
         for qi, qv in enumerate(np.asarray(queries, dtype=np.float64))],
        "qid int, __qvec array<double>",
    )
    pool = ivf_index.assigned.select("vec_id", ivf_index.vec_col).join(
        F.broadcast(cands), on="vec_id"
    )
    rescored = pool.join(F.broadcast(qdf), on="qid").select(
        "qid",
        "vec_id",
        cosine(
            F.col(ivf_index.vec_col).cast("array<double>"),
            F.col("__qvec"),
        ).alias("cos_sim"),
    )
    wk = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.col("vec_id"))
    return (
        rescored.withColumn("__rk", F.row_number().over(wk))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )
