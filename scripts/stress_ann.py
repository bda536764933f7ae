#!/usr/bin/env python
"""ANN scale race: the production IVF-PQ path (coarse-quantizer pruning +
ADC code scan + bounded exact re-rank — operators/ivf.py + pq.py) vs
DuckDB exact top-k over the same vectors.

q69 pins the FULL-RERANK mode's exactness against brute-force SQL at
sf0.01, and test_pq pins recall floors on toy sizes; what neither gives
is a measured scale curve for the path a 100 TB deployment would run —
nprobe-pruned lists, m-byte codes in the hot scan, raw vectors touched
only for the re-rank pool.  This race supplies it: at each N the same
NQ queries are answered by (a) DuckDB's honest exact algorithm — a full
cosine scan per query, O(N·NQ) — and (b) Spark IVF-PQ, which scans
~nprobe/k_lists of the corpus reading 8-byte codes instead of 64-float
vectors.  Reported per N: index build time (one-off, amortized over
query volume), query wall-clock for both engines, and recall@10 vs the
exact answer, asserted >= the RECALL_FLOOR pinned by test_pq.

Ground truth is PLANTED: each query is a perturbation of a cluster of
CLUSTER_SIZE near-identical corpus vectors (cosine within the cluster
≈ 0.99+), so the exact top-10 is dominated by true semantic neighbors —
the regime IVF exists for.  On pure-random vectors the exact "top-10"
beyond rank 1 is an arbitrary cosine≈0.4 tail scattered uniformly over
the sphere, and recall@10 measures luck, not the index (measured: 0.33
on random data vs the same index machinery).

The Spark side runs ivfpq_topk_batch — the whole query set as ONE plan
(broadcast probe join → batched ADC pass → per-qid window cuts) — the
symmetric formulation to DuckDB's single-SQL window top-k; a per-query
driver loop would pay Spark's fixed job latency NQ times and measure
scheduling, not scanning.

Usage: python scripts/stress_ann.py [N ...]    (default 100000 400000 1000000)
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = "/tmp/tegallega_ann_stress"
DIM = 64
K_TOP = 10
NQ = 16
CLUSTER_SIZE = 12
NOISE = 0.05
PQ_M = 8          # 8 subspaces x 8 dims: one code per subspace
# r8: 8-bit subspace codebooks (the PQ literature's standard size; Jégou
# TPAMI 2011 uses k*=256 throughout).  The r7 harness ran k=16 (4-bit) —
# fine while the probed candidate pool was small, but the pool is a fixed
# ~N/8 fraction, so each corpus doubling doubled the distractors competing
# for the fixed rerank=50 ADC slots and recall drooped (0.988 at 1 M →
# 0.95 at 2 M → 0.919 at 4 M measured with √N lists, so NOT a list-sizing
# effect).  8-bit codes cut per-subspace quantization error ~16× and the
# top-50 stays clean; codes remain 8 bytes/vector (smallint array).
PQ_K = int(os.environ.get("TEGALLEGA_PQ_K", "256"))
PQ_SAMPLE = int(os.environ.get("TEGALLEGA_PQ_SAMPLE", "32768"))  # 128/centroid
RERANK = int(os.environ.get("TEGALLEGA_RERANK", "50"))
RECALL_FLOOR = 0.6  # test_pq.py:77 — the bounded-rerank pinned floor


def index_params(n: int) -> tuple[int, int]:
    """(k_lists, nprobe): sqrt-N lists (the standard IVF sizing), probe a
    fixed 1/8 of them — per-query scanned fraction stays ~1/8 as N grows,
    so the exact-vs-pruned gap widens linearly with N.

    r8: the 256-list cap is gone.  It existed because the full-KMeans
    trainer made k=256 cost 441 s at 2 M vectors; the sample-trained
    coarse quantizer (ivf.train_ivf_index_sampled) makes training cost a
    function of k alone, so k_lists follows ivf.auto_k_lists's √N law
    all the way up — per-list occupancy stays ≈√N and recall no longer
    eases as N doubles (r7's one measured quality droop: 0.994 → 0.95 at
    2 M under the cap)."""
    from tegallega_spark.operators.ivf import auto_k_lists

    k_lists = auto_k_lists(n)
    return k_lists, max(4, k_lists // 8)


def build_corpus(n: int, seed: int = 17) -> tuple[np.ndarray, np.ndarray]:
    """(unit vectors[n, DIM], queries[NQ, DIM]).

    NQ cluster centers, each with CLUSTER_SIZE perturbed members planted
    at known positions spread through the corpus (not contiguous — ids
    must not correlate with IVF cells); each query is a further
    perturbation of its center, so its exact top-10 is (mostly) its
    cluster's members."""
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    centers = rng.standard_normal((NQ, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    slots = rng.choice(n, size=NQ * CLUSTER_SIZE, replace=False)
    for qi in range(NQ):
        for j in range(CLUSTER_SIZE):
            v = centers[qi] + NOISE * rng.standard_normal(DIM)
            vecs[slots[qi * CLUSTER_SIZE + j]] = v / np.linalg.norm(v)
    queries = centers + NOISE * rng.standard_normal((NQ, DIM))
    queries /= np.linalg.norm(queries, axis=1, keepdims=True)
    return vecs, queries


def write_parquet(vecs: np.ndarray, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "vec_id": pa.array(np.arange(len(vecs)), type=pa.int64()),
            "e": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, path)


def run_duckdb(path: str, queries: np.ndarray) -> tuple[float, list[list[int]]]:
    """Exact cosine top-K_TOP per query, one vectorized SQL over all NQ
    queries (DuckDB's best formulation: single scan, window top-k)."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE q(qid BIGINT, e FLOAT[]);"
    )
    for i, q in enumerate(queries):
        con.execute("INSERT INTO q VALUES (?, ?)", [i, [float(x) for x in q]])
    t0 = time.perf_counter()
    rows = con.execute(
        f"""
        SELECT qid, vec_id FROM (
          SELECT q.qid, v.vec_id,
                 row_number() OVER (
                   PARTITION BY q.qid
                   ORDER BY list_dot_product(q.e, v.e)
                            / sqrt(list_dot_product(v.e, v.e)) DESC,
                            v.vec_id
                 ) AS rk
          FROM q CROSS JOIN read_parquet('{path}') v
        ) WHERE rk <= {K_TOP}
        ORDER BY qid, rk
        """
    ).fetchall()
    dt = time.perf_counter() - t0
    out: list[list[int]] = [[] for _ in range(len(queries))]
    for qid, vid in rows:
        out[qid].append(vid)
    return dt, out


def run_spark(spark, path: str, queries: np.ndarray, n: int):
    """(build_s, query_s, per-query id lists)."""
    from tegallega_spark.operators.ivf import train_ivf_index_sampled
    from tegallega_spark.operators.pq import ivfpq_topk_batch, train_pq_codebooks

    k_lists, nprobe = index_params(n)
    df = spark.read.parquet(path)
    t0 = time.perf_counter()
    cb = train_pq_codebooks(df, vec_col="e", m=PQ_M, k=PQ_K, sample=PQ_SAMPLE)
    index = train_ivf_index_sampled(df, vec_col="e", k=k_lists, n=n).encode(cb)
    index.assigned.count()  # materialize the encoded, persisted lists
    build_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    rows = ivfpq_topk_batch(
        index, cb, queries,
        k=K_TOP, nprobe=nprobe, rerank=RERANK,
    ).collect()
    query_s = time.perf_counter() - t0
    got: list[list[int]] = [[] for _ in range(len(queries))]
    for r in rows:
        got[r.qid].append(r.vec_id)
    index.assigned.unpersist()
    return build_s, query_s, got


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [100_000, 400_000, 1_000_000]
    os.makedirs(OUT, exist_ok=True)

    from tegallega_spark.session import get_spark

    spark = get_spark("stress-ann")
    for n in sizes:
        vecs, queries = build_corpus(n)
        path = os.path.join(OUT, f"vecs_{n}.parquet")
        write_parquet(vecs, path)  # always rewrite: content is seed+layout-dependent
        duck_s, exact = run_duckdb(path, queries)
        build_s, query_s, got = run_spark(spark, path, queries, n)
        recalls = [
            len(set(g) & set(e)) / K_TOP for g, e in zip(got, exact)
        ]
        recall = float(np.mean(recalls))
        k_lists, nprobe = index_params(n)
        print(
            json.dumps(
                {
                    "n": n,
                    "k_lists": k_lists,
                    "nprobe": nprobe,
                    "recall_at_10": round(recall, 3),
                    "spark_build_s": round(build_s, 2),
                    "spark_query_s": round(query_s, 2),
                    "duckdb_exact_s": round(duck_s, 2),
                    "query_ratio": round(duck_s / query_s, 2),
                },
                separators=(",", ":"),
            ),
            flush=True,
        )
        assert recall >= RECALL_FLOOR, (
            f"N={n}: recall@10 {recall:.3f} below pinned floor {RECALL_FLOOR}"
        )


if __name__ == "__main__":
    main()
