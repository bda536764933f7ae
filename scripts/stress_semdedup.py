#!/usr/bin/env python
"""Semantic-dedup scale race: SemDeDup-style k-means blocking (Spark) vs
DuckDB exact all-pairs cosine, on a corpus with planted near-duplicates.

Corpus: N synthetic unit vectors (seeded numpy), of which a fixed 10%
fraction are near-identical perturbed copies planted in groups of 2-4 —
ground truth is known by construction.  Both engines answer the same
question (pairs with cosine >= 0.99); the script asserts both find
exactly the planted pairs (random high-dim directions never collide at
this threshold), making the race simultaneously a recall check.

DuckDB's answer is the honest single-node exact algorithm — a quadratic
self-join — so its cost grows O(N²) while the blocked Spark path grows
~O(N²/k): k_clusters scales with N (SemDeDup's own recipe, k ∝ N), so the
per-cluster quadratic term stays constant and measured wall-clock should
scale near-linearly.  That crossover is the point of the race.

r8: past DUCKDB_CUTOFF the exact self-join is skipped — it needed
3,915 s at 256 k and grows quadratically, so 512 k+ would be hours of
re-deriving an answer the harness already KNOWS: the duplicates are
planted, so the planted pair inventory IS the exact ground truth (random
64-dim directions never reach cosine 0.99 — the sub-cutoff points prove
it every run by matching DuckDB's exact answer to the same inventory).
Above the cutoff the Spark pair set is asserted equal to the planted set
directly and the row carries verified="planted".

Usage: python scripts/stress_semdedup.py [N ...]   (default 2000 8000 32000)
       TEGALLEGA_DUCKDB_CUTOFF=N  (default 262144) skip exact SQL above N
       TEGALLEGA_SEMDEDUP_PROBES=P  (default: operator default, 2) — the
       blocking ε dial: at 8 M the dual top-2 blocking misses 1 of
       889 089 planted pairs (measured, ~1.1·10⁻⁶); P=3 recovers the
       full planted set (the README 8 M row).
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = "/tmp/tegallega_semdedup_stress"
DIM = 64
THRESHOLD = 0.99
DUP_FRACTION = 0.10
NOISE = 1e-3


def build_corpus(n: int, seed: int = 11) -> tuple[np.ndarray, set[tuple[int, int]]]:
    """(vectors[n, DIM], planted ground-truth pair set)."""
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    truth: set[tuple[int, int]] = set()
    i = 0
    budget = int(n * DUP_FRACTION)
    while budget > 0 and i < n - 4:
        size = int(rng.integers(2, 5))
        base = vecs[i]
        members = [i]
        for j in range(1, size):
            vecs[i + j] = base + NOISE * rng.standard_normal(DIM)
            vecs[i + j] /= np.linalg.norm(vecs[i + j])
            members.append(i + j)
        for a in range(len(members)):
            for b in range(a + 1, len(members)):
                truth.add((members[a], members[b]))
        i += size + int(rng.integers(3, 8))  # gap of unrelated vectors
        budget -= size
    return vecs, truth


def write_parquet(vecs: np.ndarray, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), type=pa.int64()),
            "embedding": pa.array(
                [v.astype(np.float32).tolist() for v in vecs],
                type=pa.list_(pa.float32()),
            ),
        }
    )
    pq.write_table(tbl, path)


def run_duckdb(path: str) -> tuple[float, set[tuple[int, int]]]:
    import duckdb

    t0 = time.perf_counter()
    rows = duckdb.connect().execute(
        f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                   FROM read_parquet('{path}'))
        SELECT a.vec_id, b.vec_id
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.e, b.e)
              / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
              >= {THRESHOLD}
        """
    ).fetchall()
    return time.perf_counter() - t0, {(a, b) for a, b in rows}


def run_spark(spark, path: str, n: int) -> tuple[float, set[tuple[int, int]]]:
    from tegallega_spark.operators.semdedup import semantic_pairs
    from tegallega_spark.session import release_intermediates

    # the operator's own cell count, auto_k_clusters (k ∝ N,
    # TARGET_CELL_SIZE = 512), must be exact on its own
    probes = int(os.environ.get("TEGALLEGA_SEMDEDUP_PROBES", "2"))
    t0 = time.perf_counter()
    df = spark.read.parquet(path)
    pairs_df = semantic_pairs(df, min_cosine=THRESHOLD, probes=probes)
    pairs = {(r.id_a, r.id_b) for r in pairs_df.collect()}
    dt = time.perf_counter() - t0
    release_intermediates(pairs_df)
    return dt, pairs


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [2000, 8000, 32000]
    os.makedirs(OUT, exist_ok=True)

    from tegallega_spark.session import get_spark

    spark = get_spark("semdedup-stress")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # warm

    results = []
    for n in sizes:
        path = os.path.join(OUT, f"emb_{n}.parquet")
        vecs, truth = build_corpus(n)
        write_parquet(vecs, path)

        ts, spark_pairs = run_spark(spark, path, n)
        # TEGALLEGA_SEMDEDUP_MAX_MISS (default 0 = exact) lets the
        # probes=2 scaling row at 8 M record its measured blocking ε
        # (1/889,089) instead of dying on it: false positives are NEVER
        # tolerated (every emitted pair must be planted), and the miss
        # count goes on the row so the README table can publish it.
        max_miss = int(os.environ.get("TEGALLEGA_SEMDEDUP_MAX_MISS", "0"))
        false_pos = spark_pairs - truth
        missed = truth - spark_pairs
        assert not false_pos, f"N={n}: {len(false_pos)} non-planted pairs emitted"
        assert len(missed) <= max_miss, (
            f"N={n}: spark missed {len(missed)} of {len(truth)} planted pairs "
            f"(max_miss={max_miss})"
        )
        cutoff = int(os.environ.get("TEGALLEGA_DUCKDB_CUTOFF", "262144"))
        row = {"n": n, "pairs": len(truth), "spark_s": round(ts, 2)}
        if missed:
            row["missed"] = len(missed)
        if n <= cutoff:
            td, duck_pairs = run_duckdb(path)
            assert duck_pairs == truth, (
                f"N={n}: duckdb found {len(duck_pairs)} pairs, planted {len(truth)}"
            )
            row.update(
                duckdb_s=round(td, 2), ratio=round(td / ts, 2), verified="exact+planted"
            )
        else:
            row.update(
                duckdb_s=None, ratio=None,
                verified="planted" if not missed else
                f"planted-eps({len(missed)}/{len(truth)})",
            )
        results.append(row)
        print(json.dumps(results[-1]), file=sys.stderr)

    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
