#!/usr/bin/env python
"""Streaming near-dup scale race: the stateful LSH candidate stream
(streaming/neardup_stream.py) vs the batch operator on the same corpus,
delivered as MANY microbatches.

The CI-sized parity tests (test_neardup_stream.py) pin semantics on the
smoke corpus; what they can't show is whether the keyed-state formulation
HOLDS UP at ingestion scale — state growth across tens of thousands of
buckets, per-microbatch overhead across dozens of triggers, and candidate
parity when the same pair's docs land many deliveries apart.  This race
supplies it:

- corpus: sf0.1 documents replicated N× with per-copy token bijection
  (reused from stress_docs — same pair structure per copy, zero
  cross-copy shingles), split into FILES microbatch files in random doc
  order, streamed with maxFilesPerTrigger=1 → one trigger per file;
- the streamed DISTINCT candidate set must equal the batch banded-LSH
  candidate set (exact set equality, not counts);
- exact-verifying the streamed candidates must reproduce the batch
  minhash_near_duplicates_verified pair set (the falsifiable contract);
- reported: stream wall-clock + docs/s, trigger count, per-trigger
  medians of the triggerExecution / addBatch / queryPlanning durations,
  state rows and memory (from the final StreamingQueryProgress), the
  state layout's shard count and group cap (bands × STATE_SHARDS), and
  the batch wall-clock for the same corpus — the throughput row the
  README publishes.

Usage: python scripts/stress_stream.py [N[:CAP] ...]   (default 8 16 32)
        N is the sf0.1 replication factor: N=8 → 40 k docs, 32 → 160 k,
        128 → 640 k.  N:CAP (e.g. 128:4) runs the SAME feed with
        max_ids_per_bucket=CAP — the state-eviction row: state must stay
        hard-bounded (≤ buckets × CAP) and the streamed candidates must
        be a SUBSET of batch (the documented retention-horizon recall
        trade), with the measured recall published instead of asserted
        equality.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import pandas as pd  # noqa: F401 — pandas_udf type hints resolve at import

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = "/tmp/tegallega_stream_stress"
FILES = 32          # microbatch files → triggers
DOC_SCHEMA = "doc_id bigint, text string"
SHINGLE_N, NUM_HASHES, BANDS, THRESH = 3, 32, 16, 0.7


def _stress_docs():
    spec = importlib.util.spec_from_file_location(
        "stress_docs",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "stress_docs.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def build_feed(spark, n: int) -> tuple[str, int]:
    """Replicated corpus split into FILES parquet files in hash-shuffled
    doc order — near-dup twins land in different microbatches, exercising
    the cross-delivery state path at scale, not just in the 2-delivery
    unit test."""
    src = _stress_docs().build_input(n)
    feed = os.path.join(OUT, f"feed_x{n}")
    shutil.rmtree(feed, ignore_errors=True)
    os.makedirs(feed)
    import pyspark.sql.functions as F

    docs = spark.read.parquet(src)
    total = docs.count()
    (
        docs.withColumn("__f", F.pmod(F.xxhash64("doc_id"), F.lit(FILES)))
        .repartition(FILES, "__f")
        .drop("__f")
        .write.mode("overwrite")
        .parquet(feed)
    )
    return feed, total


def run_stream(spark, feed: str, max_ids: int | None = None) -> tuple[float, set, dict]:
    """(wall_s, distinct candidate pairs, progress metrics)."""
    from tegallega_spark.streaming.neardup_stream import neardup_candidates_stream

    sink = os.path.join(OUT, "sink")
    ckpt = os.path.join(OUT, "ckpt")
    shutil.rmtree(sink, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{feed}/*.parquet")
    )
    kw = {} if max_ids is None else {"max_ids_per_bucket": max_ids}
    cands = neardup_candidates_stream(
        stream, shingle_n=SHINGLE_N, num_hashes=NUM_HASHES, bands=BANDS, **kw
    )
    t0 = time.perf_counter()
    q = (
        cands.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    got = {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(sink).select("id_a", "id_b").distinct().collect()
    }
    return wall, got, progress_metrics(q.recentProgress)


def progress_metrics(prog: list) -> dict:
    """Per-trigger medians of the progress durations, the final state
    store's size, and the state layout's group cap."""
    from tegallega_spark.streaming.neardup_stream import STATE_SHARDS

    def med(key):
        return statistics.median(p["durationMs"].get(key, 0) for p in prog) if prog else 0

    with_state = [p for p in prog if p.get("stateOperators")]
    state = with_state[-1]["stateOperators"][0] if with_state else {}
    return {
        "triggers": len(prog),
        "trigger_ms": med("triggerExecution"),
        "add_batch_ms": med("addBatch"),
        "query_planning_ms": med("queryPlanning"),
        "state_rows": state.get("numRowsTotal"),
        "state_mem_mb": round(state.get("memoryUsedBytes", 0) / 1e6, 1),
        "state_shards": STATE_SHARDS,
        "state_groups_cap": BANDS * STATE_SHARDS,
    }


def batch_answers(spark, feed: str) -> tuple[float, set, set]:
    """(batch wall for the verified operator, batch candidate set,
    batch verified pair set)."""
    import pyspark.sql.functions as F

    from tegallega_spark.operators.dedup import (
        _pairs_from_band_hashes,
        make_band_hash_udf,
        minhash_near_duplicates_verified,
    )
    from tegallega_spark.session import release_intermediates

    docs = spark.read.parquet(feed)
    bh_udf = make_band_hash_udf(SHINGLE_N, NUM_HASHES, BANDS)
    bh = docs.select(
        F.col("doc_id").alias("__id"), bh_udf(F.col("text")).alias("__bh")
    )
    cand = {(r.id_a, r.id_b) for r in _pairs_from_band_hashes(bh).collect()}

    t0 = time.perf_counter()
    ver = minhash_near_duplicates_verified(
        docs, "doc_id", "text", shingle_n=SHINGLE_N, num_hashes=NUM_HASHES,
        bands=BANDS, jaccard_threshold=THRESH,
    )
    verified = {(r.id_a, r.id_b) for r in ver.collect()}
    wall = time.perf_counter() - t0
    release_intermediates(ver)
    return wall, cand, verified


def verify_stream_pairs(spark, feed: str, cands: set) -> set:
    """Exact-verify the streamed candidates (the same per-batch check
    verified_neardup_sink applies, run once over the union)."""
    from tegallega_spark.operators.dedup import exact_jaccard_for_pairs
    from tegallega_spark.session import release_intermediates

    import pyspark.sql.functions as F

    pairs = spark.createDataFrame(
        sorted(cands), "id_a bigint, id_b bigint"
    )
    scored = exact_jaccard_for_pairs(
        pairs, spark.read.parquet(feed), "doc_id", "text", SHINGLE_N
    )
    out = {
        (r.id_a, r.id_b)
        for r in scored.filter(F.col("jaccard") >= THRESH).collect()
    }
    release_intermediates(scored)
    return out


def main() -> None:
    specs = []
    for a in sys.argv[1:]:
        n, _, cap = a.partition(":")
        specs.append((int(n), int(cap) if cap else None))
    specs = specs or [(8, None), (16, None), (32, None)]
    os.makedirs(OUT, exist_ok=True)

    from tegallega_spark.session import get_spark

    spark = get_spark("stream-stress")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()

    results = []
    for n, cap in specs:
        feed, total = build_feed(spark, n)
        stream_s, stream_cands, metrics = run_stream(spark, feed, max_ids=cap)
        batch_s, batch_cands, batch_verified = batch_answers(spark, feed)
        row = {
            "replication": n,
            "docs": total,
            "candidates": len(stream_cands),
            "verified_pairs": len(batch_verified),
            "stream_s": round(stream_s, 2),
            "docs_per_s": round(total / stream_s, 1),
            "batch_s": round(batch_s, 2),
            **metrics,
        }
        if cap is None:
            assert stream_cands == batch_cands, (
                f"N={n}: candidate sets differ "
                f"(stream {len(stream_cands)}, batch {len(batch_cands)})"
            )
            stream_verified = verify_stream_pairs(spark, feed, stream_cands)
            assert stream_verified == batch_verified, (
                f"N={n}: verified pair sets differ "
                f"(stream {len(stream_verified)}, batch {len(batch_verified)})"
            )
            row["pair_sets"] = "identical"
        else:
            # eviction row: when the retention bound BINDS, candidates
            # may only be LOST (a doc beyond the horizon), never invented
            assert stream_cands <= batch_cands, (
                f"N={n} cap={cap}: stream emitted pairs batch never had"
            )
            stream_verified = verify_stream_pairs(spark, feed, stream_cands)
            assert stream_verified <= batch_verified
            row["max_ids_per_bucket"] = cap
            row["candidate_recall"] = round(
                len(stream_cands) / len(batch_cands), 4
            ) if batch_cands else 1.0
            row["verified_recall"] = round(
                len(stream_verified) / len(batch_verified), 4
            ) if batch_verified else 1.0
        results.append(row)
        print(json.dumps(results[-1]), file=sys.stderr)

    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
