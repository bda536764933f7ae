"""The benchmark's workloads.  Each one generates its inputs from the seed
(`prepare`, untimed), runs one closed-loop iteration (`iterate`, timed)
and checks that iteration's output (`check`, untimed; returns the reason
for a failure, or "")."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time

import numpy as np

import queries_mix
import tables
import transit


class TransitFeed:
    """routes.json + route-data → build_gtfs → CSV sink → validate → zip."""

    def prepare(self, root: str, seed: int) -> None:
        self.inputs = os.path.join(root, "transit")
        self.facts = transit.generate(self.inputs, seed)
        self.doc_rates = []     # route relations per second of rebuild
        self.fingerprint = None
        self.defects = None

    def iterate(self, spark, trace, i: int, work: str):
        out = os.path.join(work, "feed")
        t0 = time.perf_counter()
        report, built = transit.run_iteration(spark, trace, self.inputs, out)
        self.doc_rates.append(self.facts["relations"] / (time.perf_counter() - t0))
        return out, report, built

    def check(self, spark, result) -> str:
        out, report, built = result
        transit.rewrite(spark, built, out)
        why, fp = transit.check(out, self.facts, report)
        if why:
            return why
        if self.fingerprint is not None and fp != self.fingerprint:
            return "feed bytes differ from the previous iteration"
        self.fingerprint = fp
        self.defects = sum(report.values())
        shutil.rmtree(out, ignore_errors=True)
        return ""

    def summary(self) -> dict:
        blob = json.dumps(self.fingerprint, sort_keys=True).encode()
        return {"feed_defects": self.defects,
                "feed_sha256": hashlib.sha256(blob).hexdigest()}


class QueryMix:
    """A pass over registry queries in a seeded order, each planned and
    run into the `noop` sink, then an availableNow drain of the streaming
    near-dup query over the generated documents in two micro-batches."""

    # JVM-only scan-aggregate and star join, and a gated Python-UDF operator
    # (MinHash-LSH pair generation below SMALL_PAIRGEN_BYTES); README.md
    # says why the pass is this short
    QUERIES = ["q01_pricing_summary", "q05_region_revenue", "q35_minhash_neardup"]

    def prepare(self, root: str, seed: int) -> None:
        self.seed = seed
        self.sf_dir = os.path.join(root, "tables")
        tables.generate(self.sf_dir, seed)
        self.feed = os.path.join(root, "stream-feed")
        self.stream_docs = stream_feed(self.sf_dir, self.feed, seed)
        self.doc_rates = []     # streamed documents per second of drain
        self.checked = False
        self.batch_pairs = None

    def iterate(self, spark, trace, i: int, work: str):
        order = queries_mix.pass_order(self.QUERIES, self.seed, i)
        queries_mix.run_pass(spark, trace, self.sf_dir, order)
        out = os.path.join(work, f"stream-{i}")
        drain_s = drain_stream(spark, trace, self.feed, out)
        self.doc_rates.append(self.stream_docs / drain_s)
        return out

    def check(self, spark, out) -> str:
        pairs = {(r.id_a, r.id_b) for r in spark.read.parquet(os.path.join(out, "sink"))
                 .select("id_a", "id_b").distinct().collect()}
        shutil.rmtree(out, ignore_errors=True)
        if self.batch_pairs is None:
            self.batch_pairs = batch_candidates(spark, self.feed)
        if pairs != self.batch_pairs:
            return (f"streamed candidates ({len(pairs)}) differ from the batch "
                    f"banded-LSH set ({len(self.batch_pairs)})")
        if not self.checked:
            bad = queries_mix.check_against_oracles(spark, self.sf_dir, self.QUERIES)
            if bad:
                return f"differs from its DuckDB oracle: {bad}"
            self.checked = True
        return ""

    def summary(self) -> dict:
        return {"stream_candidates": len(self.batch_pairs or ())}


# streaming near-dup parameters, as scripts/stress_stream.py
SHINGLE_N, NUM_HASHES, BANDS = 3, 32, 16
# micro-batches per drain: the second one matches against state the first
# one left in the state store
STREAM_FILES = 2


def stream_feed(sf_dir: str, feed: str, seed: int) -> int:
    """The generated documents split into STREAM_FILES micro-batch files;
    the seed picks which file each document lands in."""
    import pandas as pd

    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"),
                           columns=["doc_id", "text"])
    part = np.random.default_rng((seed, 0x57EA)).integers(0, STREAM_FILES, len(docs))
    os.makedirs(feed)
    for k in range(STREAM_FILES):
        docs[part == k].to_parquet(os.path.join(feed, f"part-{k:03d}.parquet"), index=False)
    return len(docs)


def drain_stream(spark, trace, feed: str, out: str):
    """Run the stream to completion, its sink under `out`; returns the
    drain seconds.  A traced span also gets the progress breakdown."""
    from tegallega_spark.streaming.neardup_stream import neardup_candidates_stream

    sink, ckpt = os.path.join(out, "sink"), os.path.join(out, "ckpt")
    t0 = time.perf_counter()
    with trace.span("streaming.neardup_stream") as rec:
        stream = (spark.readStream.schema("doc_id bigint, text string")
                  .option("maxFilesPerTrigger", "1").parquet(feed))
        cands = neardup_candidates_stream(stream, shingle_n=SHINGLE_N,
                                          num_hashes=NUM_HASHES, bands=BANDS)
        q = (cands.writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt).outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination()
    drain_s = time.perf_counter() - t0
    if rec is not None:
        prog = q.recentProgress
        state = (prog[-1]["stateOperators"] or [{}])[0] if prog else {}

        def med(key):
            return statistics.median(p["durationMs"].get(key, 0) for p in prog) if prog else 0

        rec["progress"] = {
            "triggers": len(prog), "trigger_ms": med("triggerExecution"),
            "add_batch_ms": med("addBatch"), "query_planning_ms": med("queryPlanning"),
            "state_rows": state.get("numRowsTotal", 0),
            "state_mem_mb": state.get("memoryUsedBytes", 0) / 1e6,
        }
    return drain_s


def batch_candidates(spark, feed: str) -> set:
    """The batch banded-LSH candidate set the stream must reproduce."""
    import pyspark.sql.functions as F

    from tegallega_spark.operators.dedup import _pairs_from_band_hashes, make_band_hash_udf

    docs = spark.read.parquet(feed)
    bh_udf = make_band_hash_udf(SHINGLE_N, NUM_HASHES, BANDS)
    bh = docs.select(F.col("doc_id").alias("__id"), bh_udf(F.col("text")).alias("__bh"))
    return {(r.id_a, r.id_b) for r in _pairs_from_band_hashes(bh).collect()}


WORKLOADS = {"transit_feed": TransitFeed, "query_mix": QueryMix}
