"""Streaming near-duplicate detection: MinHash-LSH banding as a stateful
stream.

The batch path (operators/dedup.py) bands MinHash signatures and
self-joins band buckets.  On a stream there is nothing to self-join —
instead each LSH bucket becomes a KEYED STATE CELL: the state for
(band_idx, band_hash) holds the doc ids previously seen in that bucket,
and a new arrival emits one candidate pair per stored id.  The union over
bands of the emitted pairs is EXACTLY the batch banded-LSH candidate set
(test-pinned parity), so downstream exact-verification (batch
exact_jaccard_for_pairs, or a per-pair check) keeps the same contract:
streamed-candidates ⊇ true near-dups with the standard banding recall.

Scale/state bound: bucket state holds ids from the configured retention
horizon only (`max_ids` newest per bucket) — a replay/dup detector for
ingestion, where a near-dup beyond the horizon is someone else's
compaction problem (same trade as dedup_stream's watermark).  Hot buckets
(template shingles) cap at max_ids, turning the O(bucket²) pair blowup the
batch path also guards against into a hard bound.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from tegallega_spark.operators.dedup import (
    exact_jaccard_for_pairs,
    make_band_hash_udf,
)
from tegallega_spark.session import release_intermediates

PAIR_SCHEMA = "id_a bigint, id_b bigint, band_idx int"
# Shard state: the shard's buckets as parallel arrays — bucket band
# hashes, all bucket id lists flattened, and offsets delimiting each
# bucket's slice of the flat list (len(offsets) == len(hashes) + 1).
STATE_SCHEMA = "hashes array<bigint>, flat_ids array<bigint>, offsets array<int>"
# State is keyed by (band_idx, band_hash mod STATE_SHARDS); see
# neardup_candidates_stream.  Part of the checkpoint's grouping key:
# changing it invalidates existing checkpoints.
STATE_SHARDS = 128


def _make_shard_matcher(max_ids: int):
    """Per-(band, hash-shard) stateful matcher.  The state cell holds the
    SHARD's bucket table (hash -> retained ids); per-bucket matching
    semantics are identical to the old per-(band, hash) keying — each
    bucket's arrivals are processed in sorted-doc-id order per delivered
    chunk, emit one pair per retained id, and evict beyond `max_ids`.

    Why shards (r14): keying state by (band, band_hash) made every
    distinct bucket a separate applyInPandasWithState GROUP — ~19k
    Python calls + pandas frame constructions per ~1k-doc trigger at
    ~3.7 ms each (the stress race's measured wall, 92 s for 40k docs).
    Sharding the hash space bounds the per-trigger group count at
    bands × STATE_SHARDS while keeping bucket semantics bit-identical."""

    def _match(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            hs, flat, offs = state.get
            table: dict[int, list[int]] = {
                int(h): [int(x) for x in flat[offs[i]:offs[i + 1]]]
                for i, h in enumerate(hs)
            }
        else:
            table = {}
        band_idx = key[0]
        out = []
        for pdf in pdfs:
            # deterministic arrival order inside a batch chunk: per
            # bucket, by doc id (bucket cells are independent, so the
            # bucket iteration order is immaterial)
            by_hash: dict[int, list[int]] = {}
            for h, doc_id in zip(pdf["band_hash"], pdf["doc_id"]):
                by_hash.setdefault(int(h), []).append(int(doc_id))
            for h, arrivals in by_hash.items():
                ids = table.get(h, [])
                seen = set(ids)
                for doc_id in sorted(arrivals):
                    if doc_id in seen:
                        continue
                    for prev in ids:
                        a, b = (prev, doc_id) if prev < doc_id else (doc_id, prev)
                        out.append((a, b, band_idx))
                    ids.append(doc_id)
                    seen.add(doc_id)
                    if len(ids) > max_ids:
                        seen.difference_update(ids[:-max_ids])
                        ids = ids[-max_ids:]
                table[h] = ids
        hs_out, flat_out, offs_out = [], [], [0]
        for h, ids in table.items():
            hs_out.append(h)
            flat_out.extend(ids)
            offs_out.append(len(flat_out))
        state.update((hs_out, flat_out, offs_out))
        if out:
            yield pd.DataFrame(out, columns=["id_a", "id_b", "band_idx"])

    return _match


def neardup_candidates_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    max_ids_per_bucket: int = 1024,
) -> DataFrame:
    """(id_a, id_b, band_idx) candidate pairs; distinct (id_a, id_b) over
    the stream equals the batch `_pairs_from_band_hashes` candidate set for
    the same corpus (while bucket state stays within max_ids_per_bucket).

    State sharding (r14): state is keyed by (band_idx, band_hash mod
    STATE_SHARDS), not by raw bucket — per-bucket matching semantics are
    unchanged (each shard's state holds its buckets' id lists), but the
    per-trigger applyInPandasWithState GROUP count is bounded at
    bands × STATE_SHARDS instead of one group per distinct bucket.  The
    old keying paid ~3.7 ms of Python-call + pandas-construction overhead
    per bucket per trigger (the stress race's measured wall).  A shard's
    state value stays comfortably row-sized while expected buckets /
    (bands × STATE_SHARDS) ≈ tens of buckets per shard (the per-shard
    value grows linearly with corpus buckets).  128 is the measured knee
    of the 40k-doc stress race (433 → 819 docs/s; 1024 shards measured
    526 — with ~19k distinct buckets per trigger nearly every shard was
    still hit, so the group count barely dropped).
    """
    bh_udf = make_band_hash_udf(shingle_n, num_hashes, bands)
    banded = docs.select(
        F.col(id_col).alias("doc_id"), bh_udf(F.col(text_col)).alias("__bh")
    ).select("doc_id", F.posexplode("__bh").alias("band_idx", "band_hash"))
    banded = banded.withColumn(
        "__shard", F.pmod(F.col("band_hash"), F.lit(STATE_SHARDS))
    )
    return banded.groupBy("band_idx", "__shard").applyInPandasWithState(
        _make_shard_matcher(max_ids_per_bucket),
        outputStructType=PAIR_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def verified_neardup_sink(
    candidates: DataFrame,
    corpus,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
):
    """Compose the candidate stream with EXACT Jaccard verification — the
    same falsifiable contract as the batch path: streamed verified pairs
    equal minhash_near_duplicates_verified on the delivered corpus
    (test-pinned).

    Each micro-batch of LSH candidates is re-scored via
    exact_jaccard_for_pairs against `corpus` — a batch DataFrame of all
    docs landed so far, or a zero-arg callable returning one (a callable
    re-reads the landed table per batch, picking up the delivery that
    produced the candidates).  A candidate pair is emitted in exactly one
    micro-batch (the one where its newer doc first arrives), so per-batch
    verification never double-scores; survivors append to `out_path` as
    (id_a, id_b, jaccard) parquet.  State/scale bounds are inherited from
    neardup_candidates_stream; verification cost is per-candidate, not
    per-corpus (semi-join pushdown in exact_jaccard_for_pairs).

    Returns the started StreamingQuery, triggered availableNow: it drains
    what has landed and stops.
    """

    def _verify(batch_df, batch_id):
        pairs = batch_df.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])
        base = corpus() if callable(corpus) else corpus
        verified = exact_jaccard_for_pairs(pairs, base, id_col, text_col, shingle_n)
        out = verified.filter(F.col("jaccard") >= jaccard_threshold)
        out.write.mode("append").parquet(out_path)
        release_intermediates(verified)

    return (
        candidates.writeStream.foreachBatch(_verify)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
