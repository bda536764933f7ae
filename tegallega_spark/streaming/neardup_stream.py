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

State sharding: state is keyed by (band_idx, band_hash mod STATE_SHARDS),
not by raw bucket.  Each shard's state cell holds its buckets' id lists,
so per-bucket matching is unchanged, but a trigger calls the Python state
function once per touched (band, shard) group instead of once per
distinct bucket.  The group count is capped at bands × STATE_SHARDS
(16 × 8 = 128 at the defaults), so the stateful stage runs at most 128
busy tasks however many shuffle partitions it has.

Why 8 (4-core host).  Each group costs about 1.5 ms of task time, and a
trigger of a few hundred documents already touches nearly every shard,
so it rewrites the whole state at any shard count; the count only sets
how many Python calls it makes.  Measured steady-state addBatch on a
6-trigger drain of 500 documents: 1.85 s at 128 shards, 1.6 s at 32,
1.35 s at 16, 1.3 s at 8.  The 40k-document race (stress_stream.py 8):
660 docs/s at 128, 877 at 16, 930 at 8, 954 at 4 in one sweep, and
576-599 at 128 against 1,089 at 8 in a later pair, with identical pair
sets in every run.  At 640k documents (20k-document triggers against a
large state) 8 shards gave up a little: 2,135-2,340 docs/s at 128 and
2,014-2,107 at 8, stream wall +8% in the median, partly because 128
cells hash less evenly onto the shuffle partitions than 2,048 do.  The
count is fixed at a checkpoint's first trigger, while trigger volume is
not known when the plan is built, so it is a constant rather than a
rule over trigger volume.

Checkpoint layout: the shard count and the banding parameters
(shingle_n, num_hashes, bands) decide which state cell a bucket lives
in.  Every state value records that layout, and a restart under another
layout raises an error naming both instead of silently missing pairs.
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
# bucket's slice of the flat list (len(offsets) == len(hashes) + 1) —
# plus the layout (shingle_n, num_hashes, bands, shards) that wrote it.
STATE_SCHEMA = (
    "hashes array<bigint>, flat_ids array<bigint>, offsets array<int>, "
    "layout array<int>"
)
# State is keyed by (band_idx, band_hash mod STATE_SHARDS); see the module
# docstring for the measured choice.
STATE_SHARDS = 8


def _make_shard_matcher(max_ids: int, layout: tuple[int, int, int, int]):
    """Per-(band, hash-shard) stateful matcher.  The state cell holds the
    SHARD's bucket table (hash -> retained ids): each bucket's arrivals
    are processed in sorted-doc-id order per delivered chunk, emit one
    pair per retained id, and evict beyond `max_ids`.

    `layout` is (shingle_n, num_hashes, bands, shards), the same tuple
    the caller keys state by; a state cell written under another layout
    raises instead of being matched against."""

    def _match(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            hs, flat, offs, written = state.get
            written = tuple(int(x) for x in written)
            if written != layout:
                raise ValueError(
                    "near-dup stream checkpoint was written under state layout "
                    f"(shingle_n, num_hashes, bands, shards)={written}, but this "
                    f"query runs {layout}; start it on a new checkpoint"
                )
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
        state.update((hs_out, flat_out, offs_out, list(layout)))
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
    State is keyed by (band_idx, band_hash mod STATE_SHARDS) and stamped
    with its layout; see the module docstring.
    """
    layout = (shingle_n, num_hashes, bands, STATE_SHARDS)
    bh_udf = make_band_hash_udf(shingle_n, num_hashes, bands)
    banded = docs.select(
        F.col(id_col).alias("doc_id"), bh_udf(F.col(text_col)).alias("__bh")
    ).select("doc_id", F.posexplode("__bh").alias("band_idx", "band_hash"))
    banded = banded.withColumn(
        "__shard", F.pmod(F.col("band_hash"), F.lit(layout[3]))
    )
    return banded.groupBy("band_idx", "__shard").applyInPandasWithState(
        _make_shard_matcher(max_ids_per_bucket, layout),
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
