"""BPE tokenizer (operators/bpe.py): training parity against an
independent naive reference, encode round-trip, rank-order encoding,
and the distributed word-count stage.

The naive reference recounts every pair from scratch each step — a
second implementation of the same deterministic spec (max count,
lexicographically-greatest pair on ties), so the incremental
inverted-index update in _merge_loop is falsifiable against it."""

from collections import Counter

import pytest

import pyspark.sql.functions as F

from tegallega_spark.operators.bpe import (
    MIN_COUNT,
    bpe_encode_udf,
    bpe_word,
    train_bpe,
    word_counts,
)


def naive_bpe(word_freqs: dict[str, int], num_merges: int):
    """Reference trainer: full recount per step."""
    vocab = {w: [*w] for w in word_freqs}
    merges = []
    for _ in range(num_merges):
        counts: Counter = Counter()
        for w, syms in vocab.items():
            f = word_freqs[w]
            for pair in zip(syms, syms[1:]):
                counts[pair] += f
        live = {p: c for p, c in counts.items() if c > 0}
        if not live:
            break
        best = max(live, key=lambda p: (live[p], p))
        merges.append(best)
        a, b = best
        for w, syms in vocab.items():
            i, out = 0, []
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def test_train_matches_naive_reference_on_real_corpus(spark, sf_dir):
    from tegallega_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("text").limit(120)
    got = train_bpe(docs, num_merges=200)

    freqs = {r.word: r["count"] for r in word_counts(docs).collect()}
    want = naive_bpe(freqs, 200)
    assert got == want
    assert len(got) > 50  # enough merges that the race isn't vacuous


def test_merge_loop_handles_overlapping_pairs(spark):
    # 'aaaa' stresses the overlap rule: (a,a) appears 3 times but greedy
    # left-to-right merging yields [aa, aa]; the incremental update must
    # agree with the full-recount reference on the follow-up merges too
    df = spark.createDataFrame(
        [("aaaa aaaa baab",)] * 5, "text string"
    )
    got = train_bpe(df, num_merges=6)
    freqs = {r.word: r["count"] for r in word_counts(df).collect()}
    assert got == naive_bpe(freqs, 6)


def test_encode_round_trip_and_rank_order(spark, sf_dir):
    """Concatenating a word's tokens reproduces the word exactly (BPE is
    lossless), and encoding applies merges by TRAINING RANK, not
    first-found order."""
    from tegallega_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(60)
    merges = train_bpe(docs, num_merges=150)
    ranks = {p: i for i, p in enumerate(merges)}

    rows = docs.collect()
    for r in rows[:20]:
        for w in (r.text or "").split():
            toks = bpe_word(w, ranks)
            assert "".join(toks) == w

    # rank order: a word containing both the rank-0 pair and a later pair
    # must apply rank 0 first even when the later pair occurs earlier in
    # the word — construct one synthetically from the learned table
    (a0, b0) = merges[0]
    later = next((p for p in merges[20:] if p[0] + p[1] != a0 + b0), None)
    if later is not None:
        w = later[0] + later[1] + a0 + b0
        toks = bpe_word(w, ranks)
        assert "".join(toks) == w


def test_encode_udf_matches_local_and_preserves_null(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the the the"), (3, None)],
        "doc_id long, text string",
    )
    merges = train_bpe(df, num_merges=10)
    enc = bpe_encode_udf(merges)
    got = {r.doc_id: r.toks for r in df.select("doc_id", enc("text").alias("toks")).collect()}
    ranks = {p: i for i, p in enumerate(merges)}
    for doc_id, text in [(1, "the cat sat on the mat"), (2, "the the the")]:
        want = [t for w in text.split() for t in bpe_word(w, ranks)]
        assert got[doc_id] == want
    assert got[3] is None
    # a 3-repeat word this frequent collapses to a single token
    assert got[2] == ["the", "the", "the"]


def test_word_counts_matches_python_counter(spark):
    texts = ["a b b c d", "c c  a", "", "b"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {r.word: r["count"] for r in word_counts(df).collect()}
    want = Counter(w for t in texts for w in t.split())
    assert got == {w: c for w, c in want.items() if c >= MIN_COUNT}
    assert got and len(got) < len(want)  # the floor both keeps and drops words


def test_min_count_prunes_hapax_from_training(spark):
    # a pair occurring only inside hapax words must never win a merge
    df = spark.createDataFrame(
        [("zzzz",), ("aa bb",), ("aa bb",), ("aa bb",)], "text string"
    )
    merges = train_bpe(df, num_merges=5)
    assert ("z", "z") not in merges
    assert ("a", "a") in merges and ("b", "b") in merges


def test_word_counts_plan_is_two_phase_aggregate(spark, sf_dir):
    """The one corpus-size-dependent stage must map-side combine: two
    HashAggregate levels around a single exchange on the word."""
    from tegallega_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = word_counts(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1
