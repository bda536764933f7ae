"""Product-quantization ANN: code properties, exact-equality under full
re-rank, and measured recall of the bounded-re-rank scale path.  Codes and
ADC distances are squared-L2 on the raw vectors, as q69 and q73 run them."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from tegallega_spark.operators.pq import encode_pq, pq_topk, train_pq_codebooks
from tegallega_spark.operators.similarity import brute_force_topk
from tegallega_spark.session import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")


@pytest.fixture(scope="module")
def codebooks(emb):
    return train_pq_codebooks(emb, m=8, k=16)


def test_codebook_shape_and_determinism(emb, codebooks):
    assert codebooks.shape == (8, 16, 8)
    again = train_pq_codebooks(emb, m=8, k=16)
    assert np.array_equal(codebooks, again)


def test_train_raises_when_sample_smaller_than_k(emb):
    """Fewer sample rows than centroids must fail loudly, not silently
    emit duplicated/degenerate codebooks (ADVICE r2)."""
    with pytest.raises(ValueError, match="rows < k"):
        train_pq_codebooks(emb, m=8, k=16, sample=8)


def test_codes_compress_32x(emb, codebooks):
    enc = encode_pq(emb, codebooks)
    row = enc.first()
    assert len(row.pq_code) == 8  # 8 bytes vs 64 float32 = 32x
    assert all(0 <= c < 16 for c in row.pq_code)
    assert enc.count() == emb.count()


def test_full_rerank_equals_exact(spark, emb, codebooks):
    """re-ranking ALL rows must reproduce brute-force exactly — pins the
    ADC candidate plumbing and the output contract."""
    n = emb.count()
    query = emb.orderBy("vec_id").first().embedding
    enc = encode_pq(emb, codebooks).persist()
    exact = brute_force_topk(emb, query).collect()
    viapq = pq_topk(enc, codebooks, query, k=10, rerank=n).collect()
    assert [r.vec_id for r in viapq] == [r.vec_id for r in exact]
    for a, b in zip(viapq, exact):
        assert abs(a.cos_sim - b.cos_sim) < 1e-12


def test_bounded_rerank_recall(spark, emb, codebooks):
    """The scale path (re-rank 50 of 500 = 10%) must keep high recall@10
    averaged over queries — measured, not assumed."""
    enc = encode_pq(emb, codebooks).persist()
    queries = [r.embedding for r in emb.orderBy("vec_id").limit(5).collect()]
    hits = total = 0
    for q in queries:
        exact = {r.vec_id for r in brute_force_topk(emb, q).collect()}
        approx = {
            r.vec_id
            for r in pq_topk(enc, codebooks, q, k=10, rerank=50).collect()
        }
        hits += len(exact & approx)
        total += len(exact)
    recall = hits / total
    assert recall >= 0.6, f"recall@10 with 10% rerank = {recall}"


def test_ivfpq_composition(spark, emb, codebooks):
    """IVF pruning + PQ ADC + exact re-rank: with all lists probed and a
    full re-rank this must equal brute force; with real pruning it must
    keep usable recall."""
    from tegallega_spark.operators.ivf import train_ivf_index_sampled
    from tegallega_spark.operators.pq import ivfpq_topk

    idx = train_ivf_index_sampled(emb, k=8).encode(codebooks)
    n = emb.count()
    query = emb.orderBy("vec_id").first().embedding

    exact = [r.vec_id for r in brute_force_topk(emb, query).collect()]
    full = [
        r.vec_id
        for r in ivfpq_topk(idx, codebooks, query, k=10, nprobe=8, rerank=n).collect()
    ]
    assert full == exact

    pruned = {
        r.vec_id
        for r in ivfpq_topk(idx, codebooks, query, k=10, nprobe=4, rerank=50).collect()
    }
    recall = len(set(exact) & pruned) / 10
    assert recall >= 0.5, f"IVF-PQ recall@10 = {recall}"


def test_ivfpq_batch_matches_per_query(spark, emb, codebooks):
    """ivfpq_topk_batch (whole query set as ONE plan) must reproduce the
    per-query ivfpq_topk results EXACTLY for the same (nprobe, rerank) —
    both full-probe/full-rerank (≡ brute force) and the pruned
    production shape; tie-breaks are (dist, id) on both paths, so the
    match is deterministic equality, not set overlap."""
    from tegallega_spark.operators.ivf import train_ivf_index_sampled
    from tegallega_spark.operators.pq import ivfpq_topk, ivfpq_topk_batch

    idx = train_ivf_index_sampled(emb, k=8).encode(codebooks)
    n = emb.count()
    queries = [list(r.embedding) for r in emb.orderBy("vec_id").limit(3).collect()]

    for nprobe, rerank in ((8, n), (4, 50)):
        batch = ivfpq_topk_batch(
            idx, codebooks, queries, k=10, nprobe=nprobe, rerank=rerank
        ).collect()
        got: dict[int, list] = {}
        for r in batch:
            got.setdefault(r.qid, []).append((r.vec_id, r.cos_sim))
        assert set(got) == {0, 1, 2}
        for qi, q in enumerate(queries):
            solo = ivfpq_topk(
                idx, codebooks, q, k=10, nprobe=nprobe, rerank=rerank
            ).collect()
            b = sorted(got[qi], key=lambda t: (-t[1], t[0]))
            assert [v for v, _ in b] == [r.vec_id for r in solo]
            for (_, cs), r in zip(b, solo):
                assert abs(cs - r.cos_sim) < 1e-12


def test_sampled_ivf_trainer_assignment_and_determinism(spark, emb):
    """train_ivf_index_sampled (the √N scale path, r8): every vector's
    ivf_list must be the true argmin over the trained centroids (the
    Arrow GEMM assignment re-derived with plain numpy), training must be
    deterministic, and the sampled index must plug into the existing
    search/recall machinery unchanged."""
    from tegallega_spark.operators.ivf import (
        auto_k_lists,
        train_ivf_index_sampled,
    )

    idx = train_ivf_index_sampled(emb, k=8)
    rows = idx.assigned.select("vec_id", "embedding", "ivf_list").collect()
    c = np.asarray(idx.centroids, dtype=np.float64)
    for r in rows:
        x = np.asarray(r.embedding, dtype=np.float64)
        assert r.ivf_list == int(((c - x[None, :]) ** 2).sum(axis=1).argmin())

    again = train_ivf_index_sampled(emb, k=8)
    assert idx.centroids == again.centroids
    again.assigned.unpersist()

    # full-probe search over the sampled index == brute force
    query = emb.orderBy("vec_id").first().embedding
    exact = [r.vec_id for r in brute_force_topk(emb, query).collect()]
    got = [r.vec_id for r in idx.search(query, k=10, nprobe=8).collect()]
    assert got == exact
    idx.assigned.unpersist()

    # the √N law and its clamps
    assert auto_k_lists(100) == 16
    assert auto_k_lists(1_000_000) == 1000
    assert auto_k_lists(4_000_000) == 2000
    assert auto_k_lists(10**9) == 4096


def test_sampled_ivf_trainer_raises_when_sample_below_k(emb):
    """The draw is max(32·k, 8192) rows, so it falls below k only on a
    corpus smaller than k: that must fail loudly, not train degenerate
    lists."""
    from tegallega_spark.operators.ivf import train_ivf_index_sampled

    with pytest.raises(ValueError, match="rows < k"):
        train_ivf_index_sampled(emb, k=emb.count() + 1)


def test_short_sample_draw_raises_without_corpus_size(emb):
    """A caller-supplied draw shorter than the trainer's own draw
    (max(32·k, 8192) rows) trains on a different sample than the
    documented one unless it is the whole corpus; with `n` unknown that
    cannot be shown, so it must raise, not train."""
    from tegallega_spark.operators.ivf import train_centroids_sampled

    short = np.zeros((10, 8))
    with pytest.raises(ValueError, match="sample_x has 10 rows < sample=8192"):
        train_centroids_sampled(emb, k=4, sample_x=short)
    # the whole-corpus draw stays accepted when `n` says so
    rng = np.random.default_rng(0)
    whole = rng.normal(size=(10, 8))
    assert train_centroids_sampled(emb, k=4, sample_x=whole, n=10).shape == (4, 8)


def test_pq_short_sample_draw_raises_unless_whole_corpus(emb, codebooks):
    """PQ applies the IVF trainer's draw rule (ivf.checked_draw): a draw
    shorter than `sample` from a larger corpus must raise, not train on a
    different sample; the whole corpus as the draw, in hash order, trains
    the same codebooks as the trainer's own collect."""
    n = emb.count()
    short = np.zeros((20, 64))
    with pytest.raises(ValueError, match="sample_x has 20 rows < sample=4096"):
        train_pq_codebooks(emb, m=8, k=16, n=n, sample_x=short)
    with pytest.raises(ValueError, match="unknown size"):
        train_pq_codebooks(emb, m=8, k=16, sample_x=short)
    whole = np.array(
        [r.embedding for r in emb.orderBy(F.xxhash64("embedding")).collect()],
        dtype=np.float64,
    )
    assert len(whole) == n < 4096
    got = train_pq_codebooks(emb, m=8, k=16, n=n, sample_x=whole)
    assert np.array_equal(got, codebooks)


def test_sample_prefilter_bit_identical(spark, emb):
    """r9: the hash-cutoff prefilter in _sample_vectors (the fix for
    orderBy().limit() collecting whole partitions at corpus scale) must
    return exactly the same rows as the unfiltered top-N-by-hash path —
    the filter only narrows the sort input, never changes the winners."""
    from tegallega_spark.operators.ivf import _sample_vectors

    n = emb.count()
    sample = max(8, n // 16)  # small fraction → prefilter path fires
    for salt in (0, 1):
        filtered = _sample_vectors(emb, "embedding", sample, salt, n=n)
        full = _sample_vectors(emb, "embedding", sample, salt, n=None)
        assert np.array_equal(filtered, full)


def test_kmeans_blas_chunked_assignment_matches_monolithic(monkeypatch):
    """ADVICE r9: the chunked assignment step (peak memory
    O(KMEANS_CHUNK·k) instead of a monolithic (n, k) float64 matrix — the
    N²/1024-byte driver-OOM cliff at semdedup's unclamped k ∝ N) must be
    bit-identical to the monolithic path, including the empty-cluster
    farthest-point re-seed that consumes the per-row min distances."""
    from tegallega_spark.operators import ivf

    rng = np.random.default_rng(3)
    x = rng.normal(size=(500, 12))
    # duplicate the first row many times so first-k init starts with
    # coincident centroids → empty clusters → the re-seed path runs
    x[:40] = x[0]
    monkeypatch.setattr(ivf, "KMEANS_CHUNK", 10**9)
    mono = ivf._kmeans_blas(x, 16)
    monkeypatch.setattr(ivf, "KMEANS_CHUNK", 37)  # ragged, < n
    chunked = ivf._kmeans_blas(x, 16)
    assert np.array_equal(mono, chunked)
