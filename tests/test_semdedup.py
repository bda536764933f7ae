"""SemDeDup-style semantic dedup (operators/semdedup.py).

Contract mirrors the other near-dup families: approximate blocking +
exact verification, pinned against exact all-pairs where the blocking is
degenerate (one cell) and against planted duplicates where it isn't.  The
cell count is always auto_k_clusters(n), so a test that wants k cells on
an n-row corpus sets semdedup.TARGET_CELL_SIZE to a value that yields k
(and semdedup.MAX_CLUSTER for the star-link cap); both are read at call
time.
"""

import warnings

import numpy as np
import pytest

import pyspark.sql.functions as F

from tegallega_spark.operators import semdedup
from tegallega_spark.operators.cc import dedup_cluster_assignments
from tegallega_spark.operators.semdedup import auto_k_clusters, semantic_pairs
from tegallega_spark.operators.similarity import cosine
from tegallega_spark.session import load_table, release_intermediates


def _exact_pairs(df, min_cosine):
    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine(F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")).alias("c"),
        )
        .filter(F.col("c") >= min_cosine)
        .collect()
    }


def _keepers(df, pairs_df):
    """Ids that survive semantic dedup (clean_corpus's semantic step):
    every row outside the pair graph plus each component's min id."""
    assign = dedup_cluster_assignments(pairs_df)
    dupes = {
        r.doc_id
        for r in assign.filter(F.col("doc_id") != F.col("cluster_id")).collect()
    }
    release_intermediates(assign)
    return sorted(r.vec_id for r in df.select("vec_id").collect() if r.vec_id not in dupes)


def test_single_cluster_matches_exact_all_pairs(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    # 200 rows at TARGET_CELL_SIZE (512): one cell, under MAX_CLUSTER
    assert 200 <= semdedup.TARGET_CELL_SIZE < semdedup.MAX_CLUSTER
    got_df = semantic_pairs(emb, min_cosine=0.3)
    got = {(r.id_a, r.id_b) for r in got_df.collect()}
    release_intermediates(got_df)
    want = _exact_pairs(emb, 0.3)
    assert got == want
    assert want, "threshold too strict — test would be vacuous"


def _planted(spark, n_groups=30, copies=3, dim=16, noise=1e-3, seed=7):
    rng = np.random.default_rng(seed)
    rows = []
    for g in range(n_groups):
        base = rng.standard_normal(dim)
        base /= np.linalg.norm(base)
        for c in range(copies):
            v = base + noise * rng.standard_normal(dim)
            rows.append((g * copies + c, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_planted_duplicates_all_found_and_one_keeper_per_group(spark, monkeypatch):
    df = _planted(spark)
    monkeypatch.setattr(semdedup, "TARGET_CELL_SIZE", 12)  # 8 cells
    pairs_df = semantic_pairs(df, min_cosine=0.999)
    pairs = {(r.id_a, r.id_b) for r in pairs_df.collect()}
    # near-identical copies always share a k-means cell → full recall
    for g in range(30):
        ids = [g * 3, g * 3 + 1, g * 3 + 2]
        group_pairs = {(a, b) for a in ids for b in ids if a < b}
        assert group_pairs <= pairs, f"group {g} pairs missing"
    # no cross-group false positives at this threshold
    assert all(a // 3 == b // 3 for a, b in pairs)

    ids = _keepers(df, pairs_df)
    release_intermediates(pairs_df)
    assert ids == [g * 3 for g in range(30)]  # min id of each group


def test_hot_cluster_star_guard_bounds_pairs(spark, monkeypatch):
    # 400 identical vectors: one cluster whatever k is; all-pairs would be
    # ~80k pairs, the star guard emits exactly n-1 and still collapses the
    # whole set to one keeper.
    n = 400
    v = [float(x) for x in np.ones(8) / np.sqrt(8)]
    df = spark.createDataFrame(
        [(i, v) for i in range(n)], "vec_id long, embedding array<float>"
    )
    monkeypatch.setattr(semdedup, "TARGET_CELL_SIZE", 200)
    monkeypatch.setattr(semdedup, "MAX_CLUSTER", 50)
    pairs_df = semantic_pairs(df, min_cosine=0.99)
    pairs = pairs_df.collect()
    assert len(pairs) == n - 1
    assert {r.id_a for r in pairs} == {0}

    assert _keepers(df, pairs_df) == [0]
    release_intermediates(pairs_df)


def test_release_frees_cached_cluster_assignment(spark, monkeypatch):
    df = _planted(spark, n_groups=5)
    monkeypatch.setattr(semdedup, "TARGET_CELL_SIZE", 8)  # 2 cells
    pairs_df = semantic_pairs(df, min_cosine=0.999)
    pairs_df.collect()
    handles = getattr(pairs_df, "_tegallega_persisted", [])
    assert handles and all(h.is_cached for h in handles)
    release_intermediates(pairs_df)
    assert all(not h.is_cached for h in handles)


def test_auto_k_scales_with_corpus_size():
    # the k ∝ N rule itself, pinned
    assert semdedup.TARGET_CELL_SIZE == 512
    assert auto_k_clusters(100) == 1
    assert auto_k_clusters(512) == 1
    assert auto_k_clusters(513) == 2
    assert auto_k_clusters(5000) == 10
    assert auto_k_clusters(1_000_000) == 1954
    assert auto_k_clusters(0) == 1


def test_default_k_full_recall_on_planted(spark):
    # the shipped TARGET_CELL_SIZE: the auto cell count must still find
    # every planted pair (the VERDICT round-4 acceptance criterion)
    df = _planted(spark, n_groups=40, copies=3)
    pairs_df = semantic_pairs(df, min_cosine=0.999)
    pairs = {(r.id_a, r.id_b) for r in pairs_df.collect()}
    release_intermediates(pairs_df)
    for g in range(40):
        ids = [g * 3, g * 3 + 1, g * 3 + 2]
        assert {(a, b) for a in ids for b in ids if a < b} <= pairs
    assert all(a // 3 == b // 3 for a, b in pairs)


def test_star_fraction_warning_fires_on_coarse_blocking(spark, monkeypatch):
    # 400 identical vectors with MAX_CLUSTER=50: 100% of rows star-link →
    # the warning must fire; with the shipped MAX_CLUSTER (above the
    # corpus) it must not
    n = 400
    v = [float(x) for x in np.ones(8) / np.sqrt(8)]
    df = spark.createDataFrame(
        [(i, v) for i in range(n)], "vec_id long, embedding array<float>"
    )
    monkeypatch.setattr(semdedup, "TARGET_CELL_SIZE", 200)
    with monkeypatch.context() as m:
        m.setattr(semdedup, "MAX_CLUSTER", 50)
        with pytest.warns(UserWarning, match="STAR-link"):
            pairs_df = semantic_pairs(df, min_cosine=0.99)
    pairs_df.collect()
    release_intermediates(pairs_df)

    assert semdedup.MAX_CLUSTER > n
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        pairs_df = semantic_pairs(df, min_cosine=0.99)
    pairs_df.collect()
    release_intermediates(pairs_df)


def test_probe_visitors_do_not_star_link_true_small_cells(spark, monkeypatch):
    """VERDICT r4 #7 acceptance: MAX_CLUSTER compares TRUE cell population
    (primary members), not probe-inflated rows.  Two well-separated
    clusters of 60 with probes=2 put ~120 rows in each cell; with
    MAX_CLUSTER=80 (true 60 < 80 < inflated 120) both cells must keep
    FULL pairwise recall — under the old inflated-count guard they
    star-linked and lost the non-representative pairs."""
    rng = np.random.default_rng(5)
    rows = []
    for cluster, center in ((0, np.eye(16)[0]), (1, np.eye(16)[1])):
        for g in range(20):
            base = center + 0.05 * rng.standard_normal(16)
            base /= np.linalg.norm(base)
            for c in range(3):
                v = base + 1e-3 * rng.standard_normal(16)
                rows.append((cluster * 60 + g * 3 + c, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    monkeypatch.setattr(semdedup, "TARGET_CELL_SIZE", 60)
    monkeypatch.setattr(semdedup, "MAX_CLUSTER", 80)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # star warning must NOT fire either
        pairs_df = semantic_pairs(df, min_cosine=0.999, probes=2)
        pairs = {(r.id_a, r.id_b) for r in pairs_df.collect()}
    release_intermediates(pairs_df)
    want = _exact_pairs(df, 0.999)
    assert pairs == want
    # full recall means every planted triple is fully paired — i.e. pairs
    # NOT involving any cell's min id survive (stars would have dropped them)
    non_star = [(a, b) for a, b in pairs if a % 3 != 0 and b % 3 != 0]
    assert non_star, "no non-representative pairs — guard still star-linking"


def test_probe_inflow_work_bound_still_stars(spark, monkeypatch):
    """The O(cell²) bound survives the true-count guard: when the
    probe-inflated row count exceeds MAX_CLUSTER*probes, the cell
    star-links even though its true population is under MAX_CLUSTER."""
    n = 300
    v = [float(x) for x in np.ones(8) / np.sqrt(8)]
    df = spark.createDataFrame(
        [(i, v) for i in range(n)], "vec_id long, embedding array<float>"
    )
    # identical vectors: KMeans yields duplicate centroids; probes=2 puts
    # all 300 rows in BOTH cells → inflated 300 > MAX_CLUSTER*2 = 200,
    # true population 300 > 100 too — but the point being pinned is that
    # the star path still produces exactly n-1 star pairs, not O(n²)
    monkeypatch.setattr(semdedup, "TARGET_CELL_SIZE", 150)
    monkeypatch.setattr(semdedup, "MAX_CLUSTER", 100)
    with pytest.warns(UserWarning, match="STAR-link"):
        pairs_df = semantic_pairs(df, min_cosine=0.99, probes=2)
    pairs = pairs_df.collect()
    release_intermediates(pairs_df)
    assert len(pairs) == n - 1
    assert {r.id_a for r in pairs} == {0}


def test_tree_quantizer_path_full_recall_on_planted(spark, monkeypatch):
    """r9: above TREE_QUANTIZER_MIN_K cells the blocking switches to the
    two-level tree quantizer (O(√k·d) probe — the fix for the r8 race's
    N^1.7 curve).  Forcing that path with one cell per vector on a
    planted corpus must keep full pair recall, zero false positives at
    this threshold, and the same one-keeper-per-group dedup."""
    from tegallega_spark.operators.semdedup import TREE_QUANTIZER_MIN_K

    df = _planted(spark, n_groups=500, copies=3)
    # 1,500 cells: well into the tree regime
    monkeypatch.setattr(semdedup, "TARGET_CELL_SIZE", 1)
    assert auto_k_clusters(1500) > TREE_QUANTIZER_MIN_K
    pairs_df = semantic_pairs(df, min_cosine=0.999)
    pairs = {(r.id_a, r.id_b) for r in pairs_df.collect()}
    for g in range(500):
        ids = [g * 3, g * 3 + 1, g * 3 + 2]
        assert {(a, b) for a in ids for b in ids if a < b} <= pairs, (
            f"group {g} pairs missing under tree blocking"
        )
    assert all(a // 3 == b // 3 for a, b in pairs)

    ids = _keepers(df, pairs_df)
    release_intermediates(pairs_df)
    assert ids == [g * 3 for g in range(500)]


def test_tree_quantizer_probe_matches_bruteforce_cells(spark):
    """The tree probe's element 1 (the assignment) must be the argmin
    over the REAL (non-sentinel) sub-centroids it considered, and all
    probed ids must be valid composite cells — re-derived with plain
    numpy against the quantizer's own centroid tables.  (The spark
    fixture is required: pandas_udf return-type parsing needs an active
    context even though the probe function is exercised directly.)"""
    import pandas as pd

    from tegallega_spark.operators.ivf import _EMPTY_SLOT, TreeQuantizer

    rng = np.random.default_rng(9)
    c1 = rng.normal(size=(4, 8))
    c2 = rng.normal(size=(4, 3, 8))
    c2[2, 2] = _EMPTY_SLOT  # one empty sub-slot
    q = TreeQuantizer(c1, c2)
    probe = q.probe_udf(2, row_chunk=5)  # chunking exercised
    X = rng.normal(size=(17, 8))
    got = probe.func(pd.Series(list(X)))

    for i, cells in enumerate(got):
        assert len(cells) == 2 and cells[0] != cells[1]
        # mirror the probe contract with plain numpy: candidates are the
        # sub-cells of the T = probes+1 = 3 nearest TOP cells, ranked by
        # true distance
        d1 = ((X[i][None, :] - c1) ** 2).sum(axis=1)
        tops = np.argsort(d1)[:3]
        d = ((X[i][None, None, :] - c2[tops]) ** 2).sum(axis=2)  # (3, 3)
        flat_ids = (tops[:, None] * 3 + np.arange(3)[None, :]).reshape(-1)
        flat_d = d.reshape(-1)
        want = [int(flat_ids[j]) for j in np.argsort(flat_d, kind="stable")[:2]]
        assert list(cells) == want
        assert all(flat_d[list(flat_ids).index(c)] < _EMPTY_SLOT for c in cells)
