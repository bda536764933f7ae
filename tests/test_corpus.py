"""End-to-end corpus cleaning pipeline: stage invariants on real data."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest

import pyspark.sql.functions as F

from tegallega_spark.pipeline.corpus import clean_corpus
from tegallega_spark.session import load_table, release_intermediates
from tests.conftest import SF_SMOKE

_BOUNDARY_DIRS = os.path.join(tempfile.gettempdir(), "tegallega_stage_boundaries_*")


@pytest.fixture(scope="module", autouse=True)
def _no_leaked_stage_boundary_dirs():
    """clean_corpus's stage-boundary gate reads an in-memory corpus
    (createDataFrame: unknown size) as big and creates a boundary
    directory that only release_intermediates(result) removes.  Every test
    here that fires the gate releases its result, so the module leaves no
    new directory behind."""
    before = set(glob.glob(_BOUNDARY_DIRS))
    yield
    leaked = set(glob.glob(_BOUNDARY_DIRS)) - before
    assert not leaked, f"stage-boundary directories left behind: {sorted(leaked)}"


def test_clean_corpus_end_to_end(spark):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text", "lang")
    # blocklist = one real document's text → that doc must be removed
    leaked = docs.orderBy("doc_id").limit(1)
    leaked_id = leaked.first().doc_id
    blocklist = leaked.select(F.col("doc_id").alias("bench_id"), "text")

    out = clean_corpus(
        docs,
        blocklist,
        min_quality=0.3,
        jaccard_threshold=0.7,
        pack_budget=1024,
        n_shards=8,
    ).persist()
    rows = out.collect()
    assert rows, "pipeline must keep something"
    assert sorted(out.columns) == sorted(
        ["doc_id", "lang", "bucket", "quality", "dup_ngram_frac", "cluster_id",
         "n_tokens", "shard", "pack_id", "pack_offset", "spills_over"]
    )

    ids = [r.doc_id for r in rows]
    assert len(ids) == len(set(ids))  # one row per surviving doc
    assert leaked_id not in ids  # decontamination removed the leaked doc
    assert all(r.quality >= 0.3 for r in rows)
    # near-dup clustering keeps only canonical docs: each survivor is its
    # own cluster representative
    assert all(r.cluster_id == r.doc_id for r in rows)
    # packing invariants: offsets are within-budget starts, shards bounded
    assert all(0 <= r.pack_offset < 1024 for r in rows)
    assert all(0 <= r.shard < 8 for r in rows)
    assert all(r.n_tokens > 0 for r in rows)


def test_hot_shingle_df_cut_bounds_candidates(spark):
    """One shingle shared by ALL docs is the 100 TB quadratic hot key: the
    DF-cut must eliminate the k² candidate blowup entirely."""
    from tegallega_spark.operators.dedup import exact_shingle_jaccard_pairs

    n = 200
    common = "alpha beta gamma delta"
    rows = [(i, f"{common} u{i}a u{i}b u{i}c") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    # Uncapped: every pair shares the universal shingle -> n(n-1)/2 pairs.
    uncapped = exact_shingle_jaccard_pairs(docs, 4, 0.01)
    assert uncapped.count() == n * (n - 1) // 2

    # DF-cut drops the universal shingle; no other shingle is shared, so
    # the candidate join emits zero rows — the bound, not just a filter.
    capped = exact_shingle_jaccard_pairs(docs, 4, 0.01, max_df=10)
    assert capped.count() == 0


def test_df_cut_is_noop_when_not_binding(spark):
    """With max_df above every shingle's document frequency the guarded
    path must return byte-identical pairs to the classic exact path."""
    from tegallega_spark.operators.dedup import exact_shingle_jaccard_pairs

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    a = exact_shingle_jaccard_pairs(docs, 4, 0.5).collect()
    b = exact_shingle_jaccard_pairs(docs, 4, 0.5, max_df=10_000).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_single_task_pair_gen_matches_distributed(spark, force_shape):
    """The r13 small-corpus profile (one-task inverted index) must return
    the EXACT pair set and bit-identical Jaccards of the distributed
    postings-join shape, across the DF-cut, duplicate ids, and string
    ids."""
    from tegallega_spark.operators.dedup import exact_shingle_jaccard_pairs

    def both(docs, **kw):
        force_shape("single")
        single = exact_shingle_jaccard_pairs(docs, **kw)
        assert "MapInPandas" in single._jdf.queryExecution().logical().toString()
        a = {(r.id_a, r.id_b): r.jaccard for r in single.collect()}
        force_shape("distributed")
        dist = exact_shingle_jaccard_pairs(docs, **kw)
        b = {(r.id_a, r.id_b): r.jaccard for r in dist.collect()}
        release_intermediates(dist, blocking=True)
        return a, b

    rows = [(i, f"w{i % 7} w{(i + 1) % 7} w{(i + 2) % 7} common tail text {i % 3}")
            for i in range(40)]
    rows.append((5, "w5 w6 w0 common tail text 2"))  # duplicate id
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for max_df in (None, 3, 10):
        a, b = both(docs, shingle_n=2, threshold=0.3, max_df=max_df)
        assert a == b, f"max_df={max_df}: {len(a)} vs {len(b)} pairs"
    sdocs = spark.createDataFrame(
        [(f"d{i:02d}", f"alpha beta gamma {i % 4} delta epsilon")
         for i in range(20)],
        "doc_id string, text string",
    )
    a, b = both(sdocs, shingle_n=3, threshold=0.2)
    assert a == b and a


def test_clean_corpus_minhash_strategy_matches_exact(spark):
    """The scale-path dedup strategy (banded MinHash + exact re-score) must
    keep the same survivors as the exact inverted-index path."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text", "lang")
    kw = dict(min_quality=0.0, max_dup_ngram_frac=1.0, jaccard_threshold=0.7)
    exact_ids = {
        r.doc_id for r in clean_corpus(docs, None, dedup_strategy="exact", **kw).collect()
    }
    mh_ids = {
        r.doc_id for r in clean_corpus(docs, None, dedup_strategy="minhash", **kw).collect()
    }
    assert exact_ids == mh_ids


def test_clean_corpus_drops_near_duplicates(spark):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text", "lang")
    from tegallega_spark.operators.dedup import exact_shingle_jaccard_pairs

    pairs = exact_shingle_jaccard_pairs(docs, 4, 0.5).collect()
    out_ids = {
        r.doc_id
        for r in clean_corpus(docs, None, min_quality=0.0,
                              max_dup_ngram_frac=1.0).collect()
    }
    for p in pairs:
        a, b = p.id_a, p.id_b
        # the non-canonical twin of every near-dup pair must be gone
        assert not (a in out_ids and b in out_ids), (a, b)


def test_clean_corpus_line_dedup_stage(spark):
    banner = "COPYRIGHT 2024 EXAMPLE CORP ALL RIGHTS RESERVED"
    body = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "pack my box with five dozen liquor jugs said the jovial wizard",
        "sphinx of black quartz judge my vow under the bright autumn moon",
    ]
    docs = spark.createDataFrame(
        [(i, f"{banner}\n{body[i]}", "en") for i in range(3)],
        "doc_id long, text string, lang string",
    )
    # without line dedup the shared banner makes docs near-dups of each
    # other at a low threshold; with it, all three unique bodies survive
    out = clean_corpus(
        docs,
        min_quality=0.0,
        max_dup_ngram_frac=1.0,
        jaccard_threshold=0.15,
        shingle_n=2,
        line_dedup_max_df=2,
        pack_budget=256,
        n_shards=2,
    )
    ids = sorted(r.doc_id for r in out.collect())
    release_intermediates(out)
    assert ids == [0, 1, 2]

    out_nodedup = clean_corpus(
        docs,
        min_quality=0.0,
        max_dup_ngram_frac=1.0,
        jaccard_threshold=0.15,
        shingle_n=2,
        pack_budget=256,
        n_shards=2,
    )
    assert out_nodedup.count() < 3  # the banner glued them together
    release_intermediates(out_nodedup)


def test_clean_corpus_span_dedup_stage(spark):
    """span_dedup_k: the ExactSubstr cut runs before scoring — a
    boilerplate span shared by every doc is stripped, so the docs'
    surviving unique text no longer makes them near-duplicates of each
    other downstream."""
    boiler = ("this legal disclaimer paragraph appears verbatim in every "
              "single document of the corpus without any variation at all")
    docs = [
        (i, f"document {i} unique opening sentence {boiler} unique tail "
            f"content piece number {i} with several distinct extra words "
            f"alpha{i} beta{i} gamma{i} delta{i}", "en")
        for i in range(1, 7)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")

    # without the span cut, the shared boilerplate glues all six docs into
    # one near-dup cluster → only doc 1 survives
    out_glued = clean_corpus(
        df, min_quality=0.0, max_dup_ngram_frac=1.0, jaccard_threshold=0.5
    )
    assert sorted(r.doc_id for r in out_glued.collect()) == [1]
    release_intermediates(out_glued)

    # with it, the boilerplate is stripped before shingling → all six
    # docs survive as distinct documents
    out = clean_corpus(
        df, min_quality=0.0, max_dup_ngram_frac=1.0, jaccard_threshold=0.5,
        span_dedup_k=8,
    )
    ids = sorted(r.doc_id for r in out.collect())
    release_intermediates(out)
    assert ids == [1, 2, 3, 4, 5, 6]


def test_clean_corpus_normalize_stage(spark):
    """normalize=True: two docs differing only in NFC form / zero-width
    chars / whitespace runs become exact duplicates and collapse to one."""
    docs = [
        (1, "the café menu " * 12, "en"),          # NFC é
        (2, ("the café menu  " * 12).replace(" ", " ​", 3), "en"),  # NFD + zw
        (3, "a completely different document body " * 12, "en"),
    ]
    # doc 2: same text in NFD with zero-width pollution + double spaces
    import unicodedata
    docs[1] = (2, unicodedata.normalize("NFD", docs[1][1]), "en")
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")

    out_raw = clean_corpus(df, min_quality=0.0, max_dup_ngram_frac=1.0)
    assert sorted(r.doc_id for r in out_raw.collect()) == [1, 2, 3]  # no collapse

    out = clean_corpus(df, min_quality=0.0, max_dup_ngram_frac=1.0, normalize=True)
    assert sorted(r.doc_id for r in out.collect()) == [1, 3]  # 2 deduped into 1


def test_clean_corpus_gopher_and_perplexity_gates(spark):
    """Opt-in rule quality gate: a Gopher-failing doc (too short / no stop
    words) is dropped before dedup; fluent docs with enough mass survive.
    Perplexity scoring is covered by the bigram LM's own tests."""
    fluent = (
        "the quick brown fox jumps over the lazy dog and that is fine "
        "to be said of it with some more words here to clear the gate "
    ) * 3
    rows = [(i, fluent + f"unique tail {i}", "en") for i in range(10)]
    rows.append((100, "zz qq ww", "en"))  # fails Gopher word count
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    out = clean_corpus(
        docs,
        min_quality=0.0,
        max_dup_ngram_frac=1.0,
        jaccard_threshold=0.95,
        gopher_rules=True,
        n_shards=4,
    )
    ids = {r.doc_id for r in out.collect()}
    assert 100 not in ids  # Gopher gate
    assert ids & set(range(10))  # fluent docs survive the gate


def test_clean_corpus_mixture_and_paragraph_stages(spark):
    """mixture_targets rebalances the post-dedup corpus to target shares
    (binding stratum kept whole, absent strata dropped); paragraph_dedup
    rewrites text before token counting; persisted intermediates release."""

    base = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text", "lang")
    # plant sources: 0-199 web, 200-299 books, everything else 'other'
    docs = base.withColumn(
        "source",
        F.when(F.col("doc_id") < 200, "web")
         .when(F.col("doc_id") < 300, "books")
         .otherwise("other"),
    )
    # set-based, not count-based: the async ContextCleaner may concurrently
    # drop OTHER tests' leftover caches mid-test, so compare ids — no RDD
    # persisted by THIS pipeline may survive release_intermediates
    def cached_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before_cached = cached_ids()

    out = clean_corpus(
        docs,
        min_quality=0.0,
        max_dup_ngram_frac=1.0,
        jaccard_threshold=0.99,
        paragraph_dedup=True,
        mixture_targets={"web": 0.5, "books": 0.5},
    ).persist()
    rows = out.collect()
    survivors = {r.doc_id for r in rows}
    # 'other' strata are dropped entirely — the mixture IS the output
    assert all(i < 300 for i in survivors)
    n_web = sum(1 for i in survivors if i < 200)
    n_books = sum(1 for i in survivors if 200 <= i < 300)
    # books is the binding stratum (fewer docs for an equal share): with
    # ~no upstream attrition web should downsample toward n_books
    assert n_books > 0 and n_web > 0
    assert abs(n_web - n_books) <= max(10, n_books // 2)
    out.unpersist()
    release_intermediates(out)
    assert cached_ids() <= before_cached


def test_clean_corpus_survivors_same_with_and_without_aqe_off_window(spark, monkeypatch):
    """The small-input AQE-off window is an execution profile, not a
    semantic switch: the same corpus gives the same survivors when the
    window fires and when the size probe reports a big input and AQE
    stays on."""
    from tegallega_spark import session as S

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text", "lang")
        .limit(60)
    )

    def run():
        out = clean_corpus(
            docs, min_quality=0.0, max_dup_ngram_frac=1.0,
            dedup_strategy="exact",
        )
        rows = sorted(r.doc_id for r in out.collect())
        release_intermediates(out)
        return rows

    small_rows = run()
    monkeypatch.setattr(S, "plan_size_bytes", lambda df: 2 << 30)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert run() == small_rows


def test_stage_boundary_output_identical_and_releases_upstream(spark, monkeypatch):
    """Stage boundaries — the r8 spill-ceiling fix, forced on here by
    inflating the auto gate's spill projection — must produce EXACTLY the
    rows of the boundary-free path (the boundary is an execution-strategy
    choice, never a semantics one), write real parquet at both boundaries
    (post line cut, post span cut), and unpersist the pre-cut corpus
    handle so its blocks + upstream shuffle files can be released before
    the pair/CC waves."""
    from tegallega_spark.pipeline import corpus

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text", "lang")
        .limit(120)
    )
    kwargs = dict(
        min_quality=0.0, max_dup_ngram_frac=1.0, dedup_strategy="exact",
        normalize=True, paragraph_dedup=True, line_dedup_max_df=5,
        span_dedup_k=8, gopher_rules=True,
    )
    base = clean_corpus(docs, **kwargs)
    base_rows = sorted(map(tuple, base.collect()))
    n_base_handles = len(getattr(base, "_tegallega_persisted", ()))
    release_intermediates(base)

    before = set(glob.glob("/tmp/tegallega_stage_boundaries_*"))
    monkeypatch.setattr(corpus, "_SPILL_FACTOR", 1 << 40)
    out = clean_corpus(docs, **kwargs)
    rows = sorted(map(tuple, out.collect()))
    assert rows == base_rows
    new_dirs = set(glob.glob("/tmp/tegallega_stage_boundaries_*")) - before
    assert len(new_dirs) == 1
    bdir = new_dirs.pop()
    # both boundaries materialized as real parquet
    for sub in ("post_line_cut", "post_span_cut"):
        files = os.listdir(os.path.join(bdir, sub))
        assert any(f.endswith(".parquet") for f in files), (sub, files)
    # the boundary released the line-cut-era handles EAGERLY (that is its
    # whole point), so fewer intermediates ride out on the result (not
    # counting the handle that owns the boundary directory itself)
    n_boundary_handles = sum(
        not isinstance(h, corpus._StageBoundaryDirHandle)
        for h in getattr(out, "_tegallega_persisted", ())
    )
    assert n_boundary_handles < n_base_handles
    release_intermediates(out)


def test_stage_boundary_auto_gate_regimes(spark, monkeypatch, tmp_path):
    """r9 verdict #6: stage boundaries are size-gated by default.  Pin the
    pure decision at both regimes (3.2 M-race numbers: ~1.3 GB input ×
    64 projected spill vs 75 GB free → ON; a 5 k-doc toy input → OFF),
    then the plumbing: forced on (spill projection inflated) writes real
    boundary parquet into an auto temp dir whose handle
    release_intermediates removes; default auto stays OFF for a toy corpus
    (identical rows, no temp dir)."""
    from tegallega_spark.pipeline import corpus
    from tegallega_spark.pipeline.corpus import stage_boundaries_needed

    gib = 1 << 30
    # the ENOSPC regime the gate exists for: projected 83 GB spill vs 75 GB
    assert stage_boundaries_needed(int(1.3 * gib), 75 * gib)
    # toy corpus: ~4 MB input, plenty of disk — boundary is pure latency
    assert not stage_boundaries_needed(4 << 20, 75 * gib)
    # boundary of the rule: spill exactly at half the free disk does NOT fire
    assert not stage_boundaries_needed(gib, 2 * 64 * gib)
    assert stage_boundaries_needed(gib + 1, 2 * 64 * gib)

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text", "lang")
        .limit(80)
    )
    kwargs = dict(
        min_quality=0.0, max_dup_ngram_frac=1.0, dedup_strategy="exact",
        normalize=True, line_dedup_max_df=5, span_dedup_k=8,
    )
    before = set(glob.glob("/tmp/tegallega_stage_boundaries_*"))

    # default auto on a toy corpus: gate stays off, no temp dir appears
    base = clean_corpus(docs, **kwargs)
    base_rows = sorted(map(tuple, base.collect()))
    release_intermediates(base)
    assert set(glob.glob("/tmp/tegallega_stage_boundaries_*")) == before

    # forced on (the at-scale regime, exercised by inflating the spill
    # projection past any free disk): same rows, real parquet in an auto
    # dir, dir removed on release
    monkeypatch.setattr(corpus, "_SPILL_FACTOR", 1 << 40)
    out = clean_corpus(docs, **kwargs)
    rows = sorted(map(tuple, out.collect()))
    assert rows == base_rows
    new_dirs = set(glob.glob("/tmp/tegallega_stage_boundaries_*")) - before
    assert len(new_dirs) == 1
    bdir = new_dirs.pop()
    for sub in ("post_line_cut", "post_span_cut"):
        files = os.listdir(os.path.join(bdir, sub))
        assert any(f.endswith(".parquet") for f in files), (sub, files)
    release_intermediates(out)
    assert not os.path.exists(bdir)


def test_stage_boundary_estimate_reads_plan_nodes_not_text(spark, monkeypatch):
    """The auto gate's ×16 in-memory correction keys on LocalRelation /
    LogicalRDD plan NODES: a column named like one leaves a scan-rooted
    estimate unchanged, while a real in-memory root still gets it."""
    from tegallega_spark.pipeline import corpus
    from tegallega_spark.session import plan_size_bytes

    seen = []
    monkeypatch.setattr(
        corpus, "stage_boundaries_needed",
        lambda size, free: seen.append(size) or False,
    )
    scan = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    trap = scan.withColumnRenamed("text", "LocalRelation")
    local = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    for df in (scan, trap, local):
        assert corpus._auto_stage_boundary_dir(df) == (None, None)
    assert seen == [
        plan_size_bytes(scan), plan_size_bytes(scan), 16 * plan_size_bytes(local)
    ]
