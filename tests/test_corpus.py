"""End-to-end corpus cleaning pipeline: stage invariants on real data."""

from __future__ import annotations

import pyspark.sql.functions as F

from tegallega_spark.pipeline.corpus import clean_corpus
from tegallega_spark.session import load_table
from tests.conftest import SF_SMOKE


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
    uncapped = exact_shingle_jaccard_pairs(docs, "doc_id", "text", 4, 0.01)
    assert uncapped.count() == n * (n - 1) // 2

    # DF-cut drops the universal shingle; no other shingle is shared, so
    # the candidate join emits zero rows — the bound, not just a filter.
    capped = exact_shingle_jaccard_pairs(docs, "doc_id", "text", 4, 0.01, max_df=10)
    assert capped.count() == 0


def test_df_cut_is_noop_when_not_binding(spark):
    """With max_df above every shingle's document frequency the guarded
    path must return byte-identical pairs to the classic exact path."""
    from tegallega_spark.operators.dedup import exact_shingle_jaccard_pairs

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    a = exact_shingle_jaccard_pairs(docs, "doc_id", "text", 4, 0.5).collect()
    b = exact_shingle_jaccard_pairs(docs, "doc_id", "text", 4, 0.5, max_df=10_000).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_single_task_pair_gen_matches_distributed(spark):
    """The r13 small-corpus profile (one-task inverted index) must return
    the EXACT pair set and bit-identical Jaccards of the distributed
    postings-join shape, across the DF-cut, duplicate ids, and string
    ids."""
    from tegallega_spark.operators.dedup import exact_shingle_jaccard_pairs
    from tegallega_spark.session import release_intermediates

    rows = [(i, f"w{i % 7} w{(i + 1) % 7} w{(i + 2) % 7} common tail text {i % 3}")
            for i in range(40)]
    rows.append((5, "w5 w6 w0 common tail text 2"))  # duplicate id
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for max_df in (None, 3, 10):
        a = {(r.id_a, r.id_b): r.jaccard
             for r in exact_shingle_jaccard_pairs(
                 docs, shingle_n=2, threshold=0.3, max_df=max_df,
                 single_task=True).collect()}
        dist = exact_shingle_jaccard_pairs(
            docs, shingle_n=2, threshold=0.3, max_df=max_df,
            single_task=False)
        b = {(r.id_a, r.id_b): r.jaccard for r in dist.collect()}
        release_intermediates(dist, blocking=True)
        assert a == b, f"max_df={max_df}: {len(a)} vs {len(b)} pairs"
    sdocs = spark.createDataFrame(
        [(f"d{i:02d}", f"alpha beta gamma {i % 4} delta epsilon")
         for i in range(20)],
        "doc_id string, text string",
    )
    a = {(r.id_a, r.id_b): r.jaccard
         for r in exact_shingle_jaccard_pairs(
             sdocs, shingle_n=3, threshold=0.2, single_task=True).collect()}
    dist = exact_shingle_jaccard_pairs(
        sdocs, shingle_n=3, threshold=0.2, single_task=False)
    b = {(r.id_a, r.id_b): r.jaccard for r in dist.collect()}
    release_intermediates(dist, blocking=True)
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

    pairs = exact_shingle_jaccard_pairs(docs, "doc_id", "text", 4, 0.5).collect()
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


def test_clean_corpus_semantic_strategy(spark):
    """dedup_strategy='semantic': embedding-space dedup inside the full
    pipeline — planted groups of 3 near-identical embeddings collapse to
    their min-id doc; everything else survives untouched."""
    import numpy as np

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
        .limit(120)
    )
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    rng = np.random.default_rng(5)
    emb_rows, base = [], None
    for i, d in enumerate(ids):
        if i % 3 == 0:
            base = rng.standard_normal(16)
            base /= np.linalg.norm(base)
        v = base + 1e-3 * rng.standard_normal(16)
        emb_rows.append((d, [float(x) for x in v]))
    emb = spark.createDataFrame(emb_rows, "doc_id long, embedding array<float>")

    out = clean_corpus(
        docs.join(emb, "doc_id"),
        min_quality=0.0,
        max_dup_ngram_frac=1.0,
        dedup_strategy="semantic",
        min_cosine=0.999,
    )
    got = sorted(r.doc_id for r in out.collect())
    want = sorted(ids[i] for i in range(0, len(ids), 3))
    assert got == want
    # the keeper contract is shared with the other strategies
    assert all(r.cluster_id == r.doc_id for r in out.collect())


def test_clean_corpus_semantic_requires_embedding_column(spark):
    import pytest

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text", "lang")
    with pytest.raises(ValueError, match="embedding"):
        clean_corpus(docs, dedup_strategy="semantic")


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

    # with it, the boilerplate is stripped before shingling → all six
    # docs survive as distinct documents
    out = clean_corpus(
        df, min_quality=0.0, max_dup_ngram_frac=1.0, jaccard_threshold=0.5,
        span_dedup_k=8,
    )
    assert sorted(r.doc_id for r in out.collect()) == [1, 2, 3, 4, 5, 6]


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
    """Opt-in rule/model quality gates: a Gopher-failing doc (too short /
    no stop words) and a gibberish doc (high LM perplexity) are dropped
    before dedup; fluent docs with enough mass survive both gates."""
    fluent = (
        "the quick brown fox jumps over the lazy dog and that is fine "
        "to be said of it with some more words here to clear the gate "
    ) * 3
    rows = [(i, fluent + f"unique tail {i}", "en") for i in range(10)]
    rows.append((100, "zz qq ww", "en"))  # fails Gopher word count
    # in-vocab words in orders the corpus LM has never seen repeated —
    # each chunk is a DIFFERENT rotation+interleave, so doc 200 cannot
    # train its own bigrams frequent; long enough to pass Gopher
    words = "dog the over lazy jumps quick fox brown and that to of".split()
    chunks = []
    for i in range(8):
        rot = words[i:] + words[:i]
        chunks.append(" ".join(rot[::2] + rot[1::2]))
    rows.append((200, " ".join(chunks), "en"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    out = clean_corpus(
        docs,
        min_quality=0.0,
        max_dup_ngram_frac=1.0,
        jaccard_threshold=0.95,
        gopher_rules=True,
        max_perplexity=1.0,
        n_shards=4,
    )
    ids = {r.doc_id for r in out.collect()}
    assert 100 not in ids  # Gopher gate
    assert 200 not in ids  # LM gate
    assert ids & set(range(10))  # fluent docs survive both gates


def test_clean_corpus_mixture_and_paragraph_stages(spark):
    """mixture_targets rebalances the post-dedup corpus to target shares
    (binding stratum kept whole, absent strata dropped); paragraph_dedup
    rewrites text before token counting; persisted intermediates release."""
    from tegallega_spark.session import release_intermediates

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


def test_cache_warm_thread_gated_to_aqe_off_window(spark, monkeypatch):
    """The explicit-strategy background cache-warm must spawn ONLY while
    the AQE-off small-input window is active.  Under AQE the corpus
    cache's plan nests upstream persisted frames, and a second thread
    materializing it concurrently with the main thread's next action
    deadlocks the JVM on the CachedRDDBuilder monitors inside
    TableCacheQueryStageExec (jstack-confirmed at 3.2 M docs — the first
    composed-race size past the gate's threshold).  Pin both regimes:
    small input spawns the warm; AQE-on (simulated big input by patching
    the gate's size probe) must not, and the run still completes with
    identical survivors via lazy single-thread materialization."""
    import threading

    from tegallega_spark import session as S

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text", "lang")
        .limit(60)
    )

    spawned: list[str | None] = []
    real_thread = threading.Thread

    class Recording(real_thread):
        def __init__(self, *a, **k):
            spawned.append(k.get("name"))
            super().__init__(*a, **k)

    monkeypatch.setattr(threading, "Thread", Recording)

    def run():
        out = clean_corpus(
            docs, min_quality=0.0, max_dup_ngram_frac=1.0,
            dedup_strategy="exact",
        )
        rows = sorted(r.doc_id for r in out.collect())
        from tegallega_spark.session import release_intermediates

        release_intermediates(out)
        return rows

    # small input: the gate fires, AQE is off inside, warm spawns
    small_rows = run()
    assert "corpus-cache-warm" in spawned

    # big-input regime: the size probe reports over-threshold, the gate
    # no-ops, AQE stays on -> the warm must NOT spawn
    spawned.clear()
    monkeypatch.setattr(S, "plan_size_bytes", lambda df: 2 << 30)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    big_rows = run()
    assert "corpus-cache-warm" not in spawned
    assert big_rows == small_rows


def test_cache_warm_thread_joined_before_clean_corpus_returns(spark, monkeypatch):
    """r8 advice fix: the warm daemon must not outlive _clean_corpus_impl —
    the aqe_off window closes when clean_corpus returns, and a still-running
    warm count overlapping the caller's AQE-on action on the same nested
    cached plans is the b03b0fa deadlock as a timing race.  Pin: every
    spawned corpus-cache-warm thread is dead by the time clean_corpus
    returns (i.e. it was join()ed inside the window)."""
    import threading

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text", "lang")
        .limit(60)
    )

    spawned: list[threading.Thread] = []
    real_thread = threading.Thread

    class Recording(real_thread):
        def __init__(self, *a, **k):
            super().__init__(*a, **k)
            if k.get("name") == "corpus-cache-warm":
                spawned.append(self)

    monkeypatch.setattr(threading, "Thread", Recording)
    out = clean_corpus(
        docs, min_quality=0.0, max_dup_ngram_frac=1.0, dedup_strategy="exact",
    )
    assert spawned, "small input under AQE-off gate should spawn the warm"
    assert all(not t.is_alive() for t in spawned), (
        "warm thread must be joined before clean_corpus returns"
    )
    out.collect()
    from tegallega_spark.session import release_intermediates

    release_intermediates(out)


def test_stage_boundary_output_identical_and_releases_upstream(spark, tmp_path):
    """clean_corpus(stage_boundary_dir=...) — the r8 spill-ceiling fix —
    must produce EXACTLY the rows of the default path (the boundary is an
    execution-strategy choice, never a semantics one), write real parquet
    at both boundaries (post line cut, post span cut), and unpersist the
    pre-cut corpus handle so its blocks + upstream shuffle files can be
    released before the pair/CC waves."""
    import os

    from tegallega_spark.session import release_intermediates

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

    bdir = str(tmp_path / "boundary")
    out = clean_corpus(docs, stage_boundary_dir=bdir, **kwargs)
    rows = sorted(map(tuple, out.collect()))
    assert rows == base_rows
    # both boundaries materialized as real parquet
    for sub in ("post_line_cut", "post_span_cut"):
        files = os.listdir(os.path.join(bdir, sub))
        assert any(f.endswith(".parquet") for f in files), (sub, files)
    # the boundary released the line-cut-era handles EAGERLY (that is its
    # whole point), so fewer intermediates ride out on the result
    n_boundary_handles = len(getattr(out, "_tegallega_persisted", ()))
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
    import glob
    import os

    from tegallega_spark.pipeline import corpus
    from tegallega_spark.pipeline.corpus import stage_boundaries_needed
    from tegallega_spark.session import release_intermediates

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
