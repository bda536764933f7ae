"""End-to-end corpus cleaning — the training-data pipeline as one program.

Composes the operator family into the standard pretraining-data flow:

    raw docs
      → quality filter        (textual.quality_score + repetition signals)
      → decontaminate         (drop docs overlapping the benchmark blocklist)
      → near-dup clustering   (shingle-Jaccard pairs → connected components,
                               keep one canonical doc per cluster)
      → stratified sample     (deterministic md5-bucket per language)
      → sequence packing      (concat-and-chunk into fixed token budgets)

Execution shape at 100 TB: stages 1-2 and 4 are scan-side (filters, one
broadcast join) and fuse into the first pass over the corpus; stage 3 is
the only heavy shuffle (shingle postings + the iterative CC label joins,
both keyed and map-side combinable); stage 5 is one sharded window.  No
stage collects to the driver; the cluster-assignment step is the only
multi-job iteration and its round count is the dup-graph diameter, not the
data size.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from tegallega_spark.operators import textual as TXT
from tegallega_spark.operators.cc import dedup_cluster_assignments
from tegallega_spark.operators.dedup import (
    contamination_report,
    exact_shingle_jaccard_pairs,
    minhash_near_duplicates_verified,
)
from tegallega_spark.operators.packing import pack_sequences
from tegallega_spark.operators.sampling import mixture_sample, stratified_hash_sample
from tegallega_spark.session import (
    _has_plan_node,
    aqe_off_for_small_input,
    attach_intermediates,
    plan_size_bytes,
)

# Measured at the 3.2 M-doc composed race (r7 ENOSPC post-mortem): the
# line-cut + span waves' CONCURRENT shuffle spill peaked at ~80 GB from a
# ~1.3 GB zstd-parquet input — a ~60× amplification of input bytes into
# simultaneous scratch.  Rounded up to 64 as the projection factor.
_SPILL_FACTOR = 64

# Analyzed-plan leaves of in-memory roots (createDataFrame), whose
# sizeInBytes undercounts the scan bytes _SPILL_FACTOR was calibrated on.
_IN_MEMORY_NODE_NAMES = frozenset({"LocalRelation", "LogicalRDD"})


def stage_boundaries_needed(input_bytes: int, free_bytes: int) -> bool:
    """Pure decision for the auto stage-boundary gate (r9 verdict #6):
    boundaries turn ON when the projected concurrent shuffle spill
    (input_bytes × _SPILL_FACTOR) would eat more than half the free
    scratch disk.  Below that, the write+read round trip is pure latency
    (the small-input regime the boundary docstring warns about); above
    it, skipping the boundary is how the 3.2 M race hit ENOSPC."""
    return input_bytes * _SPILL_FACTOR > free_bytes / 2


class _StageBoundaryDirHandle:
    """release_intermediates-compatible end-of-life handle for an
    auto-created stage-boundary directory.  Like CheckpointHandle, release
    is destructive: the result's plan reads the LAST boundary's parquet,
    so only unpersist after the consuming action."""

    def __init__(self, path: str) -> None:
        self._path = path
        self._cached = True

    @property
    def is_cached(self) -> bool:
        return self._cached

    def unpersist(self, blocking: bool = False) -> "_StageBoundaryDirHandle":
        if self._cached:
            import shutil

            shutil.rmtree(self._path, ignore_errors=True)
            self._cached = False
        return self


def _auto_stage_boundary_dir(docs: DataFrame) -> tuple[str | None, object]:
    """Size-gated default for `stage_boundary_dir` (same pattern as
    aqe_off_for_small_input: estimate the input with Catalyst's analyzed
    sizeInBytes, compare against the free scratch disk, no-op outside the
    regime).  Returns (dir_or_None, release_handle_or_None); the dir is a
    fresh temp directory owned by the returned handle."""
    import shutil
    import tempfile

    try:
        size = plan_size_bytes(docs)
        # _SPILL_FACTOR was calibrated against zstd-parquet scan bytes;
        # in-memory roots (createDataFrame → LocalRelation / LogicalRDD)
        # report sizeInBytes ~17× below that calibration (measured in the
        # r10 stress harness), so without a correction the ENOSPC gate
        # silently stays off in exactly the regime it protects (r10
        # ADVICE).  16× multiplier when the lineage has such a leaf —
        # matched by node name, so a column or literal spelled like one
        # cannot trigger it.
        if _has_plan_node(
            docs._jdf.queryExecution().analyzed(), _IN_MEMORY_NODE_NAMES
        ):
            size *= 16
        free = shutil.disk_usage(tempfile.gettempdir()).free
    except Exception:
        return None, None
    if not stage_boundaries_needed(size, free):
        return None, None
    path = tempfile.mkdtemp(prefix="tegallega_stage_boundaries_")
    return path, _StageBoundaryDirHandle(path)


def _stage_boundary(df: DataFrame, path: str, handles=()) -> DataFrame:
    """Materialize `df` to compressed parquet and re-read it — a HARD
    stage boundary that truncates lineage so everything upstream can be
    released from local disk before the next heavy wave starts.

    Why not persist/localCheckpoint: both keep the upstream
    ShuffleDependencies' files on disk (persist retains lineage for
    recompute; checkpoint blocks release only when the JVM eventually
    GCs the RDD references).  The r7 composed race died on ENOSPC at
    3.2 M docs because the span hash exchange's and the line-cut
    self-join waves' shuffle files COEXIST — ~80 GB of simultaneous
    spill against ~75 GB of free disk — even though no stage needs both
    at once.  Writing the stage output as zstd parquet (a fraction of
    shuffle-spill size), dropping every upstream handle, and poking the
    JVM GC lets ContextCleaner (blocking mode, the default) delete the
    upstream shuffle files before the pair/CC waves stack their own
    spill on top.  On a real cluster the same boundary is how long
    pipelines bound per-executor scratch: each wave's shuffle dies with
    the wave instead of accumulating across the job chain.

    Costs one corpus write+read — only sensible where spill, not
    latency, is the binding constraint.  Since r10, clean_corpus gates
    this automatically (stage_boundaries_needed: projected spill vs free
    disk) when the text-cut stages are enabled and no explicit dir is
    passed; an explicit `stage_boundary_dir` always forces it."""
    spark = df.sparkSession
    df.write.mode("overwrite").option("compression", "zstd").parquet(path)
    for h in handles:
        h.unpersist()
    # the upstream plan is now unreferenced on the Python side; a GC pass
    # lets ContextCleaner remove its shuffle files + cached blocks NOW,
    # not whenever the JVM next feels heap pressure
    spark.sparkContext._jvm.System.gc()
    return spark.read.parquet(path)


def mini_clean_corpus(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    mixture_targets: dict[str, float],
    mixture_stratum: str = "source",
) -> DataFrame:
    """The composed normalize → paragraph-dedup → Gopher-gate → mixture
    prefix of `clean_corpus`, exposed as an oracle-checkable unit.

    Round 6's composed-pipeline race showed that cross-stage interactions
    (persist lifecycle, text rewrites feeding later gates) harbor defects
    no per-stage test sees; this function puts that regime on the driver's
    CORRECTNESS/BENCH record (registry q72).  It is clean_corpus with the
    optional middle stages (line/span cut, LM gate) and the tail stages
    (near-dup clustering, stratified sample, packing) disabled — the
    remaining four stages run in the identical order with the identical
    composition idioms: in-place text_col rewrite, left-semi gate join,
    persist before the mixture stage's per-stratum count action.

    Composition sensitivity: the Gopher word count is computed on the
    NORMALIZED, PARAGRAPH-DEDUPED text, and the mixture rates are solved
    from the per-stratum counts of the GATED corpus — a stage that reads
    stale text or pre-gate counts produces a different survivor set.

    Returns the surviving rows with `text_col` rewritten; strata not in
    `mixture_targets` are dropped (mixture_sample's contract).
    """
    source = docs
    nt = TXT.normalize_text_udf()
    docs = docs.withColumn(text_col, nt(F.col(text_col)))
    docs = docs.withColumn(text_col, TXT.dedupe_paragraphs(F.col(text_col)))
    # Gate inline (gopher_pass_filter) instead of flags-frame + left-semi
    # join: the join shape evaluated the whole upstream lineage TWICE —
    # the Arrow normalize pass and the caller's text construction ran
    # once per branch — plus a join exchange; the in-place filter is one
    # pass and keeps the survivor set identical.
    docs = TXT.gopher_pass_filter(docs, text_col)
    # mixture_sample's per-stratum count is an action; persist the gated
    # corpus so the final output doesn't re-run the Arrow normalize pass
    # (same rationale as clean_corpus stage 3.5).  The count's stage
    # waves pay AQE scheduling latency on small inputs — same size gate
    # as clean_corpus (no-op at scale).
    docs = docs.persist()
    with aqe_off_for_small_input(source):
        kept = mixture_sample(
            docs, key=id_col, stratum=mixture_stratum, targets=mixture_targets
        )
    return attach_intermediates(kept, docs)


def clean_corpus(
    docs: DataFrame,
    blocklist: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    stratum_col: str = "lang",
    min_quality: float = 0.5,
    max_dup_ngram_frac: float = 0.5,
    shingle_n: int = 4,
    jaccard_threshold: float = 0.5,
    sample_thresholds: dict[str, str] | None = None,
    default_sample_threshold: str = "ff",
    pack_budget: int = 2048,
    n_shards: int = 256,
    dedup_strategy: str = "auto",
    max_shingle_df: int | None = 1000,
    exact_dedup_limit: int = 20_000,
    normalize: bool = False,
    line_dedup_max_df: int | None = None,
    span_dedup_k: int | None = None,
    span_dedup_min_count: int = 2,
    embedding_col: str = "embedding",
    min_cosine: float = 0.95,
    gopher_rules: bool = False,
    max_perplexity: float | None = None,
    paragraph_dedup: bool = False,
    mixture_targets: dict[str, float] | None = None,
    mixture_stratum: str = "source",
    stage_boundary_dir: str | None = None,
) -> DataFrame:
    """Clean, dedup, sample, and pack a document corpus.

    Returns one row per surviving document with the full provenance:
    (id, stratum, bucket, quality, dup_ngram_frac, cluster_id, n_tokens,
    shard, pack_id, pack_offset, spills_over).  Default sample threshold
    'ff' keeps ~everything — sampling is opt-in via thresholds.

    `dedup_strategy` picks the near-dup pair generator:
    - 'exact'   — inverted-index exact Jaccard, guarded by the
                  `max_shingle_df` DF-cut (hot-shingle quadratic-join
                  protection; None disables the guard);
    - 'minhash' — banded MinHash-LSH candidates re-scored with exact
                  Jaccard (the 100 TB path: bounded-width band joins,
                  hot-bucket caps, identical output contract);
    - 'semantic' — SemDeDup-style k-means-blocked exact-cosine pairs over
                  `embedding_col` (requires the column and an INTEGRAL
                  `id_col` — the pairwise kernel emits long ids; threshold
                  `min_cosine`).  Auto-scaled blocking (k ∝ N) — the
                  embedding-space dual of 'minhash', same keeper contract;
    - 'auto'    — exact below `exact_dedup_limit` surviving docs (one
                  cheap count of the post-filter corpus), minhash above.

    `normalize` (opt-in): unicode NFC + control-character strip +
    whitespace collapse (textual.normalize_text_udf) before EVERYTHING
    else, so every downstream hash sees canonical text.

    `line_dedup_max_df` (opt-in): before any scoring, strip lines that
    appear in more than this many distinct documents
    (textual.remove_boilerplate_lines — the C4/CCNet boilerplate cut).

    `span_dedup_k` (opt-in): after the line cut, drop every maximal
    duplicated span of ≥ k whitespace tokens occurring ≥
    `span_dedup_min_count` times corpus-wide
    (textual.remove_duplicate_spans — the ExactSubstr cut at shingle
    resolution).  Runs before scoring for the same reason the line cut
    does: duplicated boilerplate spans would otherwise depress quality
    scores and glue unrelated docs into near-dup pairs.

    `gopher_rules` (opt-in): drop docs failing any of the 7 MassiveText
    rules (textual.gopher_quality_flags) before the heuristic gate.

    `max_perplexity` (opt-in): CCNet-style LM filter — train an add-alpha
    bigram LM on the corpus itself and drop docs whose mean negative
    log-probability exceeds the threshold (operators/ngram_lm).  Docs
    with fewer than 2 tokens have no bigrams and are dropped too (the
    CCNet convention).

    `paragraph_dedup` (opt-in): WITHIN-document exact paragraph dedup
    (textual.dedupe_paragraphs — RefinedWeb-style intra-doc cleanup),
    right after normalization so repeated nav blocks/footers never feed
    the quality or shingle stages.  Pure column expression, fuses into
    the first scan.

    `mixture_targets` (opt-in): rebalance the SURVIVING corpus to target
    domain shares over `mixture_stratum` (sampling.mixture_sample, The
    Pile-style "30% web / 30% books" specification) — runs after dedup so
    the mixture is computed over unique documents, before packing so the
    packed shards carry the final mixture.  Strata not in the map are
    dropped.

    `stage_boundary_dir`: directory for hard parquet stage boundaries
    between the heavy text-cut waves (see _stage_boundary).  None (the
    default) is AUTO since r10: when the line/span cut stages are enabled,
    boundaries turn on by themselves if the projected concurrent spill
    (input bytes × measured 64× amplification) exceeds half the free
    scratch disk — the regime where the 3.2 M-doc race hit ENOSPC with
    the old opt-in default.  The auto directory is temp-created and
    removed by release_intermediates(result).  An explicit path always
    forces boundaries on.
    """
    # Auto stage boundaries (r9 verdict #6): when the caller passes no
    # explicit dir AND the pipeline has the multi-wave text-cut stages
    # (the only ones boundaries separate), gate them on projected spill
    # vs free disk — the 3.2 M race died on ENOSPC precisely because the
    # knob was opt-in.  An explicit dir still always wins; the auto dir's
    # files are released via the result's intermediates handles.
    boundary_handle = None
    if stage_boundary_dir is None and (
        line_dedup_max_df is not None or span_dedup_k is not None
    ):
        stage_boundary_dir, boundary_handle = _auto_stage_boundary_dir(docs)

    # The composed run triggers many interior actions (gate counts, the
    # CC checkpoint's iteration jobs, mixture counts) — under AQE each of
    # their shuffle stages is a separately scheduled job, which is pure
    # latency when the input is small (r7 profiling: ~115 stage jobs
    # ≈ 15 s at 5 k docs).  Size-gated: a no-op at real scale.
    try:
        with aqe_off_for_small_input(docs):
            out = _clean_corpus_impl(
                docs, blocklist,
                id_col=id_col, text_col=text_col, stratum_col=stratum_col,
                min_quality=min_quality, max_dup_ngram_frac=max_dup_ngram_frac,
                shingle_n=shingle_n, jaccard_threshold=jaccard_threshold,
                sample_thresholds=sample_thresholds,
                default_sample_threshold=default_sample_threshold,
                pack_budget=pack_budget, n_shards=n_shards,
                dedup_strategy=dedup_strategy, max_shingle_df=max_shingle_df,
                exact_dedup_limit=exact_dedup_limit, normalize=normalize,
                line_dedup_max_df=line_dedup_max_df, span_dedup_k=span_dedup_k,
                span_dedup_min_count=span_dedup_min_count,
                embedding_col=embedding_col, min_cosine=min_cosine,
                gopher_rules=gopher_rules, max_perplexity=max_perplexity,
                paragraph_dedup=paragraph_dedup, mixture_targets=mixture_targets,
                mixture_stratum=mixture_stratum,
                stage_boundary_dir=stage_boundary_dir,
            )
    except BaseException:
        # the auto temp dir would otherwise leak: the handle only gets
        # attached to a successfully returned result (r10 ADVICE)
        if boundary_handle is not None:
            boundary_handle.unpersist()
        raise
    if boundary_handle is not None:
        out._tegallega_persisted = list(
            getattr(out, "_tegallega_persisted", ())
        ) + [boundary_handle]
    return out


def _clean_corpus_impl(
    docs: DataFrame,
    blocklist: DataFrame | None,
    *,
    id_col: str,
    text_col: str,
    stratum_col: str,
    min_quality: float,
    max_dup_ngram_frac: float,
    shingle_n: int,
    jaccard_threshold: float,
    sample_thresholds: dict[str, str] | None,
    default_sample_threshold: str,
    pack_budget: int,
    n_shards: int,
    dedup_strategy: str,
    max_shingle_df: int | None,
    exact_dedup_limit: int,
    normalize: bool,
    line_dedup_max_df: int | None,
    span_dedup_k: int | None,
    span_dedup_min_count: int,
    embedding_col: str,
    min_cosine: float,
    gopher_rules: bool,
    max_perplexity: float | None,
    paragraph_dedup: bool,
    mixture_targets: dict[str, float] | None,
    mixture_stratum: str,
    stage_boundary_dir: str | None = None,
) -> DataFrame:
    # 0. optional C4/CCNet-style cross-document line dedup — rewrite the
    # text BEFORE anything scores or shingles it, so boilerplate lines
    # don't depress quality scores or glue unrelated docs into near-dup
    # pairs.  Opt-in (costs one extra pass over the corpus).
    line_cut_handles = ()
    if normalize:
        # step -1: unicode NFC + control-strip + whitespace collapse, so
        # every downstream hash (line, span, shingle) sees canonical text
        nt = TXT.normalize_text_udf()
        docs = docs.withColumn(text_col, nt(F.col(text_col)))
    if paragraph_dedup:
        # intra-doc repeat cut BEFORE any corpus-wide hashing: a doc whose
        # footer repeats 40x would otherwise look like 40 duplicated lines
        # to the cross-doc cut and depress its own quality/repetition stats
        docs = docs.withColumn(text_col, TXT.dedupe_paragraphs(F.col(text_col)))
    if (normalize or paragraph_dedup) and line_dedup_max_df is not None:
        # The line cut's doc-rebuild JOINS the corpus against its own
        # exploded lines, and its broadcast-gate count is a separate
        # action — without a persist here the Arrow normalize/paragraph
        # pass executes once per plan OCCURRENCE (both join sides + the
        # gate count + the main pipeline: 3-4 times; r7 profiling of the
        # composed 5 k race).  MEMORY_AND_DISK: at scale this trades one
        # shuffle-write's worth of local disk for N-1 recomputes of a
        # corpus-wide Python stage — the same trade a shuffle itself
        # makes.  Released via the result's intermediates handles.
        from pyspark import StorageLevel

        docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
        line_cut_handles = (docs,)
    if line_dedup_max_df is not None:
        docs = TXT.remove_boilerplate_lines(
            docs, id_col, text_col, max_doc_frequency=line_dedup_max_df
        )
        # the blocked-hash set persists inside (size-gated broadcast);
        # later transforms return new DataFrames that drop the attribute,
        # so capture the handles here and ride them out on the result
        line_cut_handles += tuple(getattr(docs, "_tegallega_persisted", ()))
        if stage_boundary_dir is not None:
            # boundary A: the line cut's self-join waves are done — spill
            # them to rest (zstd parquet) and free their shuffle files +
            # the pre-cut persist before the span exchange starts
            docs = _stage_boundary(
                docs, f"{stage_boundary_dir}/post_line_cut",
                handles=line_cut_handles,
            )
            line_cut_handles = ()
    if span_dedup_k is not None:
        # persists nothing (single-exchange formulation) — no handle to ride
        docs = TXT.remove_duplicate_spans(
            docs, id_col, text_col, k=span_dedup_k,
            min_count=span_dedup_min_count,
        )
        if stage_boundary_dir is not None:
            # boundary B: the span hash exchange is done — release it
            # before the pair/CC waves stack their own spill on top
            docs = _stage_boundary(docs, f"{stage_boundary_dir}/post_span_cut")

    # 0.5 optional rule/model quality gates — both scan-shaped, both
    # BEFORE the near-dup stages so junk never pays for shingling:
    if gopher_rules:
        # the 7 MassiveText rules (scan-side column math, no shuffle),
        # gated in place: the old flags-frame + left-semi-join shape ran
        # everything upstream of the text twice (once per join branch)
        # plus a join exchange — gopher_pass_filter is one pass and the
        # identical survivor set (q72 evidence: 5.2 s -> 1.8 s)
        docs = TXT.gopher_pass_filter(docs, text_col)
    if max_perplexity is not None:
        # CCNet-style LM filter: the model is trained on THIS corpus (the
        # in-domain convention when no external reference corpus is
        # given); scoring joins are broadcast (vocabulary-bounded)
        from tegallega_spark.operators.ngram_lm import (
            perplexity_score,
            train_bigram_lm,
        )

        lm = train_bigram_lm(docs, id_col, text_col)
        _scored = perplexity_score(docs, lm, id_col, text_col)
        ok = _scored.filter(F.col("avg_nll") <= max_perplexity).select(id_col)
        docs = docs.join(ok, id_col, "left_semi")
        # the persisted model tables ride out through the final attach
        line_cut_handles += tuple(getattr(_scored, "_tegallega_persisted", ()))

    # 1. quality + repetition gate (scan-side)
    scored = docs.withColumn("quality", TXT.quality_score(F.col(text_col)))
    rep = TXT.repetition_stats(docs, id_col, text_col, n=2)
    kept = (
        scored.join(rep, id_col)
        .filter(
            (F.col("quality") >= min_quality)
            & (F.col("dup_ngram_frac") <= max_dup_ngram_frac)
        )
        .drop("top_ngram_frac")
    )

    # 2. decontamination (broadcast blocklist; anti-join keeps clean docs)
    if blocklist is not None:
        contaminated = contamination_report(
            kept, blocklist, id_col, text_col, shingle_n
        ).select(id_col)
        kept = kept.join(contaminated, id_col, "left_anti")

    # 3. near-dup clustering; keep the canonical (min-id) doc per cluster
    #
    # Persist the post-filter corpus REGARDLESS of strategy: at least three
    # downstream actions traverse it — the pair generator's shingle pass,
    # the connected-components edge checkpoint, and the final output (plus
    # the auto-mode count and the mixture stage's stratum counts).  Without
    # the persist each action re-executes the ENTIRE text-rewrite upstream
    # (normalize → paragraph → line cut → span cut → gates), which the
    # composed-pipeline race measured as ~2× the whole run's wall-clock
    # when a strategy was passed explicitly (only 'auto'/'semantic'
    # persisted before r6).
    strategy = dedup_strategy
    warm_thread = None
    kept = corpus_handle = kept.persist()
    if strategy == "auto":
        # stages 1-2 are scan-side, so this count is one fused pass
        strategy = "exact" if kept.count() <= exact_dedup_limit else "minhash"
    else:
        # With an explicit strategy nothing forces the corpus until the
        # cluster-assignment checkpoint — the executors sit IDLE while the
        # driver spends seconds of py4j round trips building the pair/CC
        # plans (r7 profiling: ~10 s of pure construction at 5 k docs with
        # no job running).  Fire the cache fill on a background thread so
        # materialization overlaps construction; Spark's per-partition
        # cache locking makes the later consumers wait on (not recompute)
        # in-flight partitions.  Best-effort: any error surfaces on the
        # caller's own action, not here.
        #
        # ONLY while AQE is off (the small-input window this optimization
        # was built for).  Under AQE, `kept`'s plan nests upstream
        # persisted frames, and two threads concurrently materializing
        # overlapping cached plans take the CachedRDDBuilder monitors in
        # opposite orders inside TableCacheQueryStageExec — a true JVM
        # deadlock (jstack-confirmed at 3.2 M docs, where the input size
        # crossed the AQE-off gate's threshold for the first time).  With
        # AQE on, the first consumer materializes the cache lazily on one
        # thread — the pre-r7 behavior, and at that scale the executors
        # are saturated anyway, so the overlap saves nothing.
        if kept.sparkSession.conf.get("spark.sql.adaptive.enabled") == "false":
            import threading

            def _warm(df=kept):
                try:
                    # Re-check at execution time, not just spawn time: the
                    # daemon plans/executes asynchronously, and if the
                    # caller's aqe_off window were already restored the
                    # warm count would overlap an AQE-on action on the
                    # same nested cached plans — the b03b0fa deadlock as a
                    # timing race.  Belt to the join()-before-return
                    # suspenders below, which guarantees the count runs
                    # entirely inside the still-open window.
                    if (
                        df.sparkSession.conf.get("spark.sql.adaptive.enabled")
                        == "false"
                    ):
                        df.count()
                except Exception:
                    pass

            warm_thread = threading.Thread(
                target=_warm, name="corpus-cache-warm", daemon=True
            )
            warm_thread.start()
    if strategy == "exact":
        pairs = exact_shingle_jaccard_pairs(
            kept, id_col, text_col, shingle_n, jaccard_threshold,
            max_df=max_shingle_df,
        )
    elif strategy == "minhash":
        pairs = minhash_near_duplicates_verified(
            kept, id_col, text_col, shingle_n=shingle_n,
            jaccard_threshold=jaccard_threshold, max_bucket=max_shingle_df,
        )
    elif strategy == "semantic":
        if embedding_col not in kept.columns:
            raise ValueError(
                f"dedup_strategy='semantic' needs column {embedding_col!r} "
                f"on the corpus; have {kept.columns}"
            )
        from tegallega_spark.operators.semdedup import semantic_pairs

        # kept is already persisted above — semantic_pairs' k_clusters=None
        # auto-sizing count and the KMeans scan both hit the cache
        _sem = semantic_pairs(
            kept, id_col=id_col, vec_col=embedding_col, min_cosine=min_cosine
        )
        # withColumnRenamed returns a NEW DataFrame without the
        # _tegallega_persisted attribute — re-attach _sem's handles
        # (the persisted IVF assignment) or release_intermediates(out)
        # could never free them
        pairs = attach_intermediates(
            _sem.withColumnRenamed("cos_sim", "similarity"), _sem
        )
    else:
        raise ValueError(f"unknown dedup_strategy {dedup_strategy!r}")
    assignments = dedup_cluster_assignments(pairs, "id_a", "id_b")
    clusters = assignments.withColumnRenamed("doc_id", id_col)
    kept = (
        kept.join(clusters.select(id_col, "cluster_id"), id_col, "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
        .filter(F.col("cluster_id") == F.col(id_col))
    )

    # 3.5 optional domain-mixture rebalancing — after dedup (shares are
    # computed over UNIQUE docs), before sampling/packing.  The per-stratum
    # count is an action, so persist the post-dedup corpus first: without
    # it the counting pass would re-run the dedup join from scratch
    mixture_handles: tuple = ()
    if mixture_targets is not None:
        kept = kept.persist()
        mixture_handles = (kept,)
        kept = mixture_sample(
            kept, key=id_col, stratum=mixture_stratum, targets=mixture_targets
        )

    # 4. deterministic stratified sampling (scan filter, reproducible)
    kept = stratified_hash_sample(
        kept, id_col, stratum_col, sample_thresholds or {}, default_sample_threshold
    )

    # 5. sequence packing (sharded cumsum window)
    kept = kept.withColumn("n_tokens", TXT.token_count(F.col(text_col))).withColumn(
        "shard", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
    )
    packed = pack_sequences(
        kept, token_col="n_tokens", order_col=id_col, shard_col="shard",
        budget=pack_budget,
    )
    # The cache-warm daemon must not outlive this frame: clean_corpus's
    # aqe_off window closes when this impl returns, and a warm count
    # still materializing cached partitions under the caller's restored
    # AQE-on setting races the caller's first action into the b03b0fa
    # CachedRDDBuilder deadlock.  Joining HERE keeps the stated win — the
    # count overlapped all of the pair/CC/packing plan construction above
    # — while guaranteeing it finishes inside the window.
    # join with a timeout (ADVICE r8): if the warm count itself wedges
    # (an executor stall, or the very deadlock family this code defends
    # against), an unbounded join would hang the whole pipeline where the
    # old fire-and-forget daemon let it finish.  300 s is a generous
    # multiple of any measured warm time (sub-second to a few seconds);
    # on timeout warn and proceed — the thread is a daemon and only READS
    # conf, so the remaining risk is the pre-r8 race, now loudly flagged.
    if warm_thread is not None:
        warm_thread.join(timeout=300)
        if warm_thread.is_alive():
            import warnings

            warnings.warn(
                "corpus cache-warm thread did not finish within 300 s; "
                "proceeding without it (it is a read-only daemon, but the "
                "caller's first action may race its cache materialization)",
                stacklevel=2,
            )

    # pairs' persisted LSH/postings intermediates, the cluster-assignment
    # checkpoint, and the auto/semantic-mode corpus persist all ride out
    # on the result for release_intermediates(out)
    return attach_intermediates(
        packed.select(
            id_col, stratum_col, "bucket", "quality", "dup_ngram_frac", "cluster_id",
            "n_tokens", "shard", "pack_id", "pack_offset", "spills_over",
        ),
        pairs,
        assignments,
        *line_cut_handles,
        *mixture_handles,
        *([corpus_handle] if corpus_handle is not None else []),
    )
