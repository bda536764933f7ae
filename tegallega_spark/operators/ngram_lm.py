"""N-gram language-model perplexity scoring for corpus quality filtering.

Method (public literature: the CCNet pipeline — Wenzek et al., "CCNet:
Extracting High Quality Monolingual Datasets from Web Crawl Data",
arXiv:1911.00359 — filters documents by LM perplexity; KenLM there, an
add-alpha-smoothed word-bigram model here, which keeps every stage a
DataFrame count/join and the whole contract SQL-expressible):

    p(w2 | w1) = (c(w1,w2) + alpha) / (c(w1) + alpha * V)

where c(w1) is the CONTEXT count (bigrams starting with w1, so the
distribution normalizes), V the vocabulary size including <unk>, and
words below MIN_COUNT map to <unk> first (the OOV convention); alpha is
ALPHA.  Documents are (doc_id, text) rows.  A document's score is its
mean negative log-probability over bigrams — low = fluent/in-domain,
high = gibberish — the exact quantity CCNet thresholds into
head/middle/tail buckets.

Scale shape: training is two map-side-combinable counts (tokens,
bigrams) — the same single-exchange shape as bpe.word_counts; scoring
joins each doc's bigrams against the model tables.  The model is
vocabulary-bounded (Heaps' law), so both model joins broadcast at any
corpus scale; token→<unk> mapping broadcasts the vocab the same way.
Nothing quadratic, nothing driver-side except the scalar V.
"""

from __future__ import annotations

from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

__all__ = ["BigramLM", "train_bigram_lm", "perplexity_score"]

UNK = "<unk>"
# Words seen fewer times map to <unk>; ALPHA is the add-alpha smoothing mass.
MIN_COUNT = 2
ALPHA = 0.1
# Largest pair space (K² for K token codes) the single-task counter counts
# with a dense bincount: its int64 count array is 8·K² bytes, 128 MB here.
# Above it the counter takes the sort-based np.unique path (same counts).
DENSE_PAIR_LIMIT = 1 << 24


class BigramLM(NamedTuple):
    """bigrams: (w1, w2, c12); contexts: (w1, c1); vocab: (word,);
    vocab_size includes <unk> — either a plain int, or (from
    train_bigram_lm) a LAZY 1-row DataFrame (__V) that scoring
    broadcast-cross-joins in, so training triggers NO driver action:
    the whole train+score program stays one action for the caller and
    composes into larger single-action pipelines (clean_corpus's LM
    gate no longer forces an eager corpus pass at plan-build time).
    train_df/doc_bigrams record the persisted unk-mapped
    (__id, w1, w2) frame training derived its counts from, so scoring the
    SAME frame reuses it instead of re-running the corpus tokenize +
    vocab joins a second time (identity-gated: scoring any other frame
    recomputes)."""

    bigrams: DataFrame
    contexts: DataFrame
    vocab: DataFrame
    vocab_size: "int | DataFrame"
    train_df: DataFrame | None = None
    doc_bigrams: DataFrame | None = None
    token_arrays: DataFrame | None = None
    small_gate: bool = False


def _token_arrays(df: DataFrame) -> DataFrame:
    """(__id, __t): the tokenized corpus as STORED array columns.

    Training needs the token stream twice (unigram counts for the vocab,
    then adjacent pairs for the bigram counts); persisting the arrays
    makes the regex split ONE pass instead of two — the split is the
    dominant per-row cost of both derivations.  Storage trade at scale:
    the cache is ≈ tokenized-corpus-sized (MEMORY_AND_DISK), the same
    trade the fused MinHash path documents for its shingle arrays.
    parallelize_for_udf widens the split to cluster parallelism when the
    scan is byte-split narrower than the core count (no-op at scale)."""
    from tegallega_spark.operators.dedup import parallelize_for_udf

    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    return parallelize_for_udf(df).select(
        F.col("doc_id").alias("__id"), toks.alias("__t")
    )


def _doc_bigrams(arr: DataFrame) -> DataFrame:
    """(id, w1, w2) for every adjacent token pair — arrays_zip of the
    stored token array against itself shifted by one, all JVM-side."""
    n = F.size(F.col("__t"))
    return (
        arr.select("__id", F.col("__t"), n.alias("__n"))
        .filter(F.col("__n") >= 2)
        .select(
            "__id",
            F.explode(
                F.arrays_zip(
                    F.slice("__t", 1, F.col("__n") - 1).alias("w1"),
                    F.slice("__t", 2, F.col("__n") - 1).alias("w2"),
                )
            ).alias("__bg"),
        )
        .select("__id", F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2"))
    )


def _unk_map(bg: DataFrame, vocab: DataFrame) -> DataFrame:
    """Map out-of-vocabulary words to <unk> on both bigram slots via two
    broadcast left joins (the vocab is language-bounded)."""
    v1 = F.broadcast(vocab.select(F.col("word").alias("w1"), F.lit(1).alias("__in1")))
    v2 = F.broadcast(vocab.select(F.col("word").alias("w2"), F.lit(1).alias("__in2")))
    return (
        bg.join(v1, "w1", "left")
        .join(v2, "w2", "left")
        .select(
            "__id",
            F.when(F.col("__in1").isNull(), F.lit(UNK)).otherwise(F.col("w1")).alias("w1"),
            F.when(F.col("__in2").isNull(), F.lit(UNK)).otherwise(F.col("w2")).alias("w2"),
        )
    )


def _single_task_bigram_counts(df: DataFrame) -> DataFrame:
    """(__id, c12, c1, __V) — one row per bigram OCCURRENCE of the
    self-scored corpus, counted inside ONE executor task (HYBRID: the
    tokenize runs as the SAME JVM split expression the distributed path
    uses, at scan parallelism, and only the token ARRAYS funnel through
    a round-robin repartition(1) into the counting task).

    The distributed train+score program schedules ~21 jobs at bench scale
    (four cache materializations + five broadcast builds + the final
    aggregate), each microseconds of work behind ~100 ms of scheduling;
    below the byte gate the counting collapses to one funnel exchange +
    one MapInPandas job (~3 jobs), while the regex split — the dominant
    per-row cost — still scales with cores (a 4× bench input measured a
    fully serial Python profile overtaking the saved latency).  ONLY
    integer counting runs in Python, over tokens produced by the
    IDENTICAL Catalyst expression; the float scoring
    (-log((c12+a)/(c1+a*V)), avg) stays in the caller's unchanged JVM
    expressions over these exact longs, so scores are bit-identical to
    the distributed path's.

    Semantics replicated from the distributed derivations:
    - NULL text -> split->NULL tokens -> nothing counted, no bigrams;
    - vocab = tokens of ALL docs (incl. single-token docs) with
      count >= MIN_COUNT; V = |vocab| + 1 (<unk>);
    - bigrams from docs with >= 2 tokens, OOV slots mapped to <unk>
      BEFORE counting (a literal '<unk>' token merges with the mapped
      ones, exactly as the distributed unk-join does);
    - c1 is the CONTEXT count: sum of c12 over w2 = count of w1 in
      bigram-first position."""
    import pyspark.sql.types as T

    id_t = df.schema["doc_id"].dataType
    schema = T.StructType(
        [
            T.StructField("__id", id_t),
            T.StructField("c12", T.LongType()),
            T.StructField("c1", T.LongType()),
            T.StructField("__V", T.LongType()),
        ]
    )
    toks_col = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    arr = df.select(F.col("doc_id").alias("__id"), toks_col.alias("__t"))

    def fn(batches):
        import numpy as np
        import pandas as pd

        # Vectorized counting (a per-occurrence Python loop measured ~4×
        # the whole distributed wall at the gate's upper sizes): factorize
        # every token of the corpus to int codes once, then all counts are
        # bincounts over code arrays.  String semantics are preserved
        # exactly — factorize maps DISTINCT strings to distinct codes,
        # and the <unk> merge below reproduces the distributed
        # "OOV -> literal '<unk>' string" counting (including merging
        # with an in-vocab literal '<unk>' token).
        # r14 second pass (the 4× secondary point put ~0.97 s in this
        # task): the per-doc row loop, the per-doc np.arange list
        # comprehension, and the object-dtype id column were ~60% of the
        # kernel — replaced with batch concatenation, a boolean doc-
        # boundary mask, and native-dtype ids (identical values).
        ids_parts: list = []
        tok_parts: list = []
        for pdf in batches:
            mask = pdf["__t"].notna().to_numpy()
            ids_parts.append(pdf["__id"].to_numpy()[mask])
            tok_parts.extend(pdf["__t"].to_numpy()[mask])
        if not ids_parts:
            return
        ids = np.concatenate(ids_parts)
        if len(ids) == 0:
            return
        lens = np.fromiter(
            (len(t) for t in tok_parts), dtype=np.int64, count=len(tok_parts)
        )
        total = int(lens.sum())
        if total == 0:
            return
        flat = np.concatenate(
            [np.asarray(t, dtype=object) for t in tok_parts if len(t)]
        )
        codes, uniques = pd.factorize(flat)
        tok_counts = np.bincount(codes, minlength=len(uniques))
        in_vocab = tok_counts >= MIN_COUNT
        V = int(in_vocab.sum()) + 1
        # OOV codes collapse onto the '<unk>' bucket: the in-vocab literal
        # '<unk>' code if one exists, else a fresh code
        unk_candidates = np.flatnonzero(uniques == UNK)
        if len(unk_candidates) and in_vocab[unk_candidates[0]]:
            unk_code = int(unk_candidates[0])
        else:
            unk_code = len(uniques)
        mapped = np.where(in_vocab[codes], codes, unk_code)
        # per-doc adjacent pairs: every flat index except each doc's LAST
        # token is a w1 (a 1-token doc's only index IS its last, so docs
        # with < 2 tokens contribute nothing — same set as the old
        # per-doc arange comprehension, np.array_equal-verified)
        offs = np.concatenate([[0], np.cumsum(lens)])
        bmask = np.ones(total, dtype=bool)
        bmask[offs[1:] - 1] = False
        w1_idx = np.flatnonzero(bmask)
        if w1_idx.size == 0:
            return
        w1 = mapped[w1_idx]
        w2 = mapped[w1_idx + 1]
        K = len(uniques) + 1
        key = w1.astype(np.int64) * K + w2
        if K * K <= DENSE_PAIR_LIMIT:
            # dense pair space: one bincount instead of a sort-based
            # np.unique (identical counts)
            c12_all = np.bincount(key, minlength=K * K)
            c12_occ = c12_all[key]
        else:
            _, inv, cnt = np.unique(key, return_inverse=True, return_counts=True)
            c12_occ = cnt[inv]
        c1_all = np.bincount(w1, minlength=K)
        c1_occ = c1_all[w1]
        n_bg = np.maximum(lens - 1, 0) * (lens >= 2)
        id_occ = np.repeat(ids, n_bg)
        yield pd.DataFrame(
            {
                "__id": id_occ,
                "c12": c12_occ.astype(np.int64),
                "c1": c1_occ.astype(np.int64),
                "__V": np.full(len(id_occ), V, dtype=np.int64),
            }
        )

    return arr.repartition(1).mapInPandas(fn, schema)


def train_bigram_lm(df: DataFrame) -> BigramLM:
    """Count-based smoothed bigram LM from the corpus.  Two single-
    exchange aggregates (token counts → vocab; bigram counts after <unk>
    mapping) plus one derived context-count aggregate."""
    # small-input single-task profile, decided ONCE here: a small
    # scan-rooted corpus (session.small_scan_input) will be SELF-scored in
    # one executor task (perplexity_score), so the distributed model
    # frames below are never executed — skip their persist registrations
    # and the UDF-widening plan probes, which are pure driver-side py4j
    # cost at this scale (measured ~0.45 s of q56's plan build).  A caller that
    # cross-scores a DIFFERENT frame against a gated model still gets
    # correct results (the lazy frames recompute per consumer).
    from tegallega_spark.session import small_scan_input

    small_gate = small_scan_input(df)
    # tokenize ONCE into stored arrays (persisted): the vocab count and
    # the bigram derivation both read the cached arrays instead of each
    # re-running the regex split over the corpus
    if small_gate:
        toks = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
        arr = df.select(F.col("doc_id").alias("__id"), toks.alias("__t"))
    else:
        arr = _token_arrays(df).persist()
    tokens = (
        arr.select(F.explode(F.col("__t")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    # the model tables are vocabulary-bounded — persist them so scoring
    # (and repeated scoring calls) reuse the trained counts instead of
    # re-scanning the corpus per consumer.  V stays a LAZY 1-row frame:
    # a driver-side vocab.count() here would be a whole separate corpus
    # action serialized before the caller's own (measured ~40% of q56's
    # wall); scoring cross-joins the broadcast 1-row instead, and the
    # vocab persist materializes under the first broadcast build
    vocab = tokens.filter(F.col("c") >= MIN_COUNT).select("word")
    if not small_gate:
        vocab = vocab.persist()
    vocab_size = vocab.agg((F.count("*") + F.lit(1)).alias("__V"))  # + <unk>

    # persist the unk-mapped per-doc bigram frame: the model counts AND a
    # same-frame scoring pass both read it, saving scoring a second full
    # corpus tokenize + vocab-join pass (identical row multiset, so
    # results are unchanged)
    bg = _unk_map(_doc_bigrams(arr), vocab)
    if not small_gate:
        bg = bg.persist()
    bigrams = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    if not small_gate:
        bigrams = bigrams.persist()
    contexts = bigrams.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return BigramLM(
        bigrams, contexts, vocab, vocab_size,
        train_df=df, doc_bigrams=bg, token_arrays=arr, small_gate=small_gate,
    )


def perplexity_score(df: DataFrame, lm: BigramLM) -> DataFrame:
    """(doc_id, n_bigrams, avg_nll): mean negative ln p(w2|w1) per doc.
    Docs with fewer than 2 tokens have no bigrams and are absent (the
    caller decides their fate — CCNet drops them).  Unseen bigrams get
    the smoothed floor alpha/(c1 + alpha*V); unseen contexts degrade to
    the uniform 1/V — both from the same formula with zero counts, no
    special cases."""
    self_scoring = df is lm.train_df
    if self_scoring and lm.small_gate:
        # small-input single-task profile (gate decided at train time):
        # count (c12, c1, V) for every bigram occurrence in one
        # MapInPandas job — the lazily trained model frames are never
        # executed (train skipped their persist marks for the same
        # reason).  The nll expression and the final aggregate are the
        # SAME JVM expressions over the same longs, so scores are
        # bit-identical to the distributed path's.
        cnt = _single_task_bigram_counts(df)
        scored = cnt.select(
            "__id",
            (
                -F.log(
                    (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(ALPHA))
                    / (
                        F.coalesce(F.col("c1"), F.lit(0))
                        + F.lit(ALPHA) * F.col("__V")
                    )
                )
            ).alias("nll"),
        )
        return scored.groupBy("__id").agg(
            F.count("*").alias("n_bigrams"), F.avg("nll").alias("avg_nll")
        ).select(F.col("__id").alias("doc_id"), "n_bigrams", "avg_nll")
    if lm.doc_bigrams is not None and self_scoring:
        bg = lm.doc_bigrams  # persisted by train_bigram_lm — one pass total
    else:
        bg = _unk_map(_doc_bigrams(_token_arrays(df)), lm.vocab)
    if isinstance(lm.vocab_size, DataFrame):
        # lazy V: broadcast the 1-row count frame in (BroadcastNestedLoop
        # with a single build row — free) so no driver action runs before
        # the caller's own
        bg = bg.crossJoin(F.broadcast(lm.vocab_size))
        alpha_v = F.lit(ALPHA) * F.col("__V")
    else:
        alpha_v = F.lit(ALPHA * lm.vocab_size)
    scored = (
        bg.join(F.broadcast(lm.bigrams), ["w1", "w2"], "left")
        .join(F.broadcast(lm.contexts), "w1", "left")
        .select(
            "__id",
            (
                -F.log(
                    (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(ALPHA))
                    / (F.coalesce(F.col("c1"), F.lit(0)) + alpha_v)
                )
            ).alias("nll"),
        )
    )
    out = scored.groupBy("__id").agg(
        F.count("*").alias("n_bigrams"), F.avg("nll").alias("avg_nll")
    ).select(F.col("__id").alias("doc_id"), "n_bigrams", "avg_nll")
    # ride the persisted model tables out for release_intermediates
    from tegallega_spark.session import attach_intermediates

    sources = [lm.vocab, lm.bigrams]
    if lm.doc_bigrams is not None:
        sources.append(lm.doc_bigrams)
    if lm.token_arrays is not None:
        sources.append(lm.token_arrays)
    return attach_intermediates(out, *sources)
