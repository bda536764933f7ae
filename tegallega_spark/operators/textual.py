"""Text-analysis operators over document tables (north-star extension).

Generalizes the reference's string functions (convert.py:75-105) to the
LLM-data-pipeline surface: language ID, quality scoring, token counting,
fingerprinting.  All pure column expressions — at 100 TB these run inside
whole-stage codegen over the parquet scan with zero Python involvement.
"""

from __future__ import annotations

import re

import pandas as pd  # noqa: F401 — resolved by pandas_udf type-hint inference

from pyspark.sql import Column, DataFrame, Window
import pyspark.sql.functions as F

from tegallega_spark.operators.sampling import md5_60

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
# Deliberately small: language ID here is a deterministic heuristic, not a
# model — mirrors fastText-style scoring with hand-rolled features.
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "id": ["yang", "dan", "di", "ke", "dari", "untuk", "pada", "dengan", "ini", "itu"],
    "fr": ["le", "la", "les", "de", "des", "et", "est", "pour", "dans", "que"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "von", "ein", "zu"],
    "es": ["el", "la", "los", "de", "y", "es", "que", "en", "por", "con"],
}


def tokens(text: Column) -> Column:
    """Whitespace/punctuation word tokens, lowercased, empties removed."""
    return F.filter(F.split(F.lower(text), r"[^\p{L}\p{N}']+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.filter(F.split(text, r"\s+"), lambda t: t != ""))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token estimate: count regex word pieces + non-space symbols.

    A deterministic stand-in for a real tokenizer: words of ≤4 chars are one
    token, longer words cost ceil(len/4).
    """
    words = tokens(text)
    return F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("int"),
    )


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    toks = tokens(text)
    sw = F.array(*[F.lit(w) for w in _STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def detect_language(text: Column) -> Column:
    """argmax over per-language stopword hit counts; 'und' if no hits.
    Ties break by language-key order (en, id, fr, de, es — first max wins).

    NOTE: evaluates the tokenizer once per language; callers on a hot path
    should pre-materialize tokens in a prior select and use
    detect_language_from_tokens (HOFs are interpreted, so Catalyst can't
    share the five subtrees — see q42).
    """
    return detect_language_from_tokens(tokens(text))


def language_scores(toks: Column) -> dict:
    """Per-language stopword hit counts (with multiplicity) over a token
    array.  Hot paths should stage these as STORED columns in a
    projection before feeding them to argmax_language: the argmax
    when-chain references every score several times, and interpreted HOF
    subtrees get no common-subexpression reuse, so the inline form
    re-runs each five-way token scan ~3× (q37 measured 0.71 → 0.37 s at
    sf0.1 from staging alone)."""

    def _hits(sw: list[str]):
        sw_arr = F.array(*[F.lit(w) for w in sw])
        return F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t)))

    return {lang: _hits(sw) for lang, sw in _STOPWORDS.items()}


def argmax_language(scores: dict) -> Column:
    """argmax over per-language score columns; 'und' if all zero.  Ties
    break by language-key order (first max wins)."""
    langs = list(scores)
    best = F.greatest(*[scores[lang] for lang in langs])
    expr = F.lit("und")
    for lang in reversed(langs):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return F.when(best == 0, F.lit("und")).otherwise(expr)


def detect_language_from_tokens(toks: Column) -> Column:
    """Same as detect_language but over a pre-computed token array —
    tokenize once in a prior select, score five languages over the stored
    array.  (Single-expression form; see language_scores for the staged
    two-projection form hot paths want.)"""
    return argmax_language(language_scores(toks))


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1]: length, punctuation balance,
    alpha ratio, mean word length sanity.  Deterministic column math."""
    n_chars = F.length(text)
    toks = tokens(text)
    n_tokens = F.greatest(F.size(toks), F.lit(1))
    mean_wlen = n_chars / n_tokens
    alpha = F.length(F.regexp_replace(text, r"[^\p{L}]", ""))
    alpha_ratio = alpha / F.greatest(n_chars, F.lit(1))
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    len_score = F.least(n_chars / 500.0, F.lit(1.0))
    wlen_score = F.when((mean_wlen >= 3) & (mean_wlen <= 12), 1.0).otherwise(0.4)
    punct_score = F.when(punct_ratio <= 0.1, 1.0).otherwise(0.5)
    raw = 0.3 * len_score + 0.3 * alpha_ratio + 0.2 * wlen_score + 0.2 * punct_score
    # floor(x*1e4+0.5)/1e4 instead of round(): pure IEEE ops, so the result
    # is bit-identical across engines (round() implementations differ at
    # exact .5 decimal boundaries, which these weighted sums hit often)
    return F.floor(raw * 10000.0 + 0.5) / 10000.0


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The MassiveText/Gopher document-quality rules (public literature:
    Rae et al., "Scaling Language Models: Methods, Analysis & Insights
    from Training Gopher", arXiv:2112.11446, Appendix A) as one boolean
    flag per rule plus the conjunction `gopher_pass`:

      ok_word_count    — 50 <= words <= 100,000
      ok_mean_wlen     — mean word length in [3, 10]
      ok_symbol_ratio  — (# + ellipsis occurrences) / words < 0.1
      ok_bullet_lines  — < 90% of lines start with a bullet (-, *, •)
      ok_ellipsis_lines— < 30% of lines end with an ellipsis
      ok_alpha_words   — > 80% of words contain a letter
      ok_stopwords     — >= 2 distinct Gopher stop words present

    Pure JVM column math (split/filter/regexp — whole-stage codegen, no
    Python); at 100 TB this is a scan-side map with no shuffle at all.
    NULL text fails every rule (flags false, not NULL) so downstream
    filters need no three-valued-logic care."""
    staged, flags, n_words = _gopher_staged(df, text_col)
    out = staged.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        *[v.alias(k) for k, v in flags.items()],
    )
    return out.withColumn(
        "gopher_pass",
        F.expr(" AND ".join(flags)),
    )


def gopher_pass_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Filter `df` to the rows passing ALL Gopher rules, preserving the
    caller's columns — the gate form of gopher_quality_flags.  Computing
    the conjunction inline and filtering in place costs ONE pass over the
    text; the flags-frame + left-semi-join shape costs two full
    evaluations of everything upstream of the text column (both join
    branches re-run the lineage) plus a join exchange."""
    staged, flags, _ = _gopher_staged(df, text_col)
    keep = None
    for v in flags.values():
        keep = v if keep is None else (keep & v)
    # PushDownPredicates substitutes the staged aliases back into a filter
    # condition as it pushes it through the staging projections — measured:
    # 12 copies of the split in the optimized plan, 6.0 s vs 0.9 s on the
    # q72 corpus.  PushPredicateThroughNonJoin only fires when EVERY field
    # of the projection is deterministic, so the staging select carries a
    # rand() column (`__nd`) and the gate references it in an always-true
    # conjunct: the filter is pinned above the projections and the flags
    # read the STORED arrays.  (A nondeterministic conjunct alone is not
    # enough — the rule splits conjuncts and pushes the deterministic
    # ones individually.)
    barrier = F.col("__nd") >= F.lit(-1.0)
    return staged.filter(keep & barrier).select(*df.columns)


def _gopher_staged(df: DataFrame, text_col: str):
    """Shared staging for the Gopher rules: returns (staged_df, flag
    expression dict, n_words expression), where staged_df carries the
    split arrays as stored columns.
    Tokenize/split ONCE into stored array columns: interpreted HOF
    subtrees get no common-subexpression reuse (the q37/q62 lesson), so
    with `toks`/`lines` as raw expressions each of their 3 consumers
    below re-ran the split per row, and the stopword filter re-ran the
    lowercasing transform once per stopword (8×)."""
    staged = df.select(
        "*",
        F.coalesce(F.col(text_col), F.lit("")).alias("__t"),
    ).select(
        "*",
        F.filter(F.split(F.col("__t"), r"\s+"), lambda w: w != "").alias("__toks"),
        F.split(F.col("__t"), "\n").alias("__lines"),
    ).select(
        "*",
        F.transform(F.col("__toks"), lambda w: F.lower(w)).alias("__low"),
        # pushdown barrier: one nondeterministic field makes the whole
        # projection ineligible for PushPredicateThroughNonJoin, so a
        # caller's filter (gopher_pass_filter's gate) cannot be pushed
        # through with the array aliases re-inlined.  Unreferenced
        # callers (the flags SELECT form) get it pruned for free.
        F.rand().alias("__nd"),
    )
    t = F.col("__t")
    toks = F.col("__toks")
    lines = F.col("__lines")
    low_toks = F.col("__low")
    n_words = F.size(toks)
    nw = F.greatest(n_words, F.lit(1)).cast("double")
    word_chars = F.length(F.regexp_replace(t, r"\s+", ""))
    mean_wlen = word_chars / nw
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_lines = F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]")))
    ellipsis_lines = F.size(F.filter(lines, lambda l: l.rlike(r"\.\.\.\s*$")))
    alpha_words = F.size(F.filter(toks, lambda w: w.rlike(r"\p{L}")))
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stops = F.size(F.filter(stop_arr, lambda s: F.array_contains(low_toks, s)))

    flags = {
        "ok_word_count": (n_words >= 50) & (n_words <= 100_000),
        "ok_mean_wlen": (mean_wlen >= 3.0) & (mean_wlen <= 10.0),
        "ok_symbol_ratio": ((n_hash + n_ellipsis) / nw) < 0.1,
        "ok_bullet_lines": (bullet_lines / n_lines) < 0.9,
        "ok_ellipsis_lines": (ellipsis_lines / n_lines) < 0.3,
        "ok_alpha_words": (alpha_words / nw) > 0.8,
        "ok_stopwords": n_stops >= 2,
    }
    return staged, flags, n_words


def fingerprint(text: Column) -> Column:
    """Normalized-content fingerprint: md5 of lowercased alnum-collapsed
    text.  Identical modulo whitespace/punct/casing → identical fingerprint."""
    normalized = F.regexp_replace(F.lower(text), r"[^a-z0-9]+", " ")
    return F.md5(F.trim(normalized))


def rolling_hash_fingerprints(
    text: Column, window: int = 8, keep_every: int = 16
) -> Column:
    """Winnowing-style document fingerprints: hash every `window`-word
    shingle, keep hashes ≡ 0 (mod keep_every).  array<bigint> sketch usable
    for containment checks at scale.

    Each shingle hash is the first 60 bits of md5 as a non-negative bigint
    (sampling.md5_60) — bit-identical reproducible in any engine with an
    md5 function, which is what the q62 DuckDB oracle does."""
    return rolling_hash_fingerprints_from_tokens(
        tokens(text), window=window, keep_every=keep_every
    )


def rolling_hash_fingerprints_from_tokens(
    toks: Column, window: int = 8, keep_every: int = 16
) -> Column:
    """rolling_hash_fingerprints over a PRE-TOKENIZED array column.

    Interpreted higher-order lambdas get no common-subexpression reuse:
    when `toks` is the tokens(text) EXPRESSION, the per-element
    `slice(toks, i, window)` re-runs lower+regex-split+filter for EVERY
    shingle — measured 8.4 s → 1.9 s on q62 (5 k docs, ~43 shingles each)
    just by tokenizing once into a stored array column in a prior select
    (the q37 idiom) and shingling from the attribute.  Pass a bare column
    reference here, not a derived expression, to keep that property."""
    num = F.size(toks) - F.lit(window - 1)
    # guard: sequence(1, 0) DESCENDS ([1, 0]) and slice rejects start 0 —
    # a doc shorter than `window` tokens must yield an empty sketch, not
    # throw (latent crash found in r4, regression-tested)
    hashes = F.when(
        num >= 1,
        F.transform(
            F.sequence(F.lit(1), num),
            lambda i: md5_60(F.concat_ws(" ", F.slice(toks, i, window))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return F.array_sort(
        F.array_distinct(F.filter(hashes, lambda h: F.pmod(h, F.lit(keep_every)) == 0))
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data hygiene: strip emails / phones / SSNs before
# a corpus ships to training; regex families per common DLP practice)
# ---------------------------------------------------------------------------

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_SSN = r"\b\d{3}-\d{2}-\d{4}\b"
PII_PHONE = r"\b\d{3}-\d{4}\b"


def pii_counts(text: Column) -> tuple[Column, Column, Column]:
    """(n_emails, n_ssns, n_phones) match counts — audit columns so the
    redaction rate per source/shard is itself queryable."""
    return (
        F.regexp_count(text, F.lit(PII_EMAIL)),
        F.regexp_count(text, F.lit(PII_SSN)),
        F.regexp_count(text, F.lit(PII_PHONE)),
    )


def redact_pii(text: Column) -> Column:
    """Replace PII spans with typed placeholder tokens.

    Order matters: SSN before phone (an SSN's tail would otherwise be
    eaten as a phone); the three patterns are disjoint after that, so the
    chain is order-stable.  Pure JVM regexp_replace — no Python in the
    per-row path.
    """
    out = F.regexp_replace(text, PII_SSN, "[SSN]")
    out = F.regexp_replace(out, PII_EMAIL, "[EMAIL]")
    return F.regexp_replace(out, PII_PHONE, "[PHONE]")


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality rules: repetitious documents are
# low-quality training data even when surface stats look fine)
# ---------------------------------------------------------------------------

def word_ngrams(text: Column, n: int = 2) -> Column:
    """NON-distinct n-word grams (multiplicity matters for repetition
    measurement, unlike dedup's word_shingles); same [a-z0-9] tokenization.
    A doc shorter than n words contributes its whole text as one gram."""
    words = F.filter(F.split(F.lower(text), r"[^a-z0-9]+"), lambda w: w != "")
    num = F.greatest(F.size(words) - F.lit(n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), num), lambda i: F.concat_ws(" ", F.slice(words, i, n))
    )
    return F.when(F.size(words) < n, F.array(F.concat_ws(" ", words))).otherwise(grams)


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """Per-document n-gram repetition: (id, dup_ngram_frac, top_ngram_frac).

    dup_ngram_frac = 1 - distinct/total grams (how much of the doc is
    repeated phrasing); top_ngram_frac = share of the single most frequent
    gram (boilerplate detector).

    r6: re-expressed as ONE Arrow pass.  The statistic is per-document, so
    the old plan — explode string grams, groupBy (doc, gram), re-agg per
    doc: two corpus-sized exchanges keyed on gram STRINGS — shuffled the
    whole corpus to compute something each partition can finish locally
    (measured 68 s at 100 k docs; the gram builder was also an interpreted
    HOF re-evaluating the tokenize subtree per element).  The kernel is
    the span/shingle family's shape: factorize the batch's tokens to int
    codes, memoized blake2b per DISTINCT word, positional-polynomial gram
    identities (collision odds ~2⁻⁶⁴ per in-doc gram pair — the same
    accepted basis as the hashed-shingle Jaccard, and any corpus-visible
    collision would hash-mismatch the q33 oracle), np.unique counts give
    (total, distinct, top) per doc at C speed.  No shuffle anywhere.
    Fractions keep the floor(x*1e4+0.5) idiom for cross-engine bit
    identity.
    """
    import hashlib
    import re

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from tegallega_spark.operators.dedup import _mix_constants, parallelize_for_udf

    token_re = re.compile(r"[^a-z0-9]+")
    coef = np.array(_mix_constants(n, stream=0x9311), dtype=np.uint64)

    @pandas_udf("struct<total: long, nd: long, top: long>")
    def rep_kernel(texts: pd.Series) -> pd.DataFrame:
        per_doc = [
            [w for w in token_re.split(("" if t is None else t).lower()) if w]
            for t in texts
        ]
        flat = [w for ws in per_doc for w in ws]
        if flat:
            codes_all, uniques = pd.factorize(np.asarray(flat, dtype=object))
            uh = np.fromiter(
                (
                    int.from_bytes(
                        hashlib.blake2b(w.encode(), digest_size=8).digest(), "big"
                    )
                    for w in uniques
                ),
                dtype=np.uint64,
                count=len(uniques),
            )
            hashed = uh[codes_all]
        rows = []
        off = 0
        for ws in per_doc:
            ln = len(ws)
            if ln < n:
                # the whole text as one gram (word_ngrams' short-doc rule)
                rows.append((1, 1, 1))
                off += ln
                continue
            gh = (
                np.lib.stride_tricks.sliding_window_view(hashed[off : off + ln], n)
                * coef
            ).sum(axis=1, dtype=np.uint64)
            off += ln
            _, counts = np.unique(gh, return_counts=True)
            rows.append((int(gh.size), int(counts.size), int(counts.max())))
        return pd.DataFrame(rows, columns=["total", "nd", "top"])

    stats = parallelize_for_udf(df).select(
        F.col(id_col), rep_kernel(F.col(text_col)).alias("__s")
    )
    r4 = lambda c: F.floor(c * 10000.0 + 0.5) / 10000.0  # noqa: E731
    return stats.select(
        F.col(id_col),
        r4(1.0 - F.col("__s.nd") / F.col("__s.total")).alias("dup_ngram_frac"),
        r4(F.col("__s.top") / F.col("__s.total")).alias("top_ngram_frac"),
    )


_WS_SPLIT_RE = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s, matching token_count


def _chunk_token_list(
    toks: "list[str]", chunk_tokens: int, stride: int
) -> "list[list[str]]":
    """Per-doc core of chunk_documents, module-level so the hypothesis
    property suite drives the EXACT code the Spark path runs: a window of
    up to `chunk_tokens` tokens starts at every multiple of `stride`
    below the token count (split artifacts — empty strings — dropped
    first, matching token_count's Java-\\s splitting)."""
    toks = [w for w in toks if w]
    return [
        toks[start : start + chunk_tokens]
        for start in range(0, len(toks), stride)
    ]


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 512,
    stride: int | None = None,
) -> DataFrame:
    """Sliding-window document chunking — the pretraining prep step that
    turns long documents into context-length pieces BEFORE packing
    (pack_sequences then lays the chunks into fixed token budgets).
    `stride` < `chunk_tokens` gives overlapping windows (RoBERTa-style
    stride training); the default stride == chunk_tokens tiles the doc
    without overlap.

    Chunks start at every multiple of `stride` below the token count, so
    the final window may be short; a 0-token / NULL doc emits no chunks.
    Returns (id_col, chunk_idx, n_tokens, chunk_text).

    Contract: tokens are ASCII-whitespace splits and `chunk_text` is the
    token slice REJOINED with single spaces — deterministic and
    SQL-checkable (the q71 oracle replays it with list slices in DuckDB).
    Byte-exact re-slicing of the original string is the span-cut family's
    job, not the chunker's.

    Scale shape: ONE Arrow pass, rows expand in-place per input batch
    (mapInPandas streams batches — constant memory regardless of
    partition size), no shuffle anywhere; a pure-column HOF formulation
    would re-evaluate the tokenize subtree per chunk (the O(tokens²)
    pathology fixed across this family in r6).
    """
    if stride is None:
        stride = chunk_tokens
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")

    id_type = dict(df.dtypes)[id_col]
    schema = (
        f"{id_col} {id_type}, chunk_idx int, n_tokens int, chunk_text string"
    )

    def chunk(batches):
        for pdf in batches:
            ids, idxs, lens, texts = [], [], [], []
            for doc_id, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:
                    continue
                for i, piece in enumerate(
                    _chunk_token_list(_WS_SPLIT_RE.split(t), chunk_tokens, stride)
                ):
                    ids.append(doc_id)
                    idxs.append(i)
                    lens.append(len(piece))
                    texts.append(" ".join(piece))
            yield pd.DataFrame(
                {id_col: ids, "chunk_idx": idxs, "n_tokens": lens,
                 "chunk_text": texts}
            )

    from tegallega_spark.operators.dedup import parallelize_for_udf

    return parallelize_for_udf(df.select(id_col, text_col)).mapInPandas(
        chunk, schema=schema
    )


def dedupe_paragraphs(text: Column) -> Column:
    """WITHIN-document exact paragraph dedup (RefinedWeb/CCNet intra-doc
    cleanup: scraped pages repeat nav blocks, cookie banners, and footers
    inside one document).  Split on blank lines, keep the FIRST occurrence
    of each paragraph, preserve order, re-join with a single blank line.

    Distinct from remove_boilerplate_lines (cross-document, needs a corpus
    aggregate): this is a pure per-row column expression — no shuffle, no
    state, fuses into whatever scan already reads the text.  Spark's
    array_distinct keeps first-occurrence order, which is exactly the
    keep-first contract.  NULL text stays NULL.

    Blank line = optional \r\n line endings with only spaces/tabs between
    (CRLF documents split too), and paragraphs are trimmed of ALL edge
    whitespace (regexp, not F.trim — which strips 0x20 only and would let
    a tab-padded repeat of an earlier paragraph escape the dedup)."""
    paras = F.filter(
        F.transform(
            F.split(text, r"\r?\n(?:[ \t]*\r?\n)+"),
            lambda p: F.regexp_replace(p, r"^\s+|\s+$", ""),
        ),
        lambda p: p != "",
    )
    return F.when(text.isNull(), F.lit(None).cast("string")).otherwise(
        F.concat_ws("\n\n", F.array_distinct(paras))
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_frequency: int = 2,
    min_line_chars: int = 10,
    broadcast_limit: int | None = 10_000_000,
) -> DataFrame:
    """Cross-document line-level dedup (the C4/CCNet boilerplate cut):
    drop every line whose TRIMMED form appears in more than
    `max_doc_frequency` distinct documents — navigation menus, cookie
    banners, footers — and reassemble each document with its surviving
    lines in original order.  Lines shorter than `min_line_chars` after
    trimming (blank lines, lone punctuation) are exempt: they are
    universal, not boilerplate.

    Returns df with `text_col` replaced.  NULL text stays NULL (split on
    NULL explodes to zero rows, so the rebuild misses the doc; the final
    select restores the NULL rather than normalizing it to '').  A
    non-NULL doc whose every line is blocked becomes the empty string.

    Scale shape: explode to (doc, pos, line_hash) — the only payload the
    frequency agg and semi-join ever shuffle is an 8-byte xxhash64, not
    the line text; the distinct-doc count is a two-level map-side-partial
    aggregate on the hash; the blocked-hash set (boilerplate is by
    definition a tiny fraction of distinct lines) broadcasts back as a
    left_anti join; one final groupBy(doc) rebuilds the text.  Total: two
    narrow shuffles keyed on line-hash + one keyed on doc id —
    proportional to corpus line count, no hot keys (a hash shared by
    millions of docs appears once per doc in the agg input but
    map-side-combines before the exchange).
    """
    lines = df.select(
        F.col(id_col).alias("__doc"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    ).withColumn("__t", F.trim(F.col("__line")))
    eligible = F.length("__t") >= min_line_chars
    hashed = lines.withColumn(
        "__h", F.when(eligible, F.xxhash64("__t")).otherwise(F.lit(None))
    )
    blocked = (
        hashed.filter(F.col("__h").isNotNull())
        .groupBy("__h")
        .agg(F.count_distinct("__doc").alias("__df"))
        .filter(F.col("__df") > max_doc_frequency)
        .select("__h")
    )
    # explicit broadcast: the scale argument above DEPENDS on the blocked
    # set broadcasting — without the hint a mis-estimated size (or a
    # lowered AQE threshold) would silently turn this into a full
    # sort-merge shuffle of every line hash in the corpus.  But the hint
    # bypasses AQE's size safety, so it is GATED on the actual count
    # (ADVICE r4): a pathological corpus (low max_doc_frequency on crawl
    # spam) can push the blocked set to tens of millions of hashes, and
    # hard-forcing that broadcast OOMs the driver instead of degrading to
    # a shuffle join.  The count rides the persisted blocked frame, so
    # the aggregation runs once; the handle is attached for release.
    handles = ()
    if broadcast_limit is not None:
        blocked = blocked.persist()
        handles = (blocked,)
        n_blocked = blocked.count()
        blocked_side = (
            F.broadcast(blocked) if n_blocked <= broadcast_limit else blocked
        )
    else:
        blocked_side = F.broadcast(blocked)
    kept = hashed.join(blocked_side, "__h", "left_anti")
    rebuilt = kept.groupBy("__doc").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias("__new_text")
    )
    others = [c for c in df.columns if c != text_col]
    out = (
        df.join(rebuilt, F.col(id_col) == F.col("__doc"), "left")
        .select(
            *others,
            F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
            .otherwise(F.coalesce("__new_text", F.lit("")))
            .alias(text_col),
        )
    )
    from tegallega_spark.session import attach_intermediates

    return attach_intermediates(out, *handles) if handles else out


def normalize_text_udf():
    """Arrow-vectorized corpus text normalization (the C4/CCNet prep
    stage): unicode NFC, control characters stripped (except \\t \\n),
    zero-width/BOM characters removed, CR/CRLF → LF, runs of spaces/tabs
    collapsed to one space, per-line trailing whitespace trimmed.

    NULL in → NULL out.  A pandas UDF because Spark SQL has no NFC
    builtin; one Arrow batch pass with a compiled regex chain — the same
    Python-when-unavoidable stance as the shingle kernels."""
    import re
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    ctrl = re.compile(
        "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f"  # C0/C1 minus tab/newline
        "\u200b\u200c\u200d\u2060\ufeff]"  # zero-width, word-joiner, BOM
    )
    runs = re.compile("[ \t]+")
    trail = re.compile("[ \t]+\n")

    def one(t: str | None) -> str | None:
        if t is None:
            return None
        t = unicodedata.normalize("NFC", t)
        t = t.replace("\r\n", "\n").replace("\r", "\n")
        t = ctrl.sub("", t)
        t = runs.sub(" ", t)
        t = trail.sub("\n", t)
        return t.strip()

    @pandas_udf("string")
    def normalize_text(texts: pd.Series) -> pd.Series:
        return texts.map(one, na_action="ignore")

    return normalize_text


# ---------------------------------------------------------------------------
# ExactSubstr-style duplicated-span dedup (Lee et al., "Deduplicating
# Training Data Makes Language Models Better", arXiv:2107.06499)
# ---------------------------------------------------------------------------

def _span_shingle_udf(k: int):
    """Arrow-vectorized text → ORDERED array of k-token shingle hashes
    (position = array index; empty for docs shorter than k tokens).

    Same design as dedup's shared shingle kernel: memoized 8-byte blake2b
    word hashes + one numpy positional-polynomial pass per doc (uint64
    multiply-add wraps mod 2^64).  A first version was a pure column
    expression — transform(sequence, slice+concat+xxhash64) — but HOF
    lambdas are interpreted AND re-evaluate the token subtree per window
    element, an O(tokens²) regex split per doc that measured 45× slower
    than DuckDB's linear pass at 2k docs; materializing the token array
    first made it linear but still interpreted.  This kernel is the same
    shape minhash banding uses (dedup.py:237-252) for the same reason.

    Tokenization matches the REBUILD path's `F.split(text, r'\\s+')`
    exactly: Java's \\s is ASCII-only, so the Python side splits on the
    same explicit class, not str.split()'s unicode whitespace.
    """
    import hashlib
    import re

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s, exactly
    rng = np.random.default_rng(0xD5FA)  # fixed stream — deterministic
    coef = (
        rng.integers(0, 2**62, size=k, dtype=np.uint64) << np.uint64(1)
    ) | np.uint64(1)
    cache: dict[str, int] = {}

    def _word_hash(w: str) -> int:
        h = cache.get(w)
        if h is None:
            if len(cache) > (1 << 21):  # bound worker memory
                cache.clear()
            h = int.from_bytes(
                hashlib.blake2b(w.encode(), digest_size=8).digest(), "big"
            )
            cache[w] = h
        return h

    @pandas_udf("array<long>")
    def span_shingles(texts: pd.Series) -> pd.Series:
        # Whole-batch vectorization: factorize every token of the batch to
        # small int codes (C speed), blake2b only the DISTINCT words, then
        # ONE sliding-window polynomial over the flat concatenated hash
        # array, masking windows that straddle a document boundary.  A
        # per-doc loop with a per-word dict lookup and .tolist() was 5-10×
        # slower (11M Python int objects per batch at 80k docs).
        per_doc = [
            [w for w in ws_re.split(t or "") if w] for t in texts
        ]
        lens = np.array([len(ws) for ws in per_doc], dtype=np.int64)
        flat_words = [w for ws in per_doc for w in ws]
        if not flat_words:
            return pd.Series([np.array([], dtype=np.int64)] * len(per_doc))
        codes, uniques = pd.factorize(np.asarray(flat_words, dtype=object))
        uh = np.fromiter(
            (_word_hash(w) for w in uniques), dtype=np.uint64, count=len(uniques)
        )
        flat = uh[codes]
        n = len(flat)
        if n < k:
            win_h = np.empty(0, dtype=np.uint64)
        else:
            win = np.lib.stride_tricks.sliding_window_view(flat, k)
            win_h = (win * coef).sum(axis=1, dtype=np.uint64)
        offs = np.concatenate([[0], np.cumsum(lens)])
        out = []
        for d in range(len(per_doc)):
            m = lens[d] - k + 1
            if m <= 0:
                out.append(np.array([], dtype=np.int64))
            else:
                s = offs[d]
                out.append(win_h[s : s + m].view("int64"))
        return pd.Series(out)

    return span_shingles


def _token_shingle_positions(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(doc, token position, hash of the k-token shingle starting there).
    Whitespace tokens; a doc shorter than k tokens emits nothing."""
    from tegallega_spark.operators.dedup import parallelize_for_udf

    sh = _span_shingle_udf(k)
    return parallelize_for_udf(df).select(
        F.col(id_col).alias("__doc"),
        F.posexplode(sh(F.col(text_col))).alias("__pos", "__h"),
    )


def _single_task_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    min_count: int,
    keep_first: bool,
) -> DataFrame:
    """One-job small-corpus profile for duplicated_spans (the pair-gen /
    cc.py small-input discipline): the SAME batch-vectorized shingle
    hashing (_span_shingle_udf's factorize + polynomial, identical coef
    stream and word hashes), corpus-wide window counts, keep-first
    arbitration and interval merge run inside a single executor task.
    Every quantity is an integer (hashes, counts, token positions), so
    the output is exactly the distributed result — no float boundary at
    all.  At bench scale the distributed shape schedules ~5 AQE stage
    jobs around one hash-keyed exchange; below the byte gate the whole
    shingle frame fits one task."""
    import hashlib
    import re

    import numpy as np
    import pyspark.sql.types as T

    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s, exactly
    rng = np.random.default_rng(0xD5FA)  # same stream as _span_shingle_udf
    coef = (
        rng.integers(0, 2**62, size=k, dtype=np.uint64) << np.uint64(1)
    ) | np.uint64(1)
    id_t = df.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField(id_col, id_t),
            T.StructField("start_tok", T.IntegerType()),
            T.StructField("end_tok", T.IntegerType()),
        ]
    )

    def fn(batches):
        import pandas as pd

        cache: dict[str, int] = {}

        def word_hash(w: str) -> int:
            h = cache.get(w)
            if h is None:
                h = int.from_bytes(
                    hashlib.blake2b(w.encode(), digest_size=8).digest(), "big"
                )
                cache[w] = h
            return h

        doc_ids: list = []
        doc_wins: list = []  # per row: uint64 window-hash array
        for pdf in batches:
            texts = pdf[text_col]
            per_doc = [[w for w in ws_re.split(t or "") if w] for t in texts]
            flat_words = [w for ws in per_doc for w in ws]
            if flat_words:
                codes, uniques = pd.factorize(
                    np.asarray(flat_words, dtype=object)
                )
                uh = np.fromiter(
                    (word_hash(w) for w in uniques),
                    dtype=np.uint64,
                    count=len(uniques),
                )
                flat = uh[codes]
            else:
                flat = np.empty(0, dtype=np.uint64)
            if len(flat) >= k:
                win = np.lib.stride_tricks.sliding_window_view(flat, k)
                win_h = (win * coef).sum(axis=1, dtype=np.uint64)
            else:
                win_h = np.empty(0, dtype=np.uint64)
            off = 0
            for i, ws in zip(pdf[id_col].tolist(), per_doc):
                m = len(ws) - k + 1
                doc_ids.append(i)
                doc_wins.append(
                    win_h[off : off + m] if m > 0 else np.empty(0, np.uint64)
                )
                off += len(ws)
        if not doc_ids:
            return
        all_h = np.concatenate(doc_wins) if doc_wins else np.empty(0, np.uint64)
        if len(all_h) == 0:
            return
        # Vectorized tail (r14 — on the 4× bench corpus 98% of positions
        # are duplicated, so the per-position Python loops below were
        # ~0.5 s and np.unique's inverse+counts another 0.5 s): ONE
        # argsort groups equal hashes; duplication flags scatter back to
        # flat positions; the keep-first arbitration and the interval
        # merge run as grouped numpy scans.  Every quantity is the same
        # integer the loops produced (np.array_equal-pinned by the
        # single-task-vs-distributed parity tests).
        o = np.argsort(all_h, kind="stable")
        h_sorted = all_h[o]
        grp_start = np.concatenate([[True], h_sorted[1:] != h_sorted[:-1]])
        gid_sorted = np.cumsum(grp_start) - 1
        counts = np.bincount(gid_sorted)
        dup_sorted = counts[gid_sorted] >= min_count
        dup_mask_flat = np.empty(len(all_h), dtype=bool)
        dup_mask_flat[o] = dup_sorted
        dup_pos = np.flatnonzero(dup_mask_flat)
        if len(dup_pos) == 0:
            return
        # flat position -> (id code, local token position); code order ==
        # id order (sorted uniques) so (doc, pos) comparisons and the
        # merge grouping behave identically for any comparable id type
        lens_w = np.fromiter(
            (len(w) for w in doc_wins), dtype=np.int64, count=len(doc_wins)
        )
        offs = np.concatenate([[0], np.cumsum(lens_w)])
        ids_arr = np.asarray(doc_ids, dtype=object)
        uniq_ids = np.unique(ids_arr)
        codes_row = np.searchsorted(uniq_ids, ids_arr)
        row_of = np.searchsorted(offs, dup_pos, side="right") - 1
        code_of = codes_row[row_of]
        local = dup_pos - offs[row_of]
        if keep_first:
            # exempt each duplicated hash's min (doc, pos) occurrence —
            # ALL copies of that exact (doc, pos), as the dict-equality
            # form did for duplicate-id rows
            g = np.empty(len(all_h), dtype=np.int64)
            g[o] = gid_sorted
            gd = g[dup_pos]
            o2 = np.lexsort((local, code_of, gd))
            gs, cs, ls = gd[o2], code_of[o2], local[o2]
            first_in_g = np.concatenate([[True], gs[1:] != gs[:-1]])
            grp_no = np.cumsum(first_in_g) - 1
            idx_first = np.flatnonzero(first_in_g)
            exempt = (cs == cs[idx_first][grp_no]) & (ls == ls[idx_first][grp_no])
            code_l, local_l = cs[~exempt], ls[~exempt]
        else:
            code_l, local_l = code_of, local
        if len(code_l) == 0:
            return
        # interval merge, grouped by id code: with starts sorted, ends
        # (s + k) are monotone too, so a new span begins exactly when the
        # start exceeds the previous window's end — the same running-max
        # rule the per-doc loop applied
        o3 = np.lexsort((local_l, code_l))
        c_s, p_s = code_l[o3], local_l[o3]
        brk = np.concatenate(
            [[True], (c_s[1:] != c_s[:-1]) | (p_s[1:] > p_s[:-1] + k)]
        )
        span_first = np.flatnonzero(brk)
        span_last = np.concatenate([span_first[1:] - 1, [len(p_s) - 1]])
        yield pd.DataFrame(
            {
                id_col: uniq_ids[c_s[span_first]],
                "start_tok": p_s[span_first].astype(np.int32),
                "end_tok": (p_s[span_last] + k).astype(np.int32),
            }
        )

    return df.select(id_col, text_col).coalesce(1).mapInPandas(fn, schema)


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
    keep_first: bool = False,
    single_task: bool | None = None,
) -> DataFrame:
    """Maximal duplicated token spans per document: every span of ≥ k
    whitespace tokens whose every k-token window occurs ≥ `min_count`
    times across the whole corpus (the paper's suffix-array query,
    re-expressed at shingle resolution: a duplicated substring of length
    ≥ k contains only duplicated k-windows, so merging the overlapping
    duplicated windows reconstructs the maximal span; spans shorter than
    k are below the operator's resolution and not reported).

    `keep_first=True` exempts each duplicated window's globally FIRST
    occurrence — min (doc, pos) struct order — from the result (the
    ExactSubstr keep-one arbitration): the first document containing a
    boilerplate block reports no span for it, every later occurrence
    does.

    Returns (id_col, start_tok, end_tok) with end exclusive, in token
    coordinates of the whitespace tokenization.

    Scale shape: shingle hashing is ONE Arrow pass over the corpus
    (memoized word hashes + a numpy polynomial, _span_shingle_udf); then
    ONE wide exchange of (doc, pos, 8-byte hash) keyed on the hash, over
    which the occurrence count — and, for keep_first, the min-(doc,pos)
    arbitration — are window aggregates sharing the same partition spec
    (one sort, both computed in a single WindowExec).  An earlier
    formulation persisted the shingle frame and ran groupBy-count + a
    semi-join back — two wide shuffles of the same rows plus cache
    memory; on mostly-singleton window hashes (the measured common case:
    a crawl's duplicated fraction is small) the map-side combine bought
    nothing, and the stress race showed the extra exchange bending the
    scale curve below DuckDB at 80k docs.  No broadcast anywhere — the
    duplicated set can be a large fraction of a crawl corpus.  The
    interval merge is the classic running-max window per doc, JVM-side.
    Nothing persists, so there is nothing for callers to release.

    single_task: None (default) auto-gates — a small scan-rooted input
    (session.small_scan_input) runs the whole computation in one executor
    task (_single_task_duplicated_spans, one job — every quantity here is
    an integer, so the result is exactly the distributed one); True/False
    force the shape (tests pin both).
    """
    if single_task is None:
        from tegallega_spark.session import small_scan_input

        single_task = small_scan_input(df)
    if single_task:
        return _single_task_duplicated_spans(
            df, id_col, text_col, k, min_count, keep_first
        )
    sh = _token_shingle_positions(df, id_col, text_col, k)
    # Size the wide exchange for the sort-based WindowExec behind it from
    # the INPUT size, not the core count: the shingle frame carries ~one
    # row per corpus token (~64× the compressed text bytes — 320k docs /
    # 16 MB parquet measured 45 M rows / 1.1 GB shuffled), and the per-
    # partition sort wants smaller partitions than a scan-agg (~16 MB:
    # 96 partitions beat 32 at that scale, 36 s vs 53 s).  When the
    # derived width does not exceed the session's parallelism the fixed
    # width is pure task overhead — repartition WITHOUT an explicit
    # number instead, which stays AQE-coalescible (a numbered user
    # repartition is exempt from coalescing): measured 1.63 s → 0.65 s
    # at sf0.1 where the whole shingle frame is ~6 MB.
    from tegallega_spark.session import plan_size_bytes

    spark = df.sparkSession
    est_shuffle_bytes = plan_size_bytes(df) * 64
    n_parts = est_shuffle_bytes // (16 << 20) + 1
    if spark.sparkContext.defaultParallelism < n_parts <= (1 << 17):
        # derived width is credible and exceeds the session's parallelism
        sh = sh.repartition(int(n_parts), "__h")
    else:
        # small input, or a conservative-huge analyzer estimate (join-
        # derived inputs multiply their sides; some plans report
        # Long.Max): inherit the admin-set shuffle width, AQE-coalescible
        sh = sh.repartition("__h")
    w = Window.partitionBy("__h")
    counted = sh.withColumn("__n", F.count("*").over(w))
    cond = F.col("__n") >= min_count
    if keep_first:
        first = F.min(F.struct("__doc", "__pos")).over(w)
        counted = counted.withColumn("__c", first)
        cond = cond & (
            (F.col("__doc") != F.col("__c.__doc"))
            | (F.col("__pos") != F.col("__c.__pos"))
        )
    hits = counted.filter(cond).select(
        "__doc", F.col("__pos").alias("__start"), (F.col("__pos") + k).alias("__end")
    )
    return _merge_window_hits(hits, id_col)


def _merge_window_hits(hits: DataFrame, id_col: str) -> DataFrame:
    """(__doc, __start, __end) windows → maximal merged spans per doc.
    Interval merge via the classic running-max window: a window starts a
    new span iff it begins after the running max end of all earlier
    windows (ordered by start, ties by end)."""
    w = Window.partitionBy("__doc").orderBy("__start", "__end")
    prev_max_end = F.max("__end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "__new", F.when(
            prev_max_end.isNull() | (F.col("__start") > prev_max_end), 1
        ).otherwise(0)
    ).withColumn(
        "__span", F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    )
    return (
        flagged.groupBy("__doc", "__span")
        .agg(F.min("__start").alias("start_tok"), F.max("__end").alias("end_tok"))
        .select(F.col("__doc").alias(id_col), "start_tok", "end_tok")
    )


def _span_cut_udf():
    """Arrow-vectorized (text, merged token spans) → text with the spans
    cut out, BYTE-EXACT outside the cuts: the surviving text is sliced
    from the original string, so tabs, newlines, and multi-space runs
    outside any span survive untouched (nearer byte-exact ExactSubstr
    than the earlier token-rejoin rebuild, which normalized all
    whitespace to single spaces).

    Cut geometry per span [start_tok, end_tok): from the first token's
    first char THROUGH the whitespace separating the span from the next
    token (so exactly one separator survives between the span's
    neighbours); a span reaching the end of the document instead consumes
    the whitespace PRECEDING it (no dangling trailing separator).
    Leading/trailing whitespace of the document is outside every token
    and therefore preserved — a fully-duplicated doc with no surrounding
    whitespace becomes the empty string.

    Token char offsets come from the same ASCII-whitespace class the
    shingle kernel splits on, so token coordinates agree exactly."""
    import re

    from pyspark.sql.functions import pandas_udf

    tok_re = re.compile(r"[^ \t\n\x0b\f\r]+")  # complement of Java \s

    @pandas_udf("string")
    def cut_spans(texts: pd.Series, spans: pd.Series) -> pd.Series:
        out: list[str | None] = []
        for t, sp in zip(texts, spans):
            if t is None:
                out.append(None)
                continue
            if sp is None or len(sp) == 0:
                out.append(t)
                continue
            toks = [(m.start(), m.end()) for m in tok_re.finditer(t)]
            n = len(toks)
            pieces, cur = [], 0
            for span in sp:
                st, en = int(span["start_tok"]), int(span["end_tok"])
                cs = toks[st][0]
                if en < n:
                    ce = toks[en][0]
                else:
                    ce = toks[n - 1][1]
                    if st > 0:
                        cs = toks[st - 1][1]
                pieces.append(t[cur:cs])
                cur = max(cur, ce)
            pieces.append(t[cur:])
            out.append("".join(pieces))
        return pd.Series(out, dtype=object)

    return cut_spans


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
    keep_first: bool = False,
) -> DataFrame:
    """Drop duplicated spans (per duplicated_spans) and rebuild the text,
    byte-identical outside the cut spans.

    keep_first=False (default): drop ALL occurrences once a span crosses
    the `min_count` threshold — the C4 stance, mirroring
    remove_boilerplate_lines.

    keep_first=True: the paper's all-but-one removal (ExactSubstr keeps
    one copy of every duplicated substring): each duplicated k-window's
    globally FIRST occurrence — min (doc id, position) — is exempt, so
    the first document containing a boilerplate block keeps it and every
    later occurrence is cut.  The arbitration is fused into the same
    window pass as the occurrence count (duplicated_spans) — no extra
    shuffle.

    NULL text stays NULL; a fully duplicated doc becomes the empty
    string (plus any surrounding whitespace, which is outside every
    token and therefore preserved — see _span_cut_udf).

    Scale shape: the span frame (one row per maximal duplicated span —
    by construction a small fraction of the corpus) aggregates to one
    sorted span-array row per AFFECTED doc, left-joins back to the
    corpus keyed on the id, and ONE Arrow pass slices the text.  The
    earlier rebuild exploded every token of every document through an
    anti-join and a collect_list — two corpus-sized token shuffles that
    this formulation replaces with one doc-keyed join of a small frame.
    Nothing persists, so there is nothing for callers to release."""
    spans = duplicated_spans(df, id_col, text_col, k, min_count, keep_first)
    per_doc = spans.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("start_tok", "end_tok"))).alias("__spans")
    ).withColumnRenamed(id_col, "__doc")
    cut = _span_cut_udf()
    others = [c for c in df.columns if c != text_col]
    return (
        df.join(per_doc, F.col(id_col) == F.col("__doc"), "left")
        .select(*others, cut(F.col(text_col), F.col("__spans")).alias(text_col))
    )
