"""Byte-pair-encoding tokenizer: distributed training + Arrow encoding.

Method (public literature: Sennrich, Haddow & Birch, "Neural Machine
Translation of Rare Words with Subword Units", arXiv:1508.07909; the
greedy rank-ordered encoder is the one popularized by GPT-2's public
`bpe()` reference code): start from characters, repeatedly merge the
most frequent adjacent symbol pair; encoding replays merges by rank.

Scale shape (the 100 TB argument): BPE training has exactly ONE
corpus-size-dependent stage — counting distinct words — and that stage
is a map-side-combinable groupBy on the word string (explode →
count(*)), the cheapest shuffle Spark knows.  Everything after operates
on the distinct-word frequency table, whose size is bounded by the
LANGUAGE (Heaps' law: ~millions of types for billions of tokens), not
the corpus; `MIN_COUNT` prunes the long tail (hapax words cannot win a
merge against real pairs anyway) and bounds driver memory explicitly.
The merge loop itself is inherently sequential (merge i+1's counts
depend on merge i) so it runs on the driver over that bounded table
with incremental pair-count updates — distributing 30k sequential
barriers as 30k Spark jobs would be strictly slower at every scale.
Encoding is embarrassingly parallel: an Arrow-batched pandas UDF with a
per-worker LRU over distinct words (words repeat; the cache turns
per-token work into per-TYPE work).

No reference parity: the reference engine has no tokenizer; this is
part of the training-data tier the brief asks for beyond it.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from functools import lru_cache

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

__all__ = ["word_counts", "train_bpe", "bpe_encode_udf", "bpe_word"]

# Words seen fewer times are not trained on: a hapax cannot win a merge.
MIN_COUNT = 2
# Driver-memory bound on the distinct words the merge loop holds.
MAX_VOCAB_WORDS = 1_000_000
# Per-worker LRU entries of the encoder (distinct words).
_CACHE_WORDS = 2**16


def word_counts(df: DataFrame) -> DataFrame:
    """(word, count) over the whitespace tokens of `text`, for words seen
    at least MIN_COUNT times — the only stage whose cost grows with the
    corpus.  Two-level hash aggregate: partial counts combine map-side
    before the single exchange on the word string."""
    return (
        df.select(F.explode(F.split(F.col("text"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("count"))
        .filter(F.col("count") >= MIN_COUNT)
    )


def train_bpe(df: DataFrame, num_merges: int = 1000) -> list[tuple[str, str]]:
    """Learn `num_merges` BPE merges from the corpus's `text`.  Returns
    the ordered merge list [(left, right), ...] — rank = position.

    The distributed part ends at the word-frequency table; if more than
    MAX_VOCAB_WORDS distinct words survive MIN_COUNT, the most frequent
    MAX_VOCAB_WORDS are kept (an explicit driver-memory bound; rare
    types contribute negligible pair mass).  Ties in pair frequency
    break lexicographically, so training is deterministic."""
    rows = (
        word_counts(df).orderBy(F.desc("count"), "word")
        .limit(MAX_VOCAB_WORDS).collect()
    )
    vocab = [([*r["word"]], int(r["count"])) for r in rows]
    return _merge_loop(vocab, num_merges)


def _merge_loop(
    vocab: list[tuple[list[str], int]], num_merges: int
) -> list[tuple[str, str]]:
    """Driver-side greedy merge loop with incremental pair-count updates:
    each step touches only the words that CONTAIN the winning pair
    (inverted index pair → word ids), subtracting their old pair
    contributions and adding the re-merged ones — the standard
    learn-time optimization over naive full recounts."""
    pair_counts: Counter = Counter()
    where: defaultdict = defaultdict(set)  # pair -> word ids containing it

    def add_word(wid: int, sign: int) -> None:
        syms, freq = vocab[wid]
        for a, b in zip(syms, syms[1:]):
            pair_counts[(a, b)] += sign * freq
            if sign > 0:
                where[(a, b)].add(wid)
            else:
                where[(a, b)].discard(wid)

    for wid in range(len(vocab)):
        add_word(wid, +1)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        best = None
        for pair, c in pair_counts.items():
            if c <= 0:
                continue
            if best is None or (c, pair) > (best_c, best):  # noqa: F821
                best, best_c = pair, c  # noqa: F841
        if best is None:
            break
        # deterministic winner: max count, lexicographically-greatest pair
        # on ties (any fixed rule works; this one needs no second pass)
        merges.append(best)
        joined = best[0] + best[1]
        for wid in list(where[best]):
            add_word(wid, -1)
            syms = vocab[wid][0]
            i, out = 0, []
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == best[0] and syms[i + 1] == best[1]:
                    out.append(joined)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[wid] = (out, vocab[wid][1])
            add_word(wid, +1)
        del pair_counts[best], where[best]
    return merges


def bpe_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Encode ONE word: repeatedly merge the present pair with the lowest
    training rank (the public GPT-2 reference algorithm)."""
    syms = [*word]
    while len(syms) > 1:
        pairs = {(a, b) for a, b in zip(syms, syms[1:])}
        cand = min(
            (p for p in pairs if p in ranks), key=ranks.get, default=None
        )
        if cand is None:
            break
        a, b = cand
        i, out = 0, []
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_encode_udf(merges: list[tuple[str, str]]):
    """Arrow-vectorized text → array<string> of BPE tokens.  The merge
    table is closure-captured (broadcast with the serialized UDF — small:
    num_merges entries); per-word results are LRU-cached per worker, so
    repeated types cost a dict hit, not a re-merge.  NULL → NULL."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def encode(texts: pd.Series) -> pd.Series:
        @lru_cache(maxsize=_CACHE_WORDS)
        def one_word(w: str) -> tuple[str, ...]:
            return tuple(bpe_word(w, ranks))

        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks: list[str] = []
            for w in t.split():
                toks.extend(one_word(w))
            out.append(toks)
        return pd.Series(out)

    return encode
