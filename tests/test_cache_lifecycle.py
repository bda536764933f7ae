"""Cache-lifecycle leak test (r3 verdict #8): every persist()-using
operator must leave the session's persistent-RDD registry exactly as it
found it once release_intermediates runs — in a long-lived session an
un-released intermediate accumulates until LRU pressure evicts working
cache instead.

The assertion is delta-based (registry returns to its pre-call state),
so the test is robust to caches other session-scoped tests created."""

from __future__ import annotations

import numpy as np
import pytest

import pyspark.sql.functions as F

from tegallega_spark.session import load_table, release_intermediates
from tests.conftest import SF_SMOKE


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _docs(spark):
    return load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").limit(200)


def _emb(spark):
    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.standard_normal(8)]) for i in range(150)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


OPERATORS = {
    "minhash": lambda spark: __import__(
        "tegallega_spark.operators.dedup", fromlist=["x"]
    ).minhash_near_duplicates_verified(_docs(spark), "doc_id", "text"),
    "simhash": lambda spark: __import__(
        "tegallega_spark.operators.dedup", fromlist=["x"]
    ).simhash_near_duplicates_verified(_docs(spark), "doc_id", "text"),
    "semdedup_pairs": lambda spark: __import__(
        "tegallega_spark.operators.semdedup", fromlist=["x"]
    ).semantic_pairs(_emb(spark), min_cosine=0.9),  # 4 cells, see the test
    "similarity_lsh": lambda spark: __import__(
        "tegallega_spark.operators.similarity", fromlist=["x"]
    ).all_pairs_above(_emb(spark), min_cosine=0.9),
    # the default dedup strategy ('exact')
    "clean_corpus_auto": lambda spark: __import__(
        "tegallega_spark.pipeline.corpus", fromlist=["x"]
    ).clean_corpus(
        _docs(spark).withColumn("lang", F.lit("en")),
        min_quality=0.0, max_dup_ngram_frac=1.0,
    ),
    # explicit strategy: the corpus persist is unconditional, so the
    # release path must free it here too
    "clean_corpus_exact": lambda spark: __import__(
        "tegallega_spark.pipeline.corpus", fromlist=["x"]
    ).clean_corpus(
        _docs(spark).withColumn("lang", F.lit("en")),
        min_quality=0.0, max_dup_ngram_frac=1.0,
        dedup_strategy="exact",
    ),
    # NOTE the two _docs() calls return different objects, so this is
    # CROSS-scoring (distributed regardless); the forced distributed
    # training makes the persist contract explicit rather than incidental
    "ngram_lm_score": lambda spark: __import__(
        "tegallega_spark.operators.ngram_lm", fromlist=["x"]
    ).perplexity_score(
        _docs(spark),
        __import__(
            "tegallega_spark.operators.ngram_lm", fromlist=["x"]
        ).train_bigram_lm(_docs(spark)),
    ),
    # the quality-gated pipeline (the Gopher rules)
    "clean_corpus_lm_gate": lambda spark: __import__(
        "tegallega_spark.pipeline.corpus", fromlist=["x"]
    ).clean_corpus(
        _docs(spark).withColumn("lang", F.lit("en")),
        min_quality=0.0, max_dup_ngram_frac=1.0,
        gopher_rules=True,
    ),
}


def test_span_dedup_persists_nothing(spark):
    """The r5 single-exchange span-dedup formulation needs no persist at
    all (the shingle frame has exactly one consumer) — the persistent-RDD
    registry must be untouched with NO release call."""
    from tegallega_spark.operators.textual import remove_duplicate_spans

    spark.catalog.clearCache()
    before = _persistent_ids(spark)
    out = remove_duplicate_spans(_docs(spark), k=5, min_count=2)
    out.collect()
    assert _persistent_ids(spark) - before == set()
    assert not getattr(out, "_tegallega_persisted", [])


# the small-input profile of these persists nothing — audit the
# DISTRIBUTED shape's persist-release contract
DISTRIBUTED = {"minhash", "ngram_lm_score"}


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_release_restores_persistent_rdd_registry(spark, name, force_shape, monkeypatch):
    if name in DISTRIBUTED:
        force_shape("distributed")
    if name == "semdedup_pairs":  # 150 rows at 38 per cell: 4 cells
        from tegallega_spark.operators import semdedup

        monkeypatch.setattr(semdedup, "TARGET_CELL_SIZE", 38)
    spark.catalog.clearCache()
    before = _persistent_ids(spark)
    out = OPERATORS[name](spark)
    out.collect()  # the consuming action — caches materialize
    handles = getattr(out, "_tegallega_persisted", [])
    assert handles, f"{name} attached no release handles"
    leaked_mid = _persistent_ids(spark) - before
    assert leaked_mid, f"{name} never actually persisted anything"
    release_intermediates(out, blocking=True)
    after = _persistent_ids(spark)
    assert after - before == set(), (
        f"{name} leaked persistent RDDs {after - before} after release"
    )
