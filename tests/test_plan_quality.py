"""Physical-plan assertions: the properties that decide whether a query
survives a 100× scale-up (BASELINE.json design constraint).

These intentionally pin plan SHAPE, not timings:
- filters/projections reach the parquet scan (PushedFilters / ReadSchema),
- small dimensions broadcast (no shuffle of the fact table),
- aggregations have a map-side partial phase,
- global top-k is TakeOrderedAndProject, not a global sort,
- windows are partitioned (no single-partition Exchange in the hot path).
"""

from __future__ import annotations

import contextlib
import io

from tegallega_spark.queries import SPARK_QUERIES
from tests.conftest import SF_SMOKE


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_filter_and_projection_pushdown(spark):
    df = SPARK_QUERIES["q02_filter_topk"](spark, SF_SMOKE)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_discount" in plan or "IsNotNull(l_discount)" in plan
    # column pruning: the 11-column table is read as exactly the 5 needed
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    for col in ("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_quantity"):
        assert col in read_schema
    assert "l_shipdate" not in read_schema and "l_partkey" not in read_schema


def test_star_join_broadcasts_dims(spark):
    plan = plan_of(SPARK_QUERIES["q05_region_revenue"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    # orders (the fact side) must not be exchanged for the dim joins:
    # the only allowed shuffle is the final group-by aggregate
    assert plan.count("Exchange hashpartitioning") <= 2


def test_range_join_is_broadcast_nested_loop(spark):
    plan = plan_of(SPARK_QUERIES["q44_range_join"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan


def test_aggregate_has_partial_phase(spark):
    plan = plan_of(SPARK_QUERIES["q01_pricing_summary"](spark, SF_SMOKE), "simple")
    # two HashAggregates = partial (map-side) + final; one Exchange between
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_topk_avoids_global_sort(spark):
    plan = plan_of(SPARK_QUERIES["q02_filter_topk"](spark, SF_SMOKE), "simple")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no full sort stage


def test_windows_are_partitioned(spark):
    plan = plan_of(SPARK_QUERIES["q16_cumsum_offsets"](spark, SF_SMOKE), "simple")
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_semi_and_anti_join_operators(spark):
    assert "LeftSemi" in plan_of(SPARK_QUERIES["q06_semi_join"](spark, SF_SMOKE), "simple")
    assert "LeftAnti" in plan_of(SPARK_QUERIES["q07_anti_join"](spark, SF_SMOKE), "simple")


def test_whole_stage_codegen_covers_scan_agg(spark):
    # AQE hides codegen markers from 'formatted' pre-execution; the codegen
    # explain mode reports the compiled subtrees directly
    plan = plan_of(SPARK_QUERIES["q01_pricing_summary"](spark, SF_SMOKE), "codegen")
    assert "WholeStageCodegen" in plan


def test_extract_chain_plan_shape(spark):
    """The extract chain (stitch → double project_onto_segments → thinning)
    must stay cartesian-free and key-partitioned: every join in the chain is
    an equi-join on relation_id, and the stateful folds are per-key
    applyInPandas — no SinglePartition exchange anywhere (VERDICT r1 #8)."""
    from tests.test_extract import fake_fetch

    from tegallega_spark.pipeline.extract import extract_route

    stitched, stops = extract_route(spark, "900", mode="angkot", fetch_fn=fake_fetch)
    for df in (stitched, stops):
        plan = plan_of(df, "simple")
        assert "CartesianProduct" not in plan
        assert "SinglePartition" not in plan


def test_gtfs_argmin_join_no_cartesian(spark):
    """The stop→shape argmin is an equi-join on relation_id + min_by, never
    a cartesian product (SURVEY §4.2 watch-out)."""
    from tegallega_spark.pipeline.gtfs_build import build_gtfs

    tables = build_gtfs(spark, "/root/reference")
    plan = plan_of(tables["stop_times"], "simple")
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_blocklist(spark):
    """q25: the benchmark blocklist side must broadcast — the corpus never
    shuffles for the contamination join at 100 TB."""
    plan = plan_of(SPARK_QUERIES["q25_decontaminate"](spark, SF_SMOKE), "simple")
    assert "BroadcastHashJoin" in plan


def test_stratified_sample_is_pure_scan_filter(spark):
    """q29: deterministic sampling must plan as scan+filter — no Exchange,
    no sort, no RNG; sampling 100 TB costs one scan."""
    plan = plan_of(SPARK_QUERIES["q29_stratified_sample"](spark, SF_SMOKE), "simple")
    assert "Exchange" not in plan
    assert "Sort" not in plan


def test_sequence_packing_window_is_sharded(spark):
    """q17: the packing cumsum must be partitioned by shard — a global
    (SinglePartition) window would serialize the 100 TB layout pass."""
    plan = plan_of(SPARK_QUERIES["q17_sequence_packing"](spark, SF_SMOKE), "simple")
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_pq_topk_uses_take_ordered(spark):
    """The ADC scan must end in TakeOrderedAndProject — a global sort of
    scored codes would be the classic 100 TB top-k mistake."""
    from tegallega_spark.operators.pq import encode_pq, pq_topk, train_pq_codebooks
    from tegallega_spark.session import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    cb = train_pq_codebooks(emb, m=8, k=16)
    enc = encode_pq(emb, cb)
    q = emb.first().embedding
    plan = plan_of(pq_topk(enc, cb, q, k=5), "simple")
    assert "TakeOrderedAndProject" in plan


def test_pq_adc_scan_reads_codes_only(spark, tmp_path):
    """The whole point of PQ at 100 TB: the ADC pass reads m-byte codes,
    never the raw d-float vectors.  Pin it via ReadSchema on a materialized
    encoded table; with re-rank the raw vectors may appear only in the
    separate broadcast-join branch over the candidate ids."""
    from tegallega_spark.operators.pq import encode_pq, pq_topk, train_pq_codebooks
    from tegallega_spark.session import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    cb = train_pq_codebooks(emb, m=8, k=16)
    path = str(tmp_path / "pq_encoded")
    encode_pq(emb, cb).write.parquet(path)
    enc = spark.read.parquet(path)
    q = emb.first().embedding

    # Pure ADC top-k: NO scan may read the embedding column.
    plan = plan_of(pq_topk(enc, cb, q, k=5), "formatted")
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas and all("embedding" not in ln for ln in schemas)

    # Re-rank path: the ADC branch stays codes-only; embeddings are read
    # by a second pruned scan joined via broadcast of <=rerank ids.
    plan = plan_of(pq_topk(enc, cb, q, k=5, rerank=50), "formatted")
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert any("pq_code" in ln and "embedding" not in ln for ln in schemas)
    assert any("embedding" in ln and "pq_code" not in ln for ln in schemas)
    assert "BroadcastExchange" in plan


def test_shuffled_shards_plan_is_one_hash_exchange(spark):
    """Training export must be exactly one hash exchange on the
    deterministic shard column + in-partition sort — no sampled range
    exchange (layout-dependent boundaries), no single-partition sort."""
    from tegallega_spark.operators.export import shuffled_shards
    from tegallega_spark.session import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id")
    plan = plan_of(shuffled_shards(docs, "doc_id", 8), "simple")
    assert plan.lower().count("exchange") == 1
    assert "hashpartitioning(__shard" in plan
    assert "rangepartitioning" not in plan.lower()
    assert "SinglePartition" not in plan


def test_boilerplate_line_dedup_shuffles_hashes_not_text(spark):
    """The frequency agg and the blocked-set join must key on the 8-byte
    line hash; the only plan node allowed to carry the line TEXT through
    an exchange is the final per-doc rebuild."""
    import pyspark.sql.functions as F

    from tegallega_spark.operators.textual import remove_boilerplate_lines
    from tegallega_spark.session import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    plan = plan_of(remove_boilerplate_lines(docs))
    # frequency aggregate is two-phase (map-side partial on __h)
    assert "partial_count" in plan or plan.count("HashAggregate") >= 2
    # the blocked set comes back as a broadcast or shuffled-hash semi/anti —
    # never a nested loop over the corpus
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_boilerplate_anti_join_is_broadcast(spark):
    """The blocked-hash set must BROADCAST back for the anti join — a
    SortMergeJoin on __h would shuffle every line hash in a 100 TB corpus.
    Pinned (not left to AQE estimation) because the operator's scale
    contract depends on it."""
    from tegallega_spark.operators.textual import remove_boilerplate_lines
    from tegallega_spark.session import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    plan = plan_of(remove_boilerplate_lines(docs), "simple")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    anti_lines = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti_lines and all("BroadcastHashJoin" in ln for ln in anti_lines)
    assert "SortMergeJoin" not in plan


def test_duplicated_spans_plan_shape(spark):
    """ExactSubstr-style span detection: shingle hashing is ONE
    Arrow-batched pass (never row-at-a-time Python, never evaluated
    twice — the single-exchange window formulation replaced the old
    persist + groupBy + join-back, so no cache appears either), the
    count/arbitration and interval-merge windows partitioned by hash/doc
    (never SinglePartition), no cartesian join."""
    from tegallega_spark.operators.textual import duplicated_spans
    from tegallega_spark.session import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    for kf in (False, True):
        # single_task=False: audit the DISTRIBUTED (scale) shape — the
        # r13 auto gate would take the one-task profile at this size
        plan = plan_of(
            duplicated_spans(docs, keep_first=kf, single_task=False), "simple"
        )
        assert "Window" in plan
        assert "SinglePartition" not in plan
        assert "CartesianProduct" not in plan
        assert plan.count("ArrowEvalPython") == 1  # the one shingle pass
        assert "BatchEvalPython" not in plan  # no row-at-a-time Python
        assert "InMemoryTableScan" not in plan  # nothing persists
        # keep_first's min-(doc,pos) arbitration must FUSE into the same
        # exchange as the occurrence count — exactly one hash-keyed
        # exchange feeding the window stage, not a second shuffle
        assert plan.count("Exchange hashpartitioning(__h") == 1
        # and the gated single-task shape: one MapInPandas, no exchange
        st = plan_of(
            duplicated_spans(docs, keep_first=kf, single_task=True), "simple"
        )
        assert "MapInPandas" in st
        assert "Exchange" not in st


def test_semantic_dedup_no_cartesian_and_bounded_exchanges(spark):
    """Within-cluster pair search must be an equi-join on the cluster id —
    a cartesian / nested loop would mean the blocking key got lost."""
    import numpy as np

    from tegallega_spark.operators.semdedup import semantic_pairs

    rng = np.random.default_rng(0)
    rows = [
        (i, [float(x) for x in rng.standard_normal(8)]) for i in range(64)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    plan = plan_of(semantic_pairs(df, k_clusters=4, min_cosine=0.9))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_segment_snap_broadcasts_polyline(spark):
    """q60/q66 family: the points x segments join must broadcast the
    polyline side (vertices are city-scale — thousands — while points are
    the 100 TB side) and never degrade to a cartesian product."""
    plan = plan_of(SPARK_QUERIES["q60_segment_snap"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # the argmin is a map-side-combinable min-over-struct aggregate
    assert "partial_min" in plan


def test_line_slice_no_cartesian_bounded_exchanges(spark):
    """Slicing N (start, stop, line) triples stays equi-join-shaped: no
    cartesian product anywhere, and the whole three-way union needs only a
    bounded number of exchanges (projection argmin + the two end joins)."""
    plan = plan_of(SPARK_QUERIES["q66_line_slice"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 8


def test_mixture_sample_is_scan_filter(spark):
    """q63: with the per-stratum rates resolved, the mixture is a pure
    scan-side filter — one scan of documents, zero exchanges."""
    plan = plan_of(SPARK_QUERIES["q63_mixture_sample"](spark, SF_SMOKE))
    assert "Exchange" not in plan
    assert "Scan parquet" in plan or "BatchScan" in plan


def test_clean_corpus_output_reads_cached_corpus(spark):
    """r6: the post-filter corpus persists for EVERY dedup strategy — the
    final output plan must read it as an InMemoryTableScan instead of
    re-executing the text-rewrite upstream (normalize → line/span cut →
    gates), which the composed e2e race measured at ~2× the whole run's
    wall-clock when a strategy was passed explicitly."""
    import pyspark.sql.functions as F

    from tegallega_spark.pipeline.corpus import clean_corpus
    from tegallega_spark.session import load_table, release_intermediates

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .limit(200)
        .withColumn("lang", F.lit("en"))
    )
    out = clean_corpus(
        docs, min_quality=0.0, max_dup_ngram_frac=1.0, dedup_strategy="exact"
    )
    try:
        plan = plan_of(out, "simple")
        assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
    finally:
        release_intermediates(out)


def test_aqe_gate_fires_small_restores_and_ignores_large(spark, monkeypatch):
    """session.aqe_off_for_small_input: flips adaptive off only inside the
    `with` body and only when Catalyst's analyzed-plan size estimate is
    under the threshold; restores the prior setting on normal exit AND on
    exception; is a no-op when the estimate clears the threshold (the
    100 TB case — the gate must never fire on real inputs)."""
    import pytest

    from tegallega_spark.session import aqe_off_for_small_input, plan_size_bytes

    key = "spark.sql.adaptive.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        small = spark.range(10).toDF("n")
        assert 0 < plan_size_bytes(small) < 1 << 20

        with aqe_off_for_small_input(small):
            assert spark.conf.get(key) == "false"
        assert spark.conf.get(key) == "true"

        # threshold below the estimate -> gate must not fire
        with monkeypatch.context() as m:
            m.setattr(aqe_off_for_small_input, "SMALL_PLAN_BYTES", 1)
            with aqe_off_for_small_input(small):
                assert spark.conf.get(key) == "true"

        # restore must happen even when the body raises
        with pytest.raises(RuntimeError, match="boom"):
            with aqe_off_for_small_input(small):
                assert spark.conf.get(key) == "false"
                raise RuntimeError("boom")
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, prior)


def test_aqe_gate_interleaved_instances_restore_outermost_prior(spark, monkeypatch):
    """r8 advice fix: per-instance save/restore mis-restores under
    interleaved (non-nested) lifetimes — A-enter(prior=true),
    B-enter(prior=false), A-exit, B-exit used to leave AQE permanently
    off session-wide.  The module-level depth counter must restore the
    OUTERMOST prior when the last instance exits, for both the
    interleaved and the properly nested orders."""
    from tegallega_spark.session import aqe_off_for_small_input

    key = "spark.sql.adaptive.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        small = spark.range(10).toDF("n")

        # interleaved: A enter, B enter, A exit, B exit
        a = aqe_off_for_small_input(small)
        b = aqe_off_for_small_input(small)
        a.__enter__()
        assert spark.conf.get(key) == "false"
        b.__enter__()
        a.__exit__(None, None, None)
        assert spark.conf.get(key) == "false"  # B still open
        b.__exit__(None, None, None)
        assert spark.conf.get(key) == "true"   # outermost prior restored

        # nested: same invariant
        with aqe_off_for_small_input(small):
            with aqe_off_for_small_input(small):
                assert spark.conf.get(key) == "false"
            assert spark.conf.get(key) == "false"
        assert spark.conf.get(key) == "true"

        # a non-firing instance interleaved with a firing one is inert
        with monkeypatch.context() as m:
            m.setattr(aqe_off_for_small_input, "SMALL_PLAN_BYTES", 1)
            c = aqe_off_for_small_input(small)  # won't fire
        d = aqe_off_for_small_input(small)
        c.__enter__()
        d.__enter__()
        c.__exit__(None, None, None)
        assert spark.conf.get(key) == "false"
        d.__exit__(None, None, None)
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, prior)


def test_aqe_gate_restores_onto_owning_session(spark):
    """ADVICE r9: with two sessions interleaving, the outermost priors
    must be restored onto the session they were READ from — per-exit
    self._spark wrote session A's priors onto session B (and leaked the
    narrowed shuffle width into the wrong session)."""
    from tegallega_spark.session import aqe_off_for_small_input

    key = "spark.sql.adaptive.enabled"
    other = spark.newSession()  # independent runtime conf, shared context
    prior_a, prior_b = spark.conf.get(key), other.conf.get(key)
    spark.conf.set(key, "true")
    other.conf.set(key, "true")
    try:
        a = aqe_off_for_small_input(spark.range(10).toDF("n"))
        b = aqe_off_for_small_input(other.range(10).toDF("n"))
        a.__enter__()   # outermost: reads priors from session A
        b.__enter__()   # inner (different session) — must not re-save
        assert spark.conf.get(key) == "false"
        a.__exit__(None, None, None)
        # B exits last; the restore must target A's conf, not B's
        b.__exit__(None, None, None)
        assert spark.conf.get(key) == "true", "A's prior lost"
        assert other.conf.get(key) == "true", "restore leaked into B"
    finally:
        spark.conf.set(key, prior_a)
        other.conf.set(key, prior_b)


def test_parallelize_for_udf_scan_vs_shuffle_rooted_plans(spark):
    """r8 advice fix: the size/maxPartitionBytes formula only models SCAN
    partitioning; analyzed-plan stats multiply child sizes through joins,
    so a tiny post-join frame could be estimated over threshold and skip
    the repartition (UDF then runs as wide as the join's shuffle, however
    narrow that is).  Shuffle-rooted plans must instead compare
    spark.sql.shuffle.partitions against cluster parallelism."""
    from tegallega_spark.operators.dedup import parallelize_for_udf

    target = spark.sparkContext.defaultParallelism

    # scan-rooted tiny input: repartitioned up to cluster parallelism
    small = spark.range(100).toDF("n")
    assert parallelize_for_udf(small).rdd.getNumPartitions() == target

    # shuffle-rooted (join) with adequate shuffle width: left alone —
    # no redundant exchange on top of the join's own partitioning
    a = spark.range(50).toDF("k")
    b = spark.range(50).toDF("k")
    joined = a.join(b, "k")
    assert "Repartition" not in str(
        parallelize_for_udf(joined)._jdf.queryExecution().analyzed()
    )

    # shuffle-rooted with a NARROW shuffle width (the pathology): must
    # repartition to cluster parallelism regardless of the size estimate
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    try:
        spark.conf.set(key, "2")
        out = parallelize_for_udf(a.join(b, "k"))
        assert "Repartition" in str(out._jdf.queryExecution().analyzed())
        assert out.rdd.getNumPartitions() == target
    finally:
        spark.conf.set(key, prior)


def test_parallelize_for_udf_ignores_shuffle_words_in_literals(spark, monkeypatch):
    """r9 advice fix: plan classification walks logical nodeName()s, not
    the rendered plan STRING — a query literal or column name containing
    'Sort'/'Window'/'Join' must not route a tiny scan-rooted frame down
    the shuffle branch (where an adequate shuffle width would skip the
    widening repartition, running the UDF 1-2-way).  The same frame
    drives session.small_scan_input, the one small-input gate: true for
    the tiny scan, false once it is over SMALL_INPUT_BYTES, and false for
    any shuffle-rooted frame whatever its size."""
    import pyspark.sql.functions as F

    import tegallega_spark.session as S
    from tegallega_spark.operators.dedup import parallelize_for_udf

    target = spark.sparkContext.defaultParallelism
    trap = (
        spark.range(100)
        .withColumn("label", F.lit("Sort Window Join code"))
        .filter(F.col("label") != "Aggregate")
    )
    assert not S._has_plan_node(
        trap._jdf.queryExecution().analyzed(), S._SHUFFLE_NODE_NAMES
    )
    assert S.small_scan_input(trap)
    # scan-rooted and tiny → must still widen to cluster parallelism
    assert parallelize_for_udf(trap).rdd.getNumPartitions() == target
    # and a REAL shuffle node is still detected
    agg = trap.groupBy("label").count()
    assert S._has_plan_node(
        agg._jdf.queryExecution().analyzed(), S._SHUFFLE_NODE_NAMES
    )
    assert not S.small_scan_input(agg)
    # the same scan-rooted frame over the threshold fails the gate
    monkeypatch.setattr(S, "SMALL_INPUT_BYTES", 16)
    assert S.plan_size_bytes(trap) >= 16
    assert not S.small_scan_input(trap)


def test_shuffle_origin_covers_distinct_and_apply_in_pandas(spark):
    """r9 ADVICE: SQL-authored DISTINCT keeps a `Distinct` node at
    analysis time (ReplaceDistinctWithAggregate only runs in the
    optimizer), and applyInPandas induces a grouping-key shuffle via
    FlatMapGroupsInPandas — both must classify as shuffle-rooted so
    parallelize_for_udf doesn't stack a redundant exchange on top."""
    import pandas as pd

    from tegallega_spark.session import _SHUFFLE_NODE_NAMES, _has_plan_node

    spark.range(10).toDF("n").createOrReplaceTempView("t_adv_distinct")
    sql_distinct = spark.sql("SELECT DISTINCT n FROM t_adv_distinct")
    assert _has_plan_node(
        sql_distinct._jdf.queryExecution().analyzed(), _SHUFFLE_NODE_NAMES
    )

    applied = (
        spark.range(10)
        .toDF("n")
        .groupBy("n")
        .applyInPandas(lambda pdf: pdf, "n long")
    )
    assert _has_plan_node(
        applied._jdf.queryExecution().analyzed(), _SHUFFLE_NODE_NAMES
    )


def test_prefork_runs_once_per_session(spark):
    """get_spark pre-forks the Arrow worker pool exactly once — a second
    get_spark on the same session must be a no-op (the flag rides the
    session object)."""
    from tegallega_spark.session import get_spark

    again = get_spark()
    assert again is spark or getattr(again, "_tegallega_preforked", False)


def test_aqe_gate_narrows_shuffle_and_restores(spark):
    """r8: the small-input window also narrows shuffle width (stage-wave
    dispatch is the measured overhead at toy scale) and must restore the
    prior width on exit; a prior narrower than NARROW_SHUFFLE is never
    widened."""
    from tegallega_spark.session import aqe_off_for_small_input as gate

    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    small = spark.range(10).toDF("n")
    try:
        spark.conf.set(key, "32")
        with gate(small):
            assert spark.conf.get(key) == str(gate.NARROW_SHUFFLE)
        assert spark.conf.get(key) == "32"

        spark.conf.set(key, "4")  # caller already narrower: keep it
        with gate(small):
            assert spark.conf.get(key) == "4"
        assert spark.conf.get(key) == "4"
    finally:
        spark.conf.set(key, prior)


def test_exact_jaccard_pair_gen_no_cartesian(spark):
    """q23's pair generator (exact_shingle_jaccard_pairs) must meet pairs
    only through the shingle-keyed postings equi-join — no cartesian, no
    nested loop, and the shuffled postings carry the 8-byte hash, never
    the shingle STRING (the strings would multiply the exchange bytes by
    the shingle width).  This pins the nightly q23 wall as inherent
    verify work: at sf0.1 it is ~15 small jobs of scheduling latency
    around one postings exchange + the CC rounds, each already minimal."""
    from tegallega_spark.operators.dedup import exact_shingle_jaccard_pairs
    from tegallega_spark.session import release_intermediates

    rows = [(i, f"w{i % 7} w{(i + 1) % 7} w{(i + 2) % 7} common tail text {i % 3}")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # distributed shape (forced: the r13 auto-gate would route this tiny
    # frame down the single-task path)
    pairs = exact_shingle_jaccard_pairs(df, shingle_n=2, threshold=0.5,
                                        single_task=False)
    plan = plan_of(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    release_intermediates(pairs)
    # r13 small-corpus profile: ONE task — a single MapInPandas, no join,
    # no exchange in the pair generation at all.  (Forced: createDataFrame
    # frames are LogicalRDDs with unknown stats, so the auto byte-gate
    # conservatively keeps them distributed; parquet scans with real
    # stats — q23's input — gate automatically.)
    small = exact_shingle_jaccard_pairs(df, shingle_n=2, threshold=0.5,
                                        single_task=True)
    small_plan = plan_of(small)
    assert "MapInPandas" in small_plan
    assert "Exchange" not in small_plan
    assert "CartesianProduct" not in small_plan


def test_all_pairs_above_band_join_shuffles_ids_not_vectors(spark):
    """q39's LSH candidate join must shuffle only (id, table, bucket)
    rows; the embedding vectors join back AFTER the bare-pair dedup.  A
    plan where the vector column reaches the band-join exchange would
    multiply the shuffle by the embedding width.  (The q39 nightly wall
    itself is pinned as inherent: at cos 0.462 on random vectors the
    2-plane/16-table configuration is the RECALL-1 oracle-exact setting
    — hyperplane selectivity ~0.99, so candidates ~ all pairs by math,
    and the exact-cosine verify pass IS the work.  Production thresholds
    (0.9+, more planes) prune; the recall race in README.md measures
    that regime.)"""
    import numpy as np

    from tegallega_spark.operators.similarity import all_pairs_above
    from tegallega_spark.session import release_intermediates

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(48)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # broadcast_rescore=False: audit the DISTRIBUTED (scale) shape — the
    # r13 auto gate would broadcast the vectors at this input size
    pairs = all_pairs_above(
        df, min_cosine=0.5, num_planes=2, num_tables=4, broadcast_rescore=False
    )
    plan = plan_of(pairs)
    # and the gated shapes.  (a) small row count -> the whole operator is
    # one MapInPandas task fed by a broadcast, no join anywhere:
    gated = plan_of(
        all_pairs_above(
            df, min_cosine=0.5, num_planes=2, num_tables=4,
            broadcast_rescore=True,
        )
    )
    assert "MapInPandas" in gated and "Join" not in gated
    # (b) mid-size (row gate exceeded, byte gate not): candidate pairs
    # rescore from the broadcast matrix — the vector payload is never
    # joined onto the pair frame
    import tegallega_spark.operators.similarity as SIM_MOD

    old_n = SIM_MOD.SMALL_ALLPAIRS_TASK_N
    SIM_MOD.SMALL_ALLPAIRS_TASK_N = 0
    try:
        mid = plan_of(
            all_pairs_above(
                df, min_cosine=0.5, num_planes=2, num_tables=4,
                broadcast_rescore=True,
            )
        )
    finally:
        SIM_MOD.SMALL_ALLPAIRS_TASK_N = old_n
    assert "ArrowEvalPython" in mid
    assert "vec_a" not in mid and "vec_b" not in mid
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the band self-join subtree must not carry the vector column: every
    # exchange hash-partitioned on `bucket` must not carry `__v` /
    # embedding in its input schema.  r11 ADVICE: the old form checked
    # the first line after splitting on "Exchange", which in formatted
    # mode is always empty (details put Arguments:/Input on later
    # lines) — it matched zero exchanges and passed vacuously.  Parse
    # the detail sections and assert the predicate actually fired.
    import re

    bucket_exchanges = []
    for block in re.split(r"\(\d+\) Exchange", plan)[1:]:
        detail = block.split("\n\n")[0]  # this node's detail section
        arg = next((ln for ln in detail.splitlines() if "Arguments:" in ln), "")
        if "bucket" in arg:
            bucket_exchanges.append(detail)
    assert bucket_exchanges, (
        "no Exchange hash-partitioned on `bucket` found - the band "
        "self-join plan shape changed; re-derive this pin:\n" + plan)
    for detail in bucket_exchanges:
        assert "__v" not in detail and "embedding" not in detail, detail
    release_intermediates(pairs)
