"""Scale-path operators: salted joins, bucketed co-located joins, IVF ANN,
and the custom stateful streaming operator."""

from __future__ import annotations

import tempfile

import pyspark.sql.functions as F

from tegallega_spark.operators.ivf import train_ivf_index
from tegallega_spark.operators.skew import bucketed_join, salted_join, write_bucketed
from tegallega_spark.session import load_table
from tests.conftest import SF_SMOKE
from tests.test_plan_quality import plan_of


def test_salted_join_matches_plain_join(spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = orders.join(customer, "o_custkey").select("o_orderkey", "c_name")
    salted = salted_join(orders, customer, "o_custkey", salt=4).select(
        "o_orderkey", "c_name"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_keeps_unmatched(spark):
    big = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    small = spark.createDataFrame([(1, "x")], "k int, w string")
    out = salted_join(big, small, "k", salt=3, how="left").collect()
    got = {(r.k, r.v, r.w) for r in out}
    assert got == {(1, "a", "x"), (2, "b", None)}


def test_salted_join_balances_planted_hot_key(spark):
    """A 100×-hot key (VERDICT r5 item 9): plain join funnels every hot-key
    row into one shuffle partition; salted_join spreads them ~salt-fold.
    Measured directly via spark_partition_id() row counts on the join
    output, with AQE off so the raw exchange layout is what's observed
    (in production AQE's skew split ALSO helps; the salt is for the a
    priori known hot keys where we don't want a straggler even transiently)."""
    conf = spark.conf
    saved = {
        "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.autoBroadcastJoinThreshold": conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
    }
    try:
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # enough shuffle partitions that salt cells rarely collide (the
        # test session defaults to one per core, where 8 cells → 8
        # partitions stack 3-deep and hide the balancing effect)
        conf.set("spark.sql.shuffle.partitions", "64")
        salt = 8
        # hot key 0: 20k rows; 50 cold keys: 200 rows each → hot share ≈ 2/3
        big = spark.range(30_000).select(
            F.when(F.col("id") < 20_000, F.lit(0))
            .otherwise(F.col("id") % 50 + 1)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        small = spark.range(51).select(F.col("id").alias("k"),
                                       (F.col("id") * 10).alias("w"))

        def partition_counts(df):
            return (
                df.withColumn("__pid", F.spark_partition_id())
                .groupBy("__pid").count().collect()
            )

        plain_max = max(r["count"] for r in partition_counts(big.join(small, "k")))
        salted = salted_join(big, small, "k", salt=salt)
        salted_max = max(r["count"] for r in partition_counts(salted))
        assert plain_max >= 20_000  # the hot key really is a straggler
        # the straggler partition shrinks several-fold (exact factor is
        # limited by salt-cell → shuffle-partition hash collisions: 8 cells
        # into 32 partitions can stack 2-3 cells on one partition)
        assert salted_max <= plain_max / 3
        # and the hot key's rows genuinely scatter across partitions
        hot_pids = (
            salted.filter(F.col("k") == 0)
            .select(F.spark_partition_id().alias("__pid"))
            .distinct().count()
        )
        assert hot_pids >= salt / 2
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_bucketed_join_skips_shuffle(spark):
    # uses the session's default warehouse dir (spark-warehouse/, gitignored)
    orders = load_table(spark, SF_SMOKE, "orders")
    lineitem = load_table(spark, SF_SMOKE, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(orders, "b_orders", "o_orderkey", num_buckets=8)
    write_bucketed(lineitem, "b_lineitem", "o_orderkey", num_buckets=8)
    joined = bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
    plan = plan_of(joined, "simple")
    # co-located buckets: no Exchange feeding the join
    assert "Exchange hashpartitioning" not in plan
    assert joined.count() == lineitem.count()
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_ivf_search_recall(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    index = train_ivf_index(emb, "embedding", k=8)
    qrow = emb.orderBy("vec_id").first()
    qv = [float(x) for x in qrow["embedding"]]
    # probing all lists must equal brute force exactly
    assert index.recall_against_exact(qv, k=10, nprobe=8) == 1.0
    # probing half the lists keeps decent recall on clustered synthetic data
    recall = index.recall_against_exact(qv, k=10, nprobe=4)
    assert recall >= 0.5
    top = index.search(qv, k=3, nprobe=8).collect()
    assert top[0]["vec_id"] == qrow["vec_id"]  # the query vector itself


def test_stateful_stream_thinning_matches_batch(spark, sf_dir):
    """applyInPandasWithState over AvailableNow equals the batch q46 fold."""
    from tegallega_spark.queries import SPARK_QUERIES
    from tegallega_spark.streaming.events import read_events_stream
    from tegallega_spark.streaming.stateful import thin_events_stream

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    thinned = thin_events_stream(stream)
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            thinned.writeStream.format("memory")
            .queryName("thin_stream_test")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    got = {
        (r.user_id, r.event_id)
        for r in spark.sql("SELECT * FROM thin_stream_test").collect()
    }
    want = {
        (r.user_id, r.event_id)
        for r in SPARK_QUERIES["q41_stateful_thinning"](spark, sf_dir).collect()
    }
    assert got == want


def test_thinning_exchange_sized_from_input_bytes(spark, sf_dir, monkeypatch):
    """q41's fold exchange derives its width from the input-size estimate
    (r14, r13 verdict #1): at bench scale it floors at the session
    parallelism (a tiny exchange would otherwise AQE-coalesce to one task
    and serialize the fold), and when the per-task byte budget shrinks —
    the stand-in for input bytes growing at fixed budget — the partition
    count rises with it, bounding the per-task pandas buffer.  Rows are
    identical in both shapes."""
    import tegallega_spark.queries as Q

    q = Q.SPARK_QUERIES["q41_stateful_thinning"]
    dp = spark.sparkContext.defaultParallelism
    base = q(spark, sf_dir)
    assert base.rdd.getNumPartitions() == dp
    rows = {(r.user_id, r.event_id) for r in base.collect()}
    monkeypatch.setattr(Q, "THIN_TASK_BYTES", 1024)
    wide = q(spark, sf_dir)
    assert wide.rdd.getNumPartitions() > dp
    assert {(r.user_id, r.event_id) for r in wide.collect()} == rows


def test_incremental_partition_overwrite(spark, tmp_path):
    """SURVEY §2.10: only changed relations are rewritten; unchanged
    partitions' files stay physically untouched."""
    import os

    from tegallega_spark.pipeline.incremental import incremental_update

    out = str(tmp_path / "inc")
    v1 = spark.createDataFrame(
        [("r1", 1, "a"), ("r1", 2, "b"), ("r2", 1, "c")],
        "relation_id string, seq int, val string",
    )
    assert incremental_update(spark, v1, out) == 2  # both partitions new

    def mtimes():
        t = {}
        for rel in ("relation_id=r1", "relation_id=r2"):
            d = os.path.join(out, rel)
            t[rel] = max(os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d))
        return t

    before = mtimes()
    # change only r1
    v2 = spark.createDataFrame(
        [("r1", 1, "a"), ("r1", 2, "CHANGED"), ("r2", 1, "c")],
        "relation_id string, seq int, val string",
    )
    assert incremental_update(spark, v2, out) == 1
    after = mtimes()
    assert after["relation_id=r1"] > before["relation_id=r1"]
    assert after["relation_id=r2"] == before["relation_id=r2"]  # untouched
    # idempotence: no-op cycle rewrites nothing (the git-diff guard analogue)
    assert incremental_update(spark, v2, out) == 0
    rows = {(r.relation_id, r.seq, r.val) for r in spark.read.parquet(out).collect()}
    assert rows == {("r1", 1, "a"), ("r1", 2, "CHANGED"), ("r2", 1, "c")}


def test_incremental_numeric_string_keys_idempotent(spark, tmp_path):
    """Numeric-string relation ids (the real GTFS shape, e.g. '17077467')
    must stay idempotent: partition-column type inference turns them into
    ints on read-back, which silently broke the fingerprint compare until
    the key is cast back to the incoming type."""
    from tegallega_spark.pipeline.incremental import incremental_update

    out = str(tmp_path / "inc_num")
    v1 = spark.createDataFrame(
        [("17077467", 1, "a"), ("17077467", 2, "b"), ("9498142", 1, "c")],
        "relation_id string, seq int, val string",
    )
    assert incremental_update(spark, v1, out) == 2
    # unchanged cycle: nothing may be rewritten
    assert incremental_update(spark, v1, out) == 0
    v2 = spark.createDataFrame(
        [("17077467", 1, "a"), ("17077467", 2, "X"), ("9498142", 1, "c")],
        "relation_id string, seq int, val string",
    )
    assert incremental_update(spark, v2, out) == 1


def test_fingerprint_detects_even_multiplicity_swap(spark):
    """xor-of-hashes alone cancels identical-row pairs: swapping 2×A for
    2×B preserves both xor and row count.  The sum-of-hashes component must
    catch it."""
    from tegallega_spark.pipeline.incremental import changed_partitions

    v1 = spark.createDataFrame(
        [("r1", "A"), ("r1", "A"), ("r2", "z")], "relation_id string, val string"
    )
    v2 = spark.createDataFrame(
        [("r1", "B"), ("r1", "B"), ("r2", "z")], "relation_id string, val string"
    )
    changed = {r.relation_id for r in changed_partitions(v2, v1).collect()}
    assert changed == {"r1"}


def test_stream_thinning_honors_min_gap(spark, sf_dir):
    """min_gap_s is threaded into the state function: a huge gap keeps only
    the first event per user."""
    from tegallega_spark.streaming.events import read_events_stream
    from tegallega_spark.streaming.stateful import thin_events_stream

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    thinned = thin_events_stream(stream, min_gap_s=10**9)
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            thinned.writeStream.format("memory")
            .queryName("thin_stream_gap_test")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    got = spark.sql("SELECT * FROM thin_stream_gap_test")
    from tegallega_spark.session import load_table

    n_users = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert got.count() == n_users
    assert got.select("user_id").distinct().count() == n_users
