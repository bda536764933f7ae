"""SparkSession factory.

Local testing runs on local[N] but every config here is chosen to also make
sense on a 1000-executor cluster reading 100 TB:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion replace hand-tuning per input size.
- Arrow on: every applyInPandas / pandas_udf island ships columnar batches.
- UTC session timezone: parquet timestamps compare bit-identically with the
  DuckDB oracle (duckdb timestamps are UTC-naive).
- shuffle.partitions defaults to cores locally; on a real cluster AQE's
  coalescing makes the initial number mostly irrelevant as long as it is
  high enough, so we leave it overridable via SPARK_GRAFT_CPUS.
- Python call-site capture off: with spark.python.sql.dataFrameDebugging
  on (PySpark 4.1's default) every DataFrame/Column call walks the Python
  stack and makes ~4 extra py4j round trips to record where it was called;
  plan construction is driver-side py4j work, so that doubled it.
  Analysis errors still raise, naming the column or table — only the
  Python file/line context is gone from their message.
- get_spark is the package's only reader of the process environment: five
  SPARK_GRAFT_* settings size the session to its host or cluster (README
  "Run"); every other execution choice comes from the input.
"""

from __future__ import annotations

import os

import pandas as pd  # module-level: pandas_udf type hints resolve via
# get_type_hints against module globals (PEP 563 strings under
# `from __future__ import annotations`)

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """~1/4 of host RAM, clamped to [4g, 24g].

    local-mode only heuristic: the single JVM holds all executor storage,
    so it scales with the machine rather than assuming the 128 GiB bench
    host.  Falls back to 8g if /proc/meminfo is unreadable (non-Linux)."""
    try:
        with open("/proc/meminfo") as f:
            for ln in f:
                if ln.startswith("MemTotal:"):
                    total_gib = int(ln.split()[1]) / (1024 * 1024)
                    return f"{max(4, min(24, int(total_gib // 4)))}g"
    except OSError:
        pass
    return "8g"


def get_spark(app_name: str = "tegallega-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local[N] puts EVERY executor's storage + shuffle + broadcast
        # build in the one driver JVM — 8g starved the 400k-doc composed
        # corpus race (persisted corpus + shingle postings + a broadcast
        # build tripped the not-enough-memory-to-broadcast guard).  Size
        # to the host instead of hard-coding this box: ~1/4 of RAM capped
        # at 24g, floored at 4g.  On a real cluster the driver only
        # coordinates — set SPARK_GRAFT_DRIVER_MEM down explicitly.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        # Driver result ceiling: STOCK 1g default (r11 — the r10 4g
        # default existed only to feed the extract race's 74 M-vertex
        # parity collect, which is gone: the K2 sink writes from
        # executors and the race compares distributed per-relation
        # fingerprints).  A clean maxResultSize error on an oversized
        # collect beats a driver OOM, and no production path here
        # collects corpus-sized results (operators are sink-to-sink;
        # collects are bounded and documented).
        .config("spark.driver.maxResultSize", "1g")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Local test files are ~10 MB; the 128 MB default split puts a whole
        # table in 1-3 tasks and wastes 29 cores.  4 MB splits parallelize
        # the scans here; on a real cluster reading 100 TB, set
        # SPARK_GRAFT_MAX_PARTITION_BYTES back to 128m (or higher) so task
        # count stays sane.  openCost lowered in proportion so small files
        # still split.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"),
        )
        .config("spark.sql.files.openCostInBytes", "524288")
        # Shuffle/spill block codec: stock lz4 by default (fastest for the
        # many small exchanges in the headline queries).  The big
        # text-cut waves are the exception: their spill is one row per
        # corpus token and DISK-bound, not CPU-bound — zstd compresses
        # those blocks ~1.7x tighter than lz4, which is what lets a
        # 6.4 M-doc composed wave fit the scratch disk at all.  Core
        # Spark conf, immutable after context start, so it is an env
        # knob here rather than a per-job setting; stress_corpus sets it
        # for the >=3.2M races.  On a real cluster, zstd for shuffle is
        # the common large-ETL posture (trades executor CPU for
        # disk/network bytes).
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        # File-index listing: above this many paths Spark launches a
        # CLUSTER JOB to list them in parallel — ~0.4 s of scheduling
        # latency per source on this box, triggered at the default of 32
        # by the 126-dir geojson glob.  Driver-side listing of a few
        # thousand paths is milliseconds on any filesystem; on an object
        # store with 100k+ objects per table, lower this back (env) so
        # listing parallelizes across executors.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("SPARK_GRAFT_PARALLEL_DISCOVERY_THRESHOLD", "4096"),
        )
        .config("spark.ui.enabled", "false")
        # no per-call Python origin capture (see the module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    _prefork_python_workers(spark, cpus)
    return spark


def _prefork_python_workers(spark: SparkSession, cpus: int) -> None:
    """Fork the Arrow Python worker pool at session start (once).

    The first Arrow-UDF stage of a fresh session forks one Python worker
    per core and initializes each worker's Arrow serializer — ~3 s on 32
    cores that otherwise lands inside whatever the first real pipeline
    is (the composed-race cold number measured it).  A real cluster's
    executors amortize this over a long-lived daemon pool
    (spark.python.worker.reuse=true, the default); doing the fork at
    session creation gives local mode the same treatment.  One trivial
    identity UDF over `cpus` partitions touches every worker slot."""
    if getattr(spark, "_tegallega_preforked", False):
        return
    spark._tegallega_preforked = True
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _identity(s: pd.Series) -> pd.Series:
        return s

    try:
        spark.range(cpus * 8).repartition(cpus).select(_identity("id")).collect()
    except Exception:
        # best-effort warm-up: a failure here surfaces on the caller's
        # own first action with a better error anyway
        pass


def plan_size_bytes(df) -> int:
    """Catalyst's sizeInBytes estimate read off the ANALYZED plan — a
    pure plan-tree walk (no optimization, no physical planning, no job),
    microseconds even on the composed pipeline's deep plans.  The
    analyzer's estimate is conservative upward (filters it cannot see
    through keep the parent's size), which is the right direction for
    gating perf heuristics: a small input is never over-reported as
    smaller than it is.

    9223372036854775807 (Long.MaxValue, Catalyst's default) means
    "unknown": an RDD-backed root such as `spark.createDataFrame(rows,
    schema)` (a LogicalRDD) has no size statistics, so even a 3-row frame
    reads that way.  Every gate built on this estimate reads unknown as
    big and takes its large-input branch (stage boundaries on, AQE left
    on) — the conservative answer, kept on purpose."""
    return int(str(df._jdf.queryExecution().analyzed().stats().sizeInBytes()))


# logical-plan node classes whose OUTPUT partitioning comes from a shuffle
# (spark.sql.shuffle.partitions), not from file splits.  Exact nodeName()
# matches, so plan TEXT (literals, column names) can't false-positive.
_SHUFFLE_NODE_NAMES = frozenset(
    {
        "Join",
        "Aggregate",
        "Window",
        "Deduplicate",
        "Repartition",
        "RepartitionByExpression",
        "Sort",
        "Intersect",
        "Except",
        # ADVICE r9: SQL-authored DISTINCT keeps a Distinct node at
        # analysis time (ReplaceDistinctWithAggregate runs later, in the
        # optimizer), and applyInPandas/cogroup stages shuffle on their
        # grouping keys — all three were misread as scan-rooted before.
        "Distinct",
        "FlatMapGroupsInPandas",
        "FlatMapCoGroupsInPandas",
    }
)


def _has_plan_node(plan, names: frozenset) -> bool:
    """DFS over a py4j logical-plan TreeNode for a node whose class is in
    `names` (early exit on first hit).  Subquery expressions are not
    descended into — a shuffle buried in a scalar subquery doesn't set the
    OUTER frame's partitioning, which is what the shuffle-origin callers
    ask about."""
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() in names:
            return True
        children = node.children()
        for i in range(children.length()):
            stack.append(children.apply(i))
    return False


# The one small-input threshold every gated operator shares: pair
# generation, the bigram LM, span dedup and the vector broadcast rescore
# run their single-task / broadcast shape below it.  At 100 TB no input
# is under it, so the gates only ever fire on small local inputs.
SMALL_INPUT_BYTES = 32 * 1024 * 1024


def small_scan_input(df, limit_bytes: int | None = None) -> bool:
    """True when `df` is scan-rooted (no shuffle-origin node in its
    analyzed plan) and Catalyst's analyzed sizeInBytes is under
    `limit_bytes` (default SMALL_INPUT_BYTES).

    Only scan-rooted lineage is trusted: analyzed stats multiply child
    sizes through joins and ignore filters, so a post-join/aggregate
    estimate says nothing about the real size.  Such inputs never pass
    the gate.  The shuffle walk runs first, so a shuffle-rooted plan
    never pays for the stats computation."""
    analyzed = df._jdf.queryExecution().analyzed()
    if _has_plan_node(analyzed, _SHUFFLE_NODE_NAMES):
        return False
    limit = SMALL_INPUT_BYTES if limit_bytes is None else limit_bytes
    return int(str(analyzed.stats().sizeInBytes())) < limit


class aqe_off_for_small_input:
    """Context manager: the SMALL-INPUT execution profile — disable
    adaptive query execution and narrow the shuffle width while a
    multi-action pipeline runs over a SMALL input, restoring the prior
    settings on exit.

    AQE's unit of work is the query STAGE: every shuffle boundary becomes
    a separately scheduled job so runtime statistics can re-plan what
    follows.  On a skewed 100 TB shuffle that re-planning is worth
    minutes; on a kB-MB input each stage's work is microseconds while its
    scheduling + replanning latency is ~100 ms — the composed corpus race
    measured ~115 stage jobs ≈ 15 s of pure wave latency at 5 k docs
    (r7 profiling).  Below SMALL_PLAN_BYTES (Catalyst's own analyzed
    estimate of the input) the static plan is strictly better; at or
    above it this is a no-op and AQE keeps its coalesce/skew wins.  On a
    real cluster reading real data the gate never fires.

    The window also narrows spark.sql.shuffle.partitions to
    NARROW_SHUFFLE (8, r8): a composed small-input program runs ~115
    stages, and 32 tasks × microseconds of work each is pure dispatch
    overhead — measured −5 s on the 5 k composed race cold run.
    Wide-by-design stages are unaffected: CPU-bound Arrow stages go
    through parallelize_for_udf, which repartitions to
    defaultParallelism explicitly (its shuffle-rooted branch sees the
    narrowed conf below cluster parallelism and widens the UDF input
    back — exactly its job).  This is what AQE's coalescing would do at
    runtime, done statically for the regime where AQE itself is the
    overhead.

    The flip is session-wide (Spark runtime conf), so only the actions
    the `with` body itself triggers are covered — lazy DataFrames
    returned OUT of the body plan under the caller's (restored) setting.
    That is the intended split: the pipeline's interior stage-waves are
    the measured cost; the caller's single final action keeps AQE.

    Reentrancy: each firing instance saves its own session's two priors
    on enter and restores them on exit, so nested windows unwind in LIFO
    order back to the outermost prior.  The gate must only be entered
    from the single driver thread that owns the pipeline (it flips a
    session-wide conf; unrelated concurrent queries planned inside the
    window would lose AQE, and interleaved non-nested lifetimes would
    restore out of order).  The package starts threads only in the feed
    sink and the feed validator, neither of which enters the window."""

    _KEY = "spark.sql.adaptive.enabled"
    _SHUF = "spark.sql.shuffle.partitions"
    SMALL_PLAN_BYTES = 1 << 30
    NARROW_SHUFFLE = 8

    def __init__(self, df) -> None:
        self._spark = df.sparkSession
        self._fires = plan_size_bytes(df) < self.SMALL_PLAN_BYTES
        self._priors: dict | None = None

    def __enter__(self) -> "aqe_off_for_small_input":
        if self._fires:
            conf = self._spark.conf
            self._priors = {
                self._KEY: conf.get(self._KEY, "true"),
                self._SHUF: conf.get(self._SHUF, "200"),
            }
            conf.set(self._KEY, "false")
            # never WIDEN: a caller who already set it narrower knows better
            if int(self._priors[self._SHUF]) > self.NARROW_SHUFFLE:
                conf.set(self._SHUF, str(self.NARROW_SHUFFLE))
        return self

    def __exit__(self, *exc) -> None:
        if self._priors is not None:
            for k, v in self._priors.items():
                self._spark.conf.set(k, v)
            self._priors = None


def attach_intermediates(out, *sources):
    """Tag `out` with the persisted intermediates its plan reads.

    Operators like the LSH near-dup family persist() internal frames that
    both sides of a self-join consume; those frames must stay cached until
    the CALLER's action runs, so the operator cannot unpersist them itself.
    Recording the handles on the returned DataFrame lets the caller release
    them with `release_intermediates(df)` once done — in a long-lived
    session, un-released intermediates otherwise accumulate until LRU
    pressure.  Each source is either a persisted DataFrame or a DataFrame
    previously tagged by this helper (its recorded handles are merged)."""
    handles = []
    for s in sources:
        handles.extend(getattr(s, "_tegallega_persisted", ()))
        if s.is_cached:
            handles.append(s)
    out._tegallega_persisted = handles
    return out


class CheckpointHandle:
    """RDD-level release handle for a localCheckpoint'd DataFrame.

    localCheckpoint persists its RDD OUTSIDE the SQL cache manager, so
    `df.unpersist()` can never free it — the blocks sit in
    getPersistentRDDs until JVM GC + ContextCleaner get around to them
    (non-deterministic in a long-lived session).  This handle unpersists
    the underlying checkpoint RDD directly.  After release the owning
    DataFrame is UNUSABLE (its lineage was truncated at the checkpoint,
    so there is nothing to recompute from) — which matches the
    release_intermediates contract: call it only after the consuming
    action, as the result's end-of-life."""

    def __init__(self, df) -> None:
        self._jrdd = df._jdf.queryExecution().analyzed().rdd()
        self._cached = True

    @property
    def is_cached(self) -> bool:
        return self._cached

    def unpersist(self, blocking: bool = False) -> "CheckpointHandle":
        if self._cached:
            self._jrdd.unpersist(blocking)
            self._cached = False
        return self


def release_intermediates(df, blocking: bool = False) -> int:
    """Unpersist every intermediate recorded on `df` by
    attach_intermediates; returns how many were released.  Call after the
    consuming action (collect/write) — releasing earlier just forfeits the
    cache and recomputes (except CheckpointHandle intermediates, whose
    owners cannot be recomputed: release is their end-of-life)."""
    handles = getattr(df, "_tegallega_persisted", ())
    for h in handles:
        h.unpersist(blocking)
    df._tegallega_persisted = []
    return len(handles)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one synthetic table. Parquet → full predicate/column pushdown.

    events.ts is TIMESTAMP(NANOS) in the source parquet, which Spark's
    vectorized reader rejects; read it as raw nanos (legacy conf) and
    convert to a proper TimestampType (microsecond truncation — sub-µs
    precision is irrelevant to every consumer here).

    The resolved DataFrame is memoized PER SESSION keyed on (dir, name) —
    the catalog role: `spark.read.parquet` re-lists the directory and
    re-reads a footer for the schema on EVERY call (~0.1 s here), and a
    bench pass builds each query fresh per run, so table resolution was
    being paid dozens of times per session for identical immutable plans.
    On a real deployment tables are registered once in a catalog and
    queries resolve against it; the memo gives local mode the same
    treatment.  This caches the lazy PLAN only — every action still scans
    the parquet — and `invalidate_table_cache` drops the entry for paths
    a caller rewrites mid-session (scale_data does this after
    replicating)."""
    memo = getattr(spark, "_tegallega_table_memo", None)
    if memo is None:
        memo = spark._tegallega_table_memo = {}
    key = (sf_dir, name)
    if key in memo:
        return memo[key]
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
    memo[key] = df
    return df


def invalidate_table_cache(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Drop load_table's per-session plan memo — for `sf_dir` only, or all
    entries.  Call after rewriting a table directory in-session (the
    memoized plan holds the old file listing)."""
    memo = getattr(spark, "_tegallega_table_memo", None)
    if memo:
        if sf_dir is None:
            memo.clear()
        else:
            for k in [k for k in memo if k[0] == sf_dir]:
                del memo[k]
