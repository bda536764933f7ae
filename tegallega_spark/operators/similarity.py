"""Similarity search over embedding columns (array<float>).

North-star extension (BASELINE.json): approximate-nearest-neighbor over the
`embeddings` table.  Two tiers:

- brute-force cosine top-k: exact baseline; F.zip_with/F.aggregate dot
  product, JVM-side, no UDF.  O(N) per query but embarrassingly parallel
  and shuffle-free until the final top-k (a TakeOrdered, not a full sort).
- LSH-bucketed (random hyperplane signs) variant: at 100 TB, brute force
  per query is a full scan; bucketing by sign-pattern restricts candidates
  to colliding buckets.  Deterministic hyperplanes derived from xxhash64 so
  results are reproducible without a stored model.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolved by pandas_udf type-hint inference

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_pairs_udf():
    """Arrow-vectorized cosine over two array columns: one numpy pass per
    batch instead of 3 interpreted F.aggregate folds per row (dot + two
    norms).  The HOF `cosine` walks both arrays element-by-element in the
    interpreter per pair; on q39's ~2M candidate pairs x 64 dims that was
    ~8.7s of the query's 9.5s wall.  float32 inputs widen exactly to
    float64 (same as the cast('array<double>') the HOF path used); IEEE
    division semantics (0/0 -> NaN) match JVM double division."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.array(a.tolist(), dtype=np.float64)
        B = np.array(b.tolist(), dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            num = np.einsum("ij,ij->i", A, B)
            den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(
                np.einsum("ij,ij->i", B, B)
            )
            out = num / den
        return pd.Series(out)

    return cos


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k against one query vector.

    The query vector is a literal array (broadcast into the plan); the scan
    is a single map stage + TakeOrdered — no shuffle of the big table.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col),
        cosine(F.col(vec_col).cast("array<double>"), q).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


def _plane_components(plane_seed: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane components in [-1, 1] via
    splitmix64 of (seed, j) — computed ONCE in Python and embedded as an
    array literal, so the executor never re-derives the plane per row."""
    comps = []
    for j in range(dim):
        x = ((plane_seed * 1315423911 + j) * 0x9E3779B97F4A7C15 + 0xBF58476D1CE4E5B9) % (1 << 64)
        x ^= x >> 30
        x = (x * 0xD6E8FEB86659FD93) % (1 << 64)
        x ^= x >> 27
        comps.append(((x % 20001) - 10000) / 10000.0)
    return comps


def _hyperplane_sign(vec: Column, plane_seed: int, dim: int) -> Column:
    """Sign bit of <vec, h> for the deterministic hyperplane `plane_seed`."""
    h = F.array(*[F.lit(c) for c in _plane_components(plane_seed, dim)])
    return F.when(dot(vec.cast("array<double>"), h) >= 0, F.lit(1)).otherwise(F.lit(0))


def lsh_bucket(vec: Column, dim: int, num_planes: int = 8, table: int = 0) -> Column:
    """Random-hyperplane LSH bucket id: the concatenated sign bits.  `table`
    offsets the plane seeds so independent hash tables can be built."""
    bucket = F.lit(0)
    for p in range(num_planes):
        bucket = bucket * 2 + _hyperplane_sign(vec, table * 1009 + p, dim)
    return bucket


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_planes: int = 6,
) -> DataFrame:
    """ANN top-k: score only rows whose LSH bucket matches the query's.

    Bucket assignment is a pure column expression, so at scale it can also be
    used as a parquet partition column making the candidate fetch a
    partition-pruned scan instead of a full pass.
    """
    dim = len(query_vec)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    with_bucket = df.select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket(F.col(vec_col), dim, num_planes).alias("__bucket"),
    )
    query_bucket = lsh_bucket(q, dim, num_planes)
    candidates = with_bucket.filter(F.col("__bucket") == query_bucket)
    scored = candidates.select(
        F.col(id_col),
        cosine(F.col(vec_col).cast("array<double>"), q).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


def make_bucket_udf(num_planes: int, num_tables: int, dim: int):
    """Arrow-vectorized vec→[bucket per table] pandas_udf: ONE numpy matmul
    against the (tables×planes, dim) plane matrix per batch, then sign-bit
    packing — replaces tables×planes interpreted HOF dot products per row.
    Uses the same deterministic _plane_components as the column path."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    planes = np.array(
        [
            _plane_components(t * 1009 + p, dim)
            for t in range(num_tables)
            for p in range(num_planes)
        ],
        dtype=np.float64,
    )  # (tables*planes, dim)
    weights = np.array(
        [1 << (num_planes - 1 - p) for p in range(num_planes)], dtype=np.int64
    )

    @pandas_udf("array<long>")
    def buckets(vecs: pd.Series) -> pd.Series:
        V = np.array(vecs.tolist(), dtype=np.float64)          # (n, dim)
        signs = (V @ planes.T >= 0).astype(np.int64)           # (n, t*p)
        signs = signs.reshape(len(V), num_tables, num_planes)  # (n, t, p)
        ids = (signs * weights).sum(axis=2)                    # (n, t)
        return pd.Series(list(ids))

    return buckets


class _BroadcastHandle:
    """release_intermediates-compatible wrapper for a sc.broadcast value."""

    def __init__(self, b) -> None:
        self._b = b
        self._cached = True

    @property
    def is_cached(self) -> bool:
        return self._cached

    def unpersist(self, blocking: bool = False):
        if self._cached:
            self._b.unpersist(blocking)
            self._cached = False
        return self


# Row-count bound for the one-task all-pairs profile: the in-task
# candidate mask is n² bools (16 MB at 4096), and the worst-case pair
# enumeration is n²/2 — quadratic in rows, so this gate is a ROW bound on
# top of the small-input byte gate (session.small_scan_input).
SMALL_ALLPAIRS_TASK_N = 4096


def _single_task_all_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    min_cosine: float,
    num_planes: int,
    num_tables: int,
    dim: int,
    idx,
    M,
) -> DataFrame:
    """One-task profile of all_pairs_above for collected (idx, M): bucket
    signs via the same plane matmul as make_bucket_udf, candidate pairs
    via an (n, n) mask over shared (table, bucket) groups, rescore via
    the same chunked einsum as cosine_pairs_udf.  Ships (ids, M) to the
    task as a broadcast; the 1-row trigger frame carries no data."""
    import numpy as np
    import pyspark.sql.types as T

    planes = np.array(
        [
            _plane_components(t * 1009 + p, dim)
            for t in range(num_tables)
            for p in range(num_planes)
        ],
        dtype=np.float64,
    )
    weights = np.array(
        [1 << (num_planes - 1 - p) for p in range(num_planes)], dtype=np.int64
    )
    spark = df.sparkSession
    bcast = spark.sparkContext.broadcast((list(idx), M))
    id_t = df.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("id_a", id_t),
            T.StructField("id_b", id_t),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def fn(batches):
        import pandas as pd

        for _ in batches:  # drain the 1-row trigger
            pass
        ids, mat = bcast.value
        n = len(mat)
        if n < 2:
            return
        signs = (mat @ planes.T >= 0).astype(np.int64)
        buckets = (signs.reshape(n, num_tables, num_planes) * weights).sum(axis=2)
        mask = np.zeros((n, n), dtype=bool)
        for t in range(num_tables):
            col = buckets[:, t]
            order = np.argsort(col, kind="stable")
            sc = col[order]
            starts = np.flatnonzero(np.concatenate([[True], sc[1:] != sc[:-1]]))
            ends = np.concatenate([starts[1:], [n]])
            for s, e in zip(starts, ends):
                if e - s > 1:
                    g = order[s:e]
                    mask[np.ix_(g, g)] = True
        ra, rb = np.nonzero(np.triu(mask, 1))
        if len(ra) == 0:
            return
        ids_arr = np.array(ids, dtype=object)
        out_a, out_b, out_c = [], [], []
        chunk = 1 << 18
        for lo in range(0, len(ra), chunk):
            ia, ib = ra[lo : lo + chunk], rb[lo : lo + chunk]
            A, B = mat[ia], mat[ib]
            with np.errstate(divide="ignore", invalid="ignore"):
                num = np.einsum("ij,ij->i", A, B)
                den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(
                    np.einsum("ij,ij->i", B, B)
                )
                cos = num / den
            keep = cos >= min_cosine
            if not keep.any():
                continue
            ka, kb, kc = ia[keep], ib[keep], cos[keep]
            a_ids, b_ids = ids_arr[ka], ids_arr[kb]
            swap = a_ids > b_ids  # id order, not row order
            lo_ids = np.where(swap, b_ids, a_ids)
            hi_ids = np.where(swap, a_ids, b_ids)
            out_a.extend(lo_ids.tolist())
            out_b.extend(hi_ids.tolist())
            out_c.extend(kc.tolist())
        if out_a:
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "cos_sim": out_c})

    trigger = spark.range(1).coalesce(1)
    out = trigger.mapInPandas(fn, schema)
    from tegallega_spark.session import attach_intermediates

    return attach_intermediates(out, _BroadcastHandle(bcast))


def all_pairs_above(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.9,
    num_planes: int = 6,
    num_tables: int = 1,
    dim: int | None = None,
    broadcast_rescore: bool | None = None,
) -> DataFrame:
    """Embedding near-dup pairs: multi-table LSH-bucket self-join, bare-pair
    dedup, then exact cosine recomputed per candidate.  Returns
    (id_a, id_b, cos_sim) — deterministic, so with enough tables for recall
    1 at the threshold it is oracle-checkable against exact all-pairs.

    Recall per pair at angle θ is 1-(1-(1-θ/π)^planes)^tables — tables is
    the recall knob, planes the candidate-sparsity knob.  The band join
    shuffles only (id, table, bucket) rows; vectors are joined back for the
    deduped candidate set only — or, when the vector table is small enough
    to broadcast (`broadcast_rescore`, auto-gated on the analyzed scan
    size), gathered from a broadcast (id -> row) matrix inside the SAME
    einsum rescore, so the candidate pairs shuffle as bare id pairs and
    the vector payload never moves at all (float64 widening is identical
    on both routes, so cos_sim is bit-identical).

    Auto-gate caveats (ADVICE r13, on the record): when the gate fires,
    the vector table is collected EAGERLY at query-BUILD time (before any
    caller action) — that is the point of the design (the matrix must be
    in hand to pick the one-task profile and to broadcast), but a caller
    building many never-executed plans pays it, and when the collected
    ids turn out non-unique the collect is discarded and the distributed
    shape used (duplicate ids need join semantics).

    The gate is session.small_scan_input: a scan-rooted vector table whose
    ANALYZED-plan estimate is under session.SMALL_INPUT_BYTES (32 MiB)
    broadcasts the (id -> vector) matrix into the rescore UDF instead of
    joining the raw vectors onto the candidate pairs (guide-§8 "move heavy
    bytes once": at weak LSH parameters the candidate set approaches
    all-pairs, and the two id-equi-joins were shuffling ~2 GB of vector
    payload per run at bench scale).  The estimate counts compressed scan
    bytes, which can understate the decoded float64 footprint several-fold
    — at 32 MiB the decoded matrix is still ≤ a few hundred MB, within
    broadcast practice.  A caller whose executors are memory-tight passes
    broadcast_rescore=False to keep the join shape at any size."""
    from tegallega_spark.session import attach_intermediates, small_scan_input

    if broadcast_rescore is None:
        broadcast_rescore = small_scan_input(df)

    if broadcast_rescore:
        import numpy as np
        from pyspark.sql.functions import pandas_udf

        rows = df.select(id_col, vec_col).collect()
        M = np.array([list(r[1]) for r in rows], dtype=np.float64)
        idx = pd.Index([r[0] for r in rows])
        if dim is None and M.ndim == 2 and len(M):
            dim = M.shape[1]  # saves the dim-probe action below
        if not idx.is_unique:
            # duplicate ids need the join semantics (one rescore row per
            # row-pair) — the gather can't represent that
            broadcast_rescore = False
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    if broadcast_rescore and len(M) <= SMALL_ALLPAIRS_TASK_N:
        # With the vectors in hand and at weak-LSH parameters where the
        # candidate set approaches ALL pairs, the distributed shape's
        # cost is the 8M-row band self-join + pair-dedup exchange —
        # ~4-5 s of shuffle for microseconds of per-pair math.  Run the
        # WHOLE operator in one executor task instead: same plane matrix
        # and sign-bit bucket math (the identical numpy matmul the
        # bucket UDF runs), same pair-set semantics (distinct id pairs
        # sharing >= 1 (table, bucket), id_a < id_b), same chunked
        # einsum rescore doubles.  Memory is a (n, n) candidate mask —
        # the SMALL_ALLPAIRS_TASK_N row gate bounds it (16 MB at 4096).
        return _single_task_all_pairs(
            df, id_col, vec_col, min_cosine, num_planes, num_tables,
            dim, idx, M,
        )
    # persist: both sides of the bucket self-join read the exploded buckets —
    # without it the bucket computation runs twice per row
    bucket_udf = make_bucket_udf(num_planes, num_tables, dim)
    with_buckets = (
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .select("__id", F.posexplode(bucket_udf(F.col("__v"))).alias("table_idx", "bucket"))
        .persist()
    )
    a = with_buckets.select(F.col("__id").alias("id_a"), "table_idx", "bucket")
    b = with_buckets.select(F.col("__id").alias("id_b"), "table_idx", "bucket")
    pairs = (
        a.join(b, ["table_idx", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if broadcast_rescore:
        bcast = df.sparkSession.sparkContext.broadcast((idx, M))

        @pandas_udf("double")
        def cos_by_id(ia: pd.Series, ib: pd.Series) -> pd.Series:
            index, mat = bcast.value
            A = mat[index.get_indexer(ia)]
            B = mat[index.get_indexer(ib)]
            with np.errstate(divide="ignore", invalid="ignore"):
                num = np.einsum("ij,ij->i", A, B)
                den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(
                    np.einsum("ij,ij->i", B, B)
                )
                out = num / den
            return pd.Series(out)

        # asNondeterministic (guide §4.4): the min_cosine filter references
        # the UDF column, and the optimizer otherwise duplicates the UDF
        # below the pushed filter AND in the projection — two
        # ArrowEvalPython evaluations of the same einsum per candidate
        # pair (verified in the plan dump).  Values are unchanged; the
        # mark only pins a single evaluation.
        cos_by_id = cos_by_id.asNondeterministic()
        scored = pairs.select(
            "id_a", "id_b", cos_by_id(F.col("id_a"), F.col("id_b")).alias("cos_sim")
        )
        return attach_intermediates(
            scored.filter(F.col("cos_sim") >= min_cosine),
            with_buckets,
            _BroadcastHandle(bcast),
        )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    # vectorized rescore (guide §4.2): one numpy batch op instead of three
    # interpreted array folds per candidate pair.  asNondeterministic
    # (§4.4): without it the min_cosine filter's pushdown duplicated the
    # UDF — every candidate pair paid the einsum TWICE (plan-verified,
    # two ArrowEvalPython nodes); values are unchanged.
    cos_udf = cosine_pairs_udf().asNondeterministic()
    scored = pairs.join(va, "id_a").join(vb, "id_b").select(
        "id_a",
        "id_b",
        cos_udf(F.col("vec_a"), F.col("vec_b")).alias("cos_sim"),
    )
    return attach_intermediates(
        scored.filter(F.col("cos_sim") >= min_cosine), with_buckets
    )
