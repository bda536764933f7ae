"""Unit + property tests for the non-oracle operators: stateful scans
(SURVEY §5.2 property tests), spatial, dedup, multimodal plumbing."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest


from tegallega_spark.operators import multimodal as MM
from tegallega_spark.operators.dedup import dedup_keep_first, dedup_keep_last
from tegallega_spark.operators.spatial import interpolate_virtual_stops
from tegallega_spark.operators.stateful import (
    MIN_SPACING_M,
    stitch_ways,
    thin_stops,
)
from tegallega_spark.pipeline.gtfs_build import shape_points
from tegallega_spark.session import load_table


def _haversine_m(lon1, lat1, lon2, lat2):
    r = 6371000.0
    p1, p2 = math.radians(lat1), math.radians(lat2)
    a = (
        math.sin((p2 - p1) / 2) ** 2
        + math.cos(p1) * math.cos(p2) * math.sin(math.radians(lon2 - lon1) / 2) ** 2
    )
    return 2 * r * math.asin(math.sqrt(a))


# ---------------------------------------------------------------------------
# stitch_ways: reference update-routes.js:111-141 invariants
# ---------------------------------------------------------------------------

def test_stitch_ways_reverses_and_joins(spark):
    # way0: A->B; way1 given as C->B (must be reversed to B->C); way2: C->D
    A, B, C, Dp = (0.0, 0.0), (0.001, 0.0), (0.002, 0.0), (0.003, 0.0)
    rows = []
    for i, (lon, lat) in enumerate([A, B]):
        rows.append(("r1", 0, i, lon, lat))
    for i, (lon, lat) in enumerate([C, B]):
        rows.append(("r1", 1, i, lon, lat))
    for i, (lon, lat) in enumerate([C, Dp]):
        rows.append(("r1", 2, i, lon, lat))
    df = spark.createDataFrame(
        rows, "relation_id string, way_order int, vertex_idx int, lon double, lat double"
    )
    out = stitch_ways(df).orderBy("vertex_idx").collect()
    coords = [(r.lon, r.lat) for r in out]
    # endpoints preserved, joint vertices deduplicated, orientation fixed
    assert coords[0] == A and coords[-1] == Dp
    assert coords == [A, B, C, Dp]


def test_stitch_ways_gap_still_concatenates(spark):
    # disconnected ways: reference warns but concatenates, AND still slices
    # the first vertex of the non-first way (js:127-134 — bug preserved)
    rows = [("r2", 0, 0, 0.0, 0.0), ("r2", 0, 1, 0.001, 0.0),
            ("r2", 1, 0, 0.5, 0.5), ("r2", 1, 1, 0.6, 0.5)]
    df = spark.createDataFrame(
        rows, "relation_id string, way_order int, vertex_idx int, lon double, lat double"
    )
    out = stitch_ways(df).orderBy("vertex_idx").collect()
    assert len(out) == 3
    assert (out[2].lon, out[2].lat) == (0.6, 0.5)


# ---------------------------------------------------------------------------
# thin_stops: min-spacing invariant (reference update-routes.js:353-373)
# ---------------------------------------------------------------------------

def test_thin_stops_invariant(spark):
    # stops every ~55m along a meridian; every 5th is real
    rows = []
    for i in range(40):
        rows.append(("r1", f"s{i}", 0.0, i * 0.0005, float(i), i % 5 == 0))
    df = spark.createDataFrame(
        rows, "relation_id string, stop_id string, lon double, lat double, "
        "frac_idx double, is_real boolean"
    )
    kept = thin_stops(df).orderBy("frac_idx").collect()
    # all real stops survive
    assert {r.stop_id for r in kept} >= {f"s{i}" for i in range(0, 40, 5)}
    # virtual gaps ≥ MIN_SPACING_M from last kept
    last = None
    for r in kept:
        if last is not None and not r.is_real:
            assert _haversine_m(r.lon, r.lat, last[0], last[1]) >= MIN_SPACING_M - 1e-6
        last = (r.lon, r.lat)


def test_apply_sorted_groups_survives_batch_splits(spark):
    """r13: the batched fold helper buffers the trailing incomplete group
    of each Arrow batch — a group LARGER than a batch, or one straddling
    a boundary, must reach the kernel whole.  Forced with a tiny
    maxRecordsPerBatch and groups engineered around the boundary;
    asserted against per-group ground truth."""
    from tegallega_spark.operators.stateful import apply_sorted_groups

    key_sizes = [("a", 7), ("b", 23), ("c", 1), ("d", 40), ("e", 9)]
    rows = []
    for k, sz in key_sizes:
        for i in range(sz):
            rows.append((k, i))
    df = spark.createDataFrame(rows, "k string, i int").coalesce(1)

    def kernel(pdf):
        import pandas as pd

        # one row per WHOLE group: (key, n_rows, checksum of ordered i)
        out = []
        kcol = pdf["k"].to_numpy()
        import numpy as np
        starts = np.flatnonzero(np.concatenate(([True], kcol[1:] != kcol[:-1])))
        ends = np.concatenate((starts[1:], [len(kcol)]))
        for s, e in zip(starts, ends):
            ii = pdf["i"].to_numpy()[s:e]
            out.append((kcol[s], int(len(ii)),
                        int(sum(v * (j + 1) for j, v in enumerate(ii)))))
        return pd.DataFrame(out, columns=["k", "n", "chk"])

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
        got = {
            r.k: (r.n, r.chk)
            for r in apply_sorted_groups(df, "k", ["i"], kernel,
                                         "k string, n long, chk long").collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    want = {
        k: (sz, sum(v * (j + 1) for j, v in enumerate(range(sz))))
        for k, sz in key_sizes
    }
    assert got == want


# ---------------------------------------------------------------------------
# cumulative distance monotonicity (SURVEY §5.2)
# ---------------------------------------------------------------------------

def test_cumdist_monotone(spark):
    rows = [("s1", i, float(i) * 0.001, 0.0) for i in range(50)]
    df = spark.createDataFrame(rows, "relation_id string, vertex_idx int, lon double, lat double")
    out = shape_points(df, ("vertex_idx",)).orderBy("shape_pt_sequence").collect()
    dists = [r.shape_dist_traveled for r in out]
    assert dists[0] == 0.0
    assert all(b >= a for a, b in zip(dists, dists[1:]))
    assert out[-1].shape_pt_sequence == 50
    assert {r.shape_id for r in out} == {"shape_s1"}


def test_interpolate_virtual_stops(spark):
    # two real stops ~1.11 km apart → floor(1.11/0.25)=4 virtual stops
    df = spark.createDataFrame(
        [("r1", "a", 0.0, 0.0, 0.0, True), ("r1", "b", 0.01, 0.0, 1.0, True)],
        "relation_id string, stop_id string, lon double, lat double, "
        "frac_idx double, is_real boolean",
    )
    out = interpolate_virtual_stops(df).orderBy("frac_idx").collect()
    assert len(out) == 4
    assert all(not r.is_real for r in out)
    assert all(r.stop_id.startswith("virtual_") for r in out)
    lons = [r.lon for r in out]
    assert lons == sorted(lons) and 0.0 < lons[0] < lons[-1] < 0.01


# ---------------------------------------------------------------------------
# dedup keep-first/keep-last
# ---------------------------------------------------------------------------

def test_dedup_first_and_last(spark):
    df = spark.createDataFrame(
        [("k1", 1, "a"), ("k1", 2, "b"), ("k2", 5, "c")],
        "key string, seq int, val string",
    )
    first = {r.key: r.val for r in dedup_keep_first(df, ["key"], "seq").collect()}
    last = {r.key: r.val for r in dedup_keep_last(df, ["key"], "seq").collect()}
    assert first == {"k1": "a", "k2": "c"}
    assert last == {"k1": "b", "k2": "c"}


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def test_multimodal_decode_roundtrip(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    payloads = MM.attach_binary_payload(docs)
    decoded = MM.decode_batches(payloads)
    rows = decoded.collect()
    assert len(rows) == 20
    byte_lens = {r.doc_id: r.byte_len for r in rows}
    truth = {r.doc_id: len(r.text.encode()) for r in docs.collect()}
    assert byte_lens == truth
    assert all(r.width >= 16 and r.feature_hash >= 0 for r in rows)


def test_verified_neardups_equal_exact_sets(spark, sf_dir):
    """The falsifiability contract behind q35/q36 (minhash/simhash): LSH
    candidates + exact-Jaccard recompute must equal the exact all-pairs
    result on the test corpus — a missed pair or wrong score is an oracle
    mismatch, not a silent grey row."""
    from tegallega_spark.operators.dedup import (
        exact_shingle_jaccard_pairs,
        minhash_near_duplicates_verified,
        simhash_near_duplicates_verified,
    )

    d = load_table(spark, sf_dir, "documents")
    mh = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in minhash_near_duplicates_verified(
            d, "doc_id", "text", shingle_n=3, jaccard_threshold=0.7
        ).collect()
    }
    ex3 = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in exact_shingle_jaccard_pairs(d, 3, 0.7).collect()
    }
    assert mh == ex3 and len(mh) > 0
    sh = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in simhash_near_duplicates_verified(d, "doc_id", "text").collect()
    }
    ex2 = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in exact_shingle_jaccard_pairs(d, 2, 0.7).collect()
    }
    assert sh == ex2 and len(sh) > 0


def test_band_shingle_hashes_pinned(spark):
    """The MinHash band hashes and shingle-hash sets are persisted state
    (the streaming near-dup checkpoint keys on band hashes), so their
    exact values are pinned: a change to the word hash, the window
    multipliers or the polynomial must show up here, not in a silently
    re-keyed checkpoint.  Edge rows: NULL, empty, punctuation-only, one-
    and two-word docs (shorter than the 3-shingle), and duplicates."""
    import hashlib

    from tegallega_spark.operators.dedup import make_band_shingle_udf

    texts = [
        None,
        "",
        "?!, ... --",
        "solo",
        "Two words",
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog",
        "The QUICK brown fox; jumps over the lazy cat!",
        "a b c a b c a b c",
        "angkot route 12 Tegallega to Kebon Kalapa via Jl. Moh. Toha",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "i long, text string")
    rows = (
        df.select("i", make_band_shingle_udf(3, 32, 16)(F.col("text")).alias("e"))
        .orderBy("i")
        .collect()
    )
    assert [r.i for r in rows] == list(range(len(texts)))

    def digest(field):
        return hashlib.sha256(repr([list(r.e[field]) for r in rows]).encode()).hexdigest()

    assert digest("bh") == "a924bc2c48c40b3bf7ff939de927a2fab2ff5738b0772e929563e61854c08394"
    assert digest("sh") == "58778dc70fb555f5e9abf6093e991d0cc2a20fee346a2fb9103908ed8a3cc8a2"


def test_md5_simhash_fingerprints_rederivable(spark, sf_dir):
    """r9: the md5 hash family (q36's oracle-replayable variant) — the
    Spark fingerprint must equal a pure-python rederivation of the SAME
    spec (lower, [^a-z0-9]+ split, distinct 2-shingles, first-15-hex-chars
    md5 → 60-bit int, per-bit ±1 sums), and the md5 verified pair set must
    still equal the exact set on the smoke corpus."""
    import hashlib
    import re as _re

    from tegallega_spark.operators.dedup import (
        exact_shingle_jaccard_pairs,
        simhash_fingerprints,
        simhash_near_duplicates_verified,
    )

    d = load_table(spark, sf_dir, "documents").limit(50)
    got = {
        r["__id"]: r["__fp"]
        for r in simhash_fingerprints(d, "doc_id", "text").collect()
    }
    for row in d.select("doc_id", "text").collect():
        words = [w for w in _re.split(r"[^a-z0-9]+", (row.text or "").lower()) if w]
        if len(words) < 2:
            sh = {" ".join(words)}
        else:
            sh = {" ".join(words[i : i + 2]) for i in range(len(words) - 1)}
        sums = [0] * 60
        for g in sorted(sh):
            h = int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
            for b in range(60):
                sums[b] += 1 if (h >> b) & 1 else -1
        want = sum(1 << b for b in range(60) if sums[b] > 0)
        assert got[row.doc_id] == want, row.doc_id

    full = load_table(spark, sf_dir, "documents")
    md5_pairs = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in simhash_near_duplicates_verified(full, "doc_id", "text").collect()
    }
    ex2 = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in exact_shingle_jaccard_pairs(full, 2, 0.7).collect()
    }
    assert md5_pairs == ex2 and len(md5_pairs) > 0


def test_embedding_all_pairs_equals_brute_force(spark, sf_dir):
    """Multi-table hyperplane LSH + exact cosine recompute equals the exact
    all-pairs result at the q39 threshold."""
    from tegallega_spark.operators.similarity import all_pairs_above, cosine

    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        (r.id_a, r.id_b, round(r.cos_sim, 6))
        for r in all_pairs_above(
            emb, min_cosine=0.462, num_planes=2, num_tables=16
        ).collect()
    }
    va = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    vb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    exact = {
        (r.id_a, r.id_b, round(r.c, 6))
        for r in va.crossJoin(vb)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            cosine(
                F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")
            ).alias("c"),
        )
        .filter(F.col("c") >= 0.462)
        .collect()
    }
    assert got == exact and len(got) > 0


def test_text_sketches(spark):
    import pyspark.sql.functions as F

    from tegallega_spark.operators.textual import (
        rolling_hash_fingerprints_from_tokens,
        tokens,
    )

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(100)))],
        "id long, text string",
    )

    def sketch():
        return df.select(
            rolling_hash_fingerprints_from_tokens(tokens(F.col("text"))).alias("fp")
        ).first().fp

    fp = sketch()
    assert len(fp) > 0 and fp == sorted(fp)
    # identical text → identical sketch (determinism)
    assert sketch() == fp


# ---------------------------------------------------------------------------
# real PNG codec (pure stdlib): round-trip, filter coverage, Spark dispatch
# ---------------------------------------------------------------------------

def _png_with_filters(px, filters):
    """Independent PNG writer applying a given filter type per row (forward
    filtering implemented separately from the module's un-filtering)."""
    import struct
    import zlib

    import numpy as np

    h, w, c = px.shape
    stride = w * c
    flat = px.reshape(h, stride).astype(np.int32)
    raw = bytearray()
    for r, ftype in zip(range(h), filters):
        cur = flat[r]
        prev = flat[r - 1] if r else np.zeros(stride, dtype=np.int32)
        shifted = np.concatenate([np.zeros(c, dtype=np.int32), cur[:-c]])
        pshift = np.concatenate([np.zeros(c, dtype=np.int32), prev[:-c]])
        if ftype == 0:
            enc = cur
        elif ftype == 1:
            enc = cur - shifted
        elif ftype == 2:
            enc = cur - prev
        elif ftype == 3:
            enc = cur - ((shifted + prev) >> 1)
        else:  # paeth
            p = shifted + prev - pshift
            pa, pb, pc = abs(p - shifted), abs(p - prev), abs(p - pshift)
            pred = np.where(
                (pa <= pb) & (pa <= pc), shifted, np.where(pb <= pc, prev, pshift)
            )
            enc = cur - pred
        raw.append(ftype)
        raw.extend((enc & 0xFF).astype(np.uint8).tobytes())

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, {3: 2, 4: 6}[c], 0, 0, 0)
    return (
        MM.PNG_MAGIC + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    )


def test_png_roundtrip_all_color_types():
    import numpy as np

    rng = np.random.RandomState(7)
    for shape in [(13, 9), (11, 7, 3), (5, 8, 4)]:
        px = rng.randint(0, 256, size=shape, dtype=np.uint8)
        back = MM.decode_png(MM.encode_png(px))
        assert back.shape == px.shape and (back == px).all()


def test_png_unfilter_all_filter_types():
    import numpy as np

    rng = np.random.RandomState(3)
    px = rng.randint(0, 256, size=(10, 6, 3), dtype=np.uint8)
    payload = _png_with_filters(px, [0, 1, 2, 3, 4, 4, 3, 2, 1, 0])
    back = MM.decode_png(payload)
    assert (back == px).all()


def test_decode_batches_dispatches_real_png(spark):
    """PNG payloads take the real decode path (true dims + pixel-content
    hash); non-PNG payloads keep the deterministic fake — and the same
    image under DIFFERENT encodings (filter choices) hashes identically."""
    import numpy as np

    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, size=(24, 17, 3), dtype=np.uint8)
    plain = MM.encode_png(px)                       # filter-0 encoding
    filtered = _png_with_filters(px, [4] * 24)      # paeth encoding
    assert plain != filtered
    rows = [(1, bytearray(plain)), (2, bytearray(filtered)), (3, bytearray(b"not a png"))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in MM.decode_batches(df).collect()}
    assert (got[1].width, got[1].height, got[1].format) == (17, 24, "png")
    assert got[1].feature_hash == got[2].feature_hash  # content, not bytes
    assert got[1].byte_len == len(plain) and got[2].byte_len == len(filtered)
    assert got[3].format in ("png", "jpg") and got[3].width == len(b"not a png") % 640 + 16


@pytest.mark.parametrize(
    "line, price",
    [
        (1, -5.0),           # negative price
        (1, 12.345),         # not exactly 2-decimal
        (1, 1342177.28),     # 2^27 cents
        (-1, 10.0),          # line number below 0
    ],
    ids=["negative", "three_decimals", "cents_2_27", "negative_line"],
)
def test_q08_packing_guard_raises_on_unpackable_row(spark, tmp_path, line, price):
    """q08 packs (cents, line) into one long; a row outside the packing's
    preconditions must fail the query, not decode to a wrong argmin.  The
    same table without that row, with a price one cent under the cap,
    still answers."""
    from tegallega_spark.queries import SPARK_QUERIES

    schema = "l_orderkey bigint, l_linenumber int, l_extendedprice double"
    good = [(1, 2, 1342177.27), (1, 3, 10.5), (2, 1, 7.25)]
    q08 = SPARK_QUERIES["q08_argminmax_join"]

    spark.createDataFrame(good, schema).write.parquet(str(tmp_path / "ok" / "lineitem.parquet"))
    rows = sorted(tuple(r) for r in q08(spark, str(tmp_path / "ok")).collect())
    assert rows == [(1, 3, 10.5, 2, 1342177.27), (2, 1, 7.25, 1, 7.25)]

    bad = good + [(2, line, price)]
    spark.createDataFrame(bad, schema).write.parquet(str(tmp_path / "bad" / "lineitem.parquet"))
    with pytest.raises(Exception, match="q08 cannot pack") as err:
        q08(spark, str(tmp_path / "bad")).collect()
    assert f"l_linenumber={line}" in str(err.value)
