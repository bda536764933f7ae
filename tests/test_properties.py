"""Property-based tests (SURVEY §5.2) — hypothesis generates the cases,
one vectorized Spark job checks them all (per-example Spark jobs would be
prohibitively slow)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from hypothesis import example, given, settings, strategies as st

from tegallega_spark.functions.timecodec import (
    gtfs_time_to_seconds,
    seconds_to_hhmmss,
)
from tegallega_spark.operators.stateful import (
    MIN_SPACING_M,
    _stitch_batch,
    _stitch_group,
    _thin_batch,
    _thin_group,
)

import pandas as pd


# ---------------------------------------------------------------------------
# Pure-pandas properties of the stateful folds (exercised distributed in
# test_operators/test_extract; here hypothesis explores the input space)
# ---------------------------------------------------------------------------

@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.lists(
            st.tuples(
                st.floats(min_value=-1, max_value=1, allow_nan=False),
                st.floats(min_value=-1, max_value=1, allow_nan=False),
            ),
            min_size=2,
            max_size=6,
        ),
        min_size=1,
        max_size=5,
    )
)
def test_stitch_preserves_vertex_budget(ways):
    """Output length == total vertices − (n_ways − 1): exactly one joint
    vertex dropped per non-first way, connected or not (js:132-134)."""
    rows = []
    for wo, way in enumerate(ways):
        for vi, (lon, lat) in enumerate(way):
            rows.append(("r", wo, vi, lon, lat))
    pdf = pd.DataFrame(rows, columns=["relation_id", "way_order", "vertex_idx", "lon", "lat"])
    out = _stitch_group(pdf)
    total = sum(len(w) for w in ways)
    assert len(out) == total - (len(ways) - 1)
    # first way's start is always preserved verbatim
    assert (out.iloc[0].lon, out.iloc[0].lat) == ways[0][0]


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=0, max_value=0.05, allow_nan=False),  # lat ~5.5km span
            st.booleans(),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_thinning_invariant(points):
    """Every kept non-real stop is ≥ MIN_SPACING_M from the previously kept
    stop; real stops always survive."""
    rows = [
        ("r", f"s{i}", 0.0, lat, float(i), is_real)
        for i, (lat, is_real) in enumerate(points)
    ]
    pdf = pd.DataFrame(
        rows, columns=["relation_id", "stop_id", "lon", "lat", "frac_idx", "is_real"]
    )
    kept = _thin_group(pdf)
    real_in = {r[1] for r in rows if r[5]}
    assert real_in <= set(kept["stop_id"])
    def hav_m(lat1, lat2):
        r = 6371000.0
        return 2 * r * math.asin(abs(math.sin(math.radians(lat2 - lat1) / 2)))
    last = None
    for row in kept.itertuples(index=False):
        if last is not None and not row.is_real:
            assert hav_m(last, row.lat) >= MIN_SPACING_M - 1e-9
        last = row.lat


# Production runs the multi-relation batch kernels (apply_sorted_groups
# feeds them whole relations, sorted and concatenated); each must equal the
# per-relation reference above, concatenated in key order.  Coordinates mix
# a coarse grid (so way endpoints coincide and the reversal branch fires)
# with free floats.
_coord = st.one_of(
    st.sampled_from([0.0, 0.5, 1.0]),
    st.floats(min_value=-1, max_value=1, allow_nan=False),
)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(
            st.lists(st.tuples(_coord, _coord), min_size=1, max_size=5),
            min_size=1,
            max_size=4,
        ),
        min_size=1,
        max_size=5,
    ),
    st.randoms(use_true_random=False),
)
def test_stitch_batch_equals_per_relation_reference(relations, rnd):
    rows = []
    for r, ways in enumerate(relations):
        orders = sorted(rnd.sample(range(10), len(ways)))
        for wo, way in zip(orders, ways):
            for vi, (lon, lat) in enumerate(way):
                rows.append((f"r{r}", wo, vi, lon, lat))
    rnd.shuffle(rows)
    pdf = pd.DataFrame(
        rows, columns=["relation_id", "way_order", "vertex_idx", "lon", "lat"]
    ).sort_values(["relation_id", "way_order", "vertex_idx"], ignore_index=True)
    want = [
        t
        for _, g in pdf.groupby("relation_id", sort=True)
        for t in _stitch_group(g).itertuples(index=False, name=None)
    ]
    got = list(_stitch_batch(pdf).itertuples(index=False, name=None))
    assert got == want


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(
            st.tuples(
                st.floats(min_value=0, max_value=0.01, allow_nan=False),
                st.floats(min_value=0, max_value=0.01, allow_nan=False),
                st.booleans(),
            ),
            min_size=1,
            max_size=20,
        ),
        min_size=1,
        max_size=5,
    ),
    st.randoms(use_true_random=False),
)
def test_thin_batch_equals_per_relation_reference(relations, rnd):
    rows = []
    for r, stops in enumerate(relations):
        fracs = rnd.sample(range(100), len(stops))
        for i, ((lon, lat, is_real), frac) in enumerate(zip(stops, fracs)):
            rows.append((f"r{r}", f"r{r}s{i}", lon, lat, float(frac), is_real))
    pdf = pd.DataFrame(
        rows,
        columns=["relation_id", "stop_id", "lon", "lat", "frac_idx", "is_real"],
    ).sort_values(["relation_id", "frac_idx"], ignore_index=True)
    want = pd.concat(
        [_thin_group(g) for _, g in pdf.groupby("relation_id", sort=True)]
    )
    got = _thin_batch(pdf)
    assert list(got["stop_id"]) == list(want["stop_id"])
    assert list(got.itertuples(index=False, name=None)) == list(
        want.itertuples(index=False, name=None)
    )


# ---------------------------------------------------------------------------
# Time-codec properties, vectorized through one Spark job
# ---------------------------------------------------------------------------

def test_time_codec_roundtrip_property(spark):
    import random

    rng = random.Random(42)
    secs = [rng.randrange(0, 48 * 3600) for _ in range(500)]
    df = spark.createDataFrame([(s,) for s in secs], "s long")
    out = df.select("s", seconds_to_hhmmss(F.col("s")).alias("hms")).withColumn(
        "back", gtfs_time_to_seconds(F.col("hms"))
    )
    rows = out.collect()
    for r in rows:
        # reference semantics: HH:MM:SS with unbounded hours, lossless
        assert r.back == r.s, (r.s, r.hms, r.back)
        h, m, sec = r.hms.split(":")
        assert int(m) < 60 and int(sec) < 60
        assert int(h) == r.s // 3600


# ---------------------------------------------------------------------------
# Round-5 operators: intra-doc paragraph dedup + mixture sampling
# ---------------------------------------------------------------------------

@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab \t", min_size=0, max_size=8),
        min_size=0,
        max_size=10,
    )
)
def test_paragraph_dedup_idempotent_and_duplicate_free(paras):
    """Pure-python replay of dedupe_paragraphs' contract (trim, drop empty,
    keep-first distinct): idempotence and no-duplicates, over adversarial
    whitespace paragraphs.  The Spark expression is pinned against this
    exact contract in test_training_ops; hypothesis explores the space."""
    def model(text):
        seen, out = set(), []
        import re
        for p in re.split(r"\r?\n(?:[ \t]*\r?\n)+", text):
            p = re.sub(r"^\s+|\s+$", "", p)
            if p and p not in seen:
                seen.add(p)
                out.append(p)
        return "\n\n".join(out)

    text = "\n\n".join(paras)
    once = model(text)
    assert model(once) == once                      # idempotent
    kept = once.split("\n\n") if once else []
    assert len(kept) == len(set(kept))              # duplicate-free
    # keep-first order: kept is a subsequence of the trimmed input
    trimmed = [p.strip() for p in paras if p.strip()]
    it = iter(trimmed)
    assert all(any(p == q for q in it) for p in kept)


def test_paragraph_dedup_spark_matches_python_model(spark):
    """The Spark expression agrees with the python model on one vectorized
    batch of adversarial cases."""
    import re

    from tegallega_spark.operators.textual import dedupe_paragraphs

    def model(text):
        if text is None:
            return None
        seen, out = set(), []
        for p in re.split(r"\r?\n(?:[ \t]*\r?\n)+", text):
            p = re.sub(r"^\s+|\s+$", "", p)
            if p and p not in seen:
                seen.add(p)
                out.append(p)
        return "\n\n".join(out)

    cases = [
        "a\n\nb\n\na",
        "a\n\n\n\na\n\nb",
        "  x  \n\nx\n\ny",
        "\n\n\n\n",
        "p\n \np\n\t\np",
        "tail\n\n",
        "\n\nhead",
        "one only",
        None,
        "a\t\n\na",                  # tab-edged repeat must still dedup
        "crlf\r\n\r\ncrlf\r\n\r\nz",  # CRLF blank lines split too
        "m\r\n \r\nm",
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i long, text string"
    )
    got = {r.i: r.c for r in df.select(
        "i", dedupe_paragraphs(F.col("text")).alias("c")).collect()}
    for i, c in enumerate(cases):
        assert got[i] == model(c), f"case {i}: {c!r} -> {got[i]!r}"


@settings(max_examples=25, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.tuples(st.integers(min_value=1, max_value=5000),
                  st.floats(min_value=0.05, max_value=1.0)),
        min_size=1, max_size=4,
    )
)
def test_mixture_rates_feasible(spec):
    """The rate formula never upsamples and always saturates the binding
    stratum: 0 < rate_s <= 1 with equality for argmin(n_s / w_s)."""
    total = sum(w for _, w in spec.values())
    targets = {s: w / total for s, (_, w) in spec.items()}
    counts = {s: n for s, (n, _) in spec.items()}
    n_out = min(counts[s] / w for s, w in targets.items())
    rates = {s: w * n_out / counts[s] for s, w in targets.items()}
    assert all(0 < r <= 1 + 1e-12 for r in rates.values())
    binding = min(targets, key=lambda s: counts[s] / targets[s])
    assert math.isclose(rates[binding], 1.0)


# ---------------------------------------------------------------------------
# Sliding-window chunker (r6 operator): hypothesis drives the EXACT
# per-doc core the Spark mapInPandas path runs (textual._chunk_token_list)
# ---------------------------------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(
    n=st.integers(min_value=0, max_value=400),
    chunk_tokens=st.integers(min_value=1, max_value=64),
    stride_delta=st.integers(min_value=0, max_value=63),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_chunker_tiles_the_document(n, chunk_tokens, stride_delta, seed):
    """Chunks start at every multiple of stride below the token count:
    (a) chunk i IS toks[i*stride : i*stride+chunk_tokens]; (b) the
    stride-prefixes concatenate back to the full token stream (nothing
    lost, nothing duplicated beyond the declared overlap); (c) only the
    final chunk may be short, and it is short exactly when the last
    stride boundary leaves fewer than chunk_tokens tokens."""
    from tegallega_spark.operators.textual import _chunk_token_list

    # stride <= chunk_tokens (RoBERTa-style overlap or exact tiling)
    stride = max(1, chunk_tokens - (stride_delta % chunk_tokens))
    import random

    rnd = random.Random(seed)
    toks = [f"t{rnd.randrange(50)}" for _ in range(n)]
    chunks = _chunk_token_list(list(toks), chunk_tokens, stride)

    n_expected = 0 if n == 0 else -(-n // stride)  # ceil
    assert len(chunks) == n_expected
    for i, piece in enumerate(chunks):
        assert piece == toks[i * stride : i * stride + chunk_tokens]
        # every chunk's length is exactly what remains, capped at the window
        assert len(piece) == min(chunk_tokens, n - i * stride)
        # a chunk is short exactly when its window overruns the doc end
        # (with overlap that can be several trailing windows; with exact
        # tiling, stride == chunk_tokens, it is at most the final one)
        assert (len(piece) < chunk_tokens) == (i * stride + chunk_tokens > n)
        if stride == chunk_tokens and i < len(chunks) - 1:
            assert len(piece) == chunk_tokens
    # stride-prefixes tile the token stream exactly
    tiled = [t for i, piece in enumerate(chunks) for t in piece[:stride]]
    assert tiled == toks


@settings(max_examples=100, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=200),
    chunk_tokens=st.integers(min_value=1, max_value=64),
)
def test_chunker_empty_split_artifacts_dropped(n, chunk_tokens):
    """Leading/trailing/multiple whitespace produce '' entries from the
    regex split; the core drops them, so token counts match token_count's
    Java-\\s semantics."""
    from tegallega_spark.operators.textual import _chunk_token_list

    toks = ["", "a"] * n + [""]
    chunks = _chunk_token_list(toks, chunk_tokens, chunk_tokens)
    assert sum(len(c) for c in chunks) == n
    assert all(t == "a" for c in chunks for t in c)


# ---------------------------------------------------------------------------
# Shingle window hash (dedup._window_hashes, under MinHash, exact Jaccard,
# repetition stats and span dedup): the numpy uint64 form against the
# pure-Python big-int polynomial it stands for
# ---------------------------------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(
    words=st.lists(st.text(max_size=6), max_size=30),
    k=st.integers(min_value=1, max_value=8),
)
def test_window_hashes_equal_bigint_polynomial(words, k):
    """Window i hashes to sum_j coef[j] * word_hash(words[i + j]) mod 2^64
    — exactly what numpy's wrapping uint64 multiply-add computes — and a
    list shorter than k has no windows."""
    import numpy as np

    from tegallega_spark.operators.dedup import (
        _window_coef,
        _window_hashes,
        _word_hash,
    )

    coef = _window_coef(k)
    wh = np.array([_word_hash(w) for w in words], dtype=np.uint64)
    want = [
        sum(int(c) * _word_hash(words[i + j]) for j, c in enumerate(coef))
        % (1 << 64)
        for i in range(len(words) - k + 1)
    ]
    got = _window_hashes(wh, coef)
    assert got.dtype == np.uint64
    assert got.tolist() == want


# ---------------------------------------------------------------------------
# YUV4MPEG2 codec (r6 operator): encode→decode round-trips arbitrary
# frame stacks for every colorspace the writer emits; raw hand-built
# streams pin the plane geometry for the read-only colorspaces
# ---------------------------------------------------------------------------

@settings(max_examples=40, deadline=None)
@given(
    n_frames=st.integers(min_value=1, max_value=4),
    h2=st.integers(min_value=1, max_value=12),
    w2=st.integers(min_value=1, max_value=12),
    fps=st.integers(min_value=1, max_value=120),
    gray=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_y4m_c444_roundtrip_property(n_frames, h2, w2, fps, gray, seed):
    """C444 keeps full chroma: any frame stack (odd dims allowed, 2D
    grayscale allowed) survives encode→decode within the ±2 rounding of
    the 8-bit BT.601 limited-range matrix pair; fps and frame count are
    exact."""
    import numpy as np

    from tegallega_spark.operators import multimodal as MM

    rng = np.random.RandomState(seed)
    h, w = 2 * h2 - 1, 2 * w2 - 1  # deliberately odd
    shape = (h, w) if gray else (h, w, 3)
    frames = [rng.randint(0, 256, size=shape).astype(np.uint8)
              for _ in range(n_frames)]
    back, got_fps = MM.decode_y4m(MM.encode_y4m(frames, fps=fps,
                                                colorspace="C444"))
    assert got_fps == fps and len(back) == n_frames
    for orig, dec in zip(frames, back):
        assert dec.shape == (h, w, 3)
        rgb = (np.stack([orig] * 3, axis=-1) if gray else orig).astype(int)
        assert np.abs(dec.astype(int) - rgb).max() <= 2


@settings(max_examples=40, deadline=None)
@given(
    n_frames=st.integers(min_value=1, max_value=3),
    h2=st.integers(min_value=1, max_value=10),
    w2=st.integers(min_value=1, max_value=10),
    fps=st.integers(min_value=1, max_value=60),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
# 2×2 frame whose averaged chroma pushes most decoded pixels out of RGB
# range: the old mean-luma bound (< 4) measured 7.39 here
@example(n_frames=1, h2=1, w2=1, fps=1, seed=114086)
def test_y4m_c420_roundtrip_property(n_frames, h2, w2, fps, seed):
    """C420 2×2-averages chroma, so only luma survives per pixel: frame
    count / dims / fps exact, and on every pixel whose decoded RGB is not
    clipped to 0 or 255 the BT.601 luma is within 1.5 of the original.
    Clipped pixels are excluded: averaged chroma on random frames can put
    the reconstruction outside [0, 255], and the clip then moves luma by
    an amount no codec bound covers (small frames have few pixels to
    average that out, so a mean bound fails there too)."""
    import numpy as np

    from tegallega_spark.operators import multimodal as MM

    rng = np.random.RandomState(seed)
    h, w = 2 * h2, 2 * w2
    frames = [rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
              for _ in range(n_frames)]
    back, got_fps = MM.decode_y4m(MM.encode_y4m(frames, fps=fps,
                                                colorspace="C420"))
    assert got_fps == fps and len(back) == n_frames
    yw = np.array([0.299, 0.587, 0.114])
    for orig, dec in zip(frames, back):
        assert dec.shape == (h, w, 3)
        unclipped = ((dec > 0) & (dec < 255)).all(axis=-1)
        err = np.abs(orig.astype(float) @ yw - dec.astype(float) @ yw)
        assert err[unclipped].max(initial=0.0) <= 1.5


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=16),
    w2=st.integers(min_value=1, max_value=8),
    mono=st.booleans(),
    fps_num=st.integers(min_value=1, max_value=60000),
    fps_den=st.integers(min_value=1, max_value=1001),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_y4m_readonly_colorspaces_plane_geometry(h, w2, mono, fps_num,
                                                 fps_den, seed):
    """C422 / Cmono exist only on the read path (the writer emits
    C444/C420) — hand-built raw streams pin the parser's plane sizes,
    ordering, nearest-neighbor upsample geometry, and F num:den
    rounding against an independent numpy replay."""
    import numpy as np

    from tegallega_spark.operators import multimodal as MM

    rng = np.random.RandomState(seed)
    w = 2 * w2
    if mono:
        planes = [rng.randint(0, 256, size=(h, w), dtype=np.uint8)]
        cs, cb_up = "Cmono", None
    else:
        y = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
        cb = rng.randint(0, 256, size=(h, w2), dtype=np.uint8)
        cr = rng.randint(0, 256, size=(h, w2), dtype=np.uint8)
        planes, cs = [y, cb, cr], "C422"
        cb_up = (cb.repeat(2, 1), cr.repeat(2, 1))
    payload = (f"YUV4MPEG2 W{w} H{h} F{fps_num}:{fps_den} {cs}".encode()
               + b"\n" + b"FRAME\n" + b"".join(p.tobytes() for p in planes))
    back, fps = MM.decode_y4m(payload)
    assert fps == round(fps_num / fps_den)
    assert len(back) == 1 and back[0].shape == (h, w, 3)
    y = planes[0]
    if mono:
        cb_full = cr_full = np.full((h, w), 128, np.uint8)
    else:
        cb_full, cr_full = cb_up
    ycc = np.stack([y, cb_full, cr_full], -1).astype(np.float64)
    ycc -= np.array([16.0, 128.0, 128.0])
    expect = np.clip(np.rint(ycc @ MM._Y4M_INV.T), 0, 255).astype(np.uint8)
    assert (back[0] == expect).all()
