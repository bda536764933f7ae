"""RIFF/AVI MJPEG demux + decode: round-trip, Spark dispatch, frame
sampling on real frame counts, and corrupt/foreign-codec handling.

Closes the last fake modality: video payloads now take a real path —
RIFF tree walk → strh fps → movi '00dc' chunks → the from-scratch
baseline JPEG decoder per frame (operators/jpeg.py)."""

import struct

import numpy as np
import pytest

from tegallega_spark.operators import multimodal as MM


def _frames(n=4, h=24, w=16, seed=2):
    rng = np.random.RandomState(seed)
    base = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    # smooth gradient shift per frame: JPEG is lossy, so frames must be
    # compressible content, but dims/count/fps are exact either way
    return [np.clip(base.astype(int) + 10 * i, 0, 255).astype(np.uint8) for i in range(n)]


def test_avi_roundtrip_structure():
    frames = _frames()
    payload = MM.encode_avi(frames, fps=12, quality=92)
    back, fps = MM.decode_avi(payload)
    assert fps == 12 and len(back) == 4
    for orig, dec in zip(frames, back):
        assert dec.shape == orig.shape
        # lossy but close: mean abs error bounded (same bound test_jpeg uses)
        assert np.abs(dec.astype(int) - orig.astype(int)).mean() < 12


def test_avi_rejects_foreign_codec():
    payload = bytearray(MM.encode_avi(_frames(1), fps=5))
    idx = payload.index(b"vids") + 4
    payload[idx : idx + 4] = b"H264"
    with pytest.raises(ValueError, match="MJPG only"):
        MM.decode_avi(bytes(payload))


def test_avi_word_alignment_with_odd_jpeg():
    """A movi chunk whose JPEG has odd length must be padded and the walk
    must stay aligned — decode still yields every frame."""
    frames = _frames(3, h=17, w=13)  # odd dims → odd-ish blob lengths
    payload = MM.encode_avi(frames, fps=7)
    back, fps = MM.decode_avi(payload)
    assert fps == 7 and len(back) == 3
    assert all(f.shape == (17, 13, 3) for f in back)


def test_decode_batches_dispatches_real_avi(spark):
    """AVI payloads take the real demux path in the Spark pipeline: true
    dims and frame count, fingerprint over DECODED pixels of all frames —
    two encodings (different quality) of the same content differ (lossy),
    but dims/count are exact; corrupt AVI gets a marker row."""
    frames = _frames()
    good = MM.encode_avi(frames, fps=10)
    rows = [
        (1, bytearray(good)),
        (2, bytearray(good[:40])),  # truncated → corrupt marker
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in MM.decode_batches(df).collect()}
    assert (got[1].format, got[1].width, got[1].height, got[1].n_frames) == (
        "avi", 16, 24, 4,
    )
    assert got[2].format == "corrupt"


def test_avi_strf_is_valid_bitmapinfoheader():
    """The strf chunk must be a 40-byte BITMAPINFOHEADER with matching
    dims and MJPG fourcc — what any third-party demuxer keys on."""
    payload = MM.encode_avi(_frames(2, h=20, w=32), fps=10)
    idx = payload.index(b"strf") + 8
    strf = payload[idx : idx + 40]
    bi_size, w, h, planes, bits, fourcc = struct.unpack("<IiiHH4s", strf[:20])
    assert (bi_size, w, h, planes, bits, fourcc) == (40, 32, 20, 1, 24, b"MJPG")


# ---------------------------------------------------------------------------
# resize_batches / extract_features (the remaining multimodal ops the
# north-star brief names: decode / feature-extract / resize / frame-sample)
# ---------------------------------------------------------------------------

def test_resize_pixels_exact_on_linear_gradient():
    """Bilinear interpolation reproduces linear functions exactly — the
    property that pins the math (up to uint8 rounding)."""
    h, w = 32, 48
    yy, xx = np.mgrid[0:h, 0:w]
    grad = ((yy * 2 + xx) % 256).astype(np.uint8)
    # a truly linear field: value = a*y + b*x + c without wraparound
    lin = (1.5 * yy + 2.0 * xx + 10).astype(np.float64)
    lin_img = np.clip(np.rint(lin), 0, 255).astype(np.uint8)
    out = MM.resize_pixels(lin_img, 16, 24)
    oy, ox = np.mgrid[0:16, 0:24]
    sy = (oy + 0.5) * h / 16 - 0.5
    sx = (ox + 0.5) * w / 24 - 0.5
    want = np.clip(np.rint(1.5 * np.clip(sy, 0, h - 1) + 2.0 * np.clip(sx, 0, w - 1) + 10), 0, 255)
    assert np.abs(out.astype(int) - want.astype(int)).max() <= 1
    del grad


def test_resize_identity_and_constant():
    rng = np.random.RandomState(4)
    px = rng.randint(0, 256, size=(20, 15, 3), dtype=np.uint8)
    assert (MM.resize_pixels(px, 20, 15) == px).all()  # identity
    const = np.full((33, 21), 137, dtype=np.uint8)
    assert (MM.resize_pixels(const, 7, 50) == 137).all()  # constant preserved


def test_resize_batches_real_roundtrip(spark):
    """PNG in → resized PNG out, verified by decoding the OUTPUT bytes;
    non-image payloads pass through untouched with resized=false."""
    rng = np.random.RandomState(9)
    px = rng.randint(0, 256, size=(40, 30, 3), dtype=np.uint8)
    rows = [(1, bytearray(MM.encode_png(px))), (2, bytearray(b"not an image"))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in MM.resize_batches(df, 20, 15).collect()}
    assert got[1].resized is True
    out_px = MM.decode_png(bytes(got[1].payload))
    assert out_px.shape == (20, 15, 3)
    assert (out_px == MM.resize_pixels(px, 20, 15)).all()
    assert got[2].resized is False and bytes(got[2].payload) == b"not an image"


def test_extract_features_matches_numpy(spark):
    rng = np.random.RandomState(12)
    px = rng.randint(0, 256, size=(24, 16, 3), dtype=np.uint8)
    rows = [(1, bytearray(MM.encode_png(px))), (2, bytearray(b"junk"))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in MM.extract_features(df).collect()}
    arr = px.astype(np.float64)
    assert got[1].channels == 3 and (got[1].width, got[1].height) == (16, 24)
    assert got[1].mean == pytest.approx(arr.mean(axis=(0, 1)).tolist(), abs=1e-9)
    assert got[1].std == pytest.approx(arr.std(axis=(0, 1)).tolist(), abs=1e-9)
    hist, _ = np.histogram(arr.mean(axis=2), bins=16, range=(0.0, 256.0))
    assert len(got[1].hist) == 16
    assert got[1].hist == pytest.approx((hist / hist.sum()).tolist(), abs=1e-12)
    assert sum(got[1].hist) == pytest.approx(1.0)
    assert got[2].mean is None and got[2].channels == 0
