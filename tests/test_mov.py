"""QuickTime/MOV MJPEG demux: atom-tree walk, sample-table offset
reconstruction (stsc×stco×stsz), fps from mdhd/stts, Spark dispatch, and
corrupt/unsupported-codec handling.

Closes the r6 verdict's "MJPEG-in-MOV demux" item: the QuickTime atom
tree is stdlib-parseable like RIFF, and routing its sample table to the
existing from-scratch JPEG decoder makes the last common container real
— the deterministic fake now covers only truly-exotic formats."""

import struct

import numpy as np
import pytest

from tegallega_spark.operators import multimodal as MM


def _frames(n=3, h=12, w=16, seed=9):
    rng = np.random.RandomState(seed)
    # smooth gradient + noise: JPEG-friendly enough that decode stays close
    base = np.tile(np.linspace(0, 200, w, dtype=np.uint8)[None, :, None], (h, 1, 3))
    return [
        np.clip(base.astype(int) + 10 * i + rng.randint(0, 20, size=(h, w, 3)),
                0, 255).astype(np.uint8)
        for i in range(n)
    ]


def _atom(typ: bytes, data: bytes) -> bytes:
    return struct.pack(">I", 8 + len(data)) + typ + data


def test_mov_roundtrip():
    """encode_mov → decode_mov: frame count, dims, fps exact; pixels
    within baseline-JPEG loss."""
    frames = _frames()
    payload = MM.encode_mov(frames, fps=12)
    back, fps = MM.decode_mov(payload)
    assert fps == 12 and len(back) == len(frames)
    for orig, dec in zip(frames, back):
        assert dec.shape == orig.shape
        assert np.abs(orig.astype(int) - dec.astype(int)).mean() < 12


def test_mov_multi_sample_chunks_and_ntsc_fps():
    """Real MOVs pack many samples per chunk and use fractional rates:
    hand-build a stream with ONE chunk holding all samples (stsc run
    expansion) and mdhd timescale 30000 / stts delta 1001 (29.97 —
    must report 30, not 29)."""
    from tegallega_spark.operators.jpeg import encode_jpeg

    frames = _frames(4, h=8, w=8)
    blobs = [encode_jpeg(f, quality=85) for f in frames]
    n = len(blobs)
    ftyp = _atom(b"ftyp", MM.MOV_BRAND + struct.pack(">I", 0x200) + MM.MOV_BRAND)
    mdat = _atom(b"mdat", b"".join(blobs))
    first_off = len(ftyp) + 8
    mdhd = _atom(b"mdhd", struct.pack(">B3xIIIIHH", 0, 0, 0, 30000, n * 1001, 0, 0))
    hdlr = _atom(b"hdlr", b"\x00" * 4 + b"mhlr" + b"vide" + b"\x00" * 12 + b"\x00")
    stsd_entry = (
        struct.pack(">I", 86) + b"jpeg" + b"\x00" * 6 + struct.pack(">H", 1)
        + b"\x00" * 16 + struct.pack(">HH", 8, 8)
        + struct.pack(">II", 0x00480000, 0x00480000)
        + struct.pack(">IH", 0, 1) + b"\x00" * 32 + struct.pack(">Hh", 24, -1)
    )
    stsd = _atom(b"stsd", struct.pack(">II", 0, 1) + stsd_entry)
    stts = _atom(b"stts", struct.pack(">IIII", 0, 1, n, 1001))
    stsc = _atom(b"stsc", struct.pack(">IIIII", 0, 1, 1, n, 1))  # 1 chunk, n samples
    stsz = _atom(b"stsz", struct.pack(">III", 0, 0, n)
                 + b"".join(struct.pack(">I", len(b)) for b in blobs))
    stco = _atom(b"stco", struct.pack(">II", 0, 1) + struct.pack(">I", first_off))
    stbl = _atom(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _atom(b"minf", stbl)
    mdia = _atom(b"mdia", mdhd + hdlr + minf)
    moov = _atom(b"moov", _atom(b"trak", mdia))
    back, fps = MM.decode_mov(ftyp + mdat + moov)
    assert fps == 30  # round(30000/1001), not floor
    assert len(back) == n and back[0].shape == (8, 8, 3)


def test_mp4_brand_iso_bmff_routes_through_mov_demuxer():
    """MP4 is the same ISO-BMFF atom tree with a different ftyp brand:
    rewriting the brand triple to isom/mp42 (same 12-byte body, so the
    absolute stco offsets stay valid) must decode identically — the
    demuxer keys on structure, not the QuickTime brand."""
    frames = _frames(3, h=8, w=16)
    payload = MM.encode_mov(frames, fps=10)
    qt_body = MM.MOV_BRAND + struct.pack(">I", 0x200) + MM.MOV_BRAND
    mp4_body = b"isom" + struct.pack(">I", 0x200) + b"mp42"
    assert payload[8: 8 + len(qt_body)] == qt_body
    mp4 = _atom(b"ftyp", mp4_body) + payload[8 + len(qt_body):]
    assert len(mp4) == len(payload)  # offsets preserved
    back, fps = MM.decode_mov(mp4)
    assert fps == 10 and len(back) == 3 and back[0].shape == (8, 16, 3)
    ref, _ = MM.decode_mov(payload)
    for a, b in zip(back, ref):
        assert np.array_equal(a, b)


def test_mov_64bit_extended_size_mdat():
    """Large real-world files use the size==1 + 64-bit length form for
    mdat; the atom walker must honor it and the 16-byte header shift
    must be reflected in the chunk offsets."""
    from tegallega_spark.operators.jpeg import encode_jpeg

    frames = _frames(2, h=8, w=8)
    blobs = [encode_jpeg(f, quality=85) for f in frames]
    n = len(blobs)
    ftyp = _atom(b"ftyp", MM.MOV_BRAND + struct.pack(">I", 0x200) + MM.MOV_BRAND)
    body = b"".join(blobs)
    mdat = struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + len(body)) + body
    first_off = len(ftyp) + 16  # extended header is 16 bytes, not 8
    mdhd = _atom(b"mdhd", struct.pack(">B3xIIIIHH", 0, 0, 0, 10, n, 0, 0))
    hdlr = _atom(b"hdlr", b"\x00" * 4 + b"mhlr" + b"vide" + b"\x00" * 12 + b"\x00")
    stsd_entry = (
        struct.pack(">I", 86) + b"jpeg" + b"\x00" * 6 + struct.pack(">H", 1)
        + b"\x00" * 16 + struct.pack(">HH", 8, 8)
        + struct.pack(">II", 0x00480000, 0x00480000)
        + struct.pack(">IH", 0, 1) + b"\x00" * 32 + struct.pack(">Hh", 24, -1)
    )
    stsd = _atom(b"stsd", struct.pack(">II", 0, 1) + stsd_entry)
    stts = _atom(b"stts", struct.pack(">IIII", 0, 1, n, 1))
    stsc = _atom(b"stsc", struct.pack(">IIIII", 0, 1, 1, n, 1))
    stsz = _atom(b"stsz", struct.pack(">III", 0, 0, n)
                 + b"".join(struct.pack(">I", len(b)) for b in blobs))
    stco = _atom(b"stco", struct.pack(">II", 0, 1) + struct.pack(">I", first_off))
    stbl = _atom(b"stbl", stsd + stts + stsc + stsz + stco)
    moov = _atom(b"moov", _atom(b"trak", _atom(b"mdia", mdhd + hdlr
                                               + _atom(b"minf", stbl))))
    back, fps = MM.decode_mov(ftyp + mdat + moov)
    assert fps == 10 and len(back) == n and back[0].shape == (8, 8, 3)


def test_mov_rejects_truncated_unknown_and_compressed():
    frames = _frames(2)
    payload = MM.encode_mov(frames, fps=10)
    with pytest.raises(ValueError, match="truncated"):
        MM.decode_mov(payload[:-20])
    with pytest.raises(ValueError, match="avc1"):
        MM.decode_mov(payload.replace(b"jpeg", b"avc1"))
    with pytest.raises(ValueError, match="QuickTime"):
        MM.decode_mov(b"RIFFxxxxAVI not a mov")


def test_decode_batches_dispatches_real_mov(spark):
    """MOV payloads take the real demuxer in the Spark pipeline: true
    dims and frame count; a truncated stream gets a corrupt marker row,
    not a task failure."""
    frames = _frames(4, h=24, w=16)
    good = MM.encode_mov(frames, fps=6)
    rows = [(1, bytearray(good)), (2, bytearray(good[: len(good) // 2]))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in MM.decode_batches(df).collect()}
    assert (got[1].format, got[1].width, got[1].height, got[1].n_frames) == (
        "mov", 16, 24, 4,
    )
    assert got[2].format == "corrupt"


def test_encode_mov_hdlr_tkhd_are_spec_correct():
    """r8 advice fix: the in-repo decoder ignores hdlr/tkhd, but real
    QuickTime parsers don't — hdlr must lead with a 4-byte version/flags
    field (else 'mhlr' lands in the version slot and the handler subtype
    reads as zeros), and tkhd must carry version=0 with the track flags
    (enabled|in-movie|in-preview|in-poster = 0x0F) in the 3 FLAG bytes,
    not packed into the version byte."""
    payload = MM.encode_mov(_frames(2, h=8, w=8), fps=10)

    def find_atom(buf, typ):
        pos = 0
        while pos + 8 <= len(buf):
            size = struct.unpack(">I", buf[pos: pos + 4])[0]
            t = buf[pos + 4: pos + 8]
            if t == typ:
                return buf[pos + 8: pos + size]
            if t in MM._MOV_CONTAINERS:
                inner = find_atom(buf[pos + 8: pos + size], typ)
                if inner is not None:
                    return inner
            pos += size
        return None

    hdlr = find_atom(payload, b"hdlr")
    assert hdlr[:4] == b"\x00" * 4          # version/flags present
    assert hdlr[4:8] == b"mhlr" and hdlr[8:12] == b"vide"
    tkhd = find_atom(payload, b"tkhd")
    assert tkhd[0] == 0                      # version byte is 0
    assert tkhd[1:4] == b"\x00\x00\x0f"      # flags 0x00000F
    assert struct.unpack(">I", tkhd[12:16])[0] == 1  # track id survives
    # and the file still round-trips through the in-repo decoder
    back, fps = MM.decode_mov(payload)
    assert fps == 10 and len(back) == 2
