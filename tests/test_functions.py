"""Unit tests for the scalar column-expression library (SURVEY §2.8)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from tegallega_spark.functions import (
    block_id_for,
    gtfs_time_to_seconds,
    haversine_km,
    haversine_m,
    hhmm_to_seconds,
    seconds_to_hhmmss,
    shape_id_for,
    trip_id_bus,
    trip_id_pbf,
    trip_id_train,
    virtual_stop_id,
)


def one(spark, expr):
    return spark.range(1).select(expr.alias("v")).first()["v"]


def test_haversine_matches_reference_formula(spark):
    # Bandung → Jakarta ≈ 116-118 km
    km = one(spark, haversine_km(F.lit(107.6098), F.lit(-6.9147), F.lit(106.8456), F.lit(-6.2088)))
    m = one(spark, haversine_m(F.lit(107.6098), F.lit(-6.9147), F.lit(106.8456), F.lit(-6.2088)))
    assert 110 < km < 125
    assert math.isclose(m, km * 1000, rel_tol=1e-9)


def test_time_codecs(spark):
    assert one(spark, hhmm_to_seconds(F.lit("04:30"))) == 4 * 3600 + 30 * 60
    # GTFS >24h semantics (generate_gtfs.py:295-306)
    assert one(spark, gtfs_time_to_seconds(F.lit("25:10"))) == 25 * 3600 + 600
    assert one(spark, gtfs_time_to_seconds(F.lit("garbage"))) == 0
    assert one(spark, gtfs_time_to_seconds(F.lit("07:05:30"))) == 7 * 3600 + 5 * 60 + 30
    assert one(spark, seconds_to_hhmmss(F.lit(90000))) == "25:00:00"
    assert one(spark, seconds_to_hhmmss(F.lit(3661))) == "01:01:01"
    # banker's rounding like Python round() (generate_gtfs.py:34)
    assert one(spark, seconds_to_hhmmss(F.lit(0.5))) == "00:00:00"
    assert one(spark, seconds_to_hhmmss(F.lit(1.5))) == "00:00:02"
    # r13 concat/lpad codec: hour field must not truncate past 99 h and
    # must still zero-pad single digits (lpad would truncate '100'→'10')
    assert one(spark, seconds_to_hhmmss(F.lit(100 * 3600 + 75))) == "100:01:15"
    assert one(spark, seconds_to_hhmmss(F.lit(9 * 3600 + 59 * 60 + 59))) == "09:59:59"


def test_id_grammar(spark):
    assert one(spark, shape_id_for(F.lit("123"))) == "shape_123"
    assert one(spark, trip_id_train(F.lit("KCI"), F.lit("B"), F.lit("380"))) == "t-KCIB380"
    assert one(spark, trip_id_bus(F.lit("TMB"), F.lit("K1"), F.lit(0), F.lit(7))) == "t-TMBK107"
    assert one(spark, trip_id_pbf(F.lit("900"), F.lit(2))) == "t-900-2"
    assert one(spark, block_id_for(F.lit("TMB"), F.lit("K1"), F.lit(7), F.lit(True))) == "TMBK17"
    assert one(spark, block_id_for(F.lit("TMB"), F.lit("K1"), F.lit(7), F.lit(False))) == ""
    assert (
        one(spark, virtual_stop_id(F.lit(107.60691), F.lit(-6.91891)))
        == "virtual_107.6069_-6.9189"
    )


def test_to_fixed_matches_ecmascript_not_java(spark):
    """r9: the virtual-stop id grammar is JS toFixed(4), which rounds the
    EXACT binary double — Java's %.4f rounds the shortest decimal repr
    instead and disagrees on boundary values.  The first value below is
    the real divergence the 3 200-relation extract race caught (exact
    value 107.05904999999…, shortest repr "107.05905"): node says
    107.0590, %.4f says 107.0591.  Expectations generated with node."""
    from tegallega_spark.functions.ids import to_fixed

    cases = [
        (107.0590499999999991587174008600413799285888671875, "107.0590"),
        (107.05905000000000768, "107.0591"),  # exact value above boundary
        (3.15625, "3.1563"),    # representable exact tie → away from zero
        (-3.15625, "-3.1563"),
        (-0.00001, "-0.0000"),  # negative underflow keeps the sign, like JS
        (0.0, "0.0000"),
        (-6.91891, "-6.9189"),
        (2.0, "2.0000"),
    ]
    for x, want in cases:
        assert one(spark, to_fixed(F.lit(float(x)))) == want, x


def test_to_fixed_integer_part_exact_across_magnitudes(spark):
    """r9 ADVICE: the integer part is now extracted as (n − n%p)/p — an
    exact multiple i·p ≤ 2^53 divides to exactly i, where the old naive
    n/p double division is only heuristically truncating.  Fuzz the whole
    documented validity bound (|x|·10^4 < 2^53) against Python's
    exact-decimal toFixed emulation (Decimal of the exact binary value,
    half-away-from-zero — the ECMAScript 6.1.6.1.20 rule)."""
    import random
    from decimal import Decimal, ROUND_HALF_UP

    from tegallega_spark.functions.ids import to_fixed

    rng = random.Random(20260815)

    def js_tofixed(x: float, d: int) -> str:
        q = Decimal(x).quantize(Decimal(1).scaleb(-d), rounding=ROUND_HALF_UP)
        # ROUND_HALF_UP in decimal is half-away-from-zero, same as toFixed
        return ("-" if x < 0 else "") + f"{abs(q):.{d}f}"

    d = 4
    bound = (2**53) / 10**d
    xs = [rng.uniform(-bound * 0.999, bound * 0.999) for _ in range(120)]
    # integer-adjacent stress: i·p ± ulp neighborhoods at high magnitude
    for frac in (0.0, 0.5, 0.9999999, 1e-7):
        x = (bound * 0.97) + frac / 10**d
        xs.extend([x, -x])
    got = (
        spark.createDataFrame([(x,) for x in xs], "x double")
        .select("x", to_fixed(F.col("x")).alias("s"))
        .collect()
    )
    for r in got:
        assert r.s == js_tofixed(r.x, d), r.x


def test_misc_string_functions():
    from tegallega_spark.functions.text import sanitize_filename_py
    from tegallega_spark.operators.stateful import _close
    from tegallega_spark.sources.kml import _kml_color

    assert sanitize_filename_py("K1: A→B/C") == "K1_ A_B_C"
    # '#rrggbb' → 'aabbggrr' (convert-geojson-kml.py:8-15)
    assert _kml_color("#2D398B") == "ff8b392d"
    assert _kml_color("#f00") == "ff0000ff"
    # tolerance equality of way endpoints (update-routes.js:106-108)
    assert _close((1.0, 2.0), (1.0 + 5e-7, 2.0))
    assert not _close((1.0, 2.0), (1.01, 2.0))


def test_kml_sink(spark, tmp_path):
    from tegallega_spark.sources.kml import write_route_kml

    stitched = spark.createDataFrame(
        [("r1", 0, 107.6, -6.9), ("r1", 1, 107.61, -6.91)],
        "relation_id string, vertex_idx int, lon double, lat double",
    )
    stops = spark.createDataFrame(
        [("r1", "s1", "Halte <A>", 107.6, -6.9)],
        "relation_id string, stop_id string, name string, lon double, lat double",
    )
    files = write_route_kml(stitched, stops, {"r1": "#2D398B"}, str(tmp_path))
    content = open(files[0]).read()
    assert "<color>ff8b392d</color>" in content
    assert "107.6,-6.9,0 107.61,-6.91,0" in content
    assert "Halte &lt;A&gt;" in content  # XML-escaped


def _read_shp(path):
    """Minimal independent reader for the ESRI main file — parses the public
    format spec from scratch so the writer is verified against the spec, not
    against itself."""
    import struct

    with open(path, "rb") as f:
        raw = f.read()
    (code,) = struct.unpack(">i", raw[0:4])
    (length_words,) = struct.unpack(">i", raw[24:28])
    version, shape_type = struct.unpack("<ii", raw[28:36])
    bbox = struct.unpack("<4d", raw[36:68])
    assert code == 9994 and version == 1000
    assert length_words * 2 == len(raw)
    shapes, pos = [], 100
    while pos < len(raw):
        recno, content_words = struct.unpack(">ii", raw[pos : pos + 8])
        content = raw[pos + 8 : pos + 8 + content_words * 2]
        (stype,) = struct.unpack("<i", content[:4])
        if stype == 1:  # Point
            shapes.append([struct.unpack("<dd", content[4:20])])
        elif stype == 3:  # PolyLine
            nparts, npts = struct.unpack("<ii", content[36:44])
            off = 44 + 4 * nparts
            shapes.append(
                [
                    struct.unpack("<dd", content[off + 16 * i : off + 16 * i + 16])
                    for i in range(npts)
                ]
            )
        pos += 8 + content_words * 2
    return shape_type, bbox, shapes


def _read_dbf(path):
    import struct

    with open(path, "rb") as f:
        raw = f.read()
    nrec, hsize, rsize = struct.unpack("<IHH", raw[4:12])
    fields = []
    pos = 32
    while raw[pos] != 0x0D:
        name = raw[pos : pos + 11].split(b"\x00")[0].decode()
        flen = raw[pos + 16]
        fields.append((name, flen))
        pos += 32
    recs = []
    for i in range(nrec):
        start = hsize + i * rsize + 1  # skip deletion flag
        vals, off = [], start
        for _, flen in fields:
            vals.append(raw[off : off + flen].decode("latin-1").rstrip())
            off += flen
        recs.append(tuple(vals))
    return [f[0] for f in fields], recs


def test_shapefile_sink_roundtrip(spark, tmp_path):
    """Two routes' route_lines written by the per-route K5 sink read back
    through the independent spec reader: vertices, bbox, .prj, .shx."""
    from tegallega_spark.sources.shapefile import write_route_shapefiles

    stitched = spark.createDataFrame(
        [
            ("r1", 0, 107.60, -6.90),
            ("r1", 1, 107.61, -6.91),
            ("r2", 0, 107.70, -6.95),
            ("r2", 1, 107.71, -6.96),
            ("r2", 2, 107.72, -6.94),
        ],
        "relation_id string, vertex_idx int, lon double, lat double",
    )
    stops = spark.createDataFrame(
        [], "relation_id string, stop_id string, name string, lon double, lat double"
    )
    meta = {"r1": ("Route One", "#ff0000"), "r2": ("Route Two", "#00ff00")}
    written = write_route_shapefiles(stitched, stops, meta, str(tmp_path))
    assert written == [
        str(tmp_path / "Route One" / "route_lines.shp"),
        str(tmp_path / "Route Two" / "route_lines.shp"),
    ]

    expect = {
        "Route One": ([(107.60, -6.90), (107.61, -6.91)], (107.60, -6.91, 107.61, -6.90)),
        "Route Two": (
            [(107.70, -6.95), (107.71, -6.96), (107.72, -6.94)],
            (107.70, -6.96, 107.72, -6.94),
        ),
    }
    for route, (vertices, box) in expect.items():
        base = tmp_path / route / "route_lines"
        shape_type, bbox, shapes = _read_shp(str(base) + ".shp")
        assert shape_type == 3
        assert shapes == [vertices]
        assert bbox == box
        prj = (tmp_path / route / "route_lines.prj").read_text()
        assert "GCS_WGS_1984" in prj and "WGS_1984" in prj
        # .shx index must address every record
        assert (tmp_path / route / "route_lines.shx").stat().st_size == 100 + 8 * 1


def test_per_route_shapefile_layout(spark, tmp_path):
    """Mirrors convert-geojson-shp.py:58-73: dir per sanitized route name,
    route_lines.shp + stops.shp with route_name/color/source attributes."""
    from tegallega_spark.sources.shapefile import write_route_shapefiles

    stitched = spark.createDataFrame(
        [("r1", 0, 107.6, -6.9), ("r1", 1, 107.61, -6.91)],
        "relation_id string, vertex_idx int, lon double, lat double",
    )
    stops = spark.createDataFrame(
        [("r1", "s1", "Halte: A?", 107.6, -6.9)],
        "relation_id string, stop_id string, name string, lon double, lat double",
    )
    written = write_route_shapefiles(
        stitched, stops, {"r1": ("Koridor 1: A - B", "#ff0000")}, str(tmp_path)
    )
    route_dir = tmp_path / "Koridor 1_ A - B"  # ':' sanitized, then stripped
    assert (route_dir / "route_lines.shp").exists()
    assert (route_dir / "stops.shp").exists()
    assert sorted(p.name for p in route_dir.iterdir()) == [
        "route_lines.dbf", "route_lines.prj", "route_lines.shp", "route_lines.shx",
        "stops.dbf", "stops.prj", "stops.shp", "stops.shx",
    ]
    names, recs = _read_dbf(str(route_dir / "route_lines.dbf"))
    assert names == ["route_name", "color", "source"]
    assert recs == [("Koridor 1: A - B", "#ff0000", "Transport for Bandung")]
    snames, srecs = _read_dbf(str(route_dir / "stops.dbf"))
    assert snames == ["name", "route_name", "color", "source"]
    assert srecs[0][0] == "Halte: A?"
    stype, _, sshapes = _read_shp(str(route_dir / "stops.shp"))
    assert stype == 1 and sshapes == [[(107.6, -6.9)]]
    assert len(written) == 2


def test_simplify_name_strips_all_whitespace(spark):
    """Python str.strip() removes tabs/newlines/CR, not just spaces —
    simplify_name must match (reference convert.py:75-77; ADVICE r2)."""
    from tegallega_spark.functions import simplify_name

    cases = {
        "Commuter Line Bogor": "Bogor",
        "Koridor 2: Cicaheum - Cibeureum": "Cicaheum - Cibeureum",
        "Koridor 2: Cicaheum\t": "Cicaheum",
        "Commuter Line \tBogor\n": "Bogor",
        "  plain \r\n": "plain",
    }
    df = spark.createDataFrame([(k,) for k in cases], ["name"])
    got = {
        r.name: r.s
        for r in df.select("name", simplify_name(F.col("name")).alias("s")).collect()
    }
    assert got == cases
