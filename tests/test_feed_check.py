"""OTP-substitute feed validation (r10/r11 verdict: the OTP 2.7.0
`--build` smoke cannot run offline — no network, no vendored jar, and
the reference's otp-deploy/graph.obj is a 134-byte LFS pointer).  What
OTP's GTFS loader enforces first is the GTFS static spec's referential
rules; pipeline/feed_check.py implements them as Spark aggregates, and
each test runs them over two feeds: `[reference]`, the FULL feed our
pipeline generates from the reference's real inputs — so the gtfs.zip we'd
hand OTP is known resolvable before it leaves the repo — and `[offline]`,
the feed built from tests/test_gtfs_build.py's hand-written fixture, which
needs no reference checkout.  The `[reference]` cases skip, naming the
missing path, wherever the checkout at /root/reference is not mounted.
test_report_equals_python_recount recounts every rule
in plain Python on planted offline feeds.  See FIXTURES.md §OTP for the
acquisition attempt log."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tegallega_spark.pipeline.feed_check import validate_gtfs_feed  # noqa: E402
from tests.conftest import REF, reference_missing  # noqa: E402


@pytest.fixture(scope="module", params=["reference", "offline"])
def feed_dir(request, spark, tmp_path_factory):
    from tegallega_spark.pipeline.gtfs_build import build_gtfs
    from tegallega_spark.sources.gtfs import write_gtfs_feed

    if request.param == "reference":
        why = reference_missing("routes.json", "route-data")
        if why:
            pytest.skip(why)
        root = REF
    else:
        from test_gtfs_build import _write_fixture

        root = _write_fixture(tmp_path_factory.mktemp("ref"))
    out = str(tmp_path_factory.mktemp("feed"))
    write_gtfs_feed(build_gtfs(spark, root), out)
    spark.catalog.clearCache()
    return out


def test_generated_feed_fully_resolvable(spark, feed_dir):
    """Every referential rule an OTP-style loader enforces must count
    zero violations on the feed built from the reference's real
    routes.json / geojson / schedule inputs."""
    report = validate_gtfs_feed(spark, feed_dir)
    bad = {k: v for k, v in report.items() if v != 0}
    assert not bad, f"feed has load-blocking defects: {bad}"


def test_validator_detects_planted_defects(spark, feed_dir, tmp_path):
    """The zeros above must be falsifiable: plant one defect per rule
    family in a copy of the feed and assert each counter fires."""
    import shutil

    broken = str(tmp_path / "broken")
    shutil.copytree(feed_dir, broken)
    # reuse a real trip/stop for the malformed-time row so it fires ONLY
    # the time rule, not the referential ones
    with open(os.path.join(broken, "stop_times.txt")) as f:
        f.readline()
        real_trip, real_stop = f.readline().split(",")[:2]
    with open(os.path.join(broken, "stop_times.txt"), "a") as f:
        # unknown trip + unknown stop + dep < arr (both times are VALID
        # GTFS — extended hours — so bad_time must NOT fire here)
        f.write("ghost_trip,ghost_stop,1,25:00:00,24:59:59,0,0\n")
        # genuinely malformed times (minutes 99; the word 'noon'):
        # exactly one row → stop_times_bad_time == 1
        f.write(f"{real_trip},{real_stop},9999,9:99:99,noon,0,0\n")
    with open(os.path.join(broken, "trips.txt"), "a") as f:
        # unknown route/service/shape, and no stop_times rows
        f.write("ghost_route,ghost_trip2,ghost_service,X,0,ghost_shape,b1\n")
    with open(os.path.join(broken, "stops.txt"), "a") as f:
        f.write("polar_stop,Bad,91.0,200.0,0,\n")

    report = validate_gtfs_feed(spark, broken)
    assert report["stop_times_unknown_trip"] == 1
    assert report["stop_times_unknown_stop"] == 1
    assert report["trips_unknown_route"] == 1
    assert report["trips_unknown_service"] == 1
    assert report["trips_unknown_shape"] == 1
    assert report["trips_without_stop_times"] == 1
    assert report["stop_times_bad_time"] == 1
    assert report["stop_times_departure_before_arrival"] == 1
    assert report["stops_bad_coordinates"] == 1


def test_validator_detects_duplicate_sequences(spark, feed_dir, tmp_path):
    import shutil

    broken = str(tmp_path / "dup")
    shutil.copytree(feed_dir, broken)
    # duplicate an existing stop_times row (same trip_id+stop_sequence)
    # and an existing shapes row (same shape_id+shape_pt_sequence)
    for name in ("stop_times.txt", "shapes.txt"):
        p = os.path.join(broken, name)
        with open(p) as f:
            header, first = f.readline(), f.readline()
        with open(p, "a") as f:
            f.write(first)
    report = validate_gtfs_feed(spark, broken)
    assert report["stop_times_duplicate_sequence"] == 1
    assert report["shapes_duplicate_sequence"] == 1


def test_missing_required_table_is_a_defect_not_a_crash(spark, feed_dir,
                                                        tmp_path):
    """r12 verdict #1 / ADVICE: a validator whose job is catching broken
    feeds must REPORT a missing required table, not KeyError before
    producing any counts."""
    import shutil

    broken = str(tmp_path / "nost")
    shutil.copytree(feed_dir, broken)
    os.remove(os.path.join(broken, "stop_times.txt"))
    report = validate_gtfs_feed(spark, broken)
    assert report["missing_table_stop_times"] == 1
    # dependent checks are skipped, not crashed or faked as zero
    assert "stop_times_unknown_trip" not in report
    assert "stop_times_bad_time" not in report
    # independent checks still ran
    assert report["trips_unknown_route"] == 0
    assert report["stops_bad_coordinates"] == 0


def test_missing_calendar_entirely_is_a_defect(spark, feed_dir, tmp_path):
    import shutil

    broken = str(tmp_path / "nocal")
    shutil.copytree(feed_dir, broken)
    os.remove(os.path.join(broken, "calendar.txt"))
    report = validate_gtfs_feed(spark, broken)
    assert report["missing_table_calendar"] == 1
    assert "trips_unknown_service" not in report


def test_calendar_dates_satisfies_service_requirement(spark, feed_dir,
                                                      tmp_path):
    """GTFS allows calendar.txt to be absent when calendar_dates.txt
    defines the services — such a feed must validate all-zeros."""
    import shutil

    alt = str(tmp_path / "caldates")
    shutil.copytree(feed_dir, alt)
    # re-express every service as calendar_dates entries (schema-on-read
    # only needs the service_id column to resolve references)
    with open(os.path.join(alt, "calendar.txt")) as f:
        services = [line.split(",")[0] for line in f.readlines()[1:] if line.strip()]
    os.remove(os.path.join(alt, "calendar.txt"))
    with open(os.path.join(alt, "calendar_dates.txt"), "w") as f:
        f.write("service_id,date,exception_type\n")
        for s in services:
            f.write(f"{s},20260101,1\n")
    report = validate_gtfs_feed(spark, alt)
    assert report["missing_table_calendar"] == 0
    assert report["trips_unknown_service"] == 0


def test_optional_shapes_absent(spark, feed_dir, tmp_path):
    """shapes.txt is optional: absent+unreferenced must validate clean;
    absent-but-referenced must count every dangling shape_id."""
    import shutil

    # (a) shapes.txt gone but trips still reference shapes → every
    # non-empty shape_id is a dangling reference
    dangling = str(tmp_path / "dangling")
    shutil.copytree(feed_dir, dangling)
    os.remove(os.path.join(dangling, "shapes.txt"))
    with open(os.path.join(dangling, "trips.txt")) as f:
        lines = f.readlines()
    header = lines[0].rstrip("\n").split(",")
    shape_idx = header.index("shape_id")
    # the offline fixture has trips without a shape (a relation with no ways)
    n_shaped = len([ln for ln in lines[1:]
                    if ln.strip() and ln.rstrip("\n").split(",")[shape_idx]])
    assert n_shaped > 0
    report = validate_gtfs_feed(spark, dangling)
    assert all(v == 0 for k, v in report.items() if k.startswith("missing_"))
    assert report["trips_unknown_shape"] == n_shaped
    assert "shapes_duplicate_sequence" not in report

    # (b) shapes.txt gone AND no trip references a shape → fully valid
    clean = str(tmp_path / "clean")
    shutil.copytree(feed_dir, clean)
    os.remove(os.path.join(clean, "shapes.txt"))
    with open(os.path.join(clean, "trips.txt"), "w") as f:
        f.write(lines[0])
        for ln in lines[1:]:
            if not ln.strip():
                continue
            parts = ln.rstrip("\n").split(",")
            parts[shape_idx] = ""
            f.write(",".join(parts) + "\n")
    report = validate_gtfs_feed(spark, clean)
    bad = {k: v for k, v in report.items() if v != 0}
    assert not bad, f"optional-files-omitted feed should validate: {bad}"


def _plant(feed: str) -> None:
    """One or more violations of every rule, plus rows whose empty
    references must NOT count as dangling."""
    import shutil

    def append(name: str, *rows: str) -> None:
        with open(os.path.join(feed, f"{name}.txt"), "a") as f:
            f.writelines(r + "\n" for r in rows)

    with open(os.path.join(feed, "shapes.txt")) as f:
        f.readline()
        first_shape_pt = f.readline().rstrip("\n")
    append("stop_times",
           "ghost_trip,ghost_stop,1,25:00:00,24:59:59,0,0",
           "t-KCIB380,S1,9999,9:99:99,noon,0,0",
           "t-KCIB381,S2,9998,06:10:00,6h,0,0",
           # sequence 1 twice in t-KCIB380, three times in t-KCIB381
           "t-KCIB380,S1,1,06:00:00,05:59:00,0,0",
           "t-KCIB381,S1,1,06:00:00,06:00:00,0,0",
           "t-KCIB381,S1,1,06:00:00,06:00:00,0,0",
           ",,7,,,0,0")
    append("trips",
           "ghost_route,ghost_trip2,ghost_service,X,0,ghost_shape,b1",
           "K1,t-no-times,everyday,X,0,,")
    append("stops", "polar_stop,Bad,91.0,200.0,0,", "nowhere,Blank,,107.6,0,")
    append("shapes", first_shape_pt)
    append("routes", "RX,ghost_agency,RX,x,3,000000", "RY,,RY,y,3,000000")
    shutil.copy(os.path.join(feed, "calendar.txt"),
                os.path.join(feed, "calendar_dates.txt"))


def _recount(feed: str) -> dict[str, int]:
    """validate_gtfs_feed's report recomputed with the csv module: empty
    fields are absent values (Spark reads them as NULL), and a rule whose
    input tables are missing is left out."""
    import csv
    import re
    from collections import Counter

    t = {}
    for name in ("agency", "routes", "trips", "stops", "stop_times", "shapes",
                 "calendar", "calendar_dates"):
        path = os.path.join(feed, f"{name}.txt")
        if os.path.exists(path):
            with open(path, newline="") as f:
                t[name] = [{k: v or None for k, v in r.items()}
                           for r in csv.DictReader(f)]

    def dangling(rows, col, keys) -> int:
        return sum(1 for r in rows if r[col] and r[col] not in keys)

    def ids(name, col) -> set:
        return {r[col] for r in t[name]}

    def dup_groups(rows, *cols) -> int:
        return sum(1 for n in Counter(tuple(r[c] for c in cols)
                                      for r in rows).values() if n > 1)

    time_re = re.compile(r"^\d{1,3}:[0-5]\d:[0-5]\d$", re.ASCII)

    def secs(v):
        try:
            h, m, s = (int(x) for x in v.split(":"))
        except (AttributeError, ValueError):
            return None
        return h * 3600 + m * 60 + s

    def num(v):
        try:
            return float(v)
        except (TypeError, ValueError):
            return None

    out = {f"missing_table_{n}": int(n not in t)
           for n in ("agency", "stops", "routes", "trips", "stop_times")}
    out["missing_table_calendar"] = int(
        "calendar" not in t and "calendar_dates" not in t)
    st, trips = t.get("stop_times"), t.get("trips")
    if st is not None and trips is not None:
        out["stop_times_unknown_trip"] = dangling(st, "trip_id", ids("trips", "trip_id"))
        out["trips_without_stop_times"] = dangling(trips, "trip_id", ids("stop_times", "trip_id"))
    if st is not None and "stops" in t:
        out["stop_times_unknown_stop"] = dangling(st, "stop_id", ids("stops", "stop_id"))
    if trips is not None and "routes" in t:
        out["trips_unknown_route"] = dangling(trips, "route_id", ids("routes", "route_id"))
    services = [ids(n, "service_id") for n in ("calendar", "calendar_dates") if n in t]
    if trips is not None and services:
        out["trips_unknown_service"] = dangling(trips, "service_id", set().union(*services))
    if trips is not None:
        shapes = ids("shapes", "shape_id") if "shapes" in t else set()
        out["trips_unknown_shape"] = dangling(trips, "shape_id", shapes)
    if "routes" in t and "agency" in t:
        out["routes_unknown_agency"] = dangling(t["routes"], "agency_id", ids("agency", "agency_id"))
    if st is not None:
        out["stop_times_duplicate_sequence"] = dup_groups(st, "trip_id", "stop_sequence")
        out["stop_times_bad_time"] = sum(
            1 for r in st
            if any(v is not None and not time_re.match(v)
                   for v in (r["arrival_time"], r["departure_time"])))
        out["stop_times_departure_before_arrival"] = sum(
            1 for r in st
            if None not in (secs(r["departure_time"]), secs(r["arrival_time"]))
            and secs(r["departure_time"]) < secs(r["arrival_time"]))
    if "shapes" in t:
        out["shapes_duplicate_sequence"] = dup_groups(t["shapes"], "shape_id", "shape_pt_sequence")
    if "stops" in t:
        out["stops_bad_coordinates"] = sum(
            1 for r in t["stops"]
            if None in (num(r["stop_lat"]), num(r["stop_lon"]))
            or abs(num(r["stop_lat"])) > 90 or abs(num(r["stop_lon"])) > 180)
    return out


@pytest.fixture(scope="module")
def planted_feed(spark, tmp_path_factory):
    from test_gtfs_build import _write_fixture

    from tegallega_spark.pipeline.gtfs_build import build_gtfs
    from tegallega_spark.sources.gtfs import write_gtfs_feed

    feed = str(tmp_path_factory.mktemp("planted"))
    write_gtfs_feed(build_gtfs(spark, _write_fixture(tmp_path_factory.mktemp("ref"))), feed)
    spark.catalog.clearCache()
    _plant(feed)
    return feed


@pytest.mark.parametrize("removed", [
    (), ("shapes",), ("calendar",), ("calendar", "calendar_dates"),
    ("stop_times",), ("trips",), ("agency", "stops"),
])
def test_report_equals_python_recount(spark, planted_feed, tmp_path, removed):
    """The report — keys, their order and every count — equals a plain
    Python recount on the offline feed with planted defects, with each
    set of tables removed."""
    import shutil

    feed = str(tmp_path / "feed")
    shutil.copytree(planted_feed, feed)
    for name in removed:
        os.remove(os.path.join(feed, f"{name}.txt"))
    want = _recount(feed)
    assert list(validate_gtfs_feed(spark, feed).items()) == list(want.items())
    if not removed:
        assert all(v > 0 for k, v in want.items() if not k.startswith("missing_"))
