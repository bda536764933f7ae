"""Golden-file equivalence (SURVEY §5.2): run the Spark GTFS build on the
reference's own inputs and compare row-for-row against the reference
implementation's output on the SAME inputs.

The gtfs/*.txt files committed in the reference snapshot are STALE relative
to route-data/geojson (update-routes ran after the last GTFS regeneration:
the committed goldens contain virtual stops that no longer exist in any
stops.geojson, and shape_17077467 reversed orientation).  So the honest
golden is produced by executing the reference's own generate_gtfs.py on the
current inputs (cached under /tmp) — identical inputs, two implementations.

Row-multiset equality; floats canonicalized to 9 dp.

Every test here except the sink round-trip reads the snapshot at
/root/reference and is skipped, naming the missing path, wherever it is not
mounted.  The sink round-trip checks file names, the pinned header and the
read-back, which hold on any feed: it runs on the snapshot when it is there
and on tests/test_gtfs_build.py's offline fixture otherwise.
"""

from __future__ import annotations

import csv
import os
import shutil
import subprocess
from collections import Counter

import pytest

from tests.conftest import REF, needs_reference

GOLDEN_CACHE = "/tmp/tegallega_fresh_golden"

FLOAT_COLS = {"stop_lat", "stop_lon", "shape_pt_lat", "shape_pt_lon", "shape_dist_traveled"}

# the snapshot files build_gtfs reads, and those the golden run reads too
BUILD_INPUTS = ("routes.json", "route-data")
GOLDEN_INPUTS = BUILD_INPUTS + ("action-scripts/generate_gtfs.py",)


def _input_fingerprint() -> str:
    """sha256 over every reference input the golden depends on — the cache
    key, so an input change can never serve a stale golden."""
    import hashlib

    h = hashlib.sha256()
    paths = [f"{REF}/routes.json", f"{REF}/action-scripts/generate_gtfs.py"]
    for root, dirs, files in os.walk(f"{REF}/route-data"):
        dirs.sort()
        paths.extend(os.path.join(root, f) for f in sorted(files))
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _ensure_fresh_golden() -> str:
    """Run the reference generate_gtfs.py once against the current inputs;
    re-run whenever any input file's content changes."""
    marker = os.path.join(GOLDEN_CACHE, "gtfs", "stop_times.txt")
    stamp = os.path.join(GOLDEN_CACHE, "INPUT_SHA")
    fp = _input_fingerprint()
    if (
        os.path.exists(marker)
        and os.path.exists(stamp)
        and open(stamp).read() == fp
    ):
        return os.path.join(GOLDEN_CACHE, "gtfs")
    shutil.rmtree(GOLDEN_CACHE, ignore_errors=True)
    os.makedirs(GOLDEN_CACHE, exist_ok=True)
    for item in ("routes.json",):
        shutil.copy(f"{REF}/{item}", GOLDEN_CACHE)
    shutil.copytree(f"{REF}/route-data", f"{GOLDEN_CACHE}/route-data")
    os.makedirs(f"{GOLDEN_CACHE}/action-scripts", exist_ok=True)
    shutil.copy(
        f"{REF}/action-scripts/generate_gtfs.py", f"{GOLDEN_CACHE}/action-scripts/"
    )
    subprocess.run(
        ["python", "action-scripts/generate_gtfs.py"],
        cwd=GOLDEN_CACHE,
        check=True,
        capture_output=True,
        timeout=1800,
    )
    with open(stamp, "w") as f:
        f.write(fp)
    return os.path.join(GOLDEN_CACHE, "gtfs")


@needs_reference(*GOLDEN_INPUTS)
def test_golden_cache_invalidates_on_input_change():
    """A stale stamp must force regeneration; a matching one must not."""
    _ensure_fresh_golden()
    marker = os.path.join(GOLDEN_CACHE, "gtfs", "stop_times.txt")
    stamp = os.path.join(GOLDEN_CACHE, "INPUT_SHA")
    mtime = os.path.getmtime(marker)
    _ensure_fresh_golden()
    assert os.path.getmtime(marker) == mtime  # hit: untouched
    with open(stamp, "w") as f:
        f.write("stale")
    _ensure_fresh_golden()
    assert os.path.getmtime(marker) > mtime  # miss: regenerated
    assert open(stamp).read() == _input_fingerprint()


def _canon(value: str, col: str) -> str:
    return f"{float(value):.9f}" if col in FLOAT_COLS else value


@pytest.fixture(scope="module")
def golden_dir():
    return _ensure_fresh_golden()


@pytest.fixture(scope="module")
def gtfs_tables(spark):
    from tegallega_spark.pipeline.gtfs_build import build_gtfs

    return build_gtfs(spark, REF)


@needs_reference(*GOLDEN_INPUTS)
@pytest.mark.parametrize(
    "name",
    ["agency", "routes", "trips", "stops", "stop_times", "shapes", "calendar"],
)
def test_table_matches_golden(gtfs_tables, golden_dir, name):
    with open(f"{golden_dir}/{name}.txt") as f:
        rows = list(csv.reader(f))
    header, body = rows[0], [r for r in rows[1:] if r]
    golden = Counter(tuple(_canon(v, c) for v, c in zip(r, header)) for r in body)
    df = gtfs_tables[name].select(*header)
    ours = Counter(
        tuple(_canon("" if v is None else str(v), c) for v, c in zip(row, header))
        for row in df.collect()
    )
    missing = golden - ours
    extra = ours - golden
    assert not missing and not extra, (
        f"{name}: {sum(missing.values())} missing, {sum(extra.values())} extra; "
        f"missing sample: {list(missing)[:3]}; extra sample: {list(extra)[:3]}"
    )


@needs_reference(*BUILD_INPUTS)
def test_expected_magnitudes(gtfs_tables):
    """Catalog-derived magnitudes that hold for the current snapshot."""
    assert gtfs_tables["trips"].count() == 8172
    assert gtfs_tables["routes"].count() == 57
    assert gtfs_tables["agency"].count() == 5
    assert gtfs_tables["shapes"].count() == 70332


@pytest.fixture(scope="module")
def sink_tables(spark, gtfs_root):
    from tegallega_spark.pipeline.gtfs_build import build_gtfs

    yield build_gtfs(spark, gtfs_root)
    spark.catalog.clearCache()


def test_gtfs_sink_roundtrip(sink_tables, spark, tmp_path):
    """K1 sink: exact filenames, pinned column order, header row; S9 read-back."""
    from tegallega_spark.sources.gtfs import (
        make_gtfs_zip,
        read_gtfs_table,
        write_gtfs_feed,
    )

    out = str(tmp_path / "gtfs")
    small = {k: sink_tables[k] for k in ("agency", "routes", "calendar")}
    files = write_gtfs_feed(small, out)
    assert sorted(os.path.basename(f) for f in files) == [
        "agency.txt", "calendar.txt", "routes.txt",
    ]
    with open(f"{out}/routes.txt") as f:
        header = f.readline().strip()
    assert header == "route_id,agency_id,route_short_name,route_long_name,route_type,route_color"
    back = read_gtfs_table(spark, out, "routes")
    assert back.count() == sink_tables["routes"].count()
    zip_path = make_gtfs_zip(out, str(tmp_path / "gtfs.zip"))
    import zipfile as zf

    assert sorted(zf.ZipFile(zip_path).namelist()) == [
        "agency.txt", "calendar.txt", "routes.txt",
    ]


@needs_reference(*GOLDEN_INPUTS)
def test_sink_output_byte_identical(gtfs_tables, golden_dir, spark, tmp_path):
    """Strongest parity claim: the K1 CSV sink's bytes equal the reference
    implementation's CSV bytes line-for-line (order-insensitive) — float
    formatting included (Java Double.toString == Python repr on this
    domain's value ranges)."""
    from tegallega_spark.sources.gtfs import write_gtfs_feed

    out = str(tmp_path / "gtfs_bytes")
    write_gtfs_feed(gtfs_tables, out)
    for name in ("agency", "routes", "trips", "stops", "stop_times", "shapes", "calendar"):
        with open(f"{out}/{name}.txt") as f:
            ours = sorted(f.read().splitlines())
        with open(f"{golden_dir}/{name}.txt") as f:
            gold = sorted(f.read().splitlines())
        assert ours == gold, f"{name}: byte-level mismatch"
