from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hypothesis import settings  # noqa: E402

from tegallega_spark.session import get_spark  # noqa: E402

# Property tests: tier-1 draws the same examples on every run (a derived
# seed per test, no example database replaying earlier failures), so a red
# run is reproducible and a green one stays green.  The nightly tier
# (TEGALLEGA_NIGHTLY=1) draws fresh random examples and keeps exploring.
# Per-test @settings (max_examples, deadline) apply on top of either.
settings.register_profile("tier1", derandomize=True, database=None)
settings.register_profile("nightly", derandomize=False)
settings.load_profile("nightly" if os.environ.get("TEGALLEGA_NIGHTLY") else "tier1")

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# The Tegallega snapshot the parity tests compare against.  It is not part
# of this repo; tests that read it skip wherever it is not mounted.
REF = "/root/reference"


def reference_missing(*relpaths: str) -> str | None:
    """Why a test that reads these files of the snapshot (paths relative to
    REF) cannot run here: a reason naming the first one that is not on
    disk, or None when all of them are."""
    for rel in relpaths:
        path = os.path.join(REF, rel)
        if not os.path.exists(path):
            return f"reference checkout absent: {path} not found"
    return None


def needs_reference(*relpaths: str):
    """skipif mark for a test that reads these files of the snapshot."""
    why = reference_missing(*relpaths)
    return pytest.mark.skipif(why is not None, reason=why or "")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tegallega-tests", cpus=min(os.cpu_count() or 4, 8))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def force_shape(monkeypatch):
    """Pin the small-input gate (session.small_scan_input) for the rest of
    the test: force_shape("distributed") makes every scan-rooted input
    fail it, force_shape("single") makes every scan-rooted input pass it,
    whatever its size estimate.  The gate reads the threshold when an
    operator builds its plan, so a test can build one shape, switch, and
    build the other."""
    import tegallega_spark.session as S

    limits = {"distributed": 0, "single": 1 << 100}

    def force(shape: str) -> None:
        monkeypatch.setattr(S, "SMALL_INPUT_BYTES", limits[shape])

    return force


@pytest.fixture(scope="session")
def gtfs_root(tmp_path_factory):
    """Input root for tests whose assertions hold on any GTFS build: the
    reference snapshot when it is mounted, else the hand-written offline
    fixture of tests/test_gtfs_build.py."""
    if reference_missing("routes.json", "route-data") is None:
        return REF
    from test_gtfs_build import _write_fixture

    return _write_fixture(tmp_path_factory.mktemp("ref"))
