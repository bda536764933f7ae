from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tegallega_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


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
