"""convert-routes-json parity: run the reference convert.py on its own
input, compare the flattened rows and the reassembled nested document."""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest

from tests.conftest import REF, needs_reference

CACHE = "/tmp/tegallega_convert_golden"

pytestmark = needs_reference(
    "convert-routes-json/convert.py", "convert-routes-json/routes.json"
)


def _fresh_golden() -> dict:
    out = os.path.join(CACHE, "convert-routes-json", "routes-new.json")
    if not os.path.exists(out):
        os.makedirs(os.path.join(CACHE, "convert-routes-json"), exist_ok=True)
        for f in ("convert.py", "routes.json"):
            shutil.copy(f"{REF}/convert-routes-json/{f}", f"{CACHE}/convert-routes-json/")
        subprocess.run(
            ["python", "convert-routes-json/convert.py"],
            cwd=CACHE, check=True, capture_output=True, timeout=300,
        )
    with open(out) as f:
        return json.load(f)


def _flatten(doc: dict) -> set[tuple]:
    rows = set()
    for c in doc["categories"]:
        for g in c["routeGroups"]:
            for r in g["routes"]:
                rows.add((
                    c["name"], c["agencyId"], c["mode"], c["agencyUrl"],
                    c["agencyTimezone"], c["agencyLang"],
                    g["groupId"], g["name"], g["color"], g["type"], g["loop"],
                    r["name"], r["directionId"], r["relationId"],
                    r["first_departure"], r["last_departure"], r["trips"],
                ))
    return rows


@pytest.fixture(scope="module")
def golden():
    return _fresh_golden()


@pytest.fixture(scope="module")
def converted(spark):
    from tegallega_spark.pipeline.convert_routes import convert_old_routes

    return convert_old_routes(spark, f"{REF}/convert-routes-json/routes.json")


def test_flat_rows_match_reference(golden, converted):
    want = _flatten(golden)
    got = {
        (
            r.agency_name, r.agency_id, r.mode, r.agency_url,
            r.agency_timezone, r.agency_lang,
            r.group_id, r.group_name, r.color, r.group_type, r.loop,
            r.route_name, r.direction_id, r.relation_id,
            r.first_departure, r.last_departure, r.trips,
        )
        for r in converted.collect()
    }
    missing = want - got
    extra = got - want
    assert not missing and not extra, (
        f"missing {len(missing)} {list(missing)[:2]}; extra {len(extra)} {list(extra)[:2]}"
    )


def test_nested_document_matches_reference(golden, converted):
    from tegallega_spark.pipeline.convert_routes import to_nested_json

    ours = json.loads(to_nested_json(converted))
    assert _flatten(ours) == _flatten(golden)
    # document ordering: categories in input order, code groups before
    # custom groups within each category
    assert [c["name"] for c in ours["categories"]] == [
        c["name"] for c in golden["categories"]
    ]
    for oc, gc in zip(ours["categories"], golden["categories"]):
        assert [g["groupId"] for g in oc["routeGroups"]] == [
            g["groupId"] for g in gc["routeGroups"]
        ], oc["name"]
        for og, gg in zip(oc["routeGroups"], gc["routeGroups"]):
            assert [r["relationId"] for r in og["routes"]] == [
                r["relationId"] for r in gg["routes"]
            ], (oc["name"], og["groupId"])
