"""Extract pipeline tests with an offline fake Overpass fetcher
(SURVEY §3.1: W8 stitch, J4 projection, W10 virtual stops, J5 proximity
anti-join, W9 thinning, K2 sink)."""

from __future__ import annotations

import json
import math
import os

import pytest

from tegallega_spark.pipeline.extract import extract_route, write_route_geojson
from tegallega_spark.sources.overpass import (
    nodes_query,
    relation_query,
    ways_query,
)

# A straight east-west street of 3 ways; way2 is reversed (stitch must flip
# it); stops at the ends ~1.1 km apart force virtual-stop synthesis.
WAY1 = {"id": 101, "tags": {"name": "Jalan Satu"},
        "geometry": [{"lon": 0.000, "lat": 0.0}, {"lon": 0.002, "lat": 0.0}]}
WAY2 = {"id": 102, "tags": {"name": "Jalan Dua"},
        "geometry": [{"lon": 0.006, "lat": 0.0}, {"lon": 0.004, "lat": 0.0},
                      {"lon": 0.002, "lat": 0.0}]}  # reversed orientation
WAY3 = {"id": 103, "tags": {},
        "geometry": [{"lon": 0.006, "lat": 0.0}, {"lon": 0.010, "lat": 0.0}]}
NODE_A = {"id": 201, "lon": 0.0, "lat": 0.0, "tags": {"name": "Alpha"}}
NODE_B = {"id": 202, "lon": 0.010, "lat": 0.0, "tags": {"name": "Beta"}}

RELATION = {
    "type": "relation",
    "id": 900,
    "members": [
        {"type": "way", "ref": 101, "role": ""},
        {"type": "way", "ref": 102, "role": ""},
        {"type": "way", "ref": 103, "role": ""},
        {"type": "node", "ref": 201, "role": "stop"},
        {"type": "node", "ref": 202, "role": "stop_exit_only"},
        {"type": "node", "ref": 999, "role": "platform"},  # filtered role
    ],
}


def fake_fetch(query: str) -> list[dict]:
    if query == relation_query("900"):
        return [RELATION]
    if query == ways_query([101, 102, 103]):
        return [WAY1, WAY2, WAY3]
    if query == nodes_query([201, 202]):
        return [NODE_A, NODE_B]
    raise AssertionError(f"unexpected query: {query}")


@pytest.fixture(scope="module")
def extracted(spark):
    return extract_route(spark, "900", mode="angkot", fetch_fn=fake_fetch)


def test_stitching_reverses_and_dedups(extracted):
    stitched, _ = extracted
    coords = [(r.lon, r.lat) for r in stitched.orderBy("vertex_idx").collect()]
    # way2 reversed + joint vertices dropped: 0,.002 | .004,.006 | .010
    assert coords == [
        (0.000, 0.0), (0.002, 0.0), (0.004, 0.0), (0.006, 0.0), (0.010, 0.0)
    ]


def test_virtual_stops_created_and_spaced(extracted):
    _, stops = extracted
    rows = stops.orderBy("frac_idx").collect()
    reals = [r for r in rows if r.is_real]
    virts = [r for r in rows if not r.is_real]
    assert [r.stop_id for r in reals] == ["201", "202"]
    # ~1.11 km gap → floor(1.11/0.25) = 4 virtual candidates, all ≥150 m
    # from the real ends after the anti-join
    assert len(virts) == 4
    assert all(v.stop_id.startswith("virtual_") for v in virts)
    assert all(v.role == "virtual" for v in virts)
    # min-spacing invariant along the final order
    def hav_m(a, b):
        R = 6371000.0
        p1, p2 = math.radians(a[1]), math.radians(b[1])
        x = math.sin((p2 - p1) / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(
            math.radians(b[0] - a[0]) / 2) ** 2
        return 2 * R * math.asin(math.sqrt(x))
    prev = None
    for r in rows:
        if prev is not None and not r.is_real:
            assert hav_m((prev.lon, prev.lat), (r.lon, r.lat)) >= 150 - 1e-6
        prev = r


def test_virtual_names_from_street_map(extracted):
    _, stops = extracted
    virts = [r for r in stops.collect() if not r.is_real]
    # interpolated points landing exactly on a vertex inherit its street
    # name; others default (js:324)
    assert all(
        v.name in {"Jalan Satu", "Jalan Dua", "Jalan terdekat"} for v in virts
    )


def test_non_angkot_keeps_raw_stops(spark):
    stitched, stops = extract_route(spark, "900", mode="bus", fetch_fn=fake_fetch)
    rows = stops.orderBy("frac_idx").collect()
    assert [r.stop_id for r in rows] == ["201", "202"]
    assert all(r.is_real for r in rows)


def test_geojson_sink_roundtrip(extracted, tmp_path):
    stitched, stops = extracted
    n = write_route_geojson(stitched, stops, str(tmp_path))
    assert n == 1  # a count, no per-relation collect
    dirs = [os.path.join(tmp_path, d) for d in sorted(os.listdir(tmp_path))]
    assert len(dirs) == 1
    with open(os.path.join(dirs[0], "ways.geojson")) as f:
        ways = json.load(f)
    assert ways["features"][0]["geometry"]["type"] == "LineString"
    assert len(ways["features"][0]["geometry"]["coordinates"]) == 5
    with open(os.path.join(dirs[0], "stops.geojson")) as f:
        sj = json.load(f)
    props = [ft["properties"] for ft in sj["features"]]
    assert {p["id"] for p in props} >= {"201", "202"}
    assert all("isReal" in p and "role" in p for p in props)


def test_geojson_sink_is_distributed_and_exact(extracted, tmp_path, spark):
    """The K2 sink writes from executors (cogrouped applyInPandas) — this
    pins (a) byte content equal to a straight driver rendering of the
    same frames, (b) stop order by frac_idx, (c) a stops-only relation
    gets NO directory (the driver-loop behavior it replaced)."""
    stitched, stops = extracted
    # add a stops-only relation: present in stops, absent from stitched
    extra = stops.limit(1).selectExpr(
        "'999' as relation_id", "stop_id", "name", "role", "is_real",
        "lon", "lat", "frac_idx",
    )
    n = write_route_geojson(stitched, stops.unionByName(extra), str(tmp_path))
    assert n == 1 and sorted(os.listdir(tmp_path)) == ["900"]
    dirs = [os.path.join(tmp_path, "900")]

    # expected bytes, rendered driver-side from the same collected rows
    coords = [
        [r.lon, r.lat]
        for r in stitched.orderBy("vertex_idx").collect()
    ]
    want_ways = json.dumps(
        {
            "type": "FeatureCollection",
            "features": [{
                "type": "Feature",
                "geometry": {"type": "LineString", "coordinates": coords},
                "properties": {"relationId": "900"},
            }],
        },
        indent=2,
    )
    with open(os.path.join(dirs[0], "ways.geojson")) as f:
        assert f.read() == want_ways
    want_stop_ids = [
        r.stop_id for r in stops.orderBy("frac_idx").collect()
    ]
    with open(os.path.join(dirs[0], "stops.geojson")) as f:
        got = [ft["properties"]["id"] for ft in json.load(f)["features"]]
    assert got == want_stop_ids


# ---------------------------------------------------------------------------
# Executor-side fetch mode (S5-S7 distributed variant)
# ---------------------------------------------------------------------------

def _make_multi_fetch():
    """Factory returning an injected fetch serving 4 shifted copies of
    the module's 3-way/2-stop world.  A CLOSURE (not a module-level
    function) so cloudpickle ships it to executors by value — the test
    module itself is not importable on Spark's Python workers."""
    base_ways = (WAY1, WAY2, WAY3)
    base_nodes = (NODE_A, NODE_B)

    def world(rid: int):
        off = (rid - 900) * 100
        lon_off = (rid - 900) * 0.1
        ways = [
            {
                "id": w["id"] + off,
                "tags": w["tags"],
                "geometry": [
                    {"lon": g["lon"] + lon_off, "lat": g["lat"]}
                    for g in w["geometry"]
                ],
            }
            for w in base_ways
        ]
        nodes = [
            {"id": n["id"] + off, "lon": n["lon"] + lon_off, "lat": n["lat"],
             "tags": n["tags"]}
            for n in base_nodes
        ]
        relation = {
            "type": "relation",
            "id": rid,
            "members": (
                [{"type": "way", "ref": w["id"], "role": ""} for w in ways]
                + [{"type": "node", "ref": nodes[0]["id"], "role": "stop"},
                   {"type": "node", "ref": nodes[1]["id"],
                    "role": "stop_exit_only"}]
            ),
        }
        return relation, ways, nodes

    def multi_fetch(query: str) -> list[dict]:
        import re

        m = re.fullmatch(r"\[out:json\];relation\((\d+)\);out body;", query)
        if m:
            return [world(int(m.group(1)))[0]]
        m = re.fullmatch(r"\[out:json\];way\(id:([\d,]+)\);out geom;", query)
        if m:
            ids = [int(i) for i in m.group(1).split(",")]
            rid = 900 + (ids[0] - 101) // 100
            return [w for w in world(rid)[1] if w["id"] in ids]
        m = re.fullmatch(r"\[out:json\];node\(id:([\d,]+)\);out geom;", query)
        if m:
            ids = [int(i) for i in m.group(1).split(",")]
            rid = 900 + (ids[0] - 201) // 100
            return [n for n in world(rid)[2] if n["id"] in ids]
        raise AssertionError(f"unexpected query: {query}")

    return multi_fetch


def test_distributed_fetch_matches_driver_loop(spark, tmp_path):
    from tegallega_spark.session import release_intermediates
    from tegallega_spark.sources.overpass import (
        bundle_to_rows,
        fetch_bundles_distributed,
        fetch_relation_bundle,
    )

    marker_dir = str(tmp_path)
    multi_fetch = _make_multi_fetch()

    def marking_fetch(query: str) -> list[dict]:
        # records the Spark partition id of every executor-side relation
        # fetch so the test can prove the fetches ran distributed across
        # tasks, not in one driver loop (closure-captured path: env vars
        # set after JVM start don't reach the Python workers)
        import re

        from pyspark import TaskContext

        ctx = TaskContext.get()
        m = re.search(r"relation\((\d+)\)", query)
        if ctx is not None and m:
            name = f"p{ctx.partitionId()}_{m.group(1)}"
            with open(os.path.join(marker_dir, name), "w") as f:
                f.write("1")
        return multi_fetch(query)

    rids = ["900", "901", "902", "903"]
    ways_d, nodes_d = fetch_bundles_distributed(spark, rids, marking_fetch)
    exp_w, exp_n = [], []
    for rid in rids:
        w, n = bundle_to_rows(rid, fetch_relation_bundle(rid, multi_fetch))
        exp_w.extend(w)
        exp_n.extend(n)
    assert sorted(tuple(r) for r in ways_d.collect()) == sorted(exp_w)
    assert sorted(tuple(r) for r in nodes_d.collect()) == sorted(exp_n)
    # the fetches ran N-way across distinct tasks, not funneled through
    # the driver: relation i in partition i % n, n = min(#relations,
    # default parallelism)
    n = min(len(rids), spark.sparkContext.defaultParallelism)
    markers = {p for p in os.listdir(tmp_path) if p.startswith("p")}
    assert markers == {f"p{i % n}_{rid}" for i, rid in enumerate(rids)}, markers
    assert release_intermediates(ways_d) == 1  # the shared persisted frame


def test_distributed_fetch_feeds_extract_chain(spark):
    """End-to-end: distributed fetch → stitch → angkot stops produces the
    exact same output as the driver-loop extract_route path."""
    from tegallega_spark.operators.stateful import stitch_ways
    from tegallega_spark.pipeline.extract import angkot_stops
    from tegallega_spark.sources.overpass import fetch_bundles_distributed

    multi_fetch = _make_multi_fetch()
    ways_d, nodes_d = fetch_bundles_distributed(spark, ["900"], multi_fetch)
    stitched = stitch_ways(ways_d)
    stops = angkot_stops(nodes_d, stitched, ways_d)
    via_driver = extract_route(spark, "900", mode="angkot", fetch_fn=multi_fetch)
    want_coords = [
        (r.lon, r.lat) for r in via_driver[0].orderBy("vertex_idx").collect()
    ]
    got_coords = [(r.lon, r.lat) for r in stitched.orderBy("vertex_idx").collect()]
    assert got_coords == want_coords
    want_stops = [
        (r.stop_id, r.name, r.role, r.is_real, r.lon, r.lat)
        for r in via_driver[1].orderBy("frac_idx").collect()
    ]
    got_stops = [
        (r.stop_id, r.name, r.role, r.is_real, r.lon, r.lat)
        for r in stops.orderBy("frac_idx").collect()
    ]
    assert got_stops == want_stops
