"""PBF → GTFS end-to-end, fully offline (pipeline/pbf_extract.py).

Composes the from-scratch PBF codec with the extract chain and headway
synthesis — the path the reference's abandoned osm-pbf-to-gtfs.yml:24-43
delegated to an external tool.  Two fixtures: a tiny synthetic route
(schema/ordering assertions) and the reference's real osmium-produced
greater-bandung extract (one real angkot relation, no Overpass anywhere).
"""

from __future__ import annotations

import math
import os

import pytest

REF_PBF = "/root/reference/.osm.pbf-data/greater-bandung.osm.pbf"


def _write_synthetic_pbf(tmp_path) -> str:
    """One bus route: 3 chained ways (5 vertices) + 2 stop nodes, written
    through the repo's own codec."""
    from tegallega_spark.sources.osm_pbf import write_osm_pbf

    nodes = [
        ("node", {"id": i + 1, "lon": 107.0 + 0.002 * i, "lat": -6.9,
                  "tags": {}})
        for i in range(5)
    ]
    stop_a = ("node", {"id": 201, "lon": 107.0, "lat": -6.9,
                       "tags": {"name": "Terminal A"}})
    stop_b = ("node", {"id": 202, "lon": 107.008, "lat": -6.9,
                       "tags": {"name": "Terminal B"}})
    ways = [
        ("way", {"id": 101, "refs": [1, 2], "tags": {"name": "Jalan Satu"}}),
        ("way", {"id": 102, "refs": [2, 3, 4], "tags": {"name": "Jalan Dua"}}),
        ("way", {"id": 103, "refs": [4, 5], "tags": {"name": "Jalan Tiga"}}),
    ]
    rel = (
        "relation",
        {
            "id": 900,
            "members": [
                ("node", 201, "stop"),
                ("node", 202, "stop_exit_only"),
                ("way", 101, ""),
                ("way", 102, ""),
                ("way", 103, ""),
            ],
            "tags": {"type": "route", "route": "bus", "ref": "900",
                     "name": "Rute 900"},
        },
    )
    path = str(tmp_path / "route900.osm.pbf")
    write_osm_pbf(nodes + [stop_a, stop_b] + ways + [rel], path)
    return path


def test_pbf_fetch_fn_answers_overpass_query_shapes(tmp_path):
    from tegallega_spark.pipeline.pbf_extract import _index_pbf, pbf_fetch_fn
    from tegallega_spark.sources.overpass import (
        nodes_query,
        relation_query,
        ways_query,
    )

    fetch = pbf_fetch_fn(_index_pbf(_write_synthetic_pbf(tmp_path)))
    rel = fetch(relation_query("900"))
    assert len(rel) == 1 and rel[0]["type"] == "relation"
    assert [m["role"] for m in rel[0]["members"][:2]] == ["stop", "stop_exit_only"]
    ways = fetch(ways_query([101, 102, 103]))
    assert [w["id"] for w in ways] == [101, 102, 103]
    g0 = ways[1]["geometry"][0]  # PBF coords quantize to 100 nanodegrees
    assert math.isclose(g0["lon"], 107.002, abs_tol=1e-7)
    assert math.isclose(g0["lat"], -6.9, abs_tol=1e-7)
    nodes = fetch(nodes_query([201, 202]))
    assert {n["id"]: n["tags"]["name"] for n in nodes} == {
        201: "Terminal A", 202: "Terminal B",
    }
    with pytest.raises(ValueError):
        fetch("[out:json];area(1);out;")


def test_gtfs_from_synthetic_pbf_end_to_end(spark, tmp_path):
    from tegallega_spark.pipeline.pbf_extract import gtfs_from_pbf

    tables = gtfs_from_pbf(
        spark, _write_synthetic_pbf(tmp_path), num_trips=3,
        first_departure="05:00", last_departure="21:00",
    )

    routes = tables["routes"].collect()
    assert [(r.route_id, r.route_short_name) for r in routes] == [("900", "900")]

    # shapes: the 3 ways stitch into one 5-vertex polyline, distance
    # monotone from 0
    shp = tables["shapes"].orderBy("shape_pt_sequence").collect()
    assert [s.shape_id for s in shp] == ["shape_900"] * 5
    assert [s.shape_pt_sequence for s in shp] == [1, 2, 3, 4, 5]
    dists = [s.shape_dist_traveled for s in shp]
    assert dists[0] == 0.0 and all(b > a for a, b in zip(dists, dists[1:]))

    # trips: 3 headway trips over 05:00→21:00 (8-hour headway)
    trips = tables["trips"].orderBy("trip_id").collect()
    assert [t.trip_id for t in trips] == ["t-900-1", "t-900-2", "t-900-3"]
    assert all(t.shape_id == "shape_900" and t.route_id == "900" for t in trips)

    # stop_times: every trip visits the stops in order; first departs at
    # the trip start (+10 s dwell), sequences are 1..n
    st = tables["stop_times"].collect()
    by_trip = {}
    for r in st:
        by_trip.setdefault(r.trip_id, []).append(r)
    assert set(by_trip) == {"t-900-1", "t-900-2", "t-900-3"}
    n_stops = len(by_trip["t-900-1"])
    assert n_stops >= 2  # the two real stops (+ any surviving virtuals)
    for trip_rows in by_trip.values():
        trip_rows.sort(key=lambda r: r.stop_sequence)
        assert [r.stop_sequence for r in trip_rows] == list(range(1, n_stops + 1))
        assert all(r.departure_time > r.arrival_time for r in trip_rows)
    assert by_trip["t-900-1"][0].arrival_time == "05:00:00"
    assert by_trip["t-900-2"][0].arrival_time == "13:00:00"
    assert by_trip["t-900-3"][0].arrival_time == "21:00:00"

    # stops: both real stops present with their OSM names
    names = {s.stop_id: s.stop_name for s in tables["stops"].collect()}
    assert names["201"] == "Terminal A" and names["202"] == "Terminal B"


@pytest.mark.skipif(not os.path.exists(REF_PBF), reason="reference artifact absent")
def test_gtfs_from_reference_osmium_pbf(spark):
    """One REAL angkot relation (01A, Abdul Muis → Cicaheum) from the
    reference's osmium-produced extract, end to end with no network."""
    from tegallega_spark.pipeline.pbf_extract import gtfs_from_pbf

    tables = gtfs_from_pbf(spark, REF_PBF, relation_ids=["3415464"], num_trips=2)

    routes = tables["routes"].collect()
    assert routes[0].route_short_name == "01A"

    shp = tables["shapes"].orderBy("shape_pt_sequence").collect()
    assert len(shp) > 100  # a real urban route has hundreds of vertices
    dists = [s.shape_dist_traveled for s in shp]
    assert dists == sorted(dists) and dists[-1] > 5.0  # km, a real route

    stops = tables["stops"].collect()
    # 32 stop-role members in the relation; virtual interpolation may add
    # more — never fewer
    assert len(stops) >= 32
    assert all(
        -7.2 < s.stop_lat < -6.7 and 107.4 < s.stop_lon < 108.0 for s in stops
    )

    st = tables["stop_times"].collect()
    trips = {r.trip_id for r in st}
    assert trips == {"t-3415464-1", "t-3415464-2"}
    per_trip = len(st) // 2
    assert per_trip == len(stops) or per_trip >= 32
