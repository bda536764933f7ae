"""build_gtfs end to end on a tiny hand-written routes.json + route-data,
fully offline (FIXTURES.md A1/A2 cases), and the shared headway + dwell
rules against the reference's single rounding.

Fixture: agency TMB (bus) with group K1 (`loop: yes`, relations 1001 and
1002 in directions 0 and 1) and group K2 (no loop; relation 1003 with a
malformed `trips` and no route-data directory, relation 1004 with stops
but no ways), a dynamic group that must be skipped, and agency KCI
(train) with group B on relation 2001 and a schedule CSV holding a
skipped stop pair and one-sided times.  Stop X9 is shared by 1001 and
1002; 1001 and 1004 each carry one stop with no id.
"""

from __future__ import annotations

import json
import os

import pytest


def _stop(sid, name, lon, lat, real=True, wheelchair=None):
    props = {"name": name, "role": "stop", "isReal": real, "mode": "bus"}
    if sid is not None:
        props["id"] = sid
    if wheelchair is not None:
        props["wheelchair"] = wheelchair
    return {"type": "Feature", "properties": props,
            "geometry": {"type": "Point", "coordinates": [lon, lat]}}


STOPS = {
    "1001": [
        _stop("P1", "Halte P1", 107.60, -6.900),
        _stop(None, None, 107.61, -6.901),
        _stop("X9", "Shared first", 107.63, -6.900, wheelchair="yes"),
    ],
    "1002": [
        _stop("V1", "Jalan virtual", 107.60, -6.905, real=False),
        _stop("X9", "Shared second", 107.63, -6.900),
        _stop("P2", "Halte P2", 107.60, -6.905),
    ],
    "1004": [
        _stop("Q1", "Halte Q1", 107.70, -6.950),
        _stop(None, "Tanpa id", 107.71, -6.950),
    ],
    "2001": [
        _stop("S1", "Stasiun 1", 107.40, -6.850),
        _stop("S2", "Stasiun 2", 107.50, -6.860),
        _stop("S3", "Stasiun 3", 107.60, -6.870),
    ],
}

WAYS = {
    "1001": {"type": "LineString", "coordinates": [
        [107.60, -6.900], [107.61, -6.900], [107.62, -6.900], [107.63, -6.900]]},
    "1002": {"type": "MultiLineString", "coordinates": [
        [[107.63, -6.900], [107.62, -6.905]],
        [[107.62, -6.905], [107.61, -6.905], [107.60, -6.905]]]},
    "2001": {"type": "LineString", "coordinates": [
        [107.40, -6.850], [107.50, -6.860], [107.60, -6.870]]},
}

SCHEDULE = [
    ",,S1,S1,S2,S2,S3,S3",
    ",,A,D,A,D,A,D",
    "2001,380,05:00,05:02,,,05:20,",   # S2 skipped; S3 arrival only
    "2001,381,,06:00,06:10,06:12,06:30,06:31",  # S1 departure only
]


def _route(name, d, rid, first, last, trips):
    return {"name": name, "directionId": d, "relationId": rid,
            "first_departure": first, "last_departure": last, "trips": trips}


ROUTES_JSON = {"categories": [
    {"name": "Trans Metro Bandung", "agencyId": "TMB", "mode": "bus",
     "agencyUrl": "", "agencyTimezone": "Asia/Jakarta", "agencyLang": "id",
     "routeGroups": [
         {"groupId": "K1", "name": "Koridor 1", "color": "#2D398B",
          "type": "fixed", "loop": "yes", "routes": [
              _route("A → B", 0, "1001", "05:00", "07:00", "3"),
              _route("B → A", 1, "1002", "06:00", "06:00", "1")]},
         {"groupId": "K2", "name": "Koridor 2", "color": "#00A64F",
          "type": "fixed", "routes": [
              _route("C → D", 0, "1003", "05:00", "06:00", "2x"),
              _route("C → D cepat", 0, "1004", "05:00", "05:30", "2")]},
         {"groupId": "KX", "name": "Ad hoc", "color": "#000000",
          "type": "dynamic", "routes": [
              _route("skipped", 0, "1001", "05:00", "06:00", "5")]},
     ]},
    {"name": "KAI Commuter", "agencyId": "KCI", "mode": "train",
     "agencyUrl": "https://commuterline.id", "agencyTimezone": "Asia/Jakarta",
     "agencyLang": "id",
     "routeGroups": [
         {"groupId": "B", "name": "Bandung Raya", "color": "#f00",
          "type": "fixed", "routes": [
              {"name": "Padalarang → Cicalengka", "directionId": 0,
               "relationId": "2001"}]}]},
]}


def _write_fixture(root) -> str:
    geo = os.path.join(root, "route-data", "geojson")
    for rid, feats in STOPS.items():
        os.makedirs(os.path.join(geo, rid), exist_ok=True)
        with open(os.path.join(geo, rid, "stops.geojson"), "w") as f:
            json.dump({"type": "FeatureCollection", "features": feats}, f)
    for rid, geom in WAYS.items():
        with open(os.path.join(geo, rid, "ways.geojson"), "w") as f:
            json.dump({"type": "FeatureCollection", "features": [
                {"type": "Feature", "properties": {}, "geometry": geom}]}, f)
    sched = os.path.join(root, "route-data", "schedule")
    os.makedirs(sched)
    with open(os.path.join(sched, "KCI_0.csv"), "w") as f:
        f.write("\n".join(SCHEDULE) + "\n")
    with open(os.path.join(root, "routes.json"), "w") as f:
        json.dump(ROUTES_JSON, f, ensure_ascii=False)
    return str(root)


@pytest.fixture(scope="module")
def feed(spark, tmp_path_factory):
    from tegallega_spark.pipeline.gtfs_build import build_gtfs

    tables = build_gtfs(spark, _write_fixture(tmp_path_factory.mktemp("ref")))
    yield {name: df.collect() for name, df in tables.items()}
    spark.catalog.clearCache()


def test_trip_and_block_ids(feed):
    got = {
        (t.route_id, t.trip_id, t.direction_id, t.trip_headsign, t.shape_id, t.block_id)
        for t in feed["trips"]
    }
    assert got == {
        # bus: t-{agency}{group}{dir}{n}; loop group → block {agency}{group}{n}
        ("K1", "t-TMBK101", 0, "A → B", "shape_1001", "TMBK11"),
        ("K1", "t-TMBK102", 0, "A → B", "shape_1001", "TMBK12"),
        ("K1", "t-TMBK103", 0, "A → B", "shape_1001", "TMBK13"),
        ("K1", "t-TMBK111", 1, "B → A", "shape_1002", "TMBK11"),
        # 1003's malformed trips count as 0; 1004 has no ways → no shape
        ("K2", "t-TMBK201", 0, "C → D cepat", "", ""),
        ("K2", "t-TMBK202", 0, "C → D cepat", "", ""),
        # train: t-{agency}{group}{trip_num} from the schedule CSV
        ("B", "t-KCIB380", 0, "Padalarang → Cicalengka", "shape_2001", ""),
        ("B", "t-KCIB381", 0, "Padalarang → Cicalengka", "shape_2001", ""),
    }
    assert {t.service_id for t in feed["trips"]} == {"everyday"}


def test_stop_counter_and_first_wins_metadata(feed):
    got = {
        s.stop_id: (s.stop_name, s.stop_lon, s.stop_lat, s.wheelchair_boarding)
        for s in feed["stops"]
    }
    assert len(feed["stops"]) == len(got)  # one row per stop_id
    assert got == {
        "P1": ("Halte P1", 107.60, -6.900, 0),
        # the global feature counter also counts id-bearing stops
        "stop_2": ("Stop stop_2", 107.61, -6.901, 0),
        # first route in document order wins the shared id's metadata
        "X9": ("Shared first", 107.63, -6.900, 1),
        "V1": ("Jalan virtual", 107.60, -6.905, 0),
        "P2": ("Halte P2", 107.60, -6.905, 0),
        "Q1": ("Halte Q1", 107.70, -6.950, 0),
        "stop_8": ("Tanpa id", 107.71, -6.950, 0),
        "S1": ("Stasiun 1", 107.40, -6.850, 0),
        "S2": ("Stasiun 2", 107.50, -6.860, 0),
        "S3": ("Stasiun 3", 107.60, -6.870, 0),
    }


def test_train_stop_times_skip_and_one_sided_fill(feed):
    got = sorted(
        (r.trip_id, r.stop_sequence, r.stop_id, r.arrival_time, r.departure_time)
        for r in feed["stop_times"] if r.trip_id.startswith("t-KCI")
    )
    assert got == [
        ("t-KCIB380", 1, "S1", "05:00:00", "05:02:00"),
        ("t-KCIB380", 2, "S3", "05:20:00", "05:20:00"),
        ("t-KCIB381", 1, "S1", "06:00:00", "06:00:00"),
        ("t-KCIB381", 2, "S2", "06:10:00", "06:12:00"),
        ("t-KCIB381", 3, "S3", "06:30:00", "06:31:00"),
    ]


def _secs(hms: str) -> int:
    h, m, s = (int(x) for x in hms.split(":"))
    return h * 3600 + m * 60 + s


def test_bus_stop_times_headway_and_dwell(feed):
    by_trip: dict[str, list] = {}
    for r in feed["stop_times"]:
        if not r.trip_id.startswith("t-KCI"):
            by_trip.setdefault(r.trip_id, []).append(r)
    starts = {
        "t-TMBK101": "05:00:00", "t-TMBK102": "06:00:00", "t-TMBK103": "07:00:00",
        "t-TMBK111": "06:00:00", "t-TMBK201": "05:00:00", "t-TMBK202": "05:30:00",
    }
    # stops in shape order; at a shared vertex the real stop comes first.
    # The bus branch carries the feature's own id (generate_gtfs.py:337-347),
    # so a stop with no id has none here: only stops.txt synthesizes stop_{n}
    order = {"t-TMBK1": ["P1", None, "X9"], "t-TMBK111": ["X9", "P2", "V1"],
             "t-TMBK2": ["Q1", None]}
    assert set(by_trip) == set(starts)
    for trip_id, rows in by_trip.items():
        rows.sort(key=lambda r: r.stop_sequence)
        assert [r.stop_sequence for r in rows] == list(range(1, len(rows) + 1))
        want = order.get(trip_id) or order[trip_id[:7]]
        assert [r.stop_id for r in rows] == want, trip_id
        assert rows[0].arrival_time == starts[trip_id]
        for r in rows:
            assert _secs(r.departure_time) == _secs(r.arrival_time) + 10
        arr = [_secs(r.arrival_time) for r in rows]
        assert all(b > a for a, b in zip(arr, arr[1:]))
    assert {(r.pickup_type, r.drop_off_type) for r in feed["stop_times"]} == {(0, 0)}


def test_shape_sequence_and_distance(feed):
    by_shape: dict[str, list] = {}
    for s in feed["shapes"]:
        by_shape.setdefault(s.shape_id, []).append(s)
    assert {k: len(v) for k, v in by_shape.items()} == {
        "shape_1001": 4, "shape_1002": 5, "shape_2001": 3,
    }
    for pts in by_shape.values():
        pts.sort(key=lambda s: s.shape_pt_sequence)
        assert [s.shape_pt_sequence for s in pts] == list(range(1, len(pts) + 1))
        dists = [s.shape_dist_traveled for s in pts]
        assert dists[0] == 0.0
        assert all(b >= a for a, b in zip(dists, dists[1:]))
        assert all(round(d, 6) == d for d in dists)
    # MultiLineString lines flatten in line order, vertices in order
    assert [(s.shape_pt_lon, s.shape_pt_lat) for s in by_shape["shape_1002"]] == [
        (107.63, -6.900), (107.62, -6.905), (107.62, -6.905),
        (107.61, -6.905), (107.60, -6.905),
    ]


def test_agency_and_routes(feed):
    assert [(a.agency_id, a.agency_name) for a in feed["agency"]] == [
        ("TMB", "Trans Metro Bandung"), ("KCI", "KAI Commuter"),
    ]
    assert sorted((r.route_id, r.route_type, r.route_color) for r in feed["routes"]) == [
        ("B", 2, "f00"), ("K1", 3, "2D398B"), ("K2", 3, "00A64F"),
    ]


def test_headway_and_dwell_round_once(spark):
    """trip_start = start + idx·headway stays unrounded; arrival and
    departure round once, as the reference does (generate_gtfs.py:398-443).
    Over 05:00–21:00 with 8 trips the headway is 8228.571… s, so rounding
    the trip start first would move some arrivals by a second (trip 2's
    second stop, 0.7 s of travel and 10 s of dwell: 26239.27 → 26239, not
    round(26228.57) + 10.7 → 26240)."""
    from tegallega_spark.pipeline.gtfs_build import dwell_stop_times, headway_trips

    start, end, n = 5 * 3600, 21 * 3600, 8
    cums = [0.0, 0.7, 123.3, 401.15, 777.9]
    params = spark.createDataFrame(
        [("r1", n, start, end)], "relation_id string, num_trips int, start_sec int, end_sec int"
    )
    timed = spark.createDataFrame(
        [("r1", f"s{k}", k, c) for k, c in enumerate(cums)],
        "relation_id string, stop_id string, seq0 int, cum_travel double",
    )
    trips = headway_trips(params).selectExpr(
        "relation_id", "concat('trip', idx) AS trip_id", "trip_start"
    )
    got = {(r.trip_id, r.stop_id): r for r in dwell_stop_times(trips, timed).collect()}

    def hms(t: int) -> str:
        return f"{t // 3600:02d}:{t % 3600 // 60:02d}:{t % 60:02d}"

    headway = (end - start) / (n - 1)
    twice_rounded_differs = False
    assert len(got) == n * len(cums)
    for idx in range(n):
        for seq0, cum in enumerate(cums):
            exact = start + idx * headway + cum + seq0 * 10
            assert abs(exact % 1 - 0.5) > 0.01, "fixture must stay away from .5 ties"
            r = got[(f"trip{idx}", f"s{seq0}")]
            assert r.stop_sequence == seq0 + 1
            assert r.arrival_time == hms(round(exact))
            assert r.departure_time == hms(round(exact + 10))
            rounded_start = round(start + idx * headway)
            twice_rounded_differs |= round(rounded_start + cum + seq0 * 10) != round(exact)
    assert got[("trip1", "s1")].arrival_time == "07:17:19"  # 26239 s
    assert twice_rounded_differs
