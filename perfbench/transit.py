"""transit_feed workload: the GTFS half of the paper's pipeline.

The seed generates a synthetic Overpass world (scripts/stress_extract.py's
`gen_relation`) and writes it as the pipeline's committed route-data:
per-relation ways.geojson / stops.geojson in the extract sink's grammar,
a routes.json and train schedule CSVs in the reference grammar.  One
iteration runs build_gtfs → CSV sink → validate → zip, the job the
reference's generate_gtfs.py does after every route-data commit.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import shutil
from collections import Counter

import numpy as np

from stress_extract import REL_BASE, gen_relation

# Sized from the real feed (BASELINE.md, SURVEY.md §5.2): 126 route
# directions, 8,172 trips (~65 per direction), 290,414 stop_times (~35
# stops per trip), 70,332 shape points (~560 per route).  62 angkot groups
# × 2 directions + 2 train directions = 126 relations.
N_ANGKOT_GROUPS = 62     # G0..G61, two directions each
BUS_TRIPS = (50, 81)     # trips per direction, uniform: mean 65
DENSIFY = 6              # gen_relation's ~90 vertices per route, each segment split in six
VIRTUAL_KM = 0.18        # a virtual stop every 180 m between real stops: ~35 per route
MISSING_RELATION = str(REL_BASE - 1)   # listed in routes.json, no GeoJSON directory


def _hhmm(minutes: int) -> str:
    return f"{minutes // 60:02d}:{minutes % 60:02d}"


def _km(a: list[float], b: list[float]) -> float:
    """Equirectangular distance, close enough to place virtual stops."""
    dx = (b[0] - a[0]) * np.cos(np.radians((a[1] + b[1]) / 2))
    return 111.195 * float(np.hypot(dx, b[1] - a[1]))


def _chain(shard: dict) -> list[list[float]]:
    """The relation's ways joined end to start into one polyline (ways
    stored reversed are flipped), as the extract's stitch produces, each
    segment split into DENSIFY."""
    chain: list[list[float]] = []
    for m in shard["relation"]["members"]:
        if m["type"] != "way":
            continue
        pts = [[g["lon"], g["lat"]] for g in shard["ways"][str(m["ref"])]["geometry"]]
        if chain and pts[-1] == chain[-1]:
            pts = pts[::-1]
        chain.extend(pts[1:] if chain and pts[0] == chain[-1] else pts)
    dense = [chain[0]]
    for a, b in zip(chain, chain[1:]):
        dense += [[round(a[0] + (b[0] - a[0]) * k / DENSIFY, 7),
                   round(a[1] + (b[1] - a[1]) * k / DENSIFY, 7)] for k in range(1, DENSIFY + 1)]
    return dense


def _stops(shard: dict, chain: list[list[float]], virtual: bool) -> list[dict]:
    """The relation's named stops in route order, as stops.geojson
    properties plus coordinates; with `virtual`, a virtual stop (the
    extract's `virtual_{lon}_{lat}` grammar) on the first vertex at least
    VIRTUAL_KM past the previous stop."""
    roles = {m["ref"]: m["role"] for m in shard["relation"]["members"]}
    real = {(n["lon"], n["lat"]): n for n in shard["nodes"].values()
            if roles.get(n["id"], "platform") != "platform"}
    out, run = [], 0.0
    for k, p in enumerate(chain):
        run += _km(chain[k - 1], p) if k else 0.0
        n = real.pop((p[0], p[1]), None)
        if n is not None:
            out.append({"id": str(n["id"]), "name": n["tags"]["name"],
                        "role": roles[n["id"]], "isReal": True, "xy": p})
        elif virtual and k and run >= VIRTUAL_KM:
            out.append({"id": f"virtual_{p[0]}_{p[1]}", "name": f"Jalan {k}",
                        "role": "stop", "isReal": False, "xy": p})
        else:
            continue
        run = 0.0
    assert not real, f"stops off the polyline: {sorted(real)}"
    return out


def _write_route_dir(geo: str, rid: str, shard: dict, virtual: bool) -> list[str]:
    """ways.geojson + stops.geojson for one relation; returns its stop ids."""
    d = os.path.join(geo, rid)
    os.makedirs(d)
    chain = _chain(shard)
    ways = {"type": "FeatureCollection", "features": [{
        "type": "Feature",
        "geometry": {"type": "LineString", "coordinates": chain},
        "properties": {"relationId": rid}}]}
    stops = _stops(shard, chain, virtual)
    mode = "bus" if virtual else "train"
    feats = [{"type": "Feature",
              "geometry": {"type": "Point", "coordinates": s.pop("xy")},
              "properties": {**s, "mode": mode}}
             for s in stops]
    with open(os.path.join(d, "ways.geojson"), "w") as f:
        json.dump(ways, f, indent=2)
    with open(os.path.join(d, "stops.geojson"), "w") as f:
        json.dump({"type": "FeatureCollection", "features": feats}, f, indent=2)
    return [f["properties"]["id"] for f in feats]


def generate(root: str, seed: int) -> dict:
    """Write routes.json and route-data/{geojson,schedule} under `root`;
    return the facts the output check predicts from.

    FIXTURES.md A1 cases: a train group with schedule CSVs, a `loop: yes`
    group, a malformed `trips` value, a route whose relation has no
    GeoJSON directory, and a non-fixed group that must be skipped."""
    rng = np.random.default_rng((seed, 0xFEED))
    geo = os.path.join(root, "route-data", "geojson")
    sched = os.path.join(root, "route-data", "schedule")
    os.makedirs(sched)
    n_rel = 2 * N_ANGKOT_GROUPS + 2
    rids, stop_ids = [], {}
    for i in range(n_rel):
        shard = gen_relation(i, seed)
        rid = str(shard["relation"]["id"])
        rids.append(rid)
        stop_ids[rid] = _write_route_dir(geo, rid, shard, i < 2 * N_ANGKOT_GROUPS)
    loop_group = int(rng.integers(0, N_ANGKOT_GROUPS))
    bad_trips, missing = (int(k) for k in rng.choice(2 * N_ANGKOT_GROUPS, 2, replace=False))

    groups, bus_trips = [], {}
    for g in range(N_ANGKOT_GROUPS):
        routes = []
        for d in range(2):
            k = 2 * g + d
            rid = MISSING_RELATION if k == missing else rids[k]
            trips = str(int(rng.integers(*BUS_TRIPS)))
            if k == bad_trips:
                trips += "x"
            routes.append({
                "name": f"Terminal {g}{'AB'[d]} → Terminal {g}{'BA'[d]}",
                "directionId": d,
                "relationId": rid,
                "first_departure": _hhmm(300 + int(rng.integers(0, 90))),
                "last_departure": _hhmm(1200 + int(rng.integers(0, 120))),
                "trips": trips,
            })
            if rid != MISSING_RELATION and trips.isdigit():
                bus_trips[rid] = int(trips)
        groups.append({
            "groupId": f"G{g}", "name": f"Angkot {g}", "color": "#FFAA00",
            "type": "fixed", "loop": "yes" if g == loop_group else "no",
            "routes": routes,
        })
    groups.append({"groupId": "GX", "name": "Ad hoc", "color": "#000000",
                   "type": "dynamic", "routes": [{
                       "name": "skipped", "directionId": 0,
                       "relationId": rids[0], "trips": "5"}]})

    train_routes, train_trips, train_cells = [], 0, 0
    for d, rid in enumerate(rids[2 * N_ANGKOT_GROUPS:]):
        train_routes.append({"name": f"Padalarang → Cicalengka {d}",
                             "directionId": d, "relationId": rid})
        header1, header2 = ["", ""], ["", ""]
        for s in stop_ids[rid]:
            header1 += [s, s]
            header2 += ["A", "D"]
        rows = [header1, header2]
        for t in range(int(rng.integers(6, 11))):
            row = [rid, str(100 * (d + 1) + t)]
            minute = 300 + 60 * t + int(rng.integers(0, 10))
            for _ in stop_ids[rid]:
                if rng.random() < 0.15:
                    row += ["", ""]          # a skipped stop
                else:
                    row += [_hhmm(minute), _hhmm(minute + 1)]
                    train_cells += 1
                minute += int(rng.integers(3, 9))
            rows.append(row)
            train_trips += 1
        with open(os.path.join(sched, f"KCI_{d}.csv"), "w", newline="") as f:
            csv.writer(f).writerows(rows)
    routes_json = {"categories": [
        {"name": "Angkot Bandung", "agencyId": "ANG", "mode": "angkot",
         "agencyUrl": "", "agencyTimezone": "Asia/Jakarta", "agencyLang": "id",
         "routeGroups": groups},
        {"name": "KAI Commuter", "agencyId": "KCI", "mode": "train",
         "agencyUrl": "https://commuterline.id", "agencyTimezone": "Asia/Jakarta",
         "agencyLang": "id",
         "routeGroups": [{"groupId": "K1", "name": "Commuter Line Bandung Raya",
                          "color": "#00A64F", "type": "fixed",
                          "routes": train_routes}]},
    ]}
    with open(os.path.join(root, "routes.json"), "w") as f:
        json.dump(routes_json, f)
    return {
        "stops_per_relation": {r: len(s) for r, s in stop_ids.items()},
        "bus_trips": bus_trips,
        "train_trips": train_trips,
        "train_stop_times": train_cells,
        "routes": N_ANGKOT_GROUPS + 1,
        "relations": n_rel,
    }


def run_iteration(spark, trace, inputs: str, out: str) -> tuple[dict, dict]:
    """One feed rebuild into `out`; returns the validator's counts and the
    built tables (their persisted upstreams stay cached until `rewrite`)."""
    from tegallega_spark.pipeline.feed_check import validate_gtfs_feed
    from tegallega_spark.pipeline.gtfs_build import build_gtfs
    from tegallega_spark.sources.gtfs import make_gtfs_zip, write_gtfs_feed

    shutil.rmtree(out, ignore_errors=True)
    feed = os.path.join(out, "gtfs")
    with trace.span("pipeline.gtfs_build.build_gtfs"):
        tables = build_gtfs(spark, inputs)
    with trace.span("sources.gtfs.write_gtfs_feed"):
        write_gtfs_feed(tables, feed)
    with trace.span("pipeline.feed_check.validate_gtfs_feed") as rec:
        report = validate_gtfs_feed(spark, feed)
    if rec is not None:
        rec["defects"] = sum(report.values())
    with trace.span("sources.gtfs.make_gtfs_zip"):
        make_gtfs_zip(feed, os.path.join(out, "gtfs.zip"))
    return report, tables


def rewrite(spark, tables: dict, out: str) -> None:
    """Write the iteration's tables a second time, to `out`/gtfs-again, for
    the byte-identity check; then drop build_gtfs's persisted upstreams."""
    from tegallega_spark.sources.gtfs import write_gtfs_feed

    write_gtfs_feed(tables, os.path.join(out, "gtfs-again"))
    spark.catalog.clearCache()


def _rows(path: str) -> list[list[str]]:
    with open(path, newline="") as f:
        return list(csv.reader(f))[1:]


def fingerprint(feed: str) -> dict:
    """sha256 of every file of the feed."""
    fp = {}
    for name in sorted(os.listdir(feed)):
        with open(os.path.join(feed, name), "rb") as f:
            fp[name] = hashlib.sha256(f.read()).hexdigest()
    return fp


def check(out: str, facts: dict, report: dict) -> tuple[str, dict]:
    """Untimed output check.  Returns (reason for a failure or "", the
    feed's fingerprint).  The feed must be byte-identical to the second
    write of the same tables (`rewrite`)."""
    feed = os.path.join(out, "gtfs")
    trips = _rows(os.path.join(feed, "trips.txt"))
    stop_times = _rows(os.path.join(feed, "stop_times.txt"))
    want_st = facts["train_stop_times"] + sum(
        n * facts["stops_per_relation"][rid] for rid, n in facts["bus_trips"].items())
    counts = {
        "agency.txt": (len(_rows(os.path.join(feed, "agency.txt"))), 2),
        "routes.txt": (len(_rows(os.path.join(feed, "routes.txt"))), facts["routes"]),
        "trips.txt": (len(trips), sum(facts["bus_trips"].values()) + facts["train_trips"]),
        "stop_times.txt": (len(stop_times), want_st),
        "calendar.txt": (len(_rows(os.path.join(feed, "calendar.txt"))), 1),
    }
    for name, (got, want) in counts.items():
        if got != want:
            return f"{name}: {got} rows, generator predicts {want}", {}
    # the validator's duplicate-sequence count, recomputed in plain Python
    dup = sum(1 for c in Counter((r[0], r[2]) for r in stop_times).values() if c > 1)
    if report.get("stop_times_duplicate_sequence") != dup:
        return (f"validator duplicate_sequence "
                f"{report.get('stop_times_duplicate_sequence')} != {dup}"), {}
    fp = fingerprint(feed)
    again = fingerprint(os.path.join(out, "gtfs-again"))
    if fp != again:
        diff = sorted(k for k in fp.keys() | again.keys() if fp.get(k) != again.get(k))
        return f"a second write of the same tables differs in {diff}", {}
    return "", fp
