"""OSM PBF → GTFS alternate path, fully offline (SURVEY S8 composition).

The reference's abandoned workflow (osm-pbf-to-gtfs.yml:24-43) delegated
this conversion wholesale to an external tool; this module composes the
repo's own pieces instead:

    .pbf file
      → pbf_fetch_fn            Overpass-shaped answers from the PBF index
      → extract_route           stitch / project / interpolate / thin
                                (pipeline/extract.py — identical chain to
                                the network path, byte-for-byte)
      → shapes                  cumulative distance + sequence (W1-W3)
      → ordered stops           frac_idx order per relation
      → headway trips           W11 explode(sequence)
      → dwell stop_times        W4/W5 segment speeds + seq*10 dwell

The last four steps are build_gtfs's own rules (pipeline/gtfs_build.py),
called with the extract chain's orderings.

No network anywhere: the single fetch boundary of the extract chain is
satisfied from one driver-side parse of the PBF.  OSM carries no timetable
data, so trip synthesis parameters (num_trips, first/last departure) are
caller-supplied defaults — the same stance the reference's bus branch
takes when routes.json lacks a schedule (generate_gtfs.py:389-401).

Scale shape: the PBF parse + per-relation bundle answers are driver-side
(the fetch boundary is driver-side by design, mirroring the Overpass
path); everything after `bundle_to_dataframes` is per-relation-keyed
DataFrames, so a fleet-scale run distributes over relations exactly like
the network path.  For a planet-scale PBF use sources.osm_pbf.read_osm_pbf
(one task per blob) to shard the parse itself.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from tegallega_spark.functions.ids import shape_id_for, trip_id_pbf
from tegallega_spark.functions.timecodec import hhmm_to_seconds
from tegallega_spark.pipeline.extract import extract_route
from tegallega_spark.pipeline.gtfs_build import (
    dwell_stop_times,
    headway_trips,
    shape_points,
    stop_travel_times,
)
from tegallega_spark.sources.overpass import FetchFn
from tegallega_spark.sources.osm_pbf import read_pbf

_REL_Q = re.compile(r"relation\((\d+)\)")
_WAY_Q = re.compile(r"way\(id:([\d,]+)\)")
_NODE_Q = re.compile(r"node\(id:([\d,]+)\)")


def _index_pbf(pbf_path: str) -> tuple[dict, dict, dict]:
    nodes: dict[int, dict] = {}
    ways: dict[int, dict] = {}
    rels: dict[int, dict] = {}
    for kind, d in read_pbf(pbf_path):
        {"node": nodes, "way": ways, "relation": rels}[kind][d["id"]] = d
    return nodes, ways, rels


def pbf_fetch_fn(index: tuple[dict, dict, dict]) -> FetchFn:
    """An offline FetchFn answering the extract chain's three Overpass
    query shapes (relation / way-geom / node) from one parse of a PBF
    file (the _index_pbf result).  Way geometry is resolved ref-by-ref
    against the node index — the PBF equivalent of Overpass `out geom`."""
    nodes, ways, rels = index

    def fetch(query: str) -> list[dict]:
        m = _REL_Q.search(query)
        if m:
            r = rels.get(int(m.group(1)))
            if r is None:
                return []
            return [
                {
                    "type": "relation",
                    "id": r["id"],
                    "tags": r["tags"],
                    "members": [
                        {"type": t, "ref": ref, "role": role}
                        for t, ref, role in r["members"]
                    ],
                }
            ]
        m = _WAY_Q.search(query)
        if m:
            out = []
            for wid in (int(x) for x in m.group(1).split(",")):
                w = ways.get(wid)
                if w is None:
                    continue
                out.append(
                    {
                        "type": "way",
                        "id": w["id"],
                        "tags": w["tags"],
                        "geometry": [
                            {"lon": nodes[ref]["lon"], "lat": nodes[ref]["lat"]}
                            for ref in w["refs"]
                            if ref in nodes
                        ],
                    }
                )
            return out
        m = _NODE_Q.search(query)
        if m:
            return [
                {
                    "type": "node",
                    "id": n["id"],
                    "tags": n["tags"],
                    "lon": n["lon"],
                    "lat": n["lat"],
                }
                for nid in (int(x) for x in m.group(1).split(","))
                if (n := nodes.get(nid)) is not None
            ]
        raise ValueError(f"unrecognized query shape: {query!r}")

    return fetch


def gtfs_from_pbf(
    spark: SparkSession,
    pbf_path: str,
    relation_ids: list[str] | None = None,
    mode: str = "angkot",
    num_trips: int = 3,
    first_departure: str = "05:00",
    last_departure: str = "21:00",
) -> dict[str, DataFrame]:
    """GTFS tables (routes, stops, trips, stop_times, shapes) from a PBF
    file alone.  relation_ids=None processes every type=route relation."""
    index = _index_pbf(pbf_path)
    _, _, rels = index
    fetch = pbf_fetch_fn(index)
    if relation_ids is None:
        relation_ids = sorted(
            (str(i) for i, r in rels.items() if r["tags"].get("type") == "route"),
            key=int,
        )
    if not relation_ids:
        raise ValueError(f"no route relations selected from {pbf_path!r}")

    stitched_parts, stop_parts = [], []
    for rid in relation_ids:
        stitched, stops = extract_route(spark, rid, mode=mode, fetch_fn=fetch)
        stitched_parts.append(stitched)
        stop_parts.append(stops)
    stitched = stitched_parts[0]
    for p in stitched_parts[1:]:
        stitched = stitched.unionByName(p)
    stops = stop_parts[0]
    for p in stop_parts[1:]:
        stops = stops.unionByName(p)

    # shapes.txt (W1-W3) and ordered stops with travel times (W4+W5):
    # build_gtfs's rules, in the extract chain's vertex / frac_idx order
    shapes = shape_points(stitched, ("vertex_idx",))
    timed = stop_travel_times(stops, ("frac_idx",))

    # routes.txt from relation tags (driver-side: #relations rows)
    route_rows = [
        (
            rid,
            rels[int(rid)]["tags"].get("ref", rid),
            rels[int(rid)]["tags"].get("name", ""),
            3,  # route_type bus
        )
        for rid in relation_ids
        if int(rid) in rels
    ]
    routes = spark.createDataFrame(
        route_rows,
        "route_id string, route_short_name string, route_long_name string, "
        "route_type int",
    )

    # trips via headway synthesis (W11) and dwell stop_times (W12)
    params = routes.select(
        F.col("route_id").alias("relation_id"),
        F.lit(num_trips).alias("num_trips"),
        hhmm_to_seconds(F.lit(first_departure)).alias("start_sec"),
        hhmm_to_seconds(F.lit(last_departure)).alias("end_sec"),
    )
    exploded = headway_trips(params).withColumn(
        "trip_id", trip_id_pbf(F.col("relation_id"), F.col("idx") + 1)
    )
    trips = exploded.select(
        F.col("relation_id").alias("route_id"),
        "trip_id",
        F.lit("everyday").alias("service_id"),
        shape_id_for(F.col("relation_id")).alias("shape_id"),
    )
    stop_times = dwell_stop_times(
        exploded.select("relation_id", "trip_id", "trip_start"), timed
    )

    # stops.txt: first-wins dedup by stop_id (A1)
    w_first = Window.partitionBy("stop_id").orderBy("relation_id", "frac_idx")
    stops_table = (
        timed.withColumn("__rn", F.row_number().over(w_first))
        .filter(F.col("__rn") == 1)
        .select(
            "stop_id",
            F.col("name").alias("stop_name"),
            F.col("lat").alias("stop_lat"),
            F.col("lon").alias("stop_lon"),
        )
    )

    return {
        "routes": routes,
        "stops": stops_table,
        "trips": trips,
        "stop_times": stop_times,
        "shapes": shapes,
    }
