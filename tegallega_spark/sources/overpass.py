"""Overpass API source (SURVEY S5-S7).

Reference: update-routes.js:48-103,159-185 — driver-side HTTP with 3
retries, linear backoff (2 s × attempt), 15 s timeout; one batched query
per relation for all member ways, one for all stop nodes.

The fetcher is injectable so the whole extract pipeline is testable
offline: pass `fetch_fn(query) -> list[element dict]`.  The default
fetcher uses urllib (no extra deps) against the public API — batching per
relation is kept because it is the reference's (correct) answer to
many-small-requests overhead; at fleet scale you would further batch
relations per request on the driver and fan the *parsing* out to
executors, which is exactly what the createDataFrame handoff below does.
"""

from __future__ import annotations

import json
import time
import urllib.parse
import urllib.request
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

OVERPASS_URL = "https://overpass-api.de/api/interpreter"
STOP_ROLES = ("stop", "stop_entry_only", "stop_exit_only")  # js:160-165

FetchFn = Callable[[str], list[dict]]


# update-routes.js:48-66: attempts per query, linear backoff step, request timeout
FETCH_RETRIES = 3
FETCH_DELAY_S = 2.0
FETCH_TIMEOUT_S = 15.0


def default_fetch(query: str) -> list[dict]:
    """GET with retry + linear backoff (update-routes.js:48-66)."""
    url = f"{OVERPASS_URL}?data={urllib.parse.quote(query)}"
    last: Exception | None = None
    for attempt in range(1, FETCH_RETRIES + 1):
        try:
            if attempt > 1:
                time.sleep(FETCH_DELAY_S * (attempt - 1))
            with urllib.request.urlopen(url, timeout=FETCH_TIMEOUT_S) as resp:
                return json.loads(resp.read())["elements"]
        except Exception as e:  # noqa: BLE001 — retry loop mirrors reference
            last = e
    raise RuntimeError(f"Overpass query failed after {FETCH_RETRIES} attempts: {last}")


def relation_query(relation_id: str) -> str:
    return f"[out:json];relation({relation_id});out body;"  # js:70


def ways_query(way_ids: list[int | str]) -> str:
    return f"[out:json];way(id:{','.join(map(str, way_ids))});out geom;"  # js:91


def nodes_query(node_ids: list[int | str]) -> str:
    return f"[out:json];node(id:{','.join(map(str, node_ids))});out geom;"  # js:173


def fetch_relation_bundle(relation_id: str, fetch_fn: FetchFn = default_fetch) -> dict:
    """One relation's members + way geometries + stop-node details, three
    batched requests (the reference's network shape)."""
    elements = fetch_fn(relation_query(relation_id))
    relation = next(
        (e for e in elements if e.get("type") == "relation" and str(e.get("id")) == str(relation_id)),
        None,
    )
    if relation is None:
        raise ValueError(f"Relation {relation_id} not found in response")
    way_members = [m for m in relation["members"] if m.get("type") == "way"]
    node_members = [
        m
        for m in relation["members"]
        if m.get("type") == "node" and m.get("role") in STOP_ROLES
    ]
    ways = fetch_fn(ways_query([m["ref"] for m in way_members])) if way_members else []
    nodes = fetch_fn(nodes_query([m["ref"] for m in node_members])) if node_members else []
    return {"relation": relation, "ways": ways, "nodes": nodes}


def bundle_to_rows(relation_id: str, bundle: dict) -> tuple[list, list]:
    """Row-building half of bundle_to_dataframes, exposed so a FLEET of
    relations can be parsed into two lists and shipped to Spark as TWO
    createDataFrame calls (one plan) instead of per-relation frames whose
    union grows the plan linearly — the batched shape the extract scale
    race (scripts/stress_extract.py) and any fleet-sized caller need."""
    rel = bundle["relation"]
    way_map = {w["id"]: w for w in bundle["ways"]}
    node_map = {n["id"]: n for n in bundle["nodes"]}

    way_rows = []
    order = 0
    for m in rel["members"]:
        if m.get("type") != "way":
            continue
        way = way_map.get(m["ref"])
        if way is None:
            print(f"Missing details for way {m['ref']}")
            order += 1
            continue
        name = (way.get("tags") or {}).get("name", "Jalan terdekat")  # js:254
        for vi, g in enumerate(way.get("geometry") or []):
            way_rows.append(
                (str(relation_id), order, str(way["id"]), name, vi, g["lon"], g["lat"])
            )
        order += 1

    node_rows = []
    order = 0
    for m in rel["members"]:
        if m.get("type") != "node" or m.get("role") not in STOP_ROLES:
            continue
        node = node_map.get(m["ref"])
        if node is None:
            print(f"Missing details for stop node {m['ref']}")
            order += 1
            continue
        name = (node.get("tags") or {}).get("name", "Unknown")  # js:273
        node_rows.append(
            (str(relation_id), order, str(node["id"]), name, m["role"], node["lon"], node["lat"])
        )
        order += 1

    return way_rows, node_rows


WAY_VERTEX_SCHEMA = (
    "relation_id string, way_order int, way_id string, way_name string, "
    "vertex_idx int, lon double, lat double"
)
STOP_NODE_SCHEMA = (
    "relation_id string, member_order int, stop_id string, name string, "
    "role string, lon double, lat double"
)


def fetch_bundles_distributed(
    spark: SparkSession,
    relation_ids: list[int | str],
    fetch_fn: FetchFn = default_fetch,
) -> tuple[DataFrame, DataFrame]:
    """S5-S7 EXECUTOR-SIDE mode: partition the relation catalog and run
    the (injectable) fetch + parse per partition, N-way concurrent, with
    N = min(#relations, the session's default parallelism).

    The driver-side loop (`fetch_relation_bundle` per relation) matches
    the reference's sequential shape and is the right choice against the
    real rate-limited Overpass API; this mode is the fleet-scale variant
    the extract race measured the need for — the fetch/parse work
    distributes with the catalog instead of funneling through one driver
    process.  Each task keeps the reference's retry/backoff semantics
    (update-routes.js:48-66) because it calls the same `fetch_fn`.

    One network pass: the combined (tagged) frame is persisted before the
    way/stop split, so consuming both outputs never re-fetches.  Release
    with session.release_intermediates(ways_df) after the consuming
    action.  Returns (way_vertices, stop_nodes) with the same schemas as
    `bundle_to_dataframes`."""
    import pandas as pd

    from tegallega_spark.session import attach_intermediates

    combined_schema = (
        "relation_id string, kind string, ord int, id string, name string, "
        "role string, vertex_idx int, lon double, lat double"
    )

    def fetch_partition(batches):
        for pdf in batches:
            way_rows, node_rows = [], []
            for rid in pdf["relation_id"].tolist():
                bundle = fetch_relation_bundle(rid, fetch_fn)
                wr, nr = bundle_to_rows(rid, bundle)
                way_rows.extend(wr)
                node_rows.extend(nr)
            cols = ["relation_id", "kind", "ord", "id", "name", "role",
                    "vertex_idx", "lon", "lat"]
            rows = [
                (rel, "way", order, wid, name, None, vi, lon, lat)
                for rel, order, wid, name, vi, lon, lat in way_rows
            ] + [
                (rel, "node", order, sid, name, role, None, lon, lat)
                for rel, order, sid, name, role, lon, lat in node_rows
            ]
            out = pd.DataFrame(rows, columns=cols)
            # nullable Int32: vertex_idx is None on node rows and Arrow
            # refuses float64-with-NaN → int casts
            out["ord"] = out["ord"].astype("Int32")
            out["vertex_idx"] = out["vertex_idx"].astype("Int32")
            out["lon"] = out["lon"].astype("float64")
            out["lat"] = out["lat"].astype("float64")
            yield out

    sc = spark.sparkContext
    ids = [str(r) for r in relation_ids]
    n_parts = max(1, min(len(ids), sc.defaultParallelism))
    # relation i is placed in partition i % n_parts: parallelize hands the
    # j-th element of an n_parts-long list to partition j.  A round-robin
    # repartition of one-row input partitions (or a hash of the index) can
    # put two relations in one task and leave another task empty.
    slices = sc.parallelize(
        [[(rid,) for rid in ids[j::n_parts]] for j in range(n_parts)], n_parts
    )
    catalog = spark.createDataFrame(
        slices.flatMap(lambda rows: rows), "relation_id string"
    )
    combined = catalog.mapInPandas(fetch_partition, schema=combined_schema).persist()
    import pyspark.sql.functions as F

    ways_df = combined.filter(F.col("kind") == "way").select(
        "relation_id",
        F.col("ord").alias("way_order"),
        F.col("id").alias("way_id"),
        F.col("name").alias("way_name"),
        "vertex_idx",
        "lon",
        "lat",
    )
    nodes_df = combined.filter(F.col("kind") == "node").select(
        "relation_id",
        F.col("ord").alias("member_order"),
        F.col("id").alias("stop_id"),
        "name",
        "role",
        "lon",
        "lat",
    )
    return (
        attach_intermediates(ways_df, combined),
        attach_intermediates(nodes_df, combined),
    )


def bundle_to_dataframes(
    spark: SparkSession, relation_id: str, bundle: dict
) -> tuple[DataFrame, DataFrame]:
    """Parse a fetched bundle into
    way_vertices(relation_id, way_order, way_id, way_name, vertex_idx, lon, lat)
    and stop_nodes(relation_id, member_order, stop_id, name, role, lon, lat).

    Member order → explicit order columns; missing way/node details are
    warn-and-dropped (js:97-99,179-181 — inner join semantics).
    """
    way_rows, node_rows = bundle_to_rows(relation_id, bundle)
    ways_df = spark.createDataFrame(way_rows, WAY_VERTEX_SCHEMA)
    nodes_df = spark.createDataFrame(node_rows, STOP_NODE_SCHEMA)
    return ways_df, nodes_df
