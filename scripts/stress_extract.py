#!/usr/bin/env python
"""Extract-chain scale race: the Spark stitch → project → interpolate →
thin pipeline (pipeline/extract.py) vs the reference's ACTUAL
update-routes.js, both running offline against the same synthetic
Overpass world, at N relations.

The transform half (generate_gtfs.py) has stress_gtfs.py; the extract
half had only goldens (the reference's committed geojson — one fixed
126-route world).  This race executes the reference JS itself (node,
axios/mkdirp stubbed to answer from fixture files — the same
injected-fetch seam tests/test_extract.py uses on the Spark side) on a
FLEET of generated angkot relations, then runs the Spark chain BATCHED:
every relation's ways/nodes in two DataFrames, one keyed
stitch/project/interpolate/thin program over all of them — the shape a
fleet-scale deployment runs, vs the reference's sequential per-route
loop.

FIXTURE LAYOUT (r10): one shard file per relation
(`world/{rid}.json`), ids laid out arithmetically (way/node id →
relation index by integer division) so BOTH sides answer any Overpass
query by loading only the owning relation's shard.  The r9 fixture was
a single monolithic world.json — at 102,400 relations its 551 MB string
hit V8's 512 MiB string cap, DNF-ing the node side on a HARNESS
limitation rather than a reference wall (r9 verdict "What's missing"
#1).  Sharding also keeps the generator streaming: each relation is
generated from its own seeded rng and written immediately, so harness
memory is O(1) in N on both the node and the generation path.

Output parity asserted per relation: the stitched way coordinate
sequence and the FINAL ORDERED stop list (id — including the
virtual_{lon}_{lat} grammar — name, role, isReal, coords) must be
identical (coords to 1e-9).

Usage: python scripts/stress_extract.py [N ...]   (default 50 200 800)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = "/tmp/tegallega_extract_stress"
REF_JS = "/root/reference/action-scripts/update-routes.js"

# Arithmetic id layout: relation i owns way ids [WAY_BASE + i*STRIDE,
# WAY_BASE + (i+1)*STRIDE) and node ids likewise — any id maps back to
# its relation with one integer division, so no global index file exists
# anywhere (the r9 world.json's giant maps are gone on both sides).
REL_BASE = 9_000
WAY_BASE = 10_000_000
NODE_BASE = 500_000_000
STRIDE = 16

# --pause-pid=N (r13): serial-window instrumentation.  A long-running
# UNRELATED background job (e.g. the 12.8 M corpus reference run, hours
# of single-node wall) and this race can share the box without
# contaminating each other's measurements: the pid is SIGSTOPped for
# exactly the TIMED regions (the node reference run and the Spark run)
# and SIGCONTed for everything untimed (sandbox generation, fingerprint
# parity) — so the race numbers are serial-quality while the background
# job loses only the timed minutes, not the whole invocation.
PAUSE_PID: int | None = None


def _pause_background() -> None:
    if PAUSE_PID:
        import signal

        os.kill(PAUSE_PID, signal.SIGSTOP)


def _resume_background() -> None:
    if PAUSE_PID:
        import signal

        try:
            os.kill(PAUSE_PID, signal.SIGCONT)
        except ProcessLookupError:
            pass

AXIOS_STUB = r"""
// offline axios: answers Overpass queries from per-relation shard files
// under WORLD_DIR — the injected-fetch seam, mirrored on the Spark side
// by fetch_fn.  Shards are loaded lazily with a tiny LRU so node RSS
// stays O(1) in world size (the reference loop is per-route anyway).
const fs = require('fs');
const path = require('path');
const dir = process.env.WORLD_DIR;
const meta = JSON.parse(fs.readFileSync(path.join(dir, 'meta.json'), 'utf-8'));

const cache = new Map();  // rid -> shard, insertion-ordered LRU
function shard(rid) {
  if (cache.has(rid)) { const v = cache.get(rid); cache.delete(rid); cache.set(rid, v); return v; }
  let raw;
  try {
    raw = fs.readFileSync(path.join(dir, rid + '.json'), 'utf-8');
  } catch (e) {
    // unknown relation id: answer [] like the real Overpass API (and the
    // r9 relMap stub) instead of throwing ENOENT — keeps the
    // empty-result branch of the fetch seam reachable (r10 ADVICE)
    return null;
  }
  const s = JSON.parse(raw);
  cache.set(rid, s);
  if (cache.size > 8) cache.delete(cache.keys().next().value);
  return s;
}
const ridOfWay = id => String(meta.rel_base + Math.floor((id - meta.way_base) / meta.stride));
const ridOfNode = id => String(meta.rel_base + Math.floor((id - meta.node_base) / meta.stride));

function answer(query) {
  let m;
  if ((m = query.match(/^\[out:json\];relation\((\d+)\);out body;$/))) {
    const s = shard(m[1]);
    return s ? [s.relation] : [];
  }
  if ((m = query.match(/^\[out:json\];way\(id:([\d,]+)\);out geom;$/))) {
    return m[1].split(',').map(id => (shard(ridOfWay(Number(id))) || {ways: {}}).ways[id]).filter(Boolean);
  }
  if ((m = query.match(/^\[out:json\];node\(id:([\d,]+)\);out geom;$/))) {
    return m[1].split(',').map(id => (shard(ridOfNode(Number(id))) || {nodes: {}}).nodes[id]).filter(Boolean);
  }
  throw new Error('unexpected overpass query: ' + query);
}

module.exports = {
  get: async (url) => {
    const q = decodeURIComponent(url.split('?data=')[1]);
    return { data: { elements: answer(q) } };
  },
};
"""

MKDIRP_STUB = r"""
const fs = require('fs');
module.exports = {
  mkdirp: async (p) => fs.mkdirSync(p, { recursive: true }),
};
"""


def gen_relation(i: int, seed: int = 7) -> dict:
    """One angkot relation (shard): 4-10 ways of 6-20 vertices (~40-90 m
    spacing, some ways vertex-reversed so the stitch must flip them), 3-6
    named stop nodes far enough apart that virtual synthesis fires, plus a
    platform member the extractor must filter.  Seeded per relation so
    generation streams — no cross-relation rng state."""
    rng = np.random.default_rng((seed, i))
    rid = REL_BASE + i
    lat0 = (i % 500) * 0.05 + 0.001 * (i // 500)
    lon = 107.0
    members = []
    ways: dict[str, dict] = {}
    nodes: dict[str, dict] = {}
    rel_vertices: list[tuple[float, float]] = []
    n_ways = int(rng.integers(4, 11))
    for w in range(n_ways):
        nv = int(rng.integers(6, 21))
        verts = []
        for _ in range(nv):
            verts.append((round(lon, 7), round(lat0 + float(rng.normal(0, 1e-5)), 7)))
            lon += float(rng.uniform(0.0004, 0.0009))
        # the next way starts at this way's end (shared endpoint)
        lon -= float(rng.uniform(0.0004, 0.0009))
        if rel_vertices:
            verts[0] = rel_vertices[-1]
        rel_vertices.extend(verts if not rel_vertices else verts[1:])
        geometry = [{"lon": x, "lat": y} for x, y in verts]
        if rng.random() < 0.35 and w > 0:  # reversed orientation
            geometry = geometry[::-1]
        wid = WAY_BASE + i * STRIDE + w
        ways[str(wid)] = {
            "type": "way",
            "id": wid,
            "tags": {"name": f"Jalan {wid}"} if rng.random() < 0.8 else {},
            "geometry": geometry,
        }
        members.append({"type": "way", "ref": wid, "role": ""})
    n_stops = int(rng.integers(3, 7))
    stop_vidx = sorted(rng.choice(len(rel_vertices), size=n_stops, replace=False))
    roles = ["stop", "stop_entry_only", "stop_exit_only"]
    for s, vi in enumerate(stop_vidx):
        x, y = rel_vertices[int(vi)]
        nid = NODE_BASE + i * STRIDE + s
        nodes[str(nid)] = {
            "type": "node",
            "id": nid,
            "lon": x,
            "lat": y,
            "tags": {"name": f"Halte {nid}"},
        }
        members.append(
            {"type": "node", "ref": nid,
             "role": roles[int(rng.integers(0, len(roles)))]}
        )
    # a platform member the role filter must drop
    nid = NODE_BASE + i * STRIDE + STRIDE - 1
    nodes[str(nid)] = {"type": "node", "id": nid, "lon": 0.0, "lat": 0.0, "tags": {}}
    members.append({"type": "node", "ref": nid, "role": "platform"})
    return {
        "relation": {"type": "relation", "id": rid, "members": members},
        "ways": ways,
        "nodes": nodes,
    }


def make_sandbox(n_rel: int, seed: int = 7) -> tuple[str, list[int]]:
    """Write the sandbox: reference JS + stubbed deps + per-relation shard
    files.  Streaming — one shard in memory at a time."""
    box = os.path.join(OUT, f"sandbox_{n_rel}")
    marker = os.path.join(box, ".fixture-complete")
    if os.path.exists(marker):
        # fixture generation is deterministic (per-relation seeded rng) —
        # reuse a previously-completed sandbox, clearing only the
        # reference's OUTPUT so its run starts clean
        shutil.rmtree(os.path.join(box, "route-data"), ignore_errors=True)
        return box, [REL_BASE + i for i in range(n_rel)]
    shutil.rmtree(box, ignore_errors=True)
    os.makedirs(os.path.join(box, "action-scripts"))
    os.makedirs(os.path.join(box, "node_modules", "axios"))
    os.makedirs(os.path.join(box, "node_modules", "mkdirp"))
    world_dir = os.path.join(box, "world")
    os.makedirs(world_dir)
    shutil.copy(REF_JS, os.path.join(box, "action-scripts", "update-routes.js"))
    with open(os.path.join(box, "node_modules", "axios", "index.js"), "w") as f:
        f.write(AXIOS_STUB)
    with open(os.path.join(box, "node_modules", "axios", "package.json"), "w") as f:
        json.dump({"name": "axios", "version": "0.0.0", "main": "index.js"}, f)
    with open(os.path.join(box, "node_modules", "mkdirp", "index.js"), "w") as f:
        f.write(MKDIRP_STUB)
    with open(os.path.join(box, "node_modules", "mkdirp", "package.json"), "w") as f:
        json.dump({"name": "mkdirp", "version": "0.0.0", "main": "index.js"}, f)
    with open(os.path.join(world_dir, "meta.json"), "w") as f:
        json.dump(
            {"rel_base": REL_BASE, "way_base": WAY_BASE,
             "node_base": NODE_BASE, "stride": STRIDE, "n": n_rel}, f,
        )
    rids = []
    for i in range(n_rel):
        shard = gen_relation(i, seed)
        rid = shard["relation"]["id"]
        rids.append(rid)
        with open(os.path.join(world_dir, f"{rid}.json"), "w") as f:
            json.dump(shard, f)
    routes = {
        "categories": [
            {
                "name": "Angkot",
                "agencyId": "race",
                "mode": "angkot",
                "routeGroups": [
                    {
                        "groupId": "g1",
                        "name": "G",
                        "color": "FF0000",
                        "type": 3,
                        "routes": [
                            {"name": f"R{rid}", "directionId": 0,
                             "relationId": rid}
                            for rid in rids
                        ],
                    }
                ],
            }
        ]
    }
    with open(os.path.join(box, "routes.json"), "w") as f:
        json.dump(routes, f)
    with open(marker, "w") as f:
        f.write("ok")
    return box, rids


def run_reference(box: str) -> float:
    env = dict(os.environ, WORLD_DIR=os.path.join(box, "world"))
    t0 = time.perf_counter()
    proc = subprocess.run(
        ["node", "action-scripts/update-routes.js"],
        cwd=box, env=env, capture_output=True, text=True, timeout=14400,
    )
    dt = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"reference failed:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")
    return dt


def fingerprint_route_dir(d: str) -> str:
    """One sha256 over a relation directory's parsed geojson content:
    ordered way coordinates (9 dp) + ordered stop tuples (id, name, role,
    isReal, coords at 9 dp).  Format-insensitive (node's JSON.stringify
    vs Python's json.dump), content-exact — the same definition applied
    to both sides' OUTPUT FILES, so parity covers the sink too.  O(one
    relation) memory; nothing route-sized ever accumulates anywhere."""
    import hashlib

    with open(os.path.join(d, "ways.geojson")) as f:
        wj = json.load(f)
    # float() coercion: JS JSON.stringify renders 107.0 as "107",
    # which json.load parses back as int — coerce so both sides
    # canonicalize to the same "107.0" in the hashed blob
    coords = [
        [round(float(x), 9), round(float(y), 9)]
        for x, y in wj["features"][0]["geometry"]["coordinates"]
    ]
    with open(os.path.join(d, "stops.geojson")) as f:
        sj = json.load(f)
    stops = [
        [
            ft["properties"]["id"],
            ft["properties"]["name"],
            ft["properties"]["role"],
            bool(ft["properties"]["isReal"]),
            round(float(ft["geometry"]["coordinates"][0]), 9),
            round(float(ft["geometry"]["coordinates"][1]), 9),
        ]
        for ft in sj["features"]
    ]
    blob = json.dumps([coords, stops], separators=(",", ":")).encode()
    return hashlib.sha256(blob).hexdigest()


def fingerprint_tree(geojson_root: str, rids: list[int]) -> tuple[dict, int]:
    """dict rid → fingerprint plus total stop count, streaming one
    relation at a time (replaces the r10 driver-side accumulation of all
    74 M vertices that the 409.6 k adjudication measured as the
    harness-side half of the one-driver funnel)."""
    out, n_stops = {}, 0
    for rid_int in rids:
        rid = str(rid_int)
        d = os.path.join(geojson_root, rid)
        out[rid] = fingerprint_route_dir(d)
        with open(os.path.join(d, "stops.geojson")) as f:
            n_stops += len(json.load(f)["features"])
    return out, n_stops


def make_shard_fetch(world_dir: str):
    """The injectable Overpass fetch answering from per-relation shard
    files.  Plain-closure + dict cache (NOT lru_cache) so cloudpickle can
    ship it to executors for --distributed-fetch; an unknown relation id
    answers [] like the real API (r10 ADVICE)."""
    import re

    cache: dict[str, dict | None] = {}

    def shard(rid: str):
        if rid in cache:
            return cache[rid]
        try:
            with open(os.path.join(world_dir, f"{rid}.json")) as f:
                s = json.load(f)
        except FileNotFoundError:
            s = None
        if len(cache) > 8:
            cache.clear()
        cache[rid] = s
        return s

    def rid_of_way(wid: int) -> str:
        return str(REL_BASE + (wid - WAY_BASE) // STRIDE)

    def rid_of_node(nid: int) -> str:
        return str(REL_BASE + (nid - NODE_BASE) // STRIDE)

    def fetch(query: str):
        m = re.fullmatch(r"\[out:json\];relation\((\d+)\);out body;", query)
        if m:
            s = shard(m.group(1))
            return [s["relation"]] if s else []
        m = re.fullmatch(r"\[out:json\];way\(id:([\d,]+)\);out geom;", query)
        if m:
            ids = m.group(1).split(",")
            return [w for w in
                    ((shard(rid_of_way(int(i))) or {"ways": {}})["ways"].get(i)
                     for i in ids) if w]
        m = re.fullmatch(r"\[out:json\];node\(id:([\d,]+)\);out geom;", query)
        if m:
            ids = m.group(1).split(",")
            return [n for n in
                    ((shard(rid_of_node(int(i))) or {"nodes": {}})["nodes"].get(i)
                     for i in ids) if n]
        raise AssertionError(f"unexpected query {query}")

    return fetch


def run_spark(
    spark, box: str, rids: list[int], distributed_fetch: bool = False
) -> tuple[float, str]:
    """The batched fleet shape, now END-TO-END sink-to-sink (r10 verdict
    #1): fetch → ONE keyed stitch/project/interpolate/thin program → the
    DISTRIBUTED per-relation GeoJSON sink (write_route_geojson's
    cogrouped applyInPandas).  Nothing route-sized crosses the driver —
    parity against the reference is computed afterwards (untimed) by
    fingerprinting both sides' written files with the same streaming
    parser.

    distributed_fetch=True additionally moves the fetch/parse boundary to
    executors (sources.overpass.fetch_bundles_distributed) — the
    fleet-scale deployment shape; the default driver loop matches the
    reference's sequential, rate-limit-friendly shape."""
    from tegallega_spark.operators.stateful import stitch_ways
    from tegallega_spark.pipeline.extract import angkot_stops, write_route_geojson
    from tegallega_spark.session import release_intermediates
    from tegallega_spark.sources.overpass import (
        STOP_NODE_SCHEMA,
        WAY_VERTEX_SCHEMA,
        bundle_to_rows,
        fetch_bundles_distributed,
        fetch_relation_bundle,
    )

    fetch = make_shard_fetch(os.path.join(box, "world"))
    spark_out = os.path.join(box, "spark-route-data")

    t0 = time.perf_counter()
    if distributed_fetch:
        ways_df, nodes_df = fetch_bundles_distributed(
            spark, [str(r) for r in rids], fetch
        )
    else:
        all_way_rows: list = []
        all_node_rows: list = []
        for rid_int in rids:
            rid = str(rid_int)
            bundle = fetch_relation_bundle(rid, fetch)
            wr, nr = bundle_to_rows(rid, bundle)
            all_way_rows.extend(wr)
            all_node_rows.extend(nr)
        # Arrow on the ingest boundary (r9): list-of-tuples
        # createDataFrame serializes row-at-a-time through py4j —
        # profiled as the DOMINANT per-relation cost past ~10 k
        # relations.  pandas→createDataFrame rides Arrow batches.
        import pandas as pd

        way_cols = ["relation_id", "way_order", "way_id", "way_name",
                    "vertex_idx", "lon", "lat"]
        node_cols = ["relation_id", "member_order", "stop_id", "name",
                     "role", "lon", "lat"]
        ways_df = spark.createDataFrame(
            pd.DataFrame(all_way_rows, columns=way_cols), WAY_VERTEX_SCHEMA
        )
        nodes_df = spark.createDataFrame(
            pd.DataFrame(all_node_rows, columns=node_cols), STOP_NODE_SCHEMA
        )
    stitched = stitch_ways(ways_df).persist()
    stops = angkot_stops(nodes_df, stitched, ways_df)
    write_route_geojson(stitched, stops, spark_out)
    dt = time.perf_counter() - t0
    stitched.unpersist()
    release_intermediates(stops)
    release_intermediates(ways_df)
    return dt, spark_out


def profile_spark(spark, box: str, rids: list[int]) -> dict:
    """Stage-time ATTRIBUTION of the distributed shape (r11 verdict #4:
    the 0.90x deficit at 204 800 relations needs a recorded breakdown —
    fixed cogroup/shuffle overhead vs the 2-files-per-relation write
    fan-out — not a guess).  Re-runs the same program with persist+count
    barriers between phases so each phase's wall is separable.  The
    barriers add materialization the fused run doesn't pay, so the SUM
    here exceeds the timed race number — this is attribution, not a
    second benchmark; only the RATIOS between phases are the finding."""
    from tegallega_spark.operators.stateful import stitch_ways
    from tegallega_spark.pipeline.extract import angkot_stops, write_route_geojson
    from tegallega_spark.session import release_intermediates
    from tegallega_spark.sources.overpass import fetch_bundles_distributed

    fetch = make_shard_fetch(os.path.join(box, "world"))
    spark_out = os.path.join(box, "spark-route-data-profile")

    phases: dict[str, float] = {}
    t0 = time.perf_counter()
    ways_df, nodes_df = fetch_bundles_distributed(
        spark, [str(r) for r in rids], fetch
    )
    ways_df = ways_df.persist()
    nodes_df = nodes_df.persist()
    n_ways, n_nodes = ways_df.count(), nodes_df.count()
    phases["fetch_parse"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    stitched = stitch_ways(ways_df).persist()
    stops = angkot_stops(nodes_df, stitched, ways_df).persist()
    n_vertices, n_stops = stitched.count(), stops.count()
    phases["stitch_interpolate_thin"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    n_dirs = write_route_geojson(stitched, stops, spark_out)
    phases["geojson_sink"] = round(time.perf_counter() - t0, 2)

    stops.unpersist()
    stitched.unpersist()
    nodes_df.unpersist()
    release_intermediates(ways_df)
    shutil.rmtree(spark_out, ignore_errors=True)
    return {
        "phases_s": phases,
        "rows": {"way_vertices": n_ways, "stop_nodes": n_nodes,
                 "stitched_vertices": n_vertices, "stops": n_stops,
                 "relation_dirs": n_dirs},
    }


def main() -> None:
    args = sys.argv[1:]
    # --fetch=driver (default) | distributed | both.  "both" runs the node
    # reference ONCE per size and races both Spark fetch shapes on the
    # same sandbox.  --distributed-fetch kept as an alias (r10 flag).
    fetch_mode = "driver"
    if "--distributed-fetch" in args:
        fetch_mode = "distributed"
    for a in args:
        if a.startswith("--fetch="):
            fetch_mode = a.split("=", 1)[1]
    keep = "--keep" in args
    global PAUSE_PID
    for a in args:
        if a.startswith("--pause-pid="):
            PAUSE_PID = int(a.split("=", 1)[1])
    sizes = [int(a) for a in args if not a.startswith("--")] or [50, 200, 800]
    os.makedirs(OUT, exist_ok=True)

    from tegallega_spark.session import get_spark

    spark = get_spark("extract-stress")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()

    modes = ["driver", "distributed"] if fetch_mode == "both" else [fetch_mode]
    results = []
    for n in sizes:
        box, rids = make_sandbox(n)
        _pause_background()
        try:
            ref_s = run_reference(box)
        finally:
            _resume_background()
        ref_fp, n_stops = fingerprint_tree(
            os.path.join(box, "route-data", "geojson"), rids
        )
        for mode in modes:
            _pause_background()
            try:
                spark_s, spark_out = run_spark(
                    spark, box, rids, distributed_fetch=(mode == "distributed")
                )
            finally:
                _resume_background()
            # Parity (untimed): fingerprint BOTH sides' written files with
            # the same streaming parser — the sink output itself is compared
            got_fp, got_stops = fingerprint_tree(spark_out, rids)
            assert set(got_fp) == set(ref_fp), (len(got_fp), len(ref_fp))
            assert got_stops == n_stops, (got_stops, n_stops)
            diff = [rid for rid in ref_fp if got_fp[rid] != ref_fp[rid]]
            assert not diff, f"{len(diff)} relations differ, e.g. {diff[:5]}"
            results.append(
                {
                    "relations": n,
                    "stops_total": n_stops,
                    "reference_s": round(ref_s, 2),
                    "spark_s": round(spark_s, 2),
                    "ratio": round(ref_s / spark_s, 2),
                    "fetch": mode,
                    "outputs": "identical",
                }
            )
            print(json.dumps(results[-1]), file=sys.stderr)
            shutil.rmtree(spark_out, ignore_errors=True)
            if mode == "distributed" and "--profile" in args:
                _pause_background()
                try:
                    prof = profile_spark(spark, box, rids)
                finally:
                    _resume_background()
                prof["relations"] = n
                results.append(prof)
                print(json.dumps(prof), file=sys.stderr)
        if not keep:
            shutil.rmtree(box, ignore_errors=True)  # shards + route-data;
            # next size regenerates its own sandbox, disk stays bounded

    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
