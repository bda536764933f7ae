"""Spatial join / projection operators (SURVEY.md §2.3 J4-J5, §2.5 W10).

The reference projects stops onto segments with O(stops × segments)
Python loops (update-routes.js:206-246).  Here the same semantics are an
equi-join on the route key followed by an argmin — one shuffle,
broadcastable shape side, and the candidate space bounded by the route
key (never a global cross join).  The nearest-vertex argmin of the GTFS
build (J3, generate_gtfs.py:354-365) is written inline in
pipeline/gtfs_build.py, its only user.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

from tegallega_spark.functions.geo import haversine_km, haversine_m, lerp
from tegallega_spark.functions.ids import virtual_stop_id


def project_onto_segments(
    points: DataFrame,
    vertices: DataFrame,
    key: str = "relation_id",
    point_id: str = "stop_id",
) -> DataFrame:
    """Point-to-segment projection with fractional index (reference
    update-routes.js:206-246).

    vertices must carry (key, vertex_idx, lon, lat); consecutive vertices
    form segments via lag.  For each point: argmin over segments of the
    distance to the projected point; returns fractional position
    frac_idx = seg_idx + t and the projected coordinates.

    Equirectangular local projection (same as the reference, which works on
    raw lon/lat deltas) is fine at city scale; all column math.
    """
    proj = _projection_candidates(points, vertices, key, point_id)
    # min over struct(dist, frac_idx, ...) — tie on distance picks the
    # LOWEST segment index, matching the reference's strict-less first-win
    # scan (update-routes.js:235-239)
    return (
        proj.groupBy(key, point_id)
        .agg(F.min(F.struct("proj_dist_m", "frac_idx", "proj_lon", "proj_lat")).alias("__b"))
        .select(key, point_id, "__b.frac_idx", "__b.proj_lon", "__b.proj_lat",
                "__b.proj_dist_m")
    )


def _projection_candidates(
    points: DataFrame,
    vertices: DataFrame,
    key: str,
    point_id: str,
) -> DataFrame:
    """The join + per-segment projection of project_onto_segments WITHOUT
    the argmin aggregate: one row per (point, segment) with
    (frac_idx, proj_lon, proj_lat, proj_dist_m).  Shared so callers that
    fold the argmin into their own aggregate (line_slice's start/stop
    pivot) evaluate the identical expressions."""
    w = Window.partitionBy(key).orderBy("vertex_idx")
    segs = (
        vertices.withColumn("lon2", F.lead("lon").over(w))
        .withColumn("lat2", F.lead("lat").over(w))
        .filter(F.col("lon2").isNotNull())
        .select(key, F.col("vertex_idx").alias("seg_idx"),
                F.col("lon").alias("ax"), F.col("lat").alias("ay"),
                F.col("lon2").alias("bx"), F.col("lat2").alias("by"))
    )
    j = points.alias("pt").join(segs.alias("sg"), key)
    apx = F.col("pt.lon") - F.col("sg.ax")
    apy = F.col("pt.lat") - F.col("sg.ay")
    abx = F.col("sg.bx") - F.col("sg.ax")
    aby = F.col("sg.by") - F.col("sg.ay")
    ab2 = abx * abx + aby * aby
    t = F.when(ab2 > 0, F.least(F.greatest((apx * abx + apy * aby) / ab2, F.lit(0.0)), F.lit(1.0))).otherwise(F.lit(0.0))
    px = lerp(F.col("sg.ax"), F.col("sg.bx"), t)
    py = lerp(F.col("sg.ay"), F.col("sg.by"), t)
    d = haversine_m(F.col("pt.lon"), F.col("pt.lat"), px, py)
    return j.select(
        key,
        F.col(f"pt.{point_id}").alias(point_id),
        (F.col("sg.seg_idx") + t).alias("frac_idx"),
        px.alias("proj_lon"),
        py.alias("proj_lat"),
        d.alias("proj_dist_m"),
    )


def polyline_arrays(vertices: DataFrame, key: str = "relation_id") -> DataFrame:
    """(key, verts: array<struct<lon,lat>>): one row per polyline, vertices
    in vertex_idx order.

    The array form is the r13 extract-chain optimization (r12 verdict #3):
    the row form makes every projection/interpolation a window + explode
    join + argmin shuffle over |points|×|segments| rows, and the drill-down
    profile put ~45% of the 204.8 k compute phase in exactly those
    exchanges.  Aggregating the polyline ONCE lets the same formulas run as
    in-row higher-order-function scans — one 1-row-per-key join each, no
    row explosion, no argmin shuffle — with every arithmetic op still
    evaluated by the JVM (java.lang.Math), so results are bit-identical to
    the row form (the extract race asserts output identity vs the node
    reference).  Polylines are route shapes (≤ a few hundred vertices), so
    one array row is KBs — far under any array/row size limit."""
    return vertices.groupBy(key).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("vertex_idx", "lon", "lat"))),
            lambda s: F.struct(s["lon"].alias("lon"), s["lat"].alias("lat")),
        ).alias("verts")
    )


def interpolate_virtual_stops_along_polyline(
    real_stops: DataFrame,
    polylines: DataFrame,
    key: str = "relation_id",
    order_col: str = "member_order",
    max_gap_km: float = 0.25,
) -> DataFrame:
    """Reference-faithful W10 (update-routes.js:281-333): between each pair
    of CONSECUTIVE real stops (member order), when their straight-line
    distance exceeds max_gap_km, insert ⌊d/max_gap⌋ stops evenly spaced in
    FRACTIONAL-INDEX space and interpolated along the route polyline.

    real_stops must carry (key, order_col, lon, lat, frac_idx); polylines
    is the polyline_arrays form.  The lag-pair and explode(sequence) run
    over the small stops frame; each segment endpoint is an element_at
    lookup into the joined array — no vertex-row shuffle.  Rows whose
    coordIdx falls outside [0, len-2] are dropped (js:302)."""
    w = Window.partitionBy(key).orderBy(order_col)
    paired = (
        real_stops.withColumn("nlon", F.lead("lon").over(w))
        .withColumn("nlat", F.lead("lat").over(w))
        .withColumn("nidx", F.lead("frac_idx").over(w))
        .filter(F.col("nlon").isNotNull())
    )
    # the reference computes meters then divides by 1000 (js:290) — mirror
    # that arithmetic exactly rather than using the km-radius variant
    gap_km = haversine_m(F.col("lon"), F.col("lat"), F.col("nlon"), F.col("nlat")) / 1000.0
    paired = (
        paired.withColumn("__gap", gap_km)
        .filter(F.col("__gap") > max_gap_km)
        .withColumn("__n", F.floor(F.col("__gap") / max_gap_km).cast("int"))
        .withColumn("__step", (F.col("nidx") - F.col("frac_idx")) / (F.col("__n") + 1))
    )
    exploded = paired.select(
        key, "frac_idx", "__step",
        F.explode(F.sequence(F.lit(1), F.col("__n"))).alias("__k"),
    )
    idx = F.col("frac_idx") + F.col("__k") * F.col("__step")
    pts = exploded.select(
        key,
        F.floor(idx).cast("int").alias("__ci"),
        (idx - F.floor(idx)).alias("__t"),
    ).filter(F.col("__ci") >= 0)
    joined = pts.join(polylines, key).filter(
        F.col("__ci") + 2 <= F.size("verts")
    )
    a = F.element_at(F.col("verts"), F.col("__ci") + 1)
    b = F.element_at(F.col("verts"), F.col("__ci") + 2)
    vlon = lerp(a["lon"], b["lon"], F.col("__t"))
    vlat = lerp(a["lat"], b["lat"], F.col("__t"))
    return joined.select(
        key,
        virtual_stop_id(vlon, vlat).alias("stop_id"),
        vlon.alias("lon"),
        vlat.alias("lat"),
        F.lit(False).alias("is_real"),
    )


def drop_near_real_arr(
    virtual: DataFrame,
    real: DataFrame,
    key: str = "relation_id",
    max_dist_m: float = 150.0,
) -> DataFrame:
    """Distance-predicate anti join (J5, update-routes.js:311-313): drop a
    virtual stop if any real stop of the same route lies within
    max_dist_m.  No theta join: the real stops aggregate to one coordinate
    array per key, and each virtual stop filters on F.exists over that
    array — one small groupBy plus a 1-row-per-key join.  The inner join
    keeps every virtual stop that should survive because every virtual
    stop's relation has real stops by construction (virtuals interpolate
    BETWEEN real pairs)."""
    arr = real.groupBy(key).agg(
        F.collect_list(F.struct("lon", "lat")).alias("__real")
    )
    near = lambda p: haversine_m(  # noqa: E731
        F.col("v.lon"), F.col("v.lat"), p["lon"], p["lat"]
    ) < max_dist_m
    return (
        virtual.alias("v")
        .join(arr, key)
        .filter(~F.exists(F.col("__real"), near))
        .drop("__real")
    )


def line_slice(
    slices: DataFrame,
    vertices: DataFrame,
    key: str = "relation_id",
    slice_id: str = "slice_id",
) -> DataFrame:
    """Slice a polyline between two points — `turf.lineSlice` re-expressed
    as a set operation over MANY (start, stop, line) triples at once
    (reference index.html:234-247, Q5 in SURVEY §2.12).

    turf's algorithm: project both points onto the line
    (nearestPointOnLine), order the two hits by segment index, then emit
    [projected_lo] + line.vertices[i_lo+1 .. i_hi] + [projected_hi] — the
    output always follows line direction regardless of argument order.

    slices must carry (slice_id, key, start_lon, start_lat, stop_lon,
    stop_lat); vertices (key, vertex_idx, lon, lat).  Returns
    (slice_id, key, pt_seq, lon, lat) — pt_seq ascending along the line.

    Restructured r14 (the verdict-#5 item): the projection subtree used
    to be repeated across SIX plan branches (start/stop filters of the
    union, each referenced by the head/interior/tail union's three
    branches — 26 plan-time parquet scans / 50 Exchanges at q66).  Now:
    ONE codegen row-form projection pass over the start+stop union
    (_projection_candidates — kept in row form deliberately: the
    interpreted array-fold form measured 2× slower here, the same result
    as the r13 extract J4 attempt), the per-endpoint argmin and the
    start/stop pairing fused into ONE aggregate (role-restricted
    struct-mins — identical semantics to project_onto_segments' argmin
    followed by a pivot) instead of argmin + two filters + a self-join,
    and head + interior + tail assembled as ONE in-row array over the
    per-key vertex array and exploded — no vertices re-join per branch,
    no three-way union.  4 plan-time scans (was 26); q66 isolated
    1.34 s → 0.97 s, the remainder split ~evenly between plan build and
    6 AQE stage jobs.

    The winning segment
    index is recovered from the fractional index as ceil(frac)-1 (floored
    at 0): turf's strict-less first-win scan assigns a point lying exactly
    on shared vertex j to segment j-1, and a point clamped to the line's
    end (t=1 on the last segment) to that last segment — both reproduced,
    including turf's duplicate-vertex emission in the former case.
    """
    pts = slices.select(
        F.col(key),
        F.struct(F.col(slice_id).alias("sid"), F.lit("start").alias("role")).alias("__pid"),
        F.col("start_lon").alias("lon"),
        F.col("start_lat").alias("lat"),
    ).unionByName(
        slices.select(
            F.col(key),
            F.struct(F.col(slice_id).alias("sid"), F.lit("stop").alias("role")).alias("__pid"),
            F.col("stop_lon").alias("lon"),
            F.col("stop_lat").alias("lat"),
        )
    )
    cand = _projection_candidates(pts, vertices, key, "__pid")
    # ONE aggregate fuses the per-endpoint argmin (the identical
    # struct-min project_onto_segments computes — min over
    # (dist, frac, lon, lat) structs restricted to each role's rows) with
    # the start/stop pivot (min skips the other role's NULLs); the old
    # shape ran argmin + filter + filter + self-join, re-evaluating the
    # projection lineage once per branch
    best = F.struct("proj_dist_m", "frac_idx", "proj_lon", "proj_lat")
    wide = cand.groupBy(key, F.col("__pid")["sid"].alias("__sid")).agg(
        F.min(F.when(F.col("__pid")["role"] == "start", best)).alias("__a"),
        F.min(F.when(F.col("__pid")["role"] == "stop", best)).alias("__b"),
    ).filter(F.col("__a").isNotNull() & F.col("__b").isNotNull())
    # winning segment index per end, then order ends by it as turf does
    a_idx = F.greatest(F.ceil(F.col("__a")["frac_idx"]) - 1, F.lit(0)).cast("int")
    b_idx = F.greatest(F.ceil(F.col("__b")["frac_idx"]) - 1, F.lit(0)).cast("int")
    wide = wide.select(
        key, F.col("__sid").alias(slice_id), "__a", "__b",
        a_idx.alias("__ai"), b_idx.alias("__bi"),
    )
    swap = F.col("__ai") > F.col("__bi")
    polys = vertices.groupBy(key).agg(
        F.array_sort(
            F.collect_list(F.struct("vertex_idx", "lon", "lat"))
        ).alias("__vs")
    )
    ends = wide.select(
        key, slice_id,
        F.when(swap, F.col("__bi")).otherwise(F.col("__ai")).alias("lo_idx"),
        F.when(swap, F.col("__ai")).otherwise(F.col("__bi")).alias("hi_idx"),
        F.when(swap, F.col("__b")["proj_lon"]).otherwise(F.col("__a")["proj_lon"]).alias("lo_lon"),
        F.when(swap, F.col("__b")["proj_lat"]).otherwise(F.col("__a")["proj_lat"]).alias("lo_lat"),
        F.when(swap, F.col("__a")["proj_lon"]).otherwise(F.col("__b")["proj_lon"]).alias("hi_lon"),
        F.when(swap, F.col("__a")["proj_lat"]).otherwise(F.col("__b")["proj_lat"]).alias("hi_lat"),
    ).join(polys, key)
    lo, hi = F.col("lo_idx"), F.col("hi_idx")
    interior = F.transform(
        F.filter(
            F.col("__vs"),
            lambda v: (v["vertex_idx"] > lo) & (v["vertex_idx"] <= hi),
        ),
        lambda v: F.struct(
            (v["vertex_idx"] - lo).alias("pt_seq"),
            v["lon"].alias("lon"),
            v["lat"].alias("lat"),
        ),
    )
    out_arr = F.concat(
        F.array(F.struct(
            F.lit(0).alias("pt_seq"),
            F.col("lo_lon").alias("lon"), F.col("lo_lat").alias("lat"),
        )),
        interior,
        F.array(F.struct(
            (hi - lo + 1).alias("pt_seq"),
            F.col("hi_lon").alias("lon"), F.col("hi_lat").alias("lat"),
        )),
    )
    return ends.select(
        key, slice_id, F.explode(out_arr).alias("__p")
    ).select(key, slice_id, "__p.pt_seq", "__p.lon", "__p.lat")


def slice_path_geojson(
    path: list[str],
    routes: list[str],
    vertices: DataFrame,
    stop_coords: DataFrame,
    key: str = "relation_id",
) -> dict:
    """Q5 end-to-end: turn a Dijkstra result (stop path + route labels,
    operators/graph.dijkstra_local) into the FeatureCollection the
    reference renders (index.html:232-252) — one LineString per hop,
    each sliced from its route's polyline between the hop's endpoints.

    stop_coords must carry (stop_id, lon, lat); vertices the per-route
    polylines keyed by `key`.  Presentation-sized output (a handful of
    hops), so the final assembly collects; the slicing itself is the
    distributed line_slice above.
    """
    spark = vertices.sparkSession
    coords = {
        r["stop_id"]: (float(r["lon"]), float(r["lat"]))
        for r in stop_coords.select("stop_id", "lon", "lat").collect()
    }
    rows = []
    for i, route in enumerate(routes):
        (slon, slat), (tlon, tlat) = coords[path[i]], coords[path[i + 1]]
        rows.append((i, route, slon, slat, tlon, tlat))
    slices = spark.createDataFrame(
        rows,
        f"slice_id int, {key} string, start_lon double, start_lat double, "
        "stop_lon double, stop_lat double",
    )
    sliced = line_slice(slices, vertices, key=key).collect()
    by_slice: dict[int, list] = {}
    for r in sliced:
        by_slice.setdefault(r["slice_id"], []).append(
            (r["pt_seq"], [r["lon"], r["lat"]])
        )
    features = []
    for i, route in enumerate(routes):
        pts = [c for _, c in sorted(by_slice.get(i, []))]
        features.append(
            {
                "type": "Feature",
                "properties": {"route": route, "from": path[i], "to": path[i + 1]},
                "geometry": {"type": "LineString", "coordinates": pts},
            }
        )
    return {"type": "FeatureCollection", "features": features}


def interpolate_virtual_stops(
    real_stops: DataFrame,
    key: str = "relation_id",
    order_col: str = "frac_idx",
    max_gap_km: float = 0.25,
) -> DataFrame:
    """Insert ⌊d/max_gap⌋ evenly spaced virtual stops between consecutive
    real stops further than max_gap apart (reference update-routes.js:281-333).

    lag-pair consecutive stops → explode(sequence(1, n)) → linear
    interpolation.  1-row→N-rows generation without a UDTF.
    Returns rows (key, stop_id, lon, lat, frac_idx, is_real=false).
    """
    w = Window.partitionBy(key).orderBy(order_col)
    paired = (
        real_stops.withColumn("nlon", F.lead("lon").over(w))
        .withColumn("nlat", F.lead("lat").over(w))
        .withColumn("nidx", F.lead(order_col).over(w))
        .filter(F.col("nlon").isNotNull())
    )
    gap_km = haversine_km(F.col("lon"), F.col("lat"), F.col("nlon"), F.col("nlat"))
    paired = paired.withColumn("__n", F.floor(gap_km / max_gap_km).cast("int")).filter(F.col("__n") >= 1)
    exploded = paired.select(
        key, "lon", "lat", "nlon", "nlat", F.col(order_col).alias("__i0"), "nidx", "__n",
        F.explode(F.sequence(F.lit(1), F.col("__n"))).alias("__k"),
    )
    t = F.col("__k").cast("double") / (F.col("__n") + 1)
    vlon = lerp(F.col("lon"), F.col("nlon"), t)
    vlat = lerp(F.col("lat"), F.col("nlat"), t)
    return exploded.select(
        key,
        virtual_stop_id(vlon, vlat).alias("stop_id"),
        vlon.alias("lon"),
        vlat.alias("lat"),
        lerp(F.col("__i0"), F.col("nidx"), t).alias(order_col),
        F.lit(False).alias("is_real"),
    )
