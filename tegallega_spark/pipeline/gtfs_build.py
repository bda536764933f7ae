"""GTFS build: the reference's generate_gtfs.py re-expressed as one lazy
DataFrame DAG (SURVEY §3.2 — the core 'query').

Every step cites the reference line it replicates.  Reference *bugs* are
preserved deliberately for hash parity (SURVEY §7 hard part 2):
- first-wins stop dedup keeps the first route's metadata (:115),
- bus arrival adds seq*10 dwell cumulatively (:432),
- train stop_seq counts only non-empty column pairs (:268-324),
- agency rows are not deduplicated (:54-60).

The shape, travel-time, headway and dwell rules are module functions that
pipeline/pbf_extract.gtfs_from_pbf calls too, with its own orderings; the
id grammar is functions/ids.py.

Scale notes: all windows partition by route/trip keys (never global, except
the documented stop_counter edge path); the stop×shape argmin join is an
equi-join on relation_id followed by min_by — candidates bounded per route,
map-side combinable, no window sort (§4.2).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from tegallega_spark.functions.geo import haversine_km
from tegallega_spark.functions.ids import (
    block_id_for,
    shape_id_for,
    trip_id_bus,
    trip_id_train,
)
from tegallega_spark.functions.timecodec import (
    gtfs_time_to_seconds,
    hhmm_to_seconds,
    seconds_to_hhmmss,
)
from tegallega_spark.sources.geojson import read_stops, read_way_vertices
from tegallega_spark.sources.routes_json import (
    agencies_table,
    categories,
    fixed_groups,
    read_routes_json,
    route_catalog,
    route_groups_table,
)
from tegallega_spark.sources.schedule_csv import read_schedule_long


def build_stops_table(catalog: DataFrame, stops_raw: DataFrame) -> DataFrame:
    """stops.txt: first-wins dedup by stop_id over (route document order,
    feature order) — generate_gtfs.py:86-125.

    stop_id falls back to 'stop_{n}' where n is the 1-based global feature
    counter (:112-113 — the counter increments even for id-bearing stops;
    replicated exactly).

    The counter is global-sequential in the reference, but a global
    row_number window would single-partition-sort EVERY stop row — a
    scale-killer at 100×.  Instead, standard two-phase numbering: count
    stops per route (tiny aggregate, one row per route), prefix-sum the
    counts with a window over that METADATA-SIZED aggregate (the only
    single-partition step ever sorts #routes rows, never stop rows), then
    counter = route offset + row_number within the route partition.
    Identical numbering, fully lazy, and the stops table itself never
    passes through a SinglePartition exchange.
    """
    per_route = catalog.select("relation_id", "route_order").join(
        stops_raw, "relation_id"
    )
    w_routes = Window.orderBy("route_order").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off_df = (
        per_route.groupBy("route_order")
        .agg(F.count("*").alias("__cnt"))
        .select(
            "route_order",
            F.coalesce(F.sum("__cnt").over(w_routes), F.lit(0)).alias("__off"),
        )
    )
    w_in_route = Window.partitionBy("route_order").orderBy("feature_idx")
    numbered = per_route.join(F.broadcast(off_df), "route_order").withColumn(
        "__counter", F.col("__off") + F.row_number().over(w_in_route)
    )
    with_id = numbered.withColumn(
        "stop_id",
        F.coalesce(F.col("stop_id"), F.concat(F.lit("stop_"), F.col("__counter"))),
    )
    w_first = Window.partitionBy("stop_id").orderBy("route_order", "feature_idx")
    first = (
        with_id.withColumn("__rn", F.row_number().over(w_first))
        .filter(F.col("__rn") == 1)
    )
    return first.select(
        "stop_id",
        F.coalesce(F.col("name"), F.concat(F.lit("Stop "), F.col("stop_id"))).alias(
            "stop_name"
        ),
        F.col("lat").alias("stop_lat"),
        F.col("lon").alias("stop_lon"),
        F.lit(0).alias("location_type"),
        F.when(F.col("wheelchair") == "yes", 1).otherwise(0).alias(
            "wheelchair_boarding"
        ),
    )


def shape_points(vertices: DataFrame, order: tuple[str, ...]) -> DataFrame:
    """shapes.txt rows from each relation's polyline vertices in `order`:
    lag distance (W1) + cumulative sum (W2) + sequence numbers (W3) —
    generate_gtfs.py:163-178.

    Window partitioned per relation; addition order matches the reference's
    sequential accumulation so the IEEE result is bit-identical, and bround
    is Python round()'s banker's rounding (:178).
    """
    w = Window.partitionBy("relation_id").orderBy(*order)
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_prev = vertices.withColumn("__plon", F.lag("lon").over(w)).withColumn(
        "__plat", F.lag("lat").over(w)
    )
    seg = F.when(F.col("__plon").isNull(), F.lit(0.0)).otherwise(
        haversine_km(F.col("__plon"), F.col("__plat"), F.col("lon"), F.col("lat"))
    )
    return (
        with_prev.withColumn("__seg", seg)
        .select(
            shape_id_for(F.col("relation_id")).alias("shape_id"),
            F.col("lon").alias("shape_pt_lon"),
            F.col("lat").alias("shape_pt_lat"),
            F.row_number().over(w).alias("shape_pt_sequence"),
            F.bround(F.sum("__seg").over(frame), 6).alias("shape_dist_traveled"),
            F.col("relation_id"),
        )
    )


def stop_travel_times(stops: DataFrame, order: tuple) -> DataFrame:
    """Adds seq0 (0-based stop position in `order` within its relation)
    and cum_travel, seconds from the first stop: each gap is
    max(haversine, 0.01 km) driven at 30 km/h up to 5 km, else 55 km/h
    (W4 + W5, generate_gtfs.py:373-387)."""
    w = Window.partitionBy("relation_id").orderBy(*order)
    prev_lon = F.lag("lon").over(w)
    gap = haversine_km(prev_lon, F.lag("lat").over(w), F.col("lon"), F.col("lat"))
    dist = F.greatest(gap, F.lit(0.01))
    speed = F.when(dist <= 5.0, F.lit(30.0)).otherwise(F.lit(55.0))
    seg_time = F.when(prev_lon.isNull(), F.lit(0.0)).otherwise(dist / speed * 3600.0)
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        stops.withColumn("seq0", F.row_number().over(w) - 1)
        .withColumn("__seg_t", seg_time)
        .withColumn("cum_travel", F.sum("__seg_t").over(frame))
    )


def headway_trips(params: DataFrame) -> DataFrame:
    """One row per synthesized trip of every route with num_trips ≥ 1
    (W11, generate_gtfs.py:398-410): idx 0..n-1 and
    trip_start = start_sec + idx·headway, headway = (end_sec − start_sec)
    / (n − 1), 0 for a single trip.  trip_start stays unrounded: the
    reference rounds once, at the stop time (dwell_stop_times)."""
    n = F.col("num_trips")
    headway = F.when(
        n > 1, (F.col("end_sec") - F.col("start_sec")) / (n - 1).cast("double")
    ).otherwise(F.lit(0.0))
    return (
        params.filter(n >= 1)
        .withColumn("headway", headway)
        .withColumn("idx", F.explode(F.sequence(F.lit(0), n - 1)))
        .withColumn("trip_start", F.col("start_sec") + F.col("idx") * F.col("headway"))
    )


def dwell_stop_times(trips: DataFrame, timed: DataFrame) -> DataFrame:
    """stop_times for every trip (relation_id, trip_id, trip_start) × every
    stop of its relation in stop_travel_times order (W12,
    generate_gtfs.py:430-443): arrival = trip_start + cum_travel + seq0·10
    — the dwell accumulates per stop, kept as the reference has it — and
    departure = arrival + 10, each rounded once to H:MM:SS."""
    st = trips.join(
        timed.select("relation_id", "stop_id", "seq0", "cum_travel"), "relation_id"
    )
    arrival = F.col("trip_start") + F.col("cum_travel") + F.col("seq0") * 10
    return st.select(
        "trip_id",
        "stop_id",
        (F.col("seq0") + 1).alias("stop_sequence"),
        seconds_to_hhmmss(arrival).alias("arrival_time"),
        seconds_to_hhmmss(arrival + 10).alias("departure_time"),
    )


def _train_trips_and_times(
    catalog: DataFrame, schedule_long: DataFrame, shaped_rels: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Train branch: schedule melt → trips + stop_times
    (generate_gtfs.py:218-324)."""
    train = catalog.filter(F.col("mode") == "train").select(
        "agency_id", "group_id", "direction_id", "relation_id", "route_name", "loop"
    )
    rows = train.join(
        schedule_long.withColumnRenamed("direction", "direction_id"),
        ["agency_id", "direction_id", "relation_id"],
    )
    trip_id = trip_id_train(F.col("agency_id"), F.col("group_id"), F.col("trip_num"))
    block_id = block_id_for(
        F.col("agency_id"), F.col("group_id"), F.col("trip_num"), F.col("loop") == "yes"
    )

    trips = (
        rows.groupBy(
            "agency_id", "group_id", "direction_id", "relation_id", "route_name",
            "loop", "trip_num",
        )
        .agg(F.count("*").alias("__n"))
        .join(shaped_rels, "relation_id", "left")
        .select(
            F.col("group_id").alias("route_id"),
            trip_id.alias("trip_id"),
            F.lit("everyday").alias("service_id"),
            F.col("route_name").alias("trip_headsign"),
            F.col("direction_id").alias("direction_id"),
            F.coalesce(F.col("shape_id"), F.lit("")).alias("shape_id"),
            block_id.alias("block_id"),
        )
    )

    # skip both-empty pairs (:285-286); one-sided fill (:288-292)
    nonempty = rows.filter((F.col("arrival") != "") | (F.col("departure") != ""))
    arr = F.when(F.col("arrival") == "", F.col("departure")).otherwise(F.col("arrival"))
    dep = F.when(F.col("departure") == "", F.col("arrival")).otherwise(F.col("departure"))
    w_seq = Window.partitionBy(
        "agency_id", "group_id", "direction_id", "relation_id", "trip_num"
    ).orderBy("col_pair_idx")
    stop_times = nonempty.select(
        trip_id.alias("trip_id"),
        F.col("stop_id"),
        F.row_number().over(w_seq).alias("stop_sequence"),
        seconds_to_hhmmss(gtfs_time_to_seconds(arr)).alias("arrival_time"),
        seconds_to_hhmmss(gtfs_time_to_seconds(dep)).alias("departure_time"),
        F.lit(0).alias("pickup_type"),
        F.lit(0).alias("drop_off_type"),
    )
    return trips, stop_times


def _bus_trips_and_times(
    catalog: DataFrame, stops_raw: DataFrame, shapes: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Bus branch: project stops onto shape, synthesize headway trips and
    dwell-time stop_times (generate_gtfs.py:326-446)."""
    # null-safe: the reference's route.get('mode') == 'train' treats a
    # MISSING mode as bus; a plain != would drop NULL-mode routes entirely
    bus = catalog.filter(~F.col("mode").eqNullSafe("train"))

    # stops in feature order with real/virtual flag (:337-347)
    route_stops = bus.select(
        "relation_id", "agency_id", "group_id", "direction_id", "route_order"
    ).join(
        stops_raw.select(
            "relation_id", "feature_idx", "stop_id", "lon", "lat",
            F.coalesce(F.col("is_real"), F.lit(False)).alias("is_real"),
        ),
        "relation_id",
    )

    # argmin projection onto the shape (:354-365): equi-join on relation_id
    # then min(struct(d, dist)) — first strict minimum ≡ smallest (d, dist)
    shape_pts = shapes.select(
        "relation_id",
        F.col("shape_pt_lon").alias("plon"),
        F.col("shape_pt_lat").alias("plat"),
        F.col("shape_dist_traveled").alias("pdist"),
    )
    # argmin on the NARROW key (relation_id, feature_idx) then join the
    # small result back — shuffling 8 carried columns through the argmin
    # aggregation doubles the exchange payload for nothing
    slim = route_stops.select("relation_id", "feature_idx", "lon", "lat")
    joined = slim.join(shape_pts, "relation_id", "left")
    d = haversine_km(F.col("lon"), F.col("lat"), F.col("plon"), F.col("plat"))
    argmin = (
        joined.groupBy("relation_id", "feature_idx")
        .agg(F.min(F.struct(d.alias("d"), F.col("pdist").alias("dist"))).alias("__m"))
        .select("relation_id", "feature_idx", F.col("__m.dist").alias("shape_dist"))
    )
    projected = route_stops.join(argmin, ["relation_id", "feature_idx"], "left")

    # ordering (:367-371): by (shape_dist, real-first), stable on feature
    # order; routes with no shape keep pure feature order (sort not applied);
    # segment + cumulative travel times in that order (:373-387)
    has_shape = F.col("shape_dist").isNotNull()
    sort1 = F.when(has_shape, F.col("shape_dist")).otherwise(F.lit(0.0))
    sort2 = F.when(has_shape & ~F.col("is_real"), 1).otherwise(0)
    timed = stop_travel_times(projected, (sort1, sort2, "feature_idx"))

    # per-route trip generation parameters (:389-401)
    routes_with_stops = bus.join(
        stops_raw.select("relation_id").distinct(), "relation_id"
    )
    params = routes_with_stops.select(
        "relation_id", "agency_id", "group_id", "direction_id", "route_name",
        "loop", "route_order",
        F.coalesce(F.col("trips").try_cast("int"), F.lit(0)).alias("num_trips"),
        hhmm_to_seconds(F.col("first_departure")).alias("start_sec"),
        hhmm_to_seconds(F.col("last_departure")).alias("end_sec"),
    )
    # running trip-number offset per (group, direction) across document
    # order (:404,446) — the reference's mutable counter as a window sum
    w_count = (
        Window.partitionBy("group_id", "direction_id")
        .orderBy("route_order")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    params = params.withColumn(
        "trip_offset", F.coalesce(F.sum("num_trips").over(w_count), F.lit(0))
    )
    exploded = headway_trips(params).withColumn(
        "trip_num", F.col("trip_offset") + F.col("idx") + 1
    )

    trip_id = trip_id_bus(
        F.col("agency_id"), F.col("group_id"), F.col("direction_id"), F.col("trip_num")
    )
    block_id = block_id_for(
        F.col("agency_id"), F.col("group_id"), F.col("trip_num"), F.col("loop") == "yes"
    )

    shaped_rels = shapes.select("relation_id", "shape_id").distinct()
    trips = (
        exploded.join(shaped_rels, "relation_id", "left")
        .select(
            F.col("group_id").alias("route_id"),
            trip_id.alias("trip_id"),
            F.lit("everyday").alias("service_id"),
            F.col("route_name").alias("trip_headsign"),
            F.col("direction_id").alias("direction_id"),
            F.coalesce(F.col("shape_id"), F.lit("")).alias("shape_id"),
            block_id.alias("block_id"),
        )
    )

    # stop_times (:430-443): every trip × every ordered stop of its route
    stop_times = dwell_stop_times(
        exploded.select("relation_id", trip_id.alias("trip_id"), "trip_start"), timed
    ).withColumns({"pickup_type": F.lit(0), "drop_off_type": F.lit(0)})
    return trips, stop_times


def calendar_table(spark: SparkSession) -> DataFrame:
    """calendar.txt literal (generate_gtfs.py:450-463)."""
    row = [("everyday", 1, 1, 1, 1, 1, 1, 1, "20250101", "20991231")]
    return spark.createDataFrame(
        row,
        "service_id string, monday int, tuesday int, wednesday int, thursday int, "
        "friday int, saturday int, sunday int, start_date string, end_date string",
    )


def build_gtfs(
    spark: SparkSession, ref_root: str, on_cached=None
) -> dict[str, DataFrame]:
    """The full DAG: routes.json + geojson + schedule CSVs → seven GTFS
    tables (generate_gtfs.py:477-521).

    `on_cached` (optional callback) receives (name, frame) for each
    persisted upstream — "catalog", "stops_raw" and "shapes" — as soon as
    its plan exists.  A driver can submit each materialization job there,
    so the three shared caches warm concurrently with the (driver-side,
    py4j-bound) construction of the remaining table plans instead of
    inside whichever output job touches them first.  Plan construction and
    cluster execution are independent resources; overlapping them is free
    latency.
    """
    # construct each unnest level ONCE and thread it through — rebuilding
    # categories/fixed_groups per consumer triples the driver-side plan
    # construction (measured ~2 s of py4j/analysis at 1×)
    cats = categories(read_routes_json(spark, f"{ref_root}/routes.json"))
    grps = fixed_groups(cats)
    # the catalog, stop features, and shapes feed 3-5 output tables each;
    # persist them so the 7 table materializations share one computation of
    # the common upstream (at scale these are exactly the datasets worth
    # caching: small dims + the reused shape fact)
    catalog = route_catalog(grps).persist()
    if on_cached is not None:
        on_cached("catalog", catalog)
    stops_raw = read_stops(spark, f"{ref_root}/route-data/geojson").persist()
    if on_cached is not None:
        on_cached("stops_raw", stops_raw)
    vertices = read_way_vertices(spark, f"{ref_root}/route-data/geojson")
    schedule = read_schedule_long(spark, f"{ref_root}/route-data/schedule")

    # shapes.txt over the order-preserving flatten (W7) of the catalog's
    # relations (generate_gtfs.py:127-186)
    rels = catalog.select("relation_id").distinct()
    shapes = shape_points(
        vertices.join(rels, "relation_id"), ("feature_idx", "line_idx", "vertex_idx")
    ).persist()
    if on_cached is not None:
        on_cached("shapes", shapes)
    shaped_rels = shapes.select("relation_id", "shape_id").distinct()

    # The remaining table plans are independent of one another — construct
    # them in threads.  Plan construction is driver-side py4j round-trips
    # (each expression is a gateway call); py4j gives every thread its own
    # gateway connection, so four independent builders overlap their
    # socket latency (~0.5 s of the ~1.8 s single-threaded construction at
    # 1×).  The resulting plans are identical — only the order in which
    # the driver assembles them changes.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as ex:
        f_train = ex.submit(_train_trips_and_times, catalog, schedule, shaped_rels)
        f_bus = ex.submit(_bus_trips_and_times, catalog, stops_raw, shapes)
        f_stops = ex.submit(build_stops_table, catalog, stops_raw)
        f_agency = ex.submit(agencies_table, cats)
        routes = route_groups_table(grps)
        train_trips, train_times = f_train.result()
        bus_trips, bus_times = f_bus.result()

    return {
        "agency": f_agency.result(),
        "routes": routes,
        "trips": train_trips.unionByName(bus_trips),
        "stops": f_stops.result(),
        "stop_times": train_times.unionByName(bus_times),
        "shapes": shapes.drop("relation_id"),
        "calendar": calendar_table(spark),
    }
