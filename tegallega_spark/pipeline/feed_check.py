"""GTFS feed referential-integrity validation — the offline stand-in for
the OTP graph-build smoke (SURVEY §5.2; reference
.github/workflows/build-graph.yml:25-27 feeds the generated gtfs.zip to
OpenTripPlanner's `--build --save`).

OTP cannot run here: the container has no network and no vendored OTP
jar (the reference's otp-deploy/graph.obj is a 134-byte LFS pointer, not
a jar or a graph).  What OTP's GTFS loader would do first, though, is
public knowledge — the GTFS static spec's referential rules, which OTP
enforces at graph-build time (unknown stop/trip/route/service references
are load errors; see also the FIXTURES.md attempt log).  This module
checks those rules with Spark over the WRITTEN feed files, so the
gtfs.zip we hand an external OTP is known-loadable before it leaves the
pipeline.

Scale design: one single-row aggregate per fact table, so each file is
parsed once per rule family instead of once per rule.  A reference check
left-joins the distinct keys of its dimension (trip, stop, route,
service, shape and agency ids — small, so broadcast) as a match flag and
counts the unmatched non-empty keys.  stop_times carries both of its
reference flags and its field checks into one (trip_id, stop_sequence)
grouping, which also yields the duplicate-sequence count; trips carries
its four reference flags into one aggregate.  The table reads and the
aggregates run as concurrent jobs; no rows are collected but the counts.
On a 100 TB feed lake the same plans validate each feed partition
independently.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tegallega_spark.sources.gtfs import read_gtfs_table

# HH:MM:SS with hours allowed past 24 (GTFS times are service-day
# offsets; the reference emits up to 28:xx:xx — functions/timecodec.py)
_TIME_RE = r"^\d{1,3}:[0-5]\d:[0-5]\d$"

_TABLES = ("agency", "routes", "trips", "stops", "stop_times", "shapes",
           "calendar", "calendar_dates")

# GTFS-required tables; calendar is special-cased (calendar.txt OR
# calendar_dates.txt satisfies the service-definition requirement), and
# shapes.txt is optional (trips.shape_id may legitimately be empty).
_REQUIRED = ("agency", "stops", "routes", "trips", "stop_times")

# report keys after the missing_table_* ones, in report order; a rule
# whose input tables are absent is left out of the report
_RULES = (
    "stop_times_unknown_trip",
    "trips_without_stop_times",
    "stop_times_unknown_stop",
    "trips_unknown_route",
    "trips_unknown_service",
    "trips_unknown_shape",
    "routes_unknown_agency",
    "stop_times_duplicate_sequence",
    "stop_times_bad_time",
    "stop_times_departure_before_arrival",
    "shapes_duplicate_sequence",
    "stops_bad_coordinates",
)


def _filled(col: str) -> Column:
    # nulls/empties are not dangling references (optional fields)
    return F.col(col).isNotNull() & (F.col(col) != "")


def _refs(fact: DataFrame, dim: DataFrame, col: str) -> tuple[DataFrame, Column]:
    """`fact` left-joined with the distinct `dim.col` values (broadcast) as
    a match flag — distinct, so no fact row is duplicated — and the
    boolean Column that is true on fact rows whose `col` is a dangling
    reference."""
    flag = f"_known_{col}"
    keys = dim.select(col).distinct().withColumn(flag, F.lit(True))
    return (fact.join(F.broadcast(keys), col, "left"),
            _filled(col) & F.col(flag).isNull())


def _seconds(col: str) -> Column:
    # try_cast, not cast: a malformed time (already counted by
    # stop_times_bad_time) must NULL out of the comparison, not
    # ANSI-throw the whole validation
    hms = F.split(col, ":")
    return (hms[0].try_cast("int") * 3600 + hms[1].try_cast("int") * 60
            + hms[2].try_cast("int"))


def _duplicate_sequences(df: DataFrame, key: str, seq: str,
                         **sums: Column) -> DataFrame:
    """One row: the count of (key, seq) groups holding more than one row,
    as `duplicate_sequence`, and for each of `sums` the number of rows
    where that boolean column is true."""
    groups = df.groupBy(key, seq).agg(
        F.count(F.lit(1)).alias("n"),
        *(F.count_if(c).alias(name) for name, c in sums.items()),
    )
    return groups.agg(
        F.count_if(F.col("n") > 1).alias("duplicate_sequence"),
        *(F.coalesce(F.sum(name), F.lit(0)).alias(name) for name in sums),
    )


def _stop_times_check(t: dict[str, DataFrame]) -> DataFrame:
    st = t["stop_times"]
    flags = {
        "bad_time": ~F.col("arrival_time").rlike(_TIME_RE)
        | ~F.col("departure_time").rlike(_TIME_RE),
        "departure_before_arrival":
            _seconds("departure_time") < _seconds("arrival_time"),
    }
    if "trips" in t:
        st, flags["unknown_trip"] = _refs(st, t["trips"], "trip_id")
    if "stops" in t:
        st, flags["unknown_stop"] = _refs(st, t["stops"], "stop_id")
    row = _duplicate_sequences(st, "trip_id", "stop_sequence", **flags)
    return row.toDF(*(f"stop_times_{c}" for c in row.columns))


def _trips_check(t: dict[str, DataFrame]) -> DataFrame | None:
    trips = t["trips"]
    counts = {}
    if "stop_times" in t:
        trips, counts["trips_without_stop_times"] = _refs(
            trips, t["stop_times"], "trip_id")
    if "routes" in t:
        trips, counts["trips_unknown_route"] = _refs(trips, t["routes"], "route_id")
    services = [t[n].select("service_id")
                for n in ("calendar", "calendar_dates") if n in t]
    if services:
        svc = services[0] if len(services) == 1 else services[0].unionByName(services[1])
        trips, counts["trips_unknown_service"] = _refs(trips, svc, "service_id")
    if "shape_id" in t["trips"].columns:
        if "shapes" in t:
            trips, counts["trips_unknown_shape"] = _refs(trips, t["shapes"], "shape_id")
        else:
            # shapes.txt absent is legal ONLY while no trip references a
            # shape: every non-empty shape_id is then a dangling ref
            counts["trips_unknown_shape"] = _filled("shape_id")
    if not counts:
        return None
    return trips.agg(*(F.count_if(c).alias(k) for k, c in counts.items()))


def validate_gtfs_feed(spark: SparkSession, feed_dir: str) -> dict[str, int]:
    """Counts of load-blocking defects per referential rule; an
    all-zeros dict means an OTP-style consumer can resolve every
    reference in the feed.  Keys are stable for test pinning.

    A structurally broken feed (required table missing) is itself a
    defect REPORT, not a crash: each absent required table yields a
    `missing_table_<name>` = 1 counter, and checks whose inputs are
    absent are skipped (their keys omitted) rather than KeyError-ing.
    Valid feeds that omit OPTIONAL files — shapes.txt, or calendar.txt
    replaced by calendar_dates.txt — still validate: shape references
    are checked against an empty dimension only when trips actually
    carry non-empty shape_ids, and service references resolve against
    the union of calendar and calendar_dates."""
    names = [n for n in _TABLES
             if os.path.exists(os.path.join(feed_dir, f"{n}.txt"))]
    with ThreadPoolExecutor(max_workers=len(_TABLES)) as ex:
        # each header read is a job of its own: run them side by side
        t = dict(zip(names, ex.map(
            lambda n: read_gtfs_table(spark, feed_dir, n), names)))

        checks = []
        if "stop_times" in t:
            checks.append(_stop_times_check(t))
        if "trips" in t:
            checks.append(_trips_check(t))
        if "routes" in t and "agency" in t:
            routes, dangling = _refs(t["routes"], t["agency"], "agency_id")
            checks.append(routes.agg(
                F.count_if(dangling).alias("routes_unknown_agency")))
        if "shapes" in t:
            row = _duplicate_sequences(t["shapes"], "shape_id", "shape_pt_sequence")
            checks.append(row.toDF("shapes_duplicate_sequence"))
        if "stops" in t:
            lat = F.col("stop_lat").try_cast("double")
            lon = F.col("stop_lon").try_cast("double")
            checks.append(t["stops"].agg(F.count_if(
                lat.isNull() | lon.isNull()
                | (F.abs(lat) > 90.0) | (F.abs(lon) > 180.0)
            ).alias("stops_bad_coordinates")))
        rows = list(ex.map(lambda df: df.collect()[0].asDict(),
                           [c for c in checks if c is not None]))

    found = {k: v for row in rows for k, v in row.items()}
    out: dict[str, int] = {
        f"missing_table_{name}": int(name not in t) for name in _REQUIRED
    }
    out["missing_table_calendar"] = int(
        "calendar" not in t and "calendar_dates" not in t
    )
    out.update((k, int(found[k])) for k in _RULES if k in found)
    return out
