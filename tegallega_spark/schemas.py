"""Explicit schemas for the routes.json input and the GTFS output tables.

The reference is stringly-typed CSV/JSON with conventions; these schemas make
the conventions explicit.  Notes carried over from the reference:

- IDs stay strings, never ints — schedule-CSV matching is string equality
  (reference: action-scripts/generate_gtfs.py:245).
- Times of day are integer seconds-since-service-day-start and may exceed
  24:00:00 (reference: generate_gtfs.py:295-306). Never TimestampType.
- GTFS column ORDER is part of the contract (OTP consumes positionally-
  headered CSVs; reference: generate_gtfs.py:465-475).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# routes.json nested document (reference: generate_gtfs.py:42-82)
# categories[] -> routeGroups[] -> routes[]
# ---------------------------------------------------------------------------

ROUTE_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("directionId", LongType()),
        # relationId is a STRING in the document (IDs are never ints —
        # SURVEY §1.2; schedule matching is string equality)
        StructField("relationId", StringType()),
        StructField("first_departure", StringType()),
        StructField("last_departure", StringType()),
        StructField("trips", StringType()),
    ]
)

ROUTE_GROUP_SCHEMA = StructType(
    [
        StructField("groupId", StringType()),
        StructField("name", StringType()),
        StructField("color", StringType()),
        StructField("type", StringType()),
        StructField("loop", StringType()),
        StructField("routes", ArrayType(ROUTE_SCHEMA)),
    ]
)

CATEGORY_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("agencyId", StringType()),
        StructField("mode", StringType()),
        StructField("agencyUrl", StringType()),
        StructField("agencyTimezone", StringType()),
        StructField("agencyLang", StringType()),
        StructField("routeGroups", ArrayType(ROUTE_GROUP_SCHEMA)),
    ]
)

ROUTES_JSON_SCHEMA = StructType(
    [StructField("categories", ArrayType(CATEGORY_SCHEMA))]
)

# ---------------------------------------------------------------------------
# GTFS output tables: exact column names AND order (generate_gtfs.py:489-517)
# ---------------------------------------------------------------------------

GTFS_COLUMNS: dict[str, list[str]] = {
    "agency": [
        "agency_id",
        "agency_name",
        "agency_url",
        "agency_timezone",
        "agency_lang",
    ],
    "routes": [
        "route_id",
        "agency_id",
        "route_short_name",
        "route_long_name",
        "route_type",
        "route_color",
    ],
    "trips": [
        "route_id",
        "trip_id",
        "service_id",
        "trip_headsign",
        "direction_id",
        "shape_id",
        "block_id",
    ],
    "stops": [
        "stop_id",
        "stop_name",
        "stop_lat",
        "stop_lon",
        "location_type",
        "wheelchair_boarding",
    ],
    "stop_times": [
        "trip_id",
        "stop_id",
        "stop_sequence",
        "arrival_time",
        "departure_time",
        "pickup_type",
        "drop_off_type",
    ],
    "shapes": [
        "shape_id",
        "shape_pt_lon",
        "shape_pt_lat",
        "shape_pt_sequence",
        "shape_dist_traveled",
    ],
    "calendar": [
        "service_id",
        "monday",
        "tuesday",
        "wednesday",
        "thursday",
        "friday",
        "saturday",
        "sunday",
        "start_date",
        "end_date",
    ],
}
