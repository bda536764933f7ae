"""routes.json source: nested document → flat route catalog (SURVEY S1, P1).

Reference: generate_gtfs.py:40-84 — two-level unnest propagating parent
attributes, keeping only type=='fixed' groups, with document order preserved
(order drives trip numbering and stop dedup downstream).

posexplode everywhere: category/group/route indices become explicit sort
keys, which is how implicit Python-list order survives a parallel engine
(SURVEY §7 hard part 3).  Each nesting level gets its own accessor because
the reference emits agency rows per category and group rows per fixed group
even when the level below is empty.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from tegallega_spark.schemas import ROUTES_JSON_SCHEMA


def read_routes_json(spark: SparkSession, path: str) -> DataFrame:
    """Raw nested read with explicit schema (no inference pass)."""
    return spark.read.option("multiLine", True).schema(ROUTES_JSON_SCHEMA).json(path)


def categories(raw: DataFrame) -> DataFrame:
    """One row per category, document order as cat_idx."""
    return raw.select(F.posexplode("categories").alias("cat_idx", "cat")).select(
        "cat_idx",
        F.col("cat.agencyId").alias("agency_id"),
        F.col("cat.name").alias("agency_name"),
        F.col("cat.agencyUrl").alias("agency_url"),
        F.col("cat.agencyTimezone").alias("agency_timezone"),
        F.col("cat.agencyLang").alias("agency_lang"),
        F.col("cat.mode").alias("mode"),
        F.col("cat.routeGroups").alias("route_groups"),
    )


def fixed_groups(cats: DataFrame) -> DataFrame:
    """One row per type=='fixed' group of `categories(raw)`
    (generate_gtfs.py:62-73), parent category attrs carried down; loop
    defaults 'no' (:72)."""
    return (
        cats.select(
            "cat_idx",
            "agency_id",
            "agency_name",
            "agency_url",
            "agency_timezone",
            "agency_lang",
            "mode",
            F.posexplode("route_groups").alias("grp_idx", "grp"),
        )
        .filter(F.col("grp.type") == "fixed")
        .select(
            "cat_idx",
            "grp_idx",
            "agency_id",
            "agency_name",
            "agency_url",
            "agency_timezone",
            "agency_lang",
            "mode",
            F.col("grp.groupId").alias("group_id"),
            F.col("grp.name").alias("group_name"),
            F.col("grp.color").alias("color"),
            F.coalesce(F.col("grp.loop"), F.lit("no")).alias("loop"),
            F.col("grp.routes").alias("routes"),
        )
    )


def route_catalog(groups: DataFrame) -> DataFrame:
    """Fully-flattened catalog of `fixed_groups(cats)`: one row per
    route-direction, ordered by route_order = document order (drives A4
    trip numbering + A1 dedup)."""
    routes = groups.select(
        "cat_idx",
        "grp_idx",
        "agency_id",
        "agency_name",
        "agency_url",
        "agency_timezone",
        "agency_lang",
        "mode",
        "group_id",
        "group_name",
        "color",
        "loop",
        F.posexplode("routes").alias("rt_idx", "rt"),
    )
    return routes.select(
        "agency_id",
        "agency_name",
        "agency_url",
        "agency_timezone",
        "agency_lang",
        "mode",
        "group_id",
        "group_name",
        "color",
        "loop",
        F.col("rt.name").alias("route_name"),
        F.col("rt.directionId").cast("int").alias("direction_id"),
        F.col("rt.relationId").cast("string").alias("relation_id"),
        F.col("rt.first_departure").alias("first_departure"),
        F.col("rt.last_departure").alias("last_departure"),
        F.col("rt.trips").alias("trips"),
        (
            F.col("cat_idx").cast("long") * 1000000
            + F.col("grp_idx") * 1000
            + F.col("rt_idx")
        ).alias("route_order"),
    )


def agencies_table(cats: DataFrame) -> DataFrame:
    """agency.txt rows: one per category of `categories(raw)` in document
    order (generate_gtfs.py:54-60 — the reference does NOT dedup repeated
    ids; neither do we)."""
    return cats.select(
        "agency_id", "agency_name", "agency_url", "agency_timezone", "agency_lang"
    )


def route_groups_table(groups: DataFrame) -> DataFrame:
    """routes.txt rows: one per fixed group of `fixed_groups(cats)` in
    document order (generate_gtfs.py:492-502).  route_type 2 for train
    else 3 (:52); leading '#' stripped from color (:499)."""
    return groups.select(
        F.col("group_id").alias("route_id"),
        "agency_id",
        F.col("group_id").alias("route_short_name"),
        F.col("group_name").alias("route_long_name"),
        F.when(F.col("mode") == "train", 2).otherwise(3).alias("route_type"),
        F.regexp_replace("color", "^#", "").alias("route_color"),
    )
