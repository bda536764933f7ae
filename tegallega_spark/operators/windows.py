"""Window / ordered-sequence helpers (SURVEY.md §2.5).

Every helper partitions by a key — never a global unpartitioned window, so
each scales linearly in #keys at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

from tegallega_spark.functions.geo import haversine_km


def cumulative_shape_distance(
    vertices: DataFrame,
    key: str = "shape_id",
    order_col: str = "vertex_idx",
    round_dp: int = 6,
) -> DataFrame:
    """lag → pairwise haversine → running sum (reference
    generate_gtfs.py:163-178: W1+W2+W3).  Adds seg_dist, cum_dist, seq.

    bround matches Python round()'s banker's rounding (generate_gtfs.py:178).
    """
    w = Window.partitionBy(key).orderBy(order_col)
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_prev = vertices.withColumn("__plon", F.lag("lon").over(w)).withColumn(
        "__plat", F.lag("lat").over(w)
    )
    seg = F.when(
        F.col("__plon").isNull(), F.lit(0.0)
    ).otherwise(haversine_km(F.col("__plon"), F.col("__plat"), F.col("lon"), F.col("lat")))
    return (
        with_prev.withColumn("seg_dist", seg)
        .withColumn("cum_dist", F.bround(F.sum("seg_dist").over(frame), round_dp))
        .withColumn("seq", F.row_number().over(w))
        .drop("__plon", "__plat")
    )


def headway_trip_starts(
    routes: DataFrame,
    first_col: str = "first_sec",
    last_col: str = "last_sec",
    trips_col: str = "num_trips",
) -> DataFrame:
    """Trip start times start + idx*headway, headway=(last-first)/(n-1)
    (reference generate_gtfs.py:398-410: W11).  explode(sequence) — the
    UDTF-shaped generator as a built-in."""
    n = F.col(trips_col)
    headway = F.when(n > 1, (F.col(last_col) - F.col(first_col)) / (n - 1)).otherwise(F.lit(0.0))
    out = routes.filter(n >= 1).withColumn(
        "trip_idx", F.explode(F.sequence(F.lit(0), n - 1))
    )
    return out.withColumn(
        "trip_start_sec",
        F.bround(F.col(first_col) + F.col("trip_idx") * headway).cast("long"),
    )

