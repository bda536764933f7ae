"""Geodesic column expressions (reference: generate_gtfs.py:18-24 [km, R=6371],
update-routes.js:188-203 [m, R=6371e3], :229-232/:304-307 [linear
interpolation]).

All pure Column math — no UDFs, fully codegen'd, vectorized by Tungsten.
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F

EARTH_RADIUS_KM = 6371.0
EARTH_RADIUS_M = 6371000.0


def _haversine(lon1: Column, lat1: Column, lon2: Column, lat2: Column, radius: float) -> Column:
    # radians() each coordinate BEFORE subtracting — the reference converts
    # per-coordinate (generate_gtfs.py:19-20); algebraically equal to
    # radians(lat2-lat1) but not IEEE-bit-identical, and byte parity of
    # shape_dist_traveled (bround 6 dp) rides on matching the exact op order
    dlat = F.radians(lat2) - F.radians(lat1)
    dlon = F.radians(lon2) - F.radians(lon1)
    a = (
        F.sin(dlat / 2) ** 2
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) ** 2
    )
    return F.lit(2.0 * radius) * F.asin(F.sqrt(a))


def haversine_km(lon1, lat1, lon2, lat2) -> Column:
    """Great-circle distance in km (reference R=6371, generate_gtfs.py:18-24)."""
    return _haversine(lon1, lat1, lon2, lat2, EARTH_RADIUS_KM)


def haversine_m(lon1, lat1, lon2, lat2) -> Column:
    """Great-circle distance in meters (reference update-routes.js:188-203)."""
    return _haversine(lon1, lat1, lon2, lat2, EARTH_RADIUS_M)


def lerp(a: Column, b: Column, t: Column) -> Column:
    """Linear interpolation a + (b-a)*t (reference update-routes.js:304-307)."""
    return a + (b - a) * t
