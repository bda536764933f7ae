"""Presentation sinks: KML (K4) and Shapefile (K5).

Reference: convert-geojson-kml.py:54-88 (styled KML per route, color
converted from '#rrggbb' to KML 'aabbggrr') and convert-geojson-shp.py:63-73
(GeoPandas, EPSG:4326).

KML is emitted as plain XML on the driver over collected per-route rows —
presentation sinks are inherently small (one doc per route).  The Shapefile
sink writes the ESRI binary format directly (sources/shapefile.py) — no
geopandas dependency.
"""

from __future__ import annotations

import html
import os

from pyspark.sql import DataFrame


def _kml_color(hex_color: str) -> str:
    """'#rgb'/'#rrggbb' → opaque 'ffbbggrr' (convert-geojson-kml.py:8-15)."""
    c = hex_color.lstrip("#")
    if len(c) == 3:
        c = "".join(ch * 2 for ch in c)
    r, g, b = c[0:2], c[2:4], c[4:6]
    return ("ff" + b + g + r).lower()


def write_route_kml(
    stitched: DataFrame,
    stops: DataFrame,
    route_colors: dict[str, str],
    out_dir: str,
) -> list[str]:
    """One styled KML per relation: the route LineString + stop Placemarks
    (convert-geojson-kml.py:54-88)."""
    os.makedirs(out_dir, exist_ok=True)
    lines: dict[str, list] = {}
    for r in stitched.orderBy("relation_id", "vertex_idx").collect():
        lines.setdefault(r.relation_id, []).append((r.lon, r.lat))
    stop_rows: dict[str, list] = {}
    for r in stops.collect():
        stop_rows.setdefault(r.relation_id, []).append(r)

    written = []
    for rel, coords in lines.items():
        color = _kml_color(route_colors.get(rel, "#3388ff"))
        coord_str = " ".join(f"{lon},{lat},0" for lon, lat in coords)
        placemarks = "".join(
            f"<Placemark><name>{html.escape(s.name or s.stop_id)}</name>"
            f"<Point><coordinates>{s.lon},{s.lat},0</coordinates></Point></Placemark>"
            for s in stop_rows.get(rel, [])
        )
        doc = (
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>'
            f"<name>{html.escape(rel)}</name>"
            f'<Style id="routeStyle"><LineStyle><color>{color}</color>'
            "<width>4</width></LineStyle></Style>"
            f"<Placemark><name>Route {html.escape(rel)}</name>"
            '<styleUrl>#routeStyle</styleUrl>'
            f"<LineString><coordinates>{coord_str}</coordinates></LineString>"
            "</Placemark>"
            f"{placemarks}"
            "</Document></kml>"
        )
        path = os.path.join(out_dir, f"{rel}.kml")
        with open(path, "w") as f:
            f.write(doc)
        written.append(path)
    return written


def write_route_shapefile(stitched: DataFrame, out_path: str) -> str:
    """K5: one PolyLine per relation_id, EPSG:4326 — pure-stdlib ESRI
    writer, no geopandas needed (convert-geojson-shp.py:63-73; per-route
    layout lives in sources.shapefile.write_route_shapefiles)."""
    from tegallega_spark.sources.shapefile import (
        SHAPE_POLYLINE,
        write_shapefile,
    )

    rows = stitched.orderBy("relation_id", "vertex_idx").collect()
    lines: dict[str, list] = {}
    for r in rows:
        lines.setdefault(r.relation_id, []).append((r.lon, r.lat))
    base = out_path[:-4] if out_path.endswith(".shp") else out_path
    return write_shapefile(
        base,
        SHAPE_POLYLINE,
        list(lines.values()),
        [("relation_id", 32)],
        [(rel,) for rel in lines],
    )
