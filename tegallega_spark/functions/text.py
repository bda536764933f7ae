"""Route-name string functions (reference convert-routes-json/convert.py:75-105)
as regexp/substring column expressions — no UDFs — plus the driver-side
sink file-name rule (convert-geojson-shp.py:6-7).
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F


def simplify_name(col: Column) -> Column:
    """Strip '^(Commuter Line|Koridor \\d+:?)\\s*' prefix, then strip — the
    reference strips the whole name after prefix removal (convert.py:75-77).
    Python str.strip() removes ALL whitespace (tabs/newlines/CR), while
    F.trim removes only 0x20 — use a regex strip for byte parity."""
    return F.regexp_replace(
        F.regexp_replace(col, r"^(Commuter Line|Koridor \d+:?)\s*", ""),
        r"^\s+|\s+$",
        "",
    )


def detect_direction(col: Column) -> Column:
    """0 if '→' present at a non-zero index, else 1 (convert.py:79-82 —
    a name STARTING with the arrow is direction 1, as is no arrow)."""
    return F.when(F.instr(col, "→") > 1, F.lit(0)).otherwise(F.lit(1))


def extract_code(col: Column) -> Column:
    """Prefix before ':' → its last word (convert.py:84-89)."""
    prefix = F.split(col, ":").getItem(0)
    return F.element_at(F.split(F.trim(prefix), r"\s+"), -1)


def origin_dest_via(col: Column) -> tuple[Column, Column, Column]:
    """(origin, dest, via) per convert.py:91-105: via extracted from the
    full name with '\\s+via\\s+' (whitespace-delimited, so 'Silvia' never
    matches); origin/dest only when the via-stripped name splits into
    EXACTLY two arrow parts, else NULL."""
    stripped = F.regexp_replace(col, r"\s+via\s+.*", "")
    parts = F.split(stripped, "→")
    two = F.size(parts) == 2
    origin = F.when(two, F.trim(F.get(parts, 0)))
    dest = F.when(two, F.trim(F.get(parts, 1)))
    via = F.nullif(F.trim(F.regexp_extract(col, r"\s+via\s+(.*)", 1)), F.lit(""))
    return origin, dest, via


def sanitize_filename_py(name: str) -> str:
    """Per-route sink file name: keep alnum/space/dash/underscore, exactly
    the reference's expression (convert-geojson-shp.py:6-7), including the
    trailing .strip()."""
    return "".join(
        c if c.isalnum() or c in (" ", "-", "_") else "_" for c in name
    ).strip()
