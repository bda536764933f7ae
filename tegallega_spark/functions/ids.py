"""Identifier-formatting expressions (reference generate_gtfs.py:112,162,249,
252-254,413,416-418; update-routes.js:323).

ID grammar is part of the GTFS contract — goldens hash-match only if these
are byte-identical.
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F


def shape_id_for(relation_id: Column) -> Column:
    """'shape_{relationId}' (generate_gtfs.py:162)."""
    return F.concat(F.lit("shape_"), relation_id.cast("string"))


def trip_id_train(agency_id: Column, group_id: Column, trip_num: Column) -> Column:
    """'t-{agency}{group}{trip_num}' (generate_gtfs.py:249)."""
    return F.concat(F.lit("t-"), agency_id, group_id, trip_num.cast("string"))


def trip_id_bus(agency_id: Column, group_id: Column, direction_id: Column, n: Column) -> Column:
    """'t-{agency}{group}{dir}{n}' (generate_gtfs.py:413)."""
    return F.concat(
        F.lit("t-"), agency_id, group_id, direction_id.cast("string"), n.cast("string")
    )


def trip_id_pbf(relation_id: Column, n: Column) -> Column:
    """'t-{relationId}-{n}' — the PBF path's trips (pipeline/pbf_extract.py),
    which have no agency or group to name them by."""
    return F.concat(F.lit("t-"), relation_id, F.lit("-"), n.cast("string"))


def block_id_for(agency_id: Column, group_id: Column, n: Column, is_loop: Column) -> Column:
    """'{agency}{group}{n}' iff loop route else empty (generate_gtfs.py:252-254,416-418)."""
    return F.when(is_loop, F.concat(agency_id, group_id, n.cast("string"))).otherwise(F.lit(""))


def to_fixed(x: Column, digits: int = 4) -> Column:
    """ECMAScript Number.prototype.toFixed(digits) — NOT Java's %.Nf.

    The two disagree on real data: toFixed rounds half-away-from-zero on
    the EXACT binary value of the double, while Java's Formatter %f first
    takes the shortest decimal representation (Double.toString) and
    rounds THAT half-up.  For lon = 107.05904999999999916 (exact), the
    shortest repr is "107.05905", so %.4f says "107.0591" where toFixed
    says "107.0590" — found by the 3 200-relation extract race, where an
    interpolated virtual stop landed on the boundary and the id diverged
    from the reference executable's.

    The divergence value sits SUB-ULP below the decimal boundary
    (107.05905 − x = 8.4·10⁻¹⁶ < ulp(x) = 1.4·10⁻¹⁴), so no rounded
    double product can decide the direction — |x|·10^d itself snaps ONTO
    the boundary.  The decision needs the EXACT product, which Dekker's
    two-product supplies in plain column arithmetic (no FMA needed):
    split |x| into 26-bit halves with the 2²⁷+1 trick; 10^d (d ≤ 6) has
    ≤ 20 significand bits, so hi·10^d and lo·10^d are both exact and
    err = (hi·10^d − y) + lo·10^d is the exact multiply residual —
    exact_product = y + err.  Then with f = y − floor(y) (an exact
    subtraction): round up iff f > 0.5, or f == 0.5 and err ≥ 0 (the
    err = 0 tie rounds away from zero, like toFixed).  Safe because
    consecutive representable f differ by ulp(y) while |err| ≤ ulp(y)/2,
    so err can never bridge a non-tied f across the boundary.
    Expectations pinned against node's toFixed, including the
    extract-race value and sign edges ((-0.00001).toFixed(4) ==
    "-0.0000").

    Validity bound (ADVICE r9): exact only for |x|·10^digits < 2^53 —
    beyond that the scaled value y can't represent the integer grid and
    the Dekker split itself overflows near DBL_MAX.  Inside the bound the
    integer part is extracted EXACTLY: (n − n % p) is an exact multiple
    i·p ≤ 2^53, so its correctly-rounded double quotient is exactly i
    (the naive n/p double division the r9 advisor flagged could land one
    off when n/p sits within an ulp of an integer boundary).  The bound
    covers the operator's whole domain (lon/lat ≤ 180, digits ≤ 6 →
    1.8·10⁸ ≪ 2^53 ≈ 9·10¹⁵)."""
    assert digits <= 6, "10^digits must fit 20 significand bits"
    p = 10 ** digits
    pl = F.lit(float(p))
    ax = F.abs(x)
    split = ax * F.lit(134217729.0)  # 2^27 + 1
    hx = split - (split - ax)
    lx = ax - hx
    y = ax * pl
    err = (hx * pl - y) + lx * pl
    n0 = F.floor(y).cast("long")
    f = y - F.floor(y)
    round_up = (f > 0.5) | ((f == 0.5) & (err >= 0.0))
    n = n0 + F.when(round_up, F.lit(1)).otherwise(F.lit(0))
    sign = F.when(x < 0, F.lit("-")).otherwise(F.lit(""))
    frac = n % F.lit(p)
    int_part = ((n - frac) / pl).cast("long")  # exact: (i·p)/p with i·p ≤ 2^53
    return F.format_string(f"%s%d.%0{digits}d", sign, int_part, frac)


def virtual_stop_id(lon: Column, lat: Column) -> Column:
    """'virtual_{lon.toFixed(4)}_{lat.toFixed(4)}' (update-routes.js:323).
    toFixed semantics, not %.4f — see to_fixed."""
    return F.concat(
        F.lit("virtual_"), to_fixed(lon, 4), F.lit("_"), to_fixed(lat, 4)
    )
