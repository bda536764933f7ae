"""Stateful ordered scans — the two genuine UDF islands (SURVEY.md §2.11).

Both are per-key ordered folds whose step depends on the previous *decision*
(not just the previous row), so no window function expresses them.  They run
as groupBy(key).applyInPandas: state never leaves one key's group, Arrow
ships columnar batches, and parallelism scales linearly with #keys — the
right shape for 100 TB (millions of keys, each group tiny).

1. stitch_ways  — reference update-routes.js:111-141 (tolerance :106-108)
2. thin_stops   — reference update-routes.js:353-373
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame

COORD_TOL = 1e-6          # update-routes.js:106-108
MIN_SPACING_M = 150.0     # update-routes.js:282-283


def _close(a: tuple[float, float], b: tuple[float, float]) -> bool:
    """Tolerance coordinate equality (update-routes.js:106-108)."""
    return abs(a[0] - b[0]) < COORD_TOL and abs(a[1] - b[1]) < COORD_TOL


# ---------------------------------------------------------------------------
# Way stitching
# ---------------------------------------------------------------------------

def _stitch_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Walk ways in member order; reverse a way when its end (not its
    start) touches the previous endpoint; then ALWAYS drop the first
    coordinate of every non-first way — the reference slices the joint
    vertex unconditionally, even across a gap (update-routes.js:132-134),
    and on a gap it warns but still concatenates (:127-129).  Replicated
    exactly, bug included."""
    pdf = pdf.sort_values(["way_order", "vertex_idx"])
    out_lon: list[float] = []
    out_lat: list[float] = []
    key = pdf["relation_id"].iloc[0]
    for _, way in pdf.groupby("way_order", sort=True):
        coords = list(zip(way["lon"].tolist(), way["lat"].tolist()))
        if out_lon:
            prev_end = (out_lon[-1], out_lat[-1])
            if not _close(coords[0], prev_end) and _close(coords[-1], prev_end):
                coords = coords[::-1]
            coords = coords[1:]  # unconditional joint-vertex drop (js:132-134)
        out_lon.extend(c[0] for c in coords)
        out_lat.extend(c[1] for c in coords)
    return pd.DataFrame(
        {
            "relation_id": key,
            "vertex_idx": range(len(out_lon)),
            "lon": out_lon,
            "lat": out_lat,
        }
    )


def apply_sorted_groups(df: DataFrame, key: str, sort_cols: list[str],
                        batch_kernel, schema: str) -> DataFrame:
    """groupBy(key).applyInPandas cost shape, minus the per-group tax.

    applyInPandas invokes Python once per GROUP — one Arrow record batch
    and one pandas DataFrame construction per key.  The extract chain's
    groups are tiny (~17 stops / ~50 vertices), so at 204 800 relations
    that fixed per-group overhead IS the cost (r12 verdict #3).  This
    helper keeps the same key-partitioned execution model — repartition
    on the key, sort within partitions so each group is contiguous —
    but feeds Python whole ARROW BATCHES of complete groups via
    mapInPandas: one pandas frame per ~10 k rows instead of per group,
    with the batch kernel walking group boundaries in numpy.  Rows of
    one group never split across kernel calls: the generator buffers
    the trailing (possibly incomplete) group of each Arrow batch and
    prepends it to the next, so a group larger than a batch just keeps
    accumulating — correctness never depends on Arrow's batch size."""
    # explicit partition COUNT: a bare repartition(key) is
    # AQE-coalescible, and a coalesced-to-1 exchange would serialize the
    # Python stage (the q41 lesson); a numbered user repartition is not
    parted = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, key
    ).sortWithinPartitions(key, *sort_cols)

    def gen(batches):
        buf = None
        for pdf in batches:
            if buf is not None:
                pdf = pd.concat([buf, pdf], ignore_index=True)
                buf = None
            if not len(pdf):
                continue
            import numpy as np

            k = pdf[key].to_numpy()
            neq = np.flatnonzero(k != k[-1])
            cut = (int(neq[-1]) + 1) if len(neq) else 0
            if cut == 0:
                buf = pdf  # the whole batch is one (unfinished) group
                continue
            buf = pdf.iloc[cut:]
            yield batch_kernel(pdf.iloc[:cut])
        if buf is not None and len(buf):
            yield batch_kernel(buf)

    return parted.mapInPandas(gen, schema=schema)


def _stitch_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Multi-relation vectorized form of _stitch_group: input is sorted by
    (relation_id, way_order, vertex_idx) with whole relations contiguous.
    The orientation fold is inherently sequential per WAY, so the Python
    loop runs once per way (not per vertex); vertex emission is numpy
    index gathering.  Semantics identical to _stitch_group, bug included
    (unconditional joint-vertex drop, gap-concat — js:127-134)."""
    import numpy as np

    rel = pdf["relation_id"].to_numpy()
    worder = pdf["way_order"].to_numpy()
    lon = pdf["lon"].to_numpy(dtype=np.float64)
    lat = pdf["lat"].to_numpy(dtype=np.float64)
    n = len(rel)
    neww = np.concatenate(
        ([True], (rel[1:] != rel[:-1]) | (worder[1:] != worder[:-1]))
    )
    wstarts = np.flatnonzero(neww)
    wends = np.concatenate((wstarts[1:], [n]))
    parts: list = []
    prev_rel = None
    le_lon = le_lat = 0.0  # last emitted vertex of the current relation
    have_out = False
    for s, e in zip(wstarts, wends):
        r = rel[s]
        idx = np.arange(s, e)
        if r != prev_rel:
            prev_rel = r
            have_out = False
        if have_out:
            first_close = (abs(lon[s] - le_lon) < COORD_TOL
                           and abs(lat[s] - le_lat) < COORD_TOL)
            last_close = (abs(lon[e - 1] - le_lon) < COORD_TOL
                          and abs(lat[e - 1] - le_lat) < COORD_TOL)
            if not first_close and last_close:
                idx = idx[::-1]
            idx = idx[1:]  # unconditional joint-vertex drop (js:132-134)
        if len(idx):
            parts.append(idx)
            le_lon, le_lat = float(lon[idx[-1]]), float(lat[idx[-1]])
            have_out = True
    if not parts:
        return pd.DataFrame(
            {"relation_id": pd.Series([], dtype="object"),
             "vertex_idx": pd.Series([], dtype="int64"),
             "lon": pd.Series([], dtype="float64"),
             "lat": pd.Series([], dtype="float64")}
        )
    cat = np.concatenate(parts)
    out_rel = rel[cat]
    # vertex_idx restarts at 0 per relation (relations are contiguous)
    starts = np.flatnonzero(
        np.concatenate(([True], out_rel[1:] != out_rel[:-1]))
    )
    vidx = np.arange(len(cat)) - np.repeat(
        starts, np.diff(np.concatenate((starts, [len(cat)])))
    )
    return pd.DataFrame(
        {"relation_id": out_rel, "vertex_idx": vidx.astype("int64"),
         "lon": lon[cat], "lat": lat[cat]}
    )


def stitch_ways(vertices: DataFrame) -> DataFrame:
    """vertices(relation_id, way_order, vertex_idx, lon, lat) →
    one stitched polyline per relation: (relation_id, vertex_idx, lon, lat).

    Batched execution (apply_sorted_groups): one Python call per Arrow
    batch of whole relations; _stitch_group remains the per-group
    reference implementation the property tests pin, and the batch
    kernel is asserted equivalent by the same goldens/races."""
    schema = "relation_id string, vertex_idx long, lon double, lat double"
    return apply_sorted_groups(
        vertices, "relation_id", ["way_order", "vertex_idx"], _stitch_batch, schema
    )


# ---------------------------------------------------------------------------
# Min-spacing thinning
# ---------------------------------------------------------------------------

def _thin_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Walk stops in order; keep a stop iff it is real OR ≥ MIN_SPACING_M
    from the last *kept* stop (reference update-routes.js:353-373).  A true
    running-state fold: the distance is against the last kept, not the last
    seen.

    Vectorized chunk-and-rescan (r12 verdict #4): from each kept stop the
    NEXT kept stop is the first subsequent row that is real or ≥ the
    spacing from it — found by one vectorized haversine over the tail plus
    an argmax, so the Python loop runs once per KEPT stop, not per row.
    Same float arithmetic (math.* and np.* both IEEE double), identical
    keep set to the per-row walk (pinned by the extract goldens and the
    property tests)."""
    import numpy as np

    pdf = pdf.sort_values("frac_idx")
    n = len(pdf)
    lon = pdf["lon"].to_numpy(dtype=np.float64)
    lat = pdf["lat"].to_numpy(dtype=np.float64)
    is_real = pdf["is_real"].to_numpy().astype(bool)
    keep = np.zeros(n, dtype=bool)
    i = 0
    while i < n:
        keep[i] = True
        j = i + 1
        if j >= n:
            break
        p1 = math.radians(lat[i])
        dp = np.radians(lat[j:]) - p1
        dl = np.radians(lon[j:] - lon[i])
        a = (np.sin(dp / 2) ** 2
             + math.cos(p1) * np.cos(np.radians(lat[j:])) * np.sin(dl / 2) ** 2)
        d = 2 * 6371000.0 * np.arcsin(np.sqrt(a))
        ok = is_real[j:] | (d >= MIN_SPACING_M)
        nxt = np.flatnonzero(ok)
        if len(nxt) == 0:
            break
        i = j + int(nxt[0])
    return pdf[keep]


def _thin_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Multi-relation form of _thin_group: input sorted by
    (relation_id, frac_idx), relations contiguous; the chunk-and-rescan fold
    runs per group over numpy slices — no per-group pandas frame."""
    import numpy as np

    k = pdf["relation_id"].to_numpy()
    gstarts = np.flatnonzero(np.concatenate(([True], k[1:] != k[:-1])))
    gends = np.concatenate((gstarts[1:], [len(k)]))
    lon = pdf["lon"].to_numpy(dtype=np.float64)
    lat = pdf["lat"].to_numpy(dtype=np.float64)
    is_real = pdf["is_real"].to_numpy().astype(bool)
    keep = np.zeros(len(k), dtype=bool)
    for gs, ge in zip(gstarts, gends):
        i = gs
        while i < ge:
            keep[i] = True
            j = i + 1
            if j >= ge:
                break
            p1 = math.radians(lat[i])
            dp = np.radians(lat[j:ge]) - p1
            dl = np.radians(lon[j:ge] - lon[i])
            a = (np.sin(dp / 2) ** 2
                 + math.cos(p1) * np.cos(np.radians(lat[j:ge]))
                 * np.sin(dl / 2) ** 2)
            d = 2 * 6371000.0 * np.arcsin(np.sqrt(a))
            ok = is_real[j:ge] | (d >= MIN_SPACING_M)
            nxt = np.flatnonzero(ok)
            if len(nxt) == 0:
                break
            i = j + int(nxt[0])
    return pdf[keep]


def thin_stops(stops: DataFrame) -> DataFrame:
    """stops(relation_id, stop_id, lon, lat, frac_idx, is_real) → subset
    satisfying the min-spacing invariant.

    Batched execution (apply_sorted_groups): one Python call per Arrow
    batch of whole relations; _thin_group remains the per-group
    reference the property tests pin."""
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in stops.schema.fields
    )
    return apply_sorted_groups(
        stops, "relation_id", ["frac_idx"], _thin_batch, schema
    )
