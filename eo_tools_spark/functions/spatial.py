"""Spatial column functions.

Design rule: anything expressible as Catalyst expressions stays JVM-side
(whole-stage codegen, no Python) — point→cell id, bbox predicates, tile
naming. Only geometry-shape work (polygon covers, exact PIP/intersects on
WKB) crosses into Arrow-batched pandas UDFs. Never per-row Python.

Reference semantics carried over:
- ``intersects`` predicate of the AOI×burst join
  (/root/reference/eo_tools/S1/process.py:321-323, download.py:390).
- buffer-by-arc-seconds bbox expansion for DEM selection
  (/root/reference/eo_tools/S1/core.py:302-317).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.types import ArrayType, BooleanType, DoubleType, LongType, StringType

from eo_tools_spark.geo import cells as C
from eo_tools_spark.geo import geom as G
from eo_tools_spark.geo import wkb as W


def cell_col(lon: str, lat: str, res: int) -> Column:
    """Point → cell id as a pure Catalyst expression (codegen'd JVM-side).

    Bit-identical to geo.cells.cell_of_points and to the DuckDB oracle
    expression (geo.cells.cell_id_sql). Takes column NAMES (or SQL
    expressions) — Column objects cannot be spliced into the SQL text.
    """
    if not isinstance(lon, str) or not isinstance(lat, str):
        raise TypeError("cell_col takes column NAMES/SQL strings, not Column objects")
    return F.expr(C.cell_id_sql(lon, lat, res)).cast("long")


def cell_parent_col(cell: str | Column, parent_res: int) -> Column:
    """Parent cell id as Catalyst arithmetic (for salting/rollup keys).

    Pure integer bit ops — float division of 60-bit ids loses low bits
    (double mantissa is 53 bits) and can flip ix/iy near their maxima."""
    c = F.col(cell) if isinstance(cell, str) else cell
    res = F.shiftright(c, 58)
    ix = F.shiftright(c, 29) % (1 << 29)  # exact: constant shifts
    iy = c % (1 << 29)
    # variable shift: ix,iy < 2^29 are exact doubles and division by a
    # power of two is exact, so floor(x / 2^s) == x >> s here
    denom = F.pow(F.lit(2.0), (res - F.lit(parent_res)).cast("double"))
    return (
        F.lit(parent_res).cast("long") * F.lit(1 << 58).cast("long")
        + F.floor(ix / denom).cast("long") * F.lit(1 << 29).cast("long")
        + F.floor(iy / denom).cast("long")
    )


def tile_id_col(lon: str | Column, lat: str | Column) -> Column:
    """1°×1° DEM-style tile name, e.g. 'N31W009' — mirrors the Copernicus
    DEM tile naming the reference's DEM catalog uses
    (/root/reference/eo_tools/dem.py:39-47 fetches such tiles)."""
    lon_c = F.col(lon) if isinstance(lon, str) else lon
    lat_c = F.col(lat) if isinstance(lat, str) else lat
    lat_i = F.floor(lat_c).cast("int")
    lon_i = F.floor(lon_c).cast("int")
    return F.concat(
        F.when(lat_i >= 0, F.lit("N")).otherwise(F.lit("S")),
        F.lpad(F.abs(lat_i).cast("string"), 2, "0"),
        F.when(lon_i >= 0, F.lit("E")).otherwise(F.lit("W")),
        F.lpad(F.abs(lon_i).cast("string"), 3, "0"),
    )


def tile_id_sql(lon_expr: str, lat_expr: str) -> str:
    """DuckDB-compatible SQL mirroring tile_id_col."""
    return (
        f"concat(CASE WHEN FLOOR({lat_expr}) >= 0 THEN 'N' ELSE 'S' END, "
        f"lpad(CAST(CAST(ABS(FLOOR({lat_expr})) AS BIGINT) AS VARCHAR), 2, '0'), "
        f"CASE WHEN FLOOR({lon_expr}) >= 0 THEN 'E' ELSE 'W' END, "
        f"lpad(CAST(CAST(ABS(FLOOR({lon_expr})) AS BIGINT) AS VARCHAR), 3, '0'))"
    )


def _split_rows(rows: np.ndarray, values: np.ndarray, m: int) -> pd.Series:
    """(row, value) pairs sorted by row → one array per row 0..m-1."""
    if m == 0:
        return pd.Series([], dtype=object)
    return pd.Series(np.split(values, np.searchsorted(rows, np.arange(1, m))))


@F.pandas_udf(ArrayType(LongType()))
def cover_cells_udf(wkb_s: pd.Series, res_s: pd.Series) -> pd.Series:
    """Polygon WKB → covering cell ids (Arrow-batched).

    Used when footprints live in a *large* table (burst quads per image);
    for small AOI tables the cover is computed driver-side instead. Per
    row: ``cover_polygon`` of the first member ring, in its cell order —
    computed for the whole batch by the batch decode and the vectorized
    bbox cover, grouped by resolution and vertex count.
    """
    res_v = res_s.to_numpy(dtype=np.int64)
    rows, cells = [], []
    for g in W.wkb_rings_batch(wkb_s.to_numpy()):
        first = g.parts == 0
        g_rows, g_rings = g.rows[first], g.rings[first]
        g_res = res_v[g_rows]
        for r in np.unique(g_res):
            sel = np.flatnonzero(g_res == r)
            ix, c = C.cover_rings(g_rings[sel], int(r))
            rows.append(g_rows[sel][ix])
            cells.append(c)
    rows = np.concatenate(rows + [np.empty(0, np.int64)])
    cells = np.concatenate(cells + [np.empty(0, np.int64)])
    order = np.argsort(rows, kind="stable")
    return _split_rows(rows[order], cells[order], len(wkb_s))


def aoi_cover_index(rings: list[np.ndarray], res: int) -> tuple[np.ndarray, np.ndarray]:
    """Driver-side AOI cover packed for probing: every ring's
    ``cover_polygon`` cells at ``res`` as one sorted int64 array plus the
    parallel array of AOI indices (positions in ``rings``)."""
    covers = [C.cover_polygon(r, res) for r in rings]
    cells = np.concatenate(covers + [np.empty(0, np.int64)]).astype(np.int64)
    owner = np.repeat(np.arange(len(covers), dtype=np.int64), [len(c) for c in covers])
    order = np.argsort(cells, kind="stable")
    return cells[order], owner[order]


def footprint_aoi_matches(
    wkbs,
    cover_cells: np.ndarray,
    cover_owner: np.ndarray,
    rings: list[np.ndarray],
    res: int,
) -> tuple[np.ndarray, np.ndarray]:
    """One batch of footprint WKB × the packed AOI cover → the unique
    ``(row, aoi_index)`` pairs, sorted, whose geometries intersect.

    Every member polygon of a row is covered at ``res`` (``cover_rings``),
    probed against the sorted cover with ``searchsorted``, and each unique
    (member, AOI) candidate refined by the exact ``polygons_intersect``
    kernel, one call per AOI and vertex count. A row matches an AOI when
    any of its members does.
    """
    naoi = max(len(rings), 1)
    hit_keys = []
    for g in W.wkb_rings_batch(wkbs):
        ring_ix, cells = C.cover_rings(g.rings, res)
        lo = np.searchsorted(cover_cells, cells, side="left")
        cnt = np.searchsorted(cover_cells, cells, side="right") - lo
        # expand each probe's [lo, lo+cnt) range of cover entries
        start = np.cumsum(cnt) - cnt
        pos = np.repeat(lo - start, cnt) + np.arange(cnt.sum())
        key = np.unique(np.repeat(ring_ix, cnt) * naoi + cover_owner[pos])
        cand_ring, cand_aoi = key // naoi, key % naoi
        for a in np.unique(cand_aoi):
            sel = cand_ring[cand_aoi == a]
            ok = G.polygons_intersect(g.rings[sel], rings[a])
            hit_keys.append(g.rows[sel[ok]] * naoi + a)
    key = np.unique(np.concatenate(hit_keys + [np.empty(0, np.int64)]))
    return key // naoi, key % naoi


def make_aoi_match_udf(aois: dict[str, np.ndarray], res: int):
    """Footprint WKB → ``array<string>`` of the AOI ids it intersects, in
    one Arrow-batched pass (``footprint_aoi_matches`` per batch).

    The packed AOI cover and the rings ride in the UDF closure: no cover
    DataFrame, no broadcast job, no join."""
    ids = np.array(list(aois), dtype=object)
    rings = [np.asarray(r, dtype=np.float64) for r in aois.values()]
    cover_cells, cover_owner = aoi_cover_index(rings, res)

    @F.pandas_udf(ArrayType(StringType()))
    def aoi_match(wkb_s: pd.Series) -> pd.Series:
        rows, aoi = footprint_aoi_matches(
            wkb_s.to_numpy(), cover_cells, cover_owner, rings, res
        )
        return _split_rows(rows, ids[aoi], len(wkb_s))

    return aoi_match


@F.pandas_udf(ArrayType(DoubleType()))
def wkb_bounds_udf(wkb_s: pd.Series) -> pd.Series:
    out = []
    for wkb in wkb_s:
        out.append(list(W.wkb_bounds(bytes(wkb))))
    return pd.Series(out)


def is_convex(ring: np.ndarray) -> bool:
    """True iff the simple ring is convex (cross-product signs agree)."""
    r = ring[:-1] if np.array_equal(ring[0], ring[-1]) else ring
    n = len(r)
    sign = 0
    for i in range(n):
        a, b, c = r[i], r[(i + 1) % n], r[(i + 2) % n]
        cr = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
        if cr != 0:
            s = 1 if cr > 0 else -1
            if sign == 0:
                sign = s
            elif s != sign:
                return False
    return True


def convex_pip_expr(rings_by_id: dict, lon: str, lat: str) -> Column | None:
    """Exact PIP for CONVEX AOIs as a pure Catalyst expression — the
    refine becomes whole-stage-codegen JVM arithmetic, removing Python
    from the flagship entirely. Returns None if any AOI is non-convex
    (caller falls back to the Arrow kernel).

    Closed-boundary semantics (points exactly on an edge are inside) —
    consistent with closed-interval SQL oracles; the ray-casting kernel
    is half-open, so inputs are expected off the boundary (as the
    reference's shapely fixtures are)."""
    cases = []
    for aid, ring in rings_by_id.items():
        r = ring[:-1] if np.array_equal(ring[0], ring[-1]) else ring
        if not is_convex(r):
            return None
        # normalize CCW so all half-planes use >= 0
        x, y = r[:, 0], r[:, 1]
        if float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) < 0:
            r = r[::-1]
        conds = []
        n = len(r)
        for i in range(n):
            x1, y1 = r[i]
            x2, y2 = r[(i + 1) % n]
            conds.append(
                f"(({x2!r} - {x1!r}) * ({lat} - {y1!r}) - "
                f"({y2!r} - {y1!r}) * ({lon} - {x1!r})) >= 0"
            )
        cases.append(f"WHEN aoi_id = '{aid}' THEN ({' AND '.join(conds)})")
    return F.expr(f"CASE {' '.join(cases)} ELSE false END")


def make_pip_refine_udf(rings_by_id: dict):
    """Exact PIP refine against a driver-broadcast {aoi_id: ring} dict.

    Vectorized per (batch × aoi): rows are grouped by aoi_id inside each
    Arrow batch and tested with the numpy ray-casting kernel — replaces
    shapely STRtree refine (reference gdf.intersects at process.py:321).

    Takes the cover's ``boundary`` flag: Spark evaluates Python UDFs
    eagerly (no OR short-circuit around ArrowEvalPython), so interior-
    cell rows would otherwise pay the geometry math — here they are
    accepted inside the kernel with a vectorized mask instead.
    """

    @F.pandas_udf(BooleanType())
    def pip_refine(
        aoi_id: pd.Series, lon: pd.Series, lat: pd.Series, boundary: pd.Series
    ) -> pd.Series:
        res = np.ones(len(aoi_id), dtype=bool)  # interior rows auto-accept
        b = boundary.to_numpy(dtype=bool)
        if not b.any():
            return pd.Series(res)
        lon_v = lon.to_numpy(dtype=np.float64)
        lat_v = lat.to_numpy(dtype=np.float64)
        ids = aoi_id.to_numpy()
        for aid in pd.unique(aoi_id[b]):
            mask = b & (ids == aid)
            res[mask] = G.points_in_polygon(lon_v[mask], lat_v[mask], rings_by_id[aid])
        return pd.Series(res)

    return pip_refine
