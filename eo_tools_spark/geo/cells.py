"""Hierarchical geo-cell index (H3/S2-style, from scratch).

No h3/s2 wheels exist in this container, so the engine defines its own
discrete global grid: at resolution ``r`` the lon axis is split into 2^r
columns and the lat axis into 2^r rows (equirectangular). A cell id packs
``(r, ix, iy)`` into one int64::

    id = (r << 58) | (ix << 29) | iy        0 <= r <= 28, ix/iy < 2^r

Properties the engine relies on (shared with H3/S2):
- strict hierarchy: parent(id) at r-1 is (ix>>1, iy>>1) — used for salting
  on parent cells and adaptive resolution splitting;
- point → cell is pure arithmetic (vectorized, no per-row Python);
- polygon → covering cell set (``cover_polygon``) for coarse join keys;
- k-ring neighborhoods (``cell_ring``) for kNN expansion.

Deliberately SQL-expressible (floor/shift/or) so DuckDB oracles can
recompute the identical ids — see ``cell_id_sql``.

Replaces the reference's per-geometry shapely work (burst quads at
eo_tools/auxils.py:78-120 joined via GeoDataFrame.intersects) with
equi-joinable integer keys.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 28
_RES_SHIFT = 58
_IX_SHIFT = 29


def cell_of_points(lon, lat, res: int) -> np.ndarray:
    """Vectorized point → cell id at resolution ``res``."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0,{MAX_RES}]")
    n = np.int64(1) << res
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ix = np.clip(np.floor((lon + 180.0) * n / 360.0).astype(np.int64), 0, n - 1)
    iy = np.clip(np.floor((lat + 90.0) * n / 180.0).astype(np.int64), 0, n - 1)
    return (np.int64(res) << _RES_SHIFT) | (ix << _IX_SHIFT) | iy


def cell_to_res_ixy(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    res = cell >> _RES_SHIFT
    ix = (cell >> _IX_SHIFT) & ((np.int64(1) << _IX_SHIFT) - 1)
    iy = cell & ((np.int64(1) << _IX_SHIFT) - 1)
    return res, ix, iy


def cell_parent(cell, parent_res: int | None = None) -> np.ndarray:
    """Ancestor cell at ``parent_res`` (default: res-1). Vectorized."""
    res, ix, iy = cell_to_res_ixy(cell)
    pres = res - 1 if parent_res is None else np.int64(parent_res)
    shift = res - pres
    if np.any(shift < 0):
        raise ValueError("parent_res must be <= cell res")
    return (pres << _RES_SHIFT) | ((ix >> shift) << _IX_SHIFT) | (iy >> shift)


def cell_children(cell: int) -> np.ndarray:
    """The 4 direct children of one cell."""
    res, ix, iy = cell_to_res_ixy(np.int64(cell))
    r2 = res + 1
    out = []
    for dx in (0, 1):
        for dy in (0, 1):
            out.append(
                (np.int64(r2) << _RES_SHIFT)
                | (((ix << 1) | dx) << _IX_SHIFT)
                | ((iy << 1) | dy)
            )
    return np.array(out, dtype=np.int64)


def cell_bounds(cell) -> np.ndarray:
    """(minx, miny, maxx, maxy) per cell; vectorized → (n,4)."""
    res, ix, iy = cell_to_res_ixy(cell)
    n = (np.int64(1) << res).astype(np.float64)
    w, h = 360.0 / n, 180.0 / n
    minx = -180.0 + ix * w
    miny = -90.0 + iy * h
    return np.stack([minx, miny, minx + w, miny + h], axis=-1)


def _bbox_index_range(minx, miny, maxx, maxy, res: int):
    """Closed cell-index ranges ``(ix0, ix1, iy0, iy1)`` of bboxes at
    ``res``, elementwise over scalars or arrays."""
    n = np.int64(1) << res

    def index(v, offset, span):
        return np.clip(np.floor((v + offset) * n / span), 0, n - 1).astype(np.int64)

    return (
        index(minx, 180.0, 360.0), index(maxx, 180.0, 360.0),
        index(miny, 90.0, 180.0), index(maxy, 90.0, 180.0),
    )


def cover_bbox(minx: float, miny: float, maxx: float, maxy: float, res: int) -> np.ndarray:
    """All cells at ``res`` whose box intersects the bbox (closed)."""
    ix0, ix1, iy0, iy1 = _bbox_index_range(minx, miny, maxx, maxy, res)
    ix = np.arange(ix0, ix1 + 1, dtype=np.int64)
    iy = np.arange(iy0, iy1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(ix, iy, indexing="ij")
    return (
        (np.int64(res) << _RES_SHIFT) | (gx.ravel() << _IX_SHIFT) | gy.ravel()
    )


def cover_polygon(ring: np.ndarray, res: int, exact: bool = True) -> np.ndarray:
    """Covering cell set of a simple polygon ring ((n,2) lon/lat).

    bbox cover, then (if ``exact``) keep only cells whose box intersects
    the polygon — the coarse-join key set. Mirrors what
    h3.polygon_to_cells provides for the H3 grid.
    """
    from eo_tools_spark.geo.geom import polygon_intersects

    minx, miny = ring[:, 0].min(), ring[:, 1].min()
    maxx, maxy = ring[:, 0].max(), ring[:, 1].max()
    cells = cover_bbox(minx, miny, maxx, maxy, res)
    if not exact or len(cells) <= 4:
        return cells
    keep = []
    for c, b in zip(cells, cell_bounds(cells)):
        box = np.array(
            [[b[0], b[1]], [b[2], b[1]], [b[2], b[3]], [b[0], b[3]]]
        )
        if polygon_intersects(ring, box):
            keep.append(c)
    return np.array(keep, dtype=np.int64)


def cover_rings(rings: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """``cover_polygon`` over a stack of rings ((m, n, 2), one vertex
    count) → ``(ring_index, cell)`` pairs, ordered by ring and, within a
    ring, in ``cover_polygon``'s own cell order.

    The bbox cells use ``cover_bbox``'s index arithmetic, vectorized
    across rings. Rings whose bbox spans more than 4 cells take the exact
    ``cover_polygon`` one by one, the same rule ``cover_polygon`` applies.
    """
    lo, hi = rings.min(axis=1), rings.max(axis=1)
    ix0, ix1, iy0, iy1 = _bbox_index_range(lo[:, 0], lo[:, 1], hi[:, 0], hi[:, 1], res)
    ny = iy1 - iy0 + 1
    count = (ix1 - ix0 + 1) * ny
    # ≤ 4 bbox cells: slot k of cover_bbox's ij-raveled grid is
    # (ix0 + k // ny, iy0 + k % ny)
    k = np.arange(4, dtype=np.int64)
    valid = k[None, :] < count[:, None]
    ix = ix0[:, None] + k[None, :] // ny[:, None]
    iy = iy0[:, None] + k[None, :] % ny[:, None]
    small = count <= 4
    valid &= small[:, None]
    idx = [np.nonzero(valid)[0]]
    cells = [((np.int64(res) << _RES_SHIFT) | (ix << _IX_SHIFT) | iy)[valid]]
    for i in np.flatnonzero(~small):
        c = cover_polygon(rings[i], res)
        idx.append(np.full(len(c), i, dtype=np.int64))
        cells.append(c)
    idx, cells = np.concatenate(idx), np.concatenate(cells)
    order = np.argsort(idx, kind="stable")
    return idx[order], cells[order]


def cover_polygon_classified(ring: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Covering cells + boundary flags.

    Returns ``(cells, is_boundary)``: a cell is *interior* (flag False)
    when its box is fully contained in the polygon — rows landing in
    interior cells are accepted by the coarse join alone and skip the
    exact PIP refine entirely (the dominant row volume for large AOIs).
    Containment test: area(poly ∩ cellbox) == area(cellbox) via convex
    clipping, exact for simple polygons.
    """
    from eo_tools_spark.geo.geom import clip_convex, polygon_area

    cells = cover_polygon(ring, res, exact=True)
    flags = np.ones(len(cells), dtype=bool)
    for i, b in enumerate(cell_bounds(cells)):
        cell_box_area = (b[2] - b[0]) * (b[3] - b[1])
        clipped = clip_convex(
            ring,
            np.array([[b[0], b[1]], [b[2], b[1]], [b[2], b[3]], [b[0], b[3]]]),
        )
        if len(clipped) >= 3 and abs(polygon_area(clipped) - cell_box_area) <= 1e-12 * cell_box_area:
            flags[i] = False
    return cells, flags


def cell_ring(cell: int, k: int = 1) -> np.ndarray:
    """All cells within Chebyshev distance k (incl. center) at same res —
    the kNN expansion neighborhood (like h3.grid_disk)."""
    res, ix, iy = cell_to_res_ixy(np.int64(cell))
    n = np.int64(1) << res
    xs = np.arange(max(0, int(ix) - k), min(int(n) - 1, int(ix) + k) + 1, dtype=np.int64)
    ys = np.arange(max(0, int(iy) - k), min(int(n) - 1, int(iy) + k) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return (res << _RES_SHIFT) | (gx.ravel() << _IX_SHIFT) | gy.ravel()


def cell_id_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """ANSI-SQL expression computing the identical cell id — used both for
    Spark ``F.expr`` (JVM-side, codegen'd, no Python) and for DuckDB
    oracles. floor/clip arithmetic matches ``cell_of_points`` bit-exactly
    for in-range coordinates."""
    n = 1 << res
    return (
        f"(CAST({res} AS BIGINT) * {1 << _RES_SHIFT}) + "
        f"(LEAST(GREATEST(CAST(FLOOR(({lon_expr} + 180.0) * {n} / 360.0) AS BIGINT), 0), {n - 1})"
        f" * {1 << _IX_SHIFT}) + "
        f"LEAST(GREATEST(CAST(FLOOR(({lat_expr} + 90.0) * {n} / 180.0) AS BIGINT), 0), {n - 1})"
    )
