"""Engine-free oracles: numpy brute force over the fixture sidecars.

None of these call into ``eo_tools_spark``; each recomputes a workload's
answer from the raw coordinates so that a wrong engine result shows up as
a failed operation.
"""

from __future__ import annotations

import numpy as np

from fixtures import tile_name


def points_in_ring(x: np.ndarray, y: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd crossing test of points against an open (n,2) ring. AOI
    vertices are drawn off the fixture's coordinate grid, so no point sits
    on an edge and open/closed boundary rules agree."""
    inside = np.zeros(len(x), dtype=bool)
    xj, yj = ring[-1]
    for xi, yi in ring:
        crosses = (yi > y) != (yj > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at = xi + (y - yi) * (xj - xi) / (yj - yi)
        inside ^= crosses & (x < x_at)
        xj, yj = xi, yi
    return inside


def tile_names(lon: np.ndarray, lat: np.ndarray) -> list[str]:
    return [tile_name(a, b) for a, b in zip(np.floor(lon).astype(int), np.floor(lat).astype(int))]


def convex_overlaps(quads: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Separating-axis test of many convex quads (m,4,2) against one
    convex ring (k,2): True where they intersect."""

    def normals(poly):  # (..., n, 2) -> edge normals (..., n, 2)
        e = np.roll(poly, -1, axis=-2) - poly
        return np.stack([-e[..., 1], e[..., 0]], axis=-1)

    def overlap(axes, a, b):  # axes (..., n, 2); a/b vertex sets (..., v, 2)
        pa = np.einsum("...nd,...vd->...nv", axes, a)
        pb = np.einsum("...nd,...vd->...nv", axes, b)
        return (pa.min(-1) <= pb.max(-1)) & (pb.min(-1) <= pa.max(-1))

    m = len(quads)
    ring_b = np.broadcast_to(ring, (m,) + ring.shape)
    on_ring_axes = overlap(np.broadcast_to(normals(ring), (m,) + ring.shape), ring_b, quads)
    on_quad_axes = overlap(normals(quads), quads, ring_b)
    return on_ring_axes.all(-1) & on_quad_axes.all(-1)


def is_convex(ring: np.ndarray) -> bool:
    e = np.roll(ring, -1, axis=0) - ring
    cross = e[:, 0] * np.roll(e[:, 1], -1) - e[:, 1] * np.roll(e[:, 0], -1)
    return bool((cross > 0).all() or (cross < 0).all())


def knn_brute(qx, qy, cx, cy, ids_sorted_idx, k: int):
    """Exact k nearest tile centers per query point; ties by tile id
    (``ids_sorted_idx`` orders the catalog by id)."""
    cxs, cys = cx[ids_sorted_idx], cy[ids_sorted_idx]
    dx = cxs[None, :] - qx[:, None]
    dy = cys[None, :] - qy[:, None]
    d2 = dx * dx + dy * dy
    top = np.argsort(d2, axis=1, kind="stable")[:, :k]
    return ids_sorted_idx[top], np.take_along_axis(d2, top, axis=1)


def bbox_pair_count(minx, miny, maxx, maxy) -> int:
    """Closed-interval overlaps of scene bboxes with the global 1-degree
    tile grid: a tile [k, k+1] overlaps [lo, hi] iff ceil(lo)-1 <= k <= floor(hi)."""

    def span(lo, hi, first, last):
        a = np.maximum(np.ceil(lo) - 1, first)
        b = np.minimum(np.floor(hi), last)
        return np.maximum(b - a + 1, 0)

    return int((span(minx, maxx, -180, 179) * span(miny, maxy, -90, 89)).sum())


def cell_counts(lon, lat, res: int) -> dict[tuple[int, int], tuple[int, float, float]]:
    """(ix, iy) grid cell at ``res`` -> (count, max lat, min lon)."""
    n = 1 << res
    ix = np.clip(np.floor((lon + 180.0) * n / 360.0), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) * n / 180.0), 0, n - 1).astype(np.int64)
    key = ix * n + iy
    order = np.argsort(key, kind="stable")
    k, lat_s, lon_s = key[order], lat[order], lon[order]
    starts = np.flatnonzero(np.r_[True, k[1:] != k[:-1]])
    counts = np.diff(np.r_[starts, len(k)])
    max_lat = np.maximum.reduceat(lat_s, starts)
    min_lon = np.minimum.reduceat(lon_s, starts)
    return {
        (int(kk // n), int(kk % n)): (int(c), float(a), float(b))
        for kk, c, a, b in zip(k[starts], counts, max_lat, min_lon)
    }
