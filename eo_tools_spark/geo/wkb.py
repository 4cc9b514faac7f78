"""Minimal OGC WKB codec for Point / Polygon / MultiPolygon.

The reference keeps geometry as shapely objects inside GeoDataFrames
(burst quads built at eo_tools/auxils.py:78-120, AOIs validated at
eo_tools/S1/download.py:276-285). In the Spark engine geometry travels as
WKB ``BinaryType`` columns and is decoded to plain numpy coordinate arrays
per Arrow batch. Only the standard little-endian WKB layout is implemented
— enough to round-trip every geometry the engine produces and to interop
with geopandas/shapely/DuckDB-spatial externally.
"""

from __future__ import annotations

import struct
from typing import NamedTuple

import numpy as np

_WKB_POINT = 1
_WKB_POLYGON = 3
_WKB_MULTIPOLYGON = 6


def point_to_wkb(lon: float, lat: float) -> bytes:
    return struct.pack("<BIdd", 1, _WKB_POINT, lon, lat)


def polygon_to_wkb(coords) -> bytes:
    """coords: sequence of (lon, lat) for the exterior ring. Auto-closes."""
    pts = [(float(x), float(y)) for x, y in coords]
    if pts[0] != pts[-1]:
        pts.append(pts[0])
    out = [struct.pack("<BIII", 1, _WKB_POLYGON, 1, len(pts))]
    for x, y in pts:
        out.append(struct.pack("<dd", x, y))
    return b"".join(out)


def multipolygon_to_wkb(members) -> bytes:
    """members: sequence of exterior rings, one per member polygon."""
    parts = [polygon_to_wkb(m) for m in members]
    return struct.pack("<BII", 1, _WKB_MULTIPOLYGON, len(parts)) + b"".join(parts)


def box_to_wkb(minx: float, miny: float, maxx: float, maxy: float) -> bytes:
    """Axis-aligned box polygon (shapely.box ring order: ccw from (maxx,miny))."""
    return polygon_to_wkb(
        [(maxx, miny), (maxx, maxy), (minx, maxy), (minx, miny), (maxx, miny)]
    )


def _read_ring(buf: memoryview, off: int) -> tuple[np.ndarray, int]:
    (n,) = struct.unpack_from("<I", buf, off)
    off += 4
    ring = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=off).reshape(n, 2)
    return ring, off + 16 * n


def wkb_to_coords(wkb: bytes) -> list[np.ndarray]:
    """Decode WKB → list of exterior rings, each (n,2) float64 [lon,lat].

    Point → single 1-ring of shape (1,2). Polygon → [exterior] (interior
    rings are parsed but dropped — the engine's footprints/AOIs have none,
    matching the reference's quad/box fixtures). MultiPolygon → one entry
    per member polygon.
    """
    buf = memoryview(wkb)
    byte_order, gtype = struct.unpack_from("<BI", buf, 0)
    if byte_order != 1:
        raise ValueError("only little-endian WKB supported")
    hdr = 5
    if gtype & 0x20000000:  # PostGIS EWKB SRID flag: skip the 4-byte SRID
        hdr += 4
    if gtype & 0xC0000000:  # Z/M flags change coordinate width — reject
        raise ValueError("Z/M WKB coordinates not supported")
    gtype &= 0xFF
    if gtype == _WKB_POINT:
        x, y = struct.unpack_from("<dd", buf, hdr)
        return [np.array([[x, y]])]
    if gtype == _WKB_POLYGON:
        (nrings,) = struct.unpack_from("<I", buf, hdr)
        off = hdr + 4
        rings = []
        for _ in range(nrings):
            ring, off = _read_ring(buf, off)
            rings.append(ring)
        return [rings[0]]
    if gtype == _WKB_MULTIPOLYGON:
        (npoly,) = struct.unpack_from("<I", buf, hdr)
        off = hdr + 4
        out = []
        for _ in range(npoly):
            bo, gt = struct.unpack_from("<BI", buf, off)
            (nrings,) = struct.unpack_from("<I", buf, off + 5)
            off += 9
            first = None
            for r in range(nrings):
                ring, off = _read_ring(buf, off)
                if r == 0:
                    first = ring
            out.append(first)
        return out
    raise ValueError(f"unsupported WKB geometry type {gtype}")


_POLY_HEADER = 13  # byte order, type, ring count, vertex count


class RingGroup(NamedTuple):
    """Exterior rings of one vertex count decoded from a batch of WKB.

    ``rings`` is (m, n, 2) float64 lon/lat; ``rows`` (m,) is the input row
    each ring came from and ``parts`` (m,) its member index within that
    row (0 for a Polygon, 0..k-1 for the members of a MultiPolygon)."""

    rows: np.ndarray
    parts: np.ndarray
    rings: np.ndarray


def wkb_rings_batch(wkbs) -> list[RingGroup]:
    """Decode a batch of WKB geometries → exterior rings grouped by
    vertex count (ascending), each group ordered by (row, part).

    Single-ring little-endian polygons — every footprint the engine
    writes — are decoded with one ``np.frombuffer`` per byte length (a
    packed record dtype over the concatenated blobs), so the per-row
    Python cost is a ``len`` and a join. Anything else (MultiPolygon,
    holes, points, EWKB) goes through ``wkb_to_coords`` row by row and
    yields one ring per member, exactly as ``wkb_to_coords`` returns them.
    """
    vals = np.asarray(wkbs, dtype=object)
    lens = np.fromiter(map(len, vals), dtype=np.int64, count=len(vals))
    by_n: dict[int, list[tuple[np.ndarray, np.ndarray, np.ndarray]]] = {}
    slow = [np.empty(0, np.int64)]
    for L in np.unique(lens):
        idx = np.flatnonzero(lens == L)
        n, rem = divmod(int(L) - _POLY_HEADER, 16)
        if n < 1 or rem:
            slow.append(idx)
            continue
        rec = np.frombuffer(
            b"".join(vals[idx]),
            dtype=np.dtype(
                [("bo", "u1"), ("t", "<u4"), ("nr", "<u4"), ("n", "<u4"), ("xy", "<f8", (n, 2))]
            ),
        )
        ok = (rec["bo"] == 1) & (rec["t"] == _WKB_POLYGON) & (rec["nr"] == 1) & (rec["n"] == n)
        slow.append(idx[~ok])
        by_n.setdefault(n, []).append((idx[ok], np.zeros(int(ok.sum()), np.int64), rec["xy"][ok]))
    for i in np.concatenate(slow):
        for part, ring in enumerate(wkb_to_coords(bytes(vals[i]))):
            by_n.setdefault(len(ring), []).append(
                (np.array([i]), np.array([part]), ring[None].astype(np.float64))
            )
    out = []
    for n in sorted(by_n):
        rows, parts, rings = (np.concatenate(z) for z in zip(*by_n[n]))
        order = np.lexsort((parts, rows))
        out.append(RingGroup(rows[order], parts[order], rings[order]))
    return out


def wkb_bounds(wkb: bytes) -> tuple[float, float, float, float]:
    rings = wkb_to_coords(wkb)
    allpts = np.vstack(rings)
    return (
        float(allpts[:, 0].min()),
        float(allpts[:, 1].min()),
        float(allpts[:, 0].max()),
        float(allpts[:, 1].max()),
    )
