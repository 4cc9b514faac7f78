"""Unit tests for the pure-numpy geometry kernels.

Mirrors the reference's synthetic-box test discipline
(/root/reference/tests/test_s1_process_partial.py:26-36 builds plain
shapely.box grids; /root/reference/eo_tools/util.py:96-98 defines the
overlap-ratio predicate these tests pin down).
"""

import numpy as np
import pytest

from eo_tools_spark.geo import (
    cell_bounds,
    cell_children,
    cell_of_points,
    cell_parent,
    cell_ring,
    cover_bbox,
    cover_polygon,
    clip_area,
    overlap_ratio,
    points_in_polygon,
    polygon_area,
    polygon_intersects,
    polygon_to_wkb,
    point_to_wkb,
    wkb_bounds,
    wkb_to_coords,
)
from eo_tools_spark.geo.geom import has_overlap
from eo_tools_spark.geo.wkb import box_to_wkb


def box(minx, miny, maxx, maxy):
    return np.array(
        [[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy], [minx, miny]]
    )


class TestWKB:
    def test_polygon_roundtrip(self):
        ring = box(-9.0, 31.0, -8.5, 31.4)
        rings = wkb_to_coords(polygon_to_wkb(ring))
        assert len(rings) == 1
        np.testing.assert_allclose(rings[0], ring)

    def test_point_roundtrip(self):
        rings = wkb_to_coords(point_to_wkb(-8.75, 31.2))
        np.testing.assert_allclose(rings[0], [[-8.75, 31.2]])

    def test_bounds(self):
        assert wkb_bounds(box_to_wkb(1, 2, 3, 4)) == (1.0, 2.0, 3.0, 4.0)


class TestPIP:
    def test_square(self):
        ring = box(0, 0, 10, 10)
        lon = np.array([5.0, 15.0, -1.0, 9.99])
        lat = np.array([5.0, 5.0, 5.0, 9.99])
        np.testing.assert_array_equal(
            points_in_polygon(lon, lat, ring), [True, False, False, True]
        )

    def test_concave(self):
        # L-shape: notch at top-right
        ring = np.array([[0, 0], [4, 0], [4, 2], [2, 2], [2, 4], [0, 4], [0, 0]])
        lon = np.array([1.0, 3.0, 3.0])
        lat = np.array([3.0, 3.0, 1.0])
        np.testing.assert_array_equal(
            points_in_polygon(lon, lat, ring), [True, False, True]
        )

    def test_quad(self):
        # tilted burst-like quadrilateral
        ring = np.array([[0, 0], [10, 1], [10.5, 4], [0.5, 3], [0, 0]])
        assert points_in_polygon(np.array([5.0]), np.array([2.0]), ring)[0]
        assert not points_in_polygon(np.array([5.0]), np.array([4.5]), ring)[0]


class TestIntersects:
    def test_disjoint(self):
        assert not polygon_intersects(box(0, 0, 1, 1), box(2, 2, 3, 3))

    def test_overlap(self):
        assert polygon_intersects(box(0, 0, 2, 2), box(1, 1, 3, 3))

    def test_contained(self):
        assert polygon_intersects(box(0, 0, 10, 10), box(4, 4, 5, 5))
        assert polygon_intersects(box(4, 4, 5, 5), box(0, 0, 10, 10))

    def test_touching_edge(self):
        # shapely.intersects is True for boundary touch
        assert polygon_intersects(box(0, 0, 1, 1), box(1, 0, 2, 1))


class TestArea:
    def test_shoelace(self):
        assert polygon_area(box(0, 0, 3, 2)) == pytest.approx(6.0)

    def test_clip_area(self):
        assert clip_area(box(0, 0, 2, 2), box(1, 1, 3, 3)) == pytest.approx(1.0)
        assert clip_area(box(0, 0, 1, 1), box(5, 5, 6, 6)) == 0.0
        # containment
        assert clip_area(box(4, 4, 5, 5), box(0, 0, 10, 10)) == pytest.approx(1.0)

    def test_overlap_ratio_reference_semantics(self):
        # eo_tools/util.py:96-98: area(∩)/min(areas) >= 1-0.01
        a = box(0, 0, 10, 10)
        b = box(0.05, 0, 10.05, 10)  # 99.5% overlap of equal-area boxes
        assert overlap_ratio(a, b) == pytest.approx(0.995)
        assert has_overlap(a, b)
        c = box(5, 0, 15, 10)  # 50%
        assert not has_overlap(a, c)
        # full containment of a smaller poly → ratio 1.0 regardless of sizes
        assert has_overlap(box(0, 0, 10, 10), box(2, 2, 3, 3))


class TestCells:
    def test_point_cell_deterministic(self):
        c1 = cell_of_points([-8.7], [31.2], 10)
        c2 = cell_of_points([-8.7], [31.2], 10)
        assert c1[0] == c2[0]

    def test_hierarchy(self):
        c = cell_of_points([-8.7], [31.2], 12)[0]
        p = cell_parent(c)
        assert cell_of_points([-8.7], [31.2], 11)[0] == p
        kids = cell_children(int(p))
        assert c in kids

    def test_bounds_contain_point(self):
        c = cell_of_points([-8.7], [31.2], 8)
        b = cell_bounds(c)[0]
        assert b[0] <= -8.7 <= b[2] and b[1] <= 31.2 <= b[3]

    def test_cover_bbox(self):
        cells = cover_bbox(-9, 31, -8, 32, 7)
        # the point's own cell must be in the cover
        assert cell_of_points([-8.5], [31.5], 7)[0] in cells

    def test_cover_polygon_tighter_than_bbox(self):
        # thin diagonal quad: exact cover < bbox cover
        ring = np.array([[0, 0], [10, 10], [10.2, 10], [0.2, 0], [0, 0]])
        bbox_cells = cover_bbox(0, 0, 10.2, 10, 8)
        poly_cells = cover_polygon(ring, 8)
        assert len(poly_cells) < len(bbox_cells)
        assert set(poly_cells) <= set(bbox_cells)
        # every point sampled inside the quad maps to a covered cell
        t = np.linspace(0.05, 0.95, 20)
        lon, lat = 0.1 + 10 * t, 10 * t
        assert set(cell_of_points(lon, lat, 8)) <= set(poly_cells)

    def test_ring(self):
        c = int(cell_of_points([0.0], [0.0], 10)[0])
        ring1 = cell_ring(c, 1)
        assert len(ring1) == 9 and c in ring1
        assert len(cell_ring(c, 2)) == 25

def test_sql_parity():
    import duckdb
    import pandas as pd

    from eo_tools_spark.geo.cells import cell_id_sql

    df = pd.DataFrame(
        {
            "lon": [-8.7, 120.3, 0.0, -179.9, 179.9, 33.33],
            "lat": [31.2, -45.6, 0.0, -89.9, 89.9, 66.6],
        }
    )
    con = duckdb.connect()
    con.register("pts", df)
    for res in (4, 9, 15, 20):
        expected = cell_of_points(df["lon"].to_numpy(), df["lat"].to_numpy(), res)
        got = con.sql(
            f"SELECT {cell_id_sql('lon', 'lat', res)} AS c FROM pts"
        ).df()["c"].to_numpy()
        np.testing.assert_array_equal(got, expected)


# ---- batch kernels: row-for-row parity with the scalar kernels

def _quads(rng, m, spread, size):
    """m random (possibly self-crossing) closed quads, shape (m, 5, 2)."""
    c = rng.uniform(-spread, spread, (m, 1, 2))
    q = c + rng.uniform(-size, size, (m, 4, 2))
    return np.concatenate([q, q[:, :1]], axis=1)


_CONVEX = np.array([[0, 0], [4, 0], [5, 3], [2, 5], [-1, 3], [0, 0]], dtype=float)
_CONCAVE = np.array(
    [[-3, -3], [3, -3], [3, 3], [0, 0.5], [-3, 3], [-3, -3]], dtype=float
)
_OPEN = np.array([[-2, -1], [1, -2], [2, 2], [-1, 3]], dtype=float)  # no closing vertex


def _scalar(a, b):
    return np.array([polygon_intersects(x, b) for x in a])


class TestPolygonsIntersectParity:
    @pytest.mark.parametrize("ring", [_CONVEX, _CONCAVE, _OPEN, box(0, 0, 2, 2)])
    @pytest.mark.parametrize("size", [0.3, 1.5, 6.0])
    def test_random_quads(self, ring, size):
        from eo_tools_spark.geo.geom import polygons_intersect

        a = _quads(np.random.default_rng(7), 600, 6.0, size)
        got = polygons_intersect(a, ring)
        np.testing.assert_array_equal(got, _scalar(a, ring))
        assert 0 < got.sum() < len(a)
        # open footprint rings (no closing vertex) take the same answers
        np.testing.assert_array_equal(polygons_intersect(a[:, :4], ring), got)

    @pytest.mark.parametrize("ring", [_CONVEX, _CONCAVE, _OPEN, box(0, 0, 2, 2)])
    def test_integer_grid_degenerates(self, ring):
        """Integer vertices on the rings' own lattice: shared vertices,
        touching and collinear overlapping edges, zero-area quads."""
        from eo_tools_spark.geo.geom import polygons_intersect

        g = np.random.default_rng(3).integers(-4, 6, (1500, 4, 2)).astype(float)
        a = np.concatenate([g, g[:, :1]], axis=1)
        np.testing.assert_array_equal(polygons_intersect(a, ring), _scalar(a, ring))

    def test_named_degenerate_cases(self):
        from eo_tools_spark.geo.geom import polygons_intersect

        b = box(0, 0, 2, 2)
        cases = {
            "touching edge": (box(2, 0, 3, 2), True),
            "shared vertex": (box(2, 2, 3, 3), True),
            "collinear overlap": (box(1, 2, 4, 3), True),
            "inside b": (box(0.5, 0.5, 1.5, 1.5), True),
            "contains b": (box(-1, -1, 3, 3), True),
            "near miss": (box(2.0000001, 0, 3, 2), False),
            "bbox overlap only": (
                np.array([[1.5, 2.6], [3, 1.1], [3, 3], [2.5, 3], [1.5, 2.6]]), False
            ),
        }
        a = np.stack([r for r, _ in cases.values()])
        got = polygons_intersect(a, b)
        np.testing.assert_array_equal(got, _scalar(a, b))
        np.testing.assert_array_equal(got, [e for _, e in cases.values()])
        # the roles swapped: each case as the single ring, b as the stack
        for ring, expect in cases.values():
            assert polygons_intersect(b[None], ring)[0] == expect

    def test_footprints_spanning_many_cells(self):
        """Large quads whose bbox spans > 4 cells at the join resolution."""
        from eo_tools_spark.geo.geom import polygons_intersect

        a = _quads(np.random.default_rng(11), 300, 20.0, 12.0)
        assert (_bbox_cell_count(a, 7) > 4).mean() > 0.9
        np.testing.assert_array_equal(
            polygons_intersect(a, _CONCAVE), _scalar(a, _CONCAVE)
        )


def _bbox_cell_count(rings, res):
    lo, hi = rings.min(axis=1), rings.max(axis=1)
    return np.array([len(cover_bbox(*lo[i], *hi[i], res)) for i in range(len(rings))])


class TestBatchCover:
    @pytest.mark.parametrize(
        "res,size", [(3, 25.0), (5, 8.0), (7, 0.05), (7, 1.0), (9, 0.05), (9, 0.3)]
    )
    def test_cover_rings_equals_cover_polygon(self, res, size):
        from eo_tools_spark.geo.cells import cover_rings

        a = _quads(np.random.default_rng(res), 200, 30.0, size)
        idx, cells = cover_rings(a, res)
        assert np.all(np.diff(idx) >= 0)
        if size >= 1.0:  # the exact-cover rule for > 4 bbox cells runs
            assert (_bbox_cell_count(a, res) > 4).any()
        for i, ring in enumerate(a):
            # same cells in the same order, row by row
            np.testing.assert_array_equal(cells[idx == i], cover_polygon(ring, res))

    def test_wkb_rings_batch_matches_wkb_to_coords(self):
        from eo_tools_spark.geo.wkb import multipolygon_to_wkb, wkb_rings_batch

        rng = np.random.default_rng(5)
        q = _quads(rng, 6, 10.0, 1.0)
        wkbs = [
            polygon_to_wkb(q[0]),
            point_to_wkb(1.0, 2.0),
            multipolygon_to_wkb([q[1], q[2][:4]]),
            polygon_to_wkb(q[3]),
            box_to_wkb(0, 0, 1, 1),
            polygon_to_wkb(np.vstack([q[4][:4], [[9.0, 9.0]]])),  # 6 vertices
        ]
        seen = 0
        for g in wkb_rings_batch(wkbs):
            assert g.rings.shape[1:] == (len(g.rings[0]), 2)
            for row, part, ring in zip(g.rows, g.parts, g.rings):
                np.testing.assert_array_equal(ring, wkb_to_coords(wkbs[row])[part])
                seen += 1
        assert seen == sum(len(wkb_to_coords(w)) for w in wkbs)
