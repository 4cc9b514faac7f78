"""Flagship spatial join vs numpy/DuckDB oracles.

Ports the reference's join-semantics tests
(/root/reference/tests/test_s1_process_partial.py:128-157 'No overlapping
bursts' empty-join error; process.py:321-328 AOI intersects + guard).
"""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from eo_tools_spark.geo import points_in_polygon, polygon_to_wkb
from eo_tools_spark.geo.wkb import box_to_wkb
from eo_tools_spark.operators.spatial_join import (
    EmptyJoinError,
    aoi_footprint_join,
    aoi_point_join,
    build_aoi_cover,
    pick_res,
)
from eo_tools_spark.sources import derived


def test_point_join_matches_duckdb_oracle(spark, sf_dir):
    scenes = derived.scenes_view(spark, sf_dir)
    out = aoi_point_join(scenes, derived.aoi_rings()).select("scene_id", "aoi_id")
    got = {(r.scene_id, r.aoi_id) for r in out.collect()}

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf_dir}/orders.parquet')"
    )
    exp = {
        (int(sid), aid)
        for sid, aid in con.sql(
            f"SELECT scene_id, aoi_id FROM ({derived.aoi_pip_oracle_sql()})"
        ).fetchall()
    }
    assert got == exp
    assert len(got) > 0


def test_empty_join_raises(spark, sf_dir):
    scenes = derived.scenes_view(spark, sf_dir)
    empty_only = {"aoi_empty": derived.aoi_rings()["aoi_empty"]}
    with pytest.raises(EmptyJoinError):
        aoi_point_join(scenes, empty_only, require_nonempty=True)


def test_interior_cells_skip_refine(spark):
    """Cover classification: for a big AOI most cells are interior."""
    ring = derived.aoi_rings()["aoi_mid"]
    cover_df, res_by_id = build_aoi_cover(spark, {"a": ring})
    rows = cover_df.collect()
    n_interior = sum(1 for r in rows if not r.boundary)
    n_boundary = sum(1 for r in rows if r.boundary)
    assert n_interior > n_boundary  # interior dominates for large AOIs


def test_adaptive_resolution():
    big = derived.aoi_rings()["aoi_mid"]
    small = derived.aoi_rings()["aoi_hot"]
    assert pick_res(small) > pick_res(big)  # smaller AOI → finer cells


def test_footprint_join_nonunique_ids_keep_any_intersecting(spark):
    """When id_cols do NOT uniquely key the footprint rows (many scene
    rows per (product, burst), the partial-plan shape), the id must
    appear in the output if ANY of its footprints intersects — the
    sf0.1 regression: a pre-refine dropDuplicates kept an arbitrary
    non-intersecting survivor and the id vanished."""
    aoi = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    # burst 7: 5 rows far outside + ONE inside; burst 8: all outside
    rows = [(7, bytearray(box_to_wkb(50 + i, 50, 50.3 + i, 50.2))) for i in range(5)]
    rows.append((7, bytearray(box_to_wkb(4.0, 4.0, 4.3, 4.2))))
    rows += [(8, bytearray(box_to_wkb(60 + i, 60, 60.3 + i, 60.2))) for i in range(4)]
    fp = spark.createDataFrame(rows, "burst int, footprint binary")
    out = aoi_footprint_join(fp, {"a": aoi}, res=8, id_cols=["burst"])
    got = {(r.burst, r.aoi_id) for r in out.select("burst", "aoi_id").collect()}
    assert got == {(7, "a")}
    # exactly one row per surviving (id, aoi) pair
    assert out.count() == 1


def test_footprint_join_matches_numpy_oracle(spark):
    """Quad footprints × AOIs — oracle is the numpy kernel applied
    pairwise (the same trick as the reference's synthetic box fixtures)."""
    rng = np.random.default_rng(42)
    n = 300
    cx = rng.uniform(-30, 30, n)
    cy = rng.uniform(20, 60, n)
    rows = []
    quads = {}
    for i in range(n):
        # tilted quad around center, ~0.3° wide (burst-like)
        dx, dy = 0.15, 0.1
        tilt = 0.03
        ring = np.array(
            [
                [cx[i] - dx, cy[i] - dy],
                [cx[i] + dx, cy[i] - dy + tilt],
                [cx[i] + dx + tilt, cy[i] + dy],
                [cx[i] - dx + tilt, cy[i] + dy - tilt],
                [cx[i] - dx, cy[i] - dy],
            ]
        )
        quads[i] = ring
        rows.append((i, bytearray(polygon_to_wkb(ring))))
    fp = spark.createDataFrame(rows, "burst_id int, footprint binary")

    aois = {
        "a1": np.array([[0, 30], [12, 30], [12, 42], [0, 42], [0, 30]], dtype=float),
        "a2": np.array([[-25, 22], [-15, 22], [-15, 35], [-25, 35], [-25, 22]], dtype=float),
    }
    out = aoi_footprint_join(fp, aois, res=8)
    got = {(r.burst_id, r.aoi_id) for r in out.select("burst_id", "aoi_id").collect()}

    from eo_tools_spark.geo import polygon_intersects

    exp = {
        (i, aid)
        for i in range(n)
        for aid, aring in aois.items()
        if polygon_intersects(quads[i], aring)
    }
    assert got == exp
    assert len(exp) > 10


def test_footprint_join_matches_any_multipolygon_member(spark):
    """An antimeridian-split burst is a MultiPolygon; it intersects an AOI
    when ANY member does — here only the second member reaches it."""
    from eo_tools_spark.geo.wkb import multipolygon_to_wkb

    aoi = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)

    def sq(x, y):
        return [(x, y), (x + 0.3, y), (x + 0.3, y + 0.2), (x, y + 0.2)]

    rows = [
        (1, bytearray(multipolygon_to_wkb([sq(50, 50), sq(4, 4)]))),  # member 2 in
        (2, bytearray(multipolygon_to_wkb([sq(4, 4), sq(50, 50)]))),  # member 1 in
        (3, bytearray(multipolygon_to_wkb([sq(50, 50), sq(60, 60)]))),  # none
        (4, bytearray(box_to_wkb(9.9, 9.9, 12.0, 12.0))),  # plain polygon
    ]
    fp = spark.createDataFrame(rows, "burst int, footprint binary")
    out = aoi_footprint_join(fp, {"a": aoi}, res=8, id_cols=["burst"])
    got = {(r.burst, r.aoi_id) for r in out.select("burst", "aoi_id").collect()}
    assert got == {(1, "a"), (2, "a"), (4, "a")}


def test_footprint_join_plan_is_one_arrow_pass(spark):
    """Cover probe and exact refine run in ONE Arrow UDF: no second
    Python pass, no broadcast cover join; the only exchange is the
    post-match dedup."""
    rows = [(i, bytearray(box_to_wkb(i, i, i + 0.3, i + 0.2))) for i in range(20)]
    fp = spark.createDataFrame(rows, "burst int, footprint binary")
    aoi = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    out = aoi_footprint_join(fp, {"a": aoi, "b": aoi + 5}, res=8, id_cols=["burst"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" not in plan
    assert plan.count("hashpartitioning") == 1
    assert out.count() == 11 + 11


def test_cover_cells_udf_is_cover_polygon_per_row():
    """The batch cover kernel behind cover_cells_udf returns, per row,
    ``cover_polygon`` of the first member ring, cells in the same order —
    across mixed resolutions, vertex counts, MultiPolygons and footprints
    whose bbox spans more than 4 cells."""
    import pandas as pd

    from eo_tools_spark.functions.spatial import cover_cells_udf
    from eo_tools_spark.geo import cover_polygon, wkb_to_coords
    from eo_tools_spark.geo.wkb import multipolygon_to_wkb

    rng = np.random.default_rng(9)
    wkbs, res = [], []
    for i in range(300):
        c = rng.uniform(-60, 60, 2)
        ring = c + rng.uniform(-1, 1, (4 + i % 3, 2)) * (0.1 if i % 2 else 3.0)
        wkbs.append(
            multipolygon_to_wkb([ring, ring + 5]) if i % 7 == 0 else polygon_to_wkb(ring)
        )
        res.append(5 + i % 4)
    got = cover_cells_udf.func(pd.Series(wkbs), pd.Series(res))
    assert len(got) == len(wkbs)
    for w, r, cells in zip(wkbs, res, got):
        np.testing.assert_array_equal(cells, cover_polygon(wkb_to_coords(w)[0], r))


def test_convex_refine_is_pure_jvm(spark, sf_dir):
    """For convex AOIs the whole flagship plan is JVM-side: no
    ArrowEvalPython / BatchEvalPython anywhere."""
    scenes = derived.scenes_view(spark, sf_dir)
    out = aoi_point_join(scenes, derived.aoi_rings())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_nonconvex_aoi_falls_back_and_matches_oracle(spark, sf_dir):
    """L-shaped (concave) AOI routes through the Arrow kernel and still
    matches the numpy ray-casting oracle row-for-row."""
    scenes = derived.scenes_view(spark, sf_dir)
    lshape = {
        "L": np.array(
            [[-20.0, -10.0], [15.0, -10.0], [15.0, 5.0], [0.0, 5.0],
             [0.0, 20.0], [-20.0, 20.0], [-20.0, -10.0]]
        )
    }
    out = aoi_point_join(scenes, lshape)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" in plan  # fallback really engaged
    got = {r.scene_id for r in out.select("scene_id").collect()}

    pdf = scenes.select("scene_id", "lon", "lat").toPandas()
    inside = points_in_polygon(
        pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), lshape["L"]
    )
    exp = set(pdf["scene_id"].to_numpy()[inside].tolist())
    assert got == exp and len(exp) >= 5


def test_plan_is_broadcast_no_shuffle(spark, sf_dir):
    """The scene side must not shuffle: physical plan shows a
    BroadcastHashJoin and no Exchange on the streaming side."""
    scenes = derived.scenes_view(spark, sf_dir)
    out = aoi_point_join(scenes, derived.aoi_rings())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
