"""Flagship operator: broadcast cell spatial join (AOI × scenes/footprints).

Reference semantics: the inner theta-join ``keep rows whose geometry
intersects the AOI`` at /root/reference/eo_tools/S1/process.py:321-323,
1074-1075 and download.py:390 (geopandas ``gdf.intersects(shp)``), plus
the empty-result error contract at process.py:325-328.

Spark-first physical shape (NOT the reference's per-geometry loop):

1. Driver computes the AOI cell cover (tiny) at resolution ``res`` and
   classifies each cell interior/boundary. Interior cells accept rows
   with no exact test; only boundary cells pay the PIP refine.
2. The scene side derives its cell id as a *Catalyst expression*
   (whole-stage codegen, no Python) and equi-joins against the
   **broadcast** cover — no shuffle of the big side, so dense-AOI skew
   cannot stall a shuffle stage (there is none).
3. Boundary rows are refined by a vectorized Arrow-batched PIP kernel.

Scale notes (100 TB): the big side is scanned once, filtered in place;
cost is O(rows) map-side. Cell resolution trades broadcast size
(4^res per AOI worst case) against refine selectivity; ``pick_res``
adapts resolution to AOI area (the "adaptive cell-resolution splitting"
required by the north rule) so boundary-cell row volume stays bounded.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from eo_tools_spark.functions import spatial as S
from eo_tools_spark.geo import cells as C


class EmptyJoinError(RuntimeError):
    """Mirrors the reference's 'No burst intersects the AOI' error
    (process.py:325-328)."""


def pick_res(ring: np.ndarray, max_boundary_cells: int = 256, base_res: int = 6) -> int:
    """Adaptive resolution: refine the cover until the boundary ring of
    the AOI is resolved by ~max_boundary_cells cells. Perimeter-driven:
    boundary cell count grows ~2^res · perimeter/360, so
    res ≈ log2(max_cells · 360 / perimeter)."""
    d = np.diff(ring, axis=0)
    perimeter = float(np.sum(np.hypot(d[:, 0], d[:, 1])))
    if perimeter <= 0:
        return base_res
    res = int(math.log2(max(1.0, max_boundary_cells * 360.0 / (4 * perimeter))))
    return max(base_res, min(C.MAX_RES, res))


def build_aoi_cover(
    spark: SparkSession, aois: dict[str, np.ndarray], res: int | None = None
):
    """Driver-side cover of each AOI → (cover_df, res_by_id).

    Each AOI is covered at ITS OWN adaptive resolution (``pick_res``) —
    a continent-scale AOI stays coarse (hundreds of cells) while a
    city-scale AOI gets fine cells, so the broadcast stays small and the
    boundary-refine volume stays bounded regardless of AOI mix. This is
    the "adaptive cell-resolution splitting" of the north rule.

    cover_df columns: aoi_id:string, cell:long, boundary:boolean.
    """
    rows = _cover_rows(aois, res)
    cover_df = spark.createDataFrame(rows, "aoi_id string, cell long, boundary boolean")
    # the distinct cover resolutions are known right here — ride them on
    # the frame so every aoi_point_join over this cover skips its
    # metadata collect job (one small but real Spark job per call)
    cover_df._eo_res_set = sorted({int(c) >> 58 for _, c, _ in rows})
    res_by_id = {aoi_id: (res if res is not None else pick_res(ring)) for aoi_id, ring in aois.items()}
    return cover_df, res_by_id


def _cover_rows(aois: dict[str, np.ndarray], res: int | None) -> list[tuple[str, int, bool]]:
    rows: list[tuple[str, int, bool]] = []
    for aoi_id, ring in aois.items():
        r = res if res is not None else pick_res(ring)
        cc, flags = C.cover_polygon_classified(ring, r)
        rows.extend((aoi_id, int(c), bool(b)) for c, b in zip(cc, flags))
    return rows


def aoi_point_join(
    scenes: DataFrame,
    aois: dict[str, np.ndarray],
    lon: str = "lon",
    lat: str = "lat",
    res: int | None = None,
    require_nonempty: bool = False,
    cover=None,
    adaptive: bool = False,
    max_rows_per_cell: int = 100_000,
    adaptive_max_iters: int = 3,
) -> DataFrame:
    """Inner join scenes×AOIs where the scene center lies in the AOI.

    Multi-resolution compact join: the scene side emits its cell id at
    each DISTINCT cover resolution (a small array built from pure
    Catalyst arithmetic), explodes, and probes the broadcast cover. No
    shuffle of the big side; each (scene, aoi) matches at most once
    because the cover partitions every AOI (single-res geometric cover,
    or the mixed-res density-split cover).

    ``adaptive=True`` builds the cover with ``adaptive_cover`` over
    ``scenes`` itself: boundary cells holding more than
    ``max_rows_per_cell`` matched rows are quadtree-split to finer
    resolution (one extra counting scan of the boundary region), so a
    data hotspot on the AOI edge cannot concentrate the PIP refine into
    one cell's worth of rows — the north-rule skew path, now first-class
    in the production join. Ignored when ``cover`` is passed explicitly.

    Output: scene columns + ``aoi_id``.
    """
    spark = scenes.sparkSession
    # the cover is a broadcast dimension: build once per AOI set and
    # reuse across queries (pass ``cover=build_aoi_cover(...)`` or the
    # density-driven ``adaptive_cover(...)``)
    if cover is None:
        cover = (
            adaptive_cover(
                scenes, aois, lon=lon, lat=lat, base_res=res,
                max_rows_per_cell=max_rows_per_cell,
                max_iters=adaptive_max_iters,
            )
            if adaptive
            else build_aoi_cover(spark, aois, res)
        )
    cover_df, _res_by_id = cover

    # resolutions present in the (possibly mixed-res, adaptively split)
    # cover — known at build time and carried on the frame; the collect
    # fallback covers externally-built cover frames only
    res_set = getattr(cover_df, "_eo_res_set", None)
    if res_set is None:
        res_set = sorted(
            {r.res for r in cover_df.select((F.col("cell") / (1 << 58)).cast("int").alias("res")).distinct().collect()}
        )
    if len(res_set) == 1:
        with_cell = scenes.withColumn("_cell", S.cell_col(lon, lat, res_set[0]))
    else:
        with_cell = scenes.withColumn(
            "_cell", F.explode(F.array(*[S.cell_col(lon, lat, r) for r in res_set]))
        )
    joined = with_cell.join(F.broadcast(cover_df), with_cell["_cell"] == cover_df["cell"])
    # refine strategy: convex AOIs get a pure-Catalyst half-plane test
    # (whole-stage codegen, NO Python anywhere in the flagship); any
    # non-convex AOI falls back to the Arrow ray-casting kernel
    convex = S.convex_pip_expr(aois, lon, lat)
    if convex is not None:
        pred = ~F.col("boundary") | convex
    else:
        refine = S.make_pip_refine_udf(aois)
        pred = refine(F.col("aoi_id"), F.col(lon), F.col(lat), F.col("boundary"))
    out = joined.where(pred).drop("_cell", "cell", "boundary")
    if require_nonempty and out.isEmpty():
        raise EmptyJoinError("No scene intersects the AOI")  # process.py:325-328 parity
    return out


def adaptive_cover(
    scenes: DataFrame,
    aois: dict[str, np.ndarray],
    lon: str = "lon",
    lat: str = "lat",
    base_res: int | None = None,
    max_rows_per_cell: int = 100_000,
    max_iters: int = 3,
):
    """DATA-density-driven adaptive cell-resolution splitting (north
    rule): starting from the geometric cover, boundary cells whose
    matched-row count exceeds ``max_rows_per_cell`` are split into their
    4 children (re-classified interior/boundary/outside against the AOI)
    until counts are bounded or ``max_iters`` reached.

    Exactly-once is preserved: the mixed-resolution cover still
    partitions each AOI (a parent is removed when its children replace
    it), so a point matches at most one cover cell per AOI.

    ``max_iters`` must OUT-RESOLVE the hotspot to bound it: splitting
    stops helping at the hotspot's own spatial size (a 0.05-degree
    point mass under res-12 leaf cells floors at one cell's worth of
    rows no matter the cap — measured in scripts/skew_probe.py /
    BENCH/SKEW.md). Size base_res + max_iters so the leaf cell is
    smaller than the densest feature you must split.

    Returns ``(cover_df, res_by_id)`` compatible with
    ``aoi_point_join(cover=...)``. Cost: ONE counting scan of the scene
    side per distinct base resolution (usually one total) — scenes are
    counted once at the FINEST candidate resolution restricted to the
    initial boundary cells, rolled up the quadtree on the driver, and
    every split iteration then runs driver-only against the rolled-up
    counts. (Round-1 version rescanned the big side once per iteration —
    a real cost at 100 TB.) The collected counts are bounded by
    |boundary cells| × 4^max_iters, a few thousand rows.
    """
    from eo_tools_spark.geo.geom import clip_convex, polygon_area, polygon_intersects

    spark = scenes.sparkSession
    # driver-side rows directly — no createDataFrame+collect round trip
    rows = _cover_rows(aois, base_res)

    def classify_child(child: int, ring: np.ndarray):
        """→ 'interior' | 'boundary' | None (outside)."""
        b = C.cell_bounds(np.int64(child))
        box = np.array([[b[0], b[1]], [b[2], b[1]], [b[2], b[3]], [b[0], b[3]]])
        if not polygon_intersects(ring, box):
            return None
        area = (b[2] - b[0]) * (b[3] - b[1])
        clipped = clip_convex(ring, box)
        if len(clipped) >= 3 and abs(polygon_area(clipped) - area) <= 1e-12 * area:
            return "interior"
        return "boundary"

    # --- one counting scan per distinct base resolution: count scenes
    # at the finest candidate res inside the initial boundary cells,
    # then roll up to every intermediate res on the driver (the cell
    # scheme is an exactly-nested quadtree, so the rollup is exact)
    by_res: dict[int, set[int]] = {}
    rb_of_aoi: dict[str, int] = {}
    for aoi_id, c, b in rows:
        rb_of_aoi.setdefault(aoi_id, int(c) >> 58)
        if b:
            by_res.setdefault(int(c) >> 58, set()).add(int(c))
    # counts keyed by (base-res group, cell): with mixed per-AOI base
    # resolutions the same quadtree cell can appear in two groups' scans
    # (a scene inside both AOIs' boundary cells is counted by both) —
    # a flat cell key would double-add where the res ranges overlap
    counts: dict[tuple[int, int], int] = {}
    mask29 = (1 << 29) - 1
    for rb, bcells in sorted(by_res.items()):
        rf = min(rb + max_iters, C.MAX_RES)
        cnt_rows = (
            scenes.where(S.cell_col(lon, lat, rb).isin([int(c) for c in bcells]))
            .groupBy(S.cell_col(lon, lat, rf).alias("fcell"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        for r in cnt_rows:
            fc, n = int(r.fcell), int(r.n)
            ix, iy = (fc >> 29) & mask29, fc & mask29
            for rr in range(rb, rf + 1):
                sh = rf - rr
                anc = (rr << 58) | ((ix >> sh) << 29) | (iy >> sh)
                counts[(rb, anc)] = counts.get((rb, anc), 0) + n

    # --- split loop: driver-only, no further cluster work
    for _ in range(max_iters):
        new_rows = []
        split_any = False
        for aoi_id, cell, boundary in rows:
            res = int(cell) >> 58
            # count lookups stay inside the rolled-up range by
            # construction: iteration k only splits cells at res rb+k-1,
            # so the deepest count ever read is rb+max_iters-1 < rf
            if (
                boundary
                and counts.get((rb_of_aoi[aoi_id], int(cell)), 0) > max_rows_per_cell
                and res < C.MAX_RES
            ):
                for child in C.cell_children(int(cell)):
                    kind = classify_child(int(child), aois[aoi_id])
                    if kind is not None:
                        new_rows.append((aoi_id, int(child), kind == "boundary"))
                split_any = True
            else:
                new_rows.append((aoi_id, cell, boundary))
        rows = new_rows
        if not split_any:
            break

    cover_out = spark.createDataFrame(rows, "aoi_id string, cell long, boundary boolean")
    cover_out._eo_res_set = sorted({int(c) >> 58 for _, c, _ in rows})
    res_by_id = {
        aoi_id: (base_res if base_res is not None else pick_res(ring))
        for aoi_id, ring in aois.items()
    }
    return cover_out, res_by_id


def aoi_partition_cells(aois: dict[str, np.ndarray], partition_res: int) -> list[int]:
    """Coarse parent cells covering the AOIs — the storage partition
    filter. An image table partitioned by its parent cell (`pcell`) is
    pruned with ``df.where(col('pcell').isin(aoi_partition_cells(...)))``
    BEFORE any bytes are read: the Spark analog of the reference's
    spatial-predicate → line-range download pruning
    (download.py:390-415, SURVEY §3.3)."""
    cells: set[int] = set()
    for ring in aois.values():
        cells.update(int(c) for c in C.cover_polygon(ring, partition_res))
    return sorted(cells)


def aoi_footprint_join(
    footprints: DataFrame,
    aois: dict[str, np.ndarray],
    wkb_col: str = "footprint",
    res: int = 7,
    require_nonempty: bool = False,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Inner join footprint-polygon rows × AOIs on ``intersects``.

    The burst-footprint×AOI join of process.py:321-323 re-expressed as
    ONE Arrow-batched pass over the footprint column. The driver packs
    every AOI's ``cover_polygon`` at ``res`` into a sorted cell array that
    rides in the UDF closure (no cover frame, no broadcast job, no join).
    Per batch the kernel decodes the WKB in bulk, covers each member
    polygon with vectorized bbox arithmetic, probes the AOI cover with
    ``searchsorted`` and refines the unique (footprint, AOI) candidates
    with the vectorized exact ``polygons_intersect``. A MultiPolygon
    (e.g. an antimeridian-split burst) matches when any member does.
    The matched AOI ids are exploded to one row each.

    Dedupe AFTER the exact match: when id_cols don't uniquely key the
    footprint rows (e.g. many scene rows per (product, subswath, burst)),
    the id must survive if ANY of its footprints intersects — the sf0.1
    regression a pre-refine dropDuplicates once caused.

    Output: footprint columns + ``aoi_id``, one row per distinct
    ``id_cols + aoi_id`` (all footprint columns when ``id_cols`` is None).
    """
    match = S.make_aoi_match_udf(aois, res)
    dedup_cols = (id_cols or footprints.columns) + ["aoi_id"]
    out = (
        footprints.withColumn("aoi_id", F.explode(match(F.col(wkb_col))))
        .dropDuplicates(dedup_cols)
    )
    if require_nonempty and out.isEmpty():
        raise EmptyJoinError("No burst intersects the AOI")
    return out
