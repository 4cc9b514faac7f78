"""The three workloads. Each drives the engine's public API only, wraps
every call into a layer in a span, and checks each operation against an
oracle from ``oracles``.

A workload is driven in *units*: one AOI query (``aoi_query``), one
crash-and-resume job of several batches (``tile_pipeline``) or one round
of four matching steps over a scene chunk (``scene_dem_match``). A unit
reports its operation latencies, the items it completed and how many of
its checked operations failed.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

import fixtures
import oracles
from harness import CACHE, Tracer, job_stats

#: the image table's dense hotspot (see sources.synthetic)
HOTSPOT = (10.5, 40.5)


@dataclass
class Unit:
    latencies: list[float] = field(default_factory=list)
    items: int = 0
    wall: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def _area(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * abs(float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))))


def _ring(
    rng, cx: float, cy: float, rx: float, ry: float, convex: bool, area: float | None = None
) -> np.ndarray:
    """Seeded polygon around (cx, cy): convex (a rotated box, or points on
    an ellipse at jittered even angles) or a non-convex star. Even angles
    keep the area close to the ellipse's, so equal-sized AOIs carry similar
    work; ``area`` (square degrees) rescales the shape to exactly that area.
    Vertices are random floats, off the fixture's coordinate grid."""
    if convex and rng.random() < 0.5:
        a = rng.uniform(0, np.pi / 2)
        corners = np.array([[-1, -1], [1, -1], [1, 1], [-1, 1]]) * [rx, ry]
        rot = np.array([[np.cos(a), -np.sin(a)], [np.sin(a), np.cos(a)]])
        pts = corners @ rot.T
    else:
        n = int(rng.integers(5, 9)) * (1 if convex else 2)
        ang = rng.uniform(0, 2 * np.pi) + (np.arange(n) + rng.uniform(-0.3, 0.3, n)) * 2 * np.pi / n
        r = np.ones(n) if convex else np.where(np.arange(n) % 2 == 0, 1.0, rng.uniform(0.45, 0.6, n))
        pts = np.stack([np.cos(ang) * r * rx, np.sin(ang) * r * ry], axis=1)
    if area is not None:
        pts = pts * np.sqrt(area / _area(pts))
    pts = pts + [cx, cy]
    pts[:, 0] = np.clip(pts[:, 0], -179.9, 179.9)
    pts[:, 1] = np.clip(pts[:, 1], -84.9, 84.9)
    return pts


def _stratified(rng, lo: float, hi: float, k: int, strata: int) -> float:
    """A seeded draw from the ``k % strata``-th of ``strata`` equal slices
    of [lo, hi). Successive draws walk the slices, so every run of a few
    operations holds small and large ones in the same proportion and its
    work does not depend on the seed."""
    return lo + (hi - lo) * ((k % strata) + rng.uniform()) / strata


class Workload:
    name = ""
    item = ""
    #: seconds one unit takes on a 4-core host; sizes a run's work
    UNIT_S: float

    def __init__(self, seed: int, tracer: Tracer):
        self.seed = seed
        self.tr = tracer
        self.spark = None

    def rng(self, *stream: int):
        return np.random.default_rng([self.seed, *stream])

    def open(self, spark) -> None:  # table open: part of set-up
        self.spark = spark

    def warm_inputs(self) -> list:
        raise NotImplementedError

    def inputs(self):  # endless stream of distinct unit inputs
        raise NotImplementedError

    def leg_inputs(self) -> list:
        """Identical work for both scaling legs of a traced run; none by
        default, as only the flagship job reports scaling."""
        return []

    def run(self, inp, check: bool = True) -> Unit:
        raise NotImplementedError

    def probe(self, name: str, fn):
        """Traced-run-only measurement outside the operation's job group;
        its time shows as the ``trace`` layer."""
        sc = self.spark.sparkContext
        with self.tr.span(f"trace.{name}"):
            sc.setJobGroup("probe", "probe")
            try:
                return fn()
            finally:
                sc.setJobGroup(self.tr.request or "op", "op")

    def begin_op(self, rid: str) -> None:
        if self.tr.enabled:
            self.tr.request = rid
            self.spark.sparkContext.setJobGroup(rid, rid)

    def end_op(self, rid: str) -> None:
        if self.tr.enabled:
            with self.tr.span("trace.job_stats"):
                for k, v in job_stats(self.spark, rid).items():
                    self.tr.add(f"spark.{k}", v)
            self.tr.add("ops")


def _image_ids(rows) -> np.ndarray:
    """'img-000000000042' -> 42"""
    return np.array([int(r.image_id[4:]) for r in rows], dtype=np.int64)


class _ImageTable(Workload):
    """Shared by the workloads that read the image+caption table."""

    def __init__(self, seed, tracer, image_path):
        super().__init__(seed, tracer)
        self.image_path = image_path
        self.oracle = fixtures.load_image_oracle(image_path)

    def open(self, spark) -> None:
        from eo_tools_spark.session import read_binary_parquet

        super().open(spark)
        with self.tr.span("session.read_binary_parquet"):
            self.images = read_binary_parquet(spark, os.path.join(self.image_path, "table"))

    def expected_ids(self, ring: np.ndarray) -> np.ndarray:
        o = self.oracle
        lo, hi = ring.min(axis=0), ring.max(axis=0)
        near = np.flatnonzero(
            (o["lon"] >= lo[0]) & (o["lon"] <= hi[0]) & (o["lat"] >= lo[1]) & (o["lat"] <= hi[1])
        )
        return o["id"][near[oracles.points_in_ring(o["lon"][near], o["lat"][near], ring)]]

    def matched(self, aois: dict[str, np.ndarray]):
        """AOI cover -> partition pruning -> point join -> DEM tile id."""
        from eo_tools_spark.functions.spatial import tile_id_col
        from eo_tools_spark.operators.spatial_join import (
            aoi_partition_cells,
            aoi_point_join,
            build_aoi_cover,
        )
        from eo_tools_spark.sources.synthetic import PARTITION_RES

        with self.tr.span("spatial_join.build_aoi_cover"):
            cover = build_aoi_cover(self.spark, aois)
        with self.tr.span("spatial_join.aoi_partition_cells"):
            pcells = aoi_partition_cells(aois, PARTITION_RES)
        pruned = self.images.where(F.col("pcell").isin(pcells))
        with self.tr.span("spatial_join.aoi_point_join"):
            out = aoi_point_join(pruned, aois, cover=cover).withColumn(
                "dem_tile_id", tile_id_col("lon", "lat")
            )
        if self.tr.enabled:
            self.probe("cover_stats", lambda: self._cover_stats(cover, pcells, pruned, aois))
        return out

    def _cover_stats(self, cover, pcells, pruned, aois) -> None:
        from eo_tools_spark.functions.spatial import convex_pip_expr

        rows = cover[0].collect()
        self.tr.add("spatial_join.cover_cells", len(rows))
        self.tr.add("spatial_join.boundary_cells", sum(1 for r in rows if r.boundary))
        self.tr.add("spatial_join.partition_cells", len(pcells))
        self.tr.add("spatial_join.udf_refine_queries", convex_pip_expr(aois, "lon", "lat") is None)
        self.tr.add("spatial_join.rows_scanned", pruned.count())


class AoiQuery(_ImageTable):
    """Closed loop, one client: a seeded sequence of distinct AOIs, each
    covered, pruned, point-joined, tile-assigned and collected."""

    name, item = "aoi_query", "query"
    UNIT_S = 0.85

    #: one traffic cycle: (size, dense, convex); sizes are AOI half-widths in degrees
    CYCLE = (
        ((0.02, 0.15), True, True),
        ((0.5, 3.0), False, False),
        ((10.0, 30.0), True, False),
        ((0.02, 0.15), False, True),
        ((0.5, 3.0), True, True),
        ((0.02, 0.15), True, False),
    )

    def _aoi(self, rng, i: int) -> np.ndarray:
        half, dense, convex = self.CYCLE[i % len(self.CYCLE)]
        rx = _stratified(rng, *half, i // len(self.CYCLE), 2)
        ry = rx * rng.uniform(0.5, 1.0)
        if dense:  # around the hotspot
            cx, cy = HOTSPOT[0] + rng.uniform(-0.4, 0.4), HOTSPOT[1] + rng.uniform(-0.4, 0.4)
        else:
            cx, cy = rng.uniform(-150, 150), rng.uniform(-50, 50)
        return _ring(rng, cx, cy, rx, ry, convex)

    def _stream(self, *stream):
        rng = self.rng(*stream)
        i = 0
        while True:
            yield f"q{stream[0]}-{i}", self._aoi(rng, i)
            i += 1

    def warm_inputs(self):
        """Eight queries: per-query latency falls steeply over a session's
        first few queries and then slowly for 20-30 more (about 1.4x from
        the first traffic cycle to the fourth); timing starts past the
        steep part."""
        it = self._stream(1)
        return [next(it) for _ in range(8)]

    def inputs(self):
        return self._stream(2)

    def run(self, inp, check=True) -> Unit:
        qid, ring = inp
        u = Unit()
        self.begin_op(qid)
        t0 = time.perf_counter()
        with self.tr.span("request.query"):
            df = self.matched({qid: ring})
            with self.tr.span("spatial_join.exec"):
                rows = df.select("image_id", "dem_tile_id").collect()
        u.wall = time.perf_counter() - t0
        self.end_op(qid)
        u.latencies.append(u.wall)
        u.items = 1
        self.tr.add("spatial_join.queries")
        self.tr.add("spatial_join.rows_joined", len(rows))
        if check:
            got = _image_ids(rows)
            want = self.expected_ids(ring)
            ok = len(got) == len(set(got.tolist())) and np.array_equal(np.sort(got), np.sort(want))
            if ok:
                idx = np.searchsorted(self.oracle["id"], got)
                names = oracles.tile_names(self.oracle["lon"][idx], self.oracle["lat"][idx])
                ok = names == [r.dem_tile_id for r in rows]
            u.check(ok, f"{qid}: {len(got)} rows, oracle {len(want)}")
        return u


class TilePipeline(_ImageTable):
    """Flagship batch job: per regional AOI, point join -> DEM tile id ->
    decode_stats -> append_batch via run_checkpointed, with one simulated
    crash and a resume that skips the committed batches."""

    name, item = "tile_pipeline", "image"
    UNIT_S = 11.0
    #: per job: (convex, ...) of its batches, in seeded order
    SHAPES = (True, True, False, False)

    #: images matched by one full-size batch
    BATCH_IMAGES = 2048

    def _aoi(self, rng, convex: bool, images: int) -> np.ndarray:
        """A regional AOI in the hotspot, scaled so that it holds ``images``
        images (to within a few). Every batch scans the same hotspot
        partition whatever its AOI, so equal areas would leave the images
        per job, and with them the job's throughput, to the seed."""
        cx = HOTSPOT[0] + rng.uniform(-0.02, 0.02)
        cy = HOTSPOT[1] + rng.uniform(-0.02, 0.02)
        unit = _ring(rng, 0.0, 0.0, 1.0, rng.uniform(0.9, 1.0), convex, area=1.0)
        lo, hi = 0.0, 4.0
        for _ in range(40):
            mid = 0.5 * (lo + hi)
            n = len(self.expected_ids(unit * np.sqrt(mid) + [cx, cy]))
            if n == images:
                break
            lo, hi = (mid, hi) if n < images else (lo, mid)
        return unit * np.sqrt(mid) + [cx, cy]

    def _jobs(self, *stream):
        """Jobs of regional AOIs inside the hotspot with BATCH_IMAGES images
        each, so decode and commit dominate a batch and every job carries
        the same work."""
        rng = self.rng(*stream)
        j = 0
        while True:
            shapes = rng.permutation(self.SHAPES)
            batches = [
                (f"j{stream[0]}-{j}-b{b}", self._aoi(rng, c, self.BATCH_IMAGES))
                for b, c in enumerate(shapes)
            ]
            yield batches, int(rng.integers(1, len(batches)))
            j += 1

    def warm_inputs(self):
        """A small non-convex batch, then a job of one full-size batch of
        each refine path with a crash and resume between them: every code
        path of a job runs at full size before timing starts (a full-size
        path run first inside the measured window runs up to 1.4x slower)."""
        rng = self.rng(1)
        return [
            ([("w-0", self._aoi(rng, False, self.BATCH_IMAGES // 10))], None),
            ([("w-1", self._aoi(rng, True, self.BATCH_IMAGES)),
              ("w-2", self._aoi(rng, False, self.BATCH_IMAGES))], 1),
        ]

    def inputs(self):
        return self._jobs(2)

    def leg_inputs(self):
        batches, _ = next(self._jobs(3))
        return [(batches[:1], None)]

    def _table(self):
        from eo_tools_spark.sources.snapshots import SnapshotTable

        tr = self.tr

        class TimedTable(SnapshotTable):
            """Times each commit; keeps the results of the ones that wrote."""

            def __init__(self, spark, path):
                super().__init__(spark, path)
                self.latencies: list[float] = []
                self.commits: list[dict] = []

            def append_batch(self, df, batch_id, partition_by=None):
                t0 = time.perf_counter()
                with tr.span("snapshots.append_batch"):
                    res = super().append_batch(df, batch_id, partition_by)
                if not res.get("skipped"):
                    self.latencies.append(time.perf_counter() - t0)
                    self.commits.append(res)
                return res

        path = os.path.join(CACHE, "work", f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
        return TimedTable(self.spark, path), path

    def _frame(self, bid: str, ring: np.ndarray):
        from eo_tools_spark.operators.image_pipeline import decode_stats
        from eo_tools_spark.session import binary_batch_scope

        matched = self.matched({bid: ring})
        with self.tr.span("image_pipeline.decode_stats"):
            stats = decode_stats(matched)
        if self.tr.enabled:
            def decode_probe():
                t0 = time.perf_counter()
                n = matched.count()
                join_only = time.perf_counter() - t0
                t0 = time.perf_counter()
                with binary_batch_scope(self.spark):
                    decode_stats(matched).count()
                join_decode = time.perf_counter() - t0
                self.tr.add("image_pipeline.decode_s", join_decode - join_only)
                self.tr.add("image_pipeline.images_decoded", n)
                self.tr.add("spatial_join.rows_joined", n)
            self.probe("decode", decode_probe)
        return stats.join(matched.select("image_id", "aoi_id", "dem_tile_id"), "image_id")

    def run(self, inp, check=True) -> Unit:
        from eo_tools_spark.session import binary_batch_scope
        from eo_tools_spark.sources.snapshots import run_checkpointed

        batches, crash_after = inp
        rid = batches[0][0].rsplit("-", 1)[0]
        u = Unit()
        self.begin_op(rid)
        t0 = time.perf_counter()
        with self.tr.span("request.job"):
            table, path = self._table()
            work = [(bid, self._frame(bid, ring)) for bid, ring in batches]
            with binary_batch_scope(self.spark):
                try:
                    run_checkpointed(work, table, fail_after=crash_after)
                except RuntimeError as e:
                    if "simulated crash" not in str(e):
                        raise
            skipped, plan = [], None
            if crash_after is not None:
                t_resume = time.perf_counter()
                with self.tr.span("snapshots.remaining_work"):
                    todo = self.spark.createDataFrame([(b,) for b, _ in batches], "batch_id string")
                    plan = {r.batch_id for r in table.remaining_work(todo, "batch_id").collect()}
                t_plan = time.perf_counter()
                with binary_batch_scope(self.spark):
                    resumed = run_checkpointed(work, table)
                skipped = [r["batch_id"] for r in resumed if r.get("skipped")]
                self.tr.add("snapshots.remaining_work_s", t_plan - t_resume)
                self.tr.add("snapshots.batches_skipped", len(skipped))
                # resume overhead: planning plus re-driving the committed batches
                new_commits = sum(table.latencies[crash_after:])
                self.tr.add("snapshots.resume_s", time.perf_counter() - t_resume - new_commits)
        u.wall = time.perf_counter() - t0
        self.end_op(rid)
        u.latencies = table.latencies
        u.items = sum(int(r["rows"]) for r in table.commits)
        if self.tr.enabled:
            self.tr.add("snapshots.rows_committed", u.items)
            self.tr.add("snapshots.bytes_written", _du(os.path.join(path, "data")))
        if check:
            self._verify(u, table, batches, crash_after, skipped, plan)
        shutil.rmtree(path, ignore_errors=True)
        return u

    def _verify(self, u, table, batches, crash_after, skipped, plan) -> None:
        rows = table.read().select("aoi_id", "image_id", "dem_tile_id", "phash2").collect()
        o = self.oracle
        by_batch: dict[str, list] = {}
        for r in rows:
            by_batch.setdefault(r.aoi_id, []).append(r)
        mismatched = 0
        for bid, ring in batches:
            got_rows = by_batch.get(bid, [])
            got = _image_ids(got_rows)
            want = self.expected_ids(ring)
            ok = len(got) == len(set(got.tolist())) and np.array_equal(np.sort(got), np.sort(want))
            if ok:
                idx = np.searchsorted(o["id"], got)
                bad = int(np.sum(o["expected_phash2"][idx] != np.array([r.phash2 for r in got_rows])))
                mismatched += bad
                ok = bad == 0 and oracles.tile_names(o["lon"][idx], o["lat"][idx]) == [
                    r.dem_tile_id for r in got_rows
                ]
                self.tr.add("image_pipeline.payload_bytes", int(o["nbytes"][idx].sum()))
            u.check(ok, f"{bid}: {len(got)} rows committed, oracle {len(want)}")
        self.tr.add("image_pipeline.phash_mismatch", mismatched)
        if crash_after is not None:
            ids = [b for b, _ in batches]
            ok = skipped == ids[:crash_after] and plan == set(ids[crash_after:])
            ok = ok and table.committed_batches() == ids
            u.check(ok, f"resume skipped {skipped}, planned {sorted(plan or [])}")


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class SceneDemMatch(_ImageTable):
    """Per round, one seeded chunk of a hotspot-skewed scene catalog goes
    through knn_join (k=3) against the 1-degree DEM tiles,
    bbox_intersect_join against the tile grid, aoi_footprint_join of the
    image footprints against two AOIs, and salted_agg per cell."""

    name, item = "scene_dem_match", "scene"
    UNIT_S = 3.5
    K = 3
    SAMPLE = 200
    AGG_RES = 5
    SALT_BITS = 3

    def __init__(self, seed, tracer, image_path, scene_path):
        super().__init__(seed, tracer, image_path)
        self.scene_path = scene_path
        self.tiles_pdf = fixtures.dem_tiles()
        self.tile_order = np.argsort(self.tiles_pdf["dem_tile_id"].to_numpy(), kind="stable")

    def open(self, spark) -> None:
        super().open(spark)
        with self.tr.span("session.open_tables"):
            self.scenes = spark.read.parquet(self.scene_path)
            self.tiles_bbox = spark.createDataFrame(
                self.tiles_pdf[["dem_tile_id", "t_minx", "t_miny", "t_maxx", "t_maxy"]]
            )
            self.footprints = self.images.select("image_id", "footprint", "pcell")

    def _round(self, rng, rid: str, i: int, chunk: int):
        """Two footprint AOIs: one in the image hotspot (its partition holds
        half the table) and one regional elsewhere; round ``i`` draws their
        sizes from the ``i % 3``-th third of each size range."""
        aois = {}
        for tag, dense in (("a", True), ("b", False)):
            if dense:
                cx, cy = HOTSPOT[0] + rng.uniform(-0.3, 0.3), HOTSPOT[1] + rng.uniform(-0.3, 0.3)
                r = _stratified(rng, 0.1, 0.3, i, 3)
            else:
                cx, cy = rng.uniform(-150, 150), rng.uniform(-50, 50)
                r = _stratified(rng, 2.0, 8.0, i, 3)
            aois[f"{rid}{tag}"] = _ring(rng, cx, cy, r, r * rng.uniform(0.6, 1.0), convex=True)
        sample = rng.choice(fixtures.CHUNK_SCENES, self.SAMPLE, replace=False)
        return rid, chunk, aois, np.sort(sample) + chunk * fixtures.CHUNK_SCENES

    def _stream(self, stream: int, first_chunk: int):
        rng = self.rng(stream)
        i = 0
        while True:
            chunk = (first_chunk + i) % fixtures.SCENE_CHUNKS
            yield self._round(rng, f"r{stream}-{i}-", i, chunk)
            i += 1

    def warm_inputs(self):
        """One full round, with the hotspot partition's footprints, on a
        chunk the measured rounds do not read: every code path runs."""
        return [next(self._stream(1, self.seed + 8))]

    def inputs(self):
        return self._stream(2, self.seed + 1)

    def run(self, inp, check=True) -> Unit:
        from eo_tools_spark.functions.spatial import cell_col
        from eo_tools_spark.operators.knn import knn_join
        from eo_tools_spark.operators.range_join import bbox_intersect_join
        from eo_tools_spark.operators.spatial_join import aoi_footprint_join, aoi_partition_cells
        from eo_tools_spark.plans.skew import parent_cell_salt, salted_agg
        from eo_tools_spark.sources.synthetic import PARTITION_RES

        rid, chunk, aois, sample = inp
        u = Unit()
        scenes = self.scenes.where(F.col("chunk") == chunk).drop("chunk")
        self.begin_op(rid)
        t0 = time.perf_counter()
        with self.tr.span("request.round"):
            with self.tr.span("knn.knn_join"):
                knn = knn_join(scenes, self.tiles_pdf, k=self.K)
                knn_row = knn.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.collect_list(
                        F.when(
                            F.col("scene_id").isin([int(s) for s in sample]),
                            F.struct("scene_id", "dem_tile_id", "knn_rank", "dist2"),
                        )
                    ).alias("sample"),
                ).collect()[0]
            persisted = getattr(knn, "_eo_persisted", None)
            if persisted is not None:  # distributed fallback pins its result
                persisted.unpersist()
            self.tr.add("knn.distributed_fallback", persisted is not None)
            with self.tr.span("range_join.bbox_intersect_join"):
                n_pairs = bbox_intersect_join(scenes, self.tiles_bbox, res=7).count()
            with self.tr.span("spatial_join.aoi_footprint_join"):
                pcells = aoi_partition_cells(aois, PARTITION_RES)
                footprints = self.footprints.where(F.col("pcell").isin(pcells))
                fp_rows = (
                    aoi_footprint_join(footprints, aois, id_cols=["image_id"])
                    .select("image_id", "aoi_id")
                    .collect()
                )
            with self.tr.span("skew.salted_agg"):
                cells = scenes.withColumn("cell", cell_col("lon", "lat", self.AGG_RES))
                salt = parent_cell_salt("lon", "lat", self.AGG_RES, self.SALT_BITS)
                agg_rows = salted_agg(
                    cells, ["cell"], salt,
                    {"n": F.count(F.lit(1)), "max_lat": F.max("lat"), "min_lon": F.min("lon")},
                ).collect()
        u.wall = time.perf_counter() - t0
        self.end_op(rid)
        u.latencies.append(u.wall)
        u.items = fixtures.CHUNK_SCENES
        if self.tr.enabled:
            self.probe("join_yields", lambda: self._yields(scenes, n_pairs, len(fp_rows), footprints))
            self.probe("skew", lambda: self._skew(cells, salt))
        if check:
            self._verify(u, chunk, sample, knn_row, n_pairs, fp_rows, aois, pcells, agg_rows)
        return u

    def _yields(self, scenes, n_pairs: int, n_fp: int, footprints) -> None:
        from eo_tools_spark.operators.range_join import with_bbox_cells

        cand = with_bbox_cells(scenes, 7).join(
            F.broadcast(with_bbox_cells(self.tiles_bbox, 7, prefix="t_")), "_cell"
        ).count()
        self.tr.add("range_join.pairs", n_pairs)
        self.tr.add("range_join.candidates", cand)
        self.tr.add("spatial_join.footprint_pairs", n_fp)
        self.tr.add("spatial_join.footprints_scanned", footprints.count())

    def _skew(self, cells, salt) -> None:
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        rows = (
            cells.withColumn("_salt", salt)
            .repartition(n, "cell", "_salt")
            .groupBy(F.spark_partition_id().alias("p"))
            .count()
            .collect()
        )
        counts = [r["count"] for r in rows] + [0] * (n - len(rows))
        self.tr.add("skew.max_over_median_partition_rows", max(counts) / max(np.median(counts), 1.0))

    def _verify(self, u, chunk, sample, knn_row, n_pairs, fp_rows, aois, pcells, agg_rows) -> None:
        sc = fixtures.read_chunk(self.scene_path, chunk)
        tiles = self.tiles_pdf
        # kNN: exact on the sampled scenes, row count on all of them
        got: dict[int, list] = {}
        for s in knn_row["sample"]:
            got.setdefault(s["scene_id"], []).append(s)
        pos = sample - chunk * fixtures.CHUNK_SCENES
        want_idx, want_d2 = oracles.knn_brute(
            sc["lon"][pos], sc["lat"][pos], tiles["cx"].to_numpy(), tiles["cy"].to_numpy(),
            self.tile_order, self.K,
        )
        ids = tiles["dem_tile_id"].to_numpy()
        ok = knn_row["n"] == self.K * fixtures.CHUNK_SCENES and len(got) == len(sample)
        for j, sid in enumerate(sample.tolist()):
            rows = sorted(got.get(sid, []), key=lambda s: s["knn_rank"])
            ok = ok and [s["dem_tile_id"] for s in rows] == list(ids[want_idx[j]])
            ok = ok and np.allclose([s["dist2"] for s in rows], want_d2[j], rtol=0, atol=1e-12)
        u.check(ok, f"knn chunk {chunk}")
        # bbox pairs against the 1-degree grid
        want_pairs = oracles.bbox_pair_count(sc["minx"], sc["miny"], sc["maxx"], sc["maxy"])
        u.check(n_pairs == want_pairs, f"bbox pairs {n_pairs}, oracle {want_pairs}")
        # footprint quads of the pruned partitions x convex AOIs
        o = self.oracle
        scanned = np.isin(o["pcell"], pcells)
        want = set()
        for aid, ring in aois.items():
            assert oracles.is_convex(ring)
            hit = scanned & oracles.convex_overlaps(o["quad"], ring)
            want.update((int(i), aid) for i in o["id"][hit])
        got_fp = [(int(r.image_id[4:]), r.aoi_id) for r in fp_rows]
        u.check(len(got_fp) == len(set(got_fp)) and set(got_fp) == want,
                f"footprint pairs {len(got_fp)}, oracle {len(want)}")
        # salted per-cell rollup
        mask = (1 << 29) - 1
        got_cells = {
            ((r.cell >> 29) & mask, r.cell & mask): (r.n, r.max_lat, r.min_lon) for r in agg_rows
        }
        u.check(got_cells == oracles.cell_counts(sc["lon"], sc["lat"], self.AGG_RES),
                f"salted_agg {len(got_cells)} cells")


WORKLOADS = {w.name: w for w in (AoiQuery, TilePipeline, SceneDemMatch)}
