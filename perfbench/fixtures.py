"""Fixture tables, cached on disk under the checkout's ``.perfbench_cache``.

- The image+caption table comes from ``sources.synthetic.images_table``
  (the engine's own generator), written once per (generator seed, size)
  and partitioned by its parent cell. Generation takes ~20 s at 16k
  images on 4 cores, so it is shared by every run: the run seed picks the
  AOIs, batches, crash points and scene chunks that read it.
- Next to it sits an oracle sidecar read back with pyarrow (never with
  Spark): id, lon/lat, format, stored phash, payload size, the footprint
  quad and, for the lossy ``qjpg`` format, the average hash of the decoded
  payload computed here in numpy.
- The scene catalog for ``scene_dem_match`` is drawn in numpy from the run
  seed and written with pyarrow, one directory per chunk.
- The DEM tile catalog is the global 1-degree grid.

Every writer stages into a temporary directory and renames it into place,
so an interrupted run never leaves a half-written fixture behind.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import numpy as np

from harness import CACHE

#: generator seed of the image table (the run seed does not change it)
IMAGE_SEED = 7
IMAGE_N = 16_000
#: scene catalog: chunks of CHUNK_SCENES scenes, one chunk per round
SCENE_CHUNKS = 16
CHUNK_SCENES = 10_000
FILES_PER_CHUNK = 4
#: hotspots of the scene catalog: (lon, lat, sigma in degrees)
HOTSPOTS = ((10.5, 40.5, 0.4), (-74.0, 40.7, 0.3), (139.7, 35.7, 0.5))


def _publish(tmp: str, final: str) -> None:
    try:
        os.rename(tmp, final)
    except OSError:  # another run published it first
        shutil.rmtree(tmp, ignore_errors=True)


def image_dir(n: int = IMAGE_N, seed: int = IMAGE_SEED) -> str:
    return os.path.join(CACHE, f"images_s{seed}_n{n}")


def image_table(spark, n: int = IMAGE_N, seed: int = IMAGE_SEED) -> tuple[str, float]:
    """Path of the cached image table and the seconds spent generating it
    in this call (0.0 on a cache hit)."""
    from eo_tools_spark.sources.synthetic import images_table

    final = image_dir(n, seed)
    if os.path.isdir(final):
        return final, 0.0
    t0 = time.perf_counter()
    tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
    images_table(spark, n, seed=seed).write.partitionBy("pcell").parquet(
        os.path.join(tmp, "table")
    )
    np.savez(os.path.join(tmp, "oracle.npz"), **_image_sidecar(os.path.join(tmp, "table")))
    _publish(tmp, final)
    return final, time.perf_counter() - t0


def _image_sidecar(table_dir: str) -> dict[str, np.ndarray]:
    import pyarrow.dataset as ds

    from eo_tools_spark.functions.imaging import QJPG_BITS

    cols = ["image_id", "lon", "lat", "fmt", "phash", "w", "h", "bytes", "footprint", "pcell"]
    t = ds.dataset(table_dir, format="parquet", partitioning="hive").to_table(columns=cols)
    ids = np.array([int(s.split("-")[1]) for s in t.column("image_id").to_pylist()])
    fmt = np.array(t.column("fmt").to_pylist())
    w = t.column("w").to_numpy()
    h = t.column("h").to_numpy()
    phash = t.column("phash").to_numpy()
    payload = t.column("bytes").to_pylist()
    expected = phash.copy()
    shift = 8 - QJPG_BITS
    for i in np.flatnonzero(fmt == "qjpg"):
        q = np.frombuffer(payload[i], dtype=np.uint8)
        img = ((q << shift) | (1 << (shift - 1))).astype(np.uint8).reshape(h[i], w[i])
        expected[i] = _average_hash(img)
    # WKB polygon: 13-byte header, then closed ring of float64 pairs
    quads = np.stack(
        [np.frombuffer(b, dtype="<f8", offset=13).reshape(-1, 2)[:4]
         for b in t.column("footprint").to_pylist()]
    )
    order = np.argsort(ids)
    return {
        "id": ids[order],
        "lon": t.column("lon").to_numpy()[order],
        "lat": t.column("lat").to_numpy()[order],
        "fmt": fmt[order],
        "phash": phash[order],
        "expected_phash2": expected[order],
        "nbytes": np.array([len(b) for b in payload])[order],
        "quad": quads[order],
        "pcell": t.column("pcell").to_numpy()[order].astype(np.int64),
    }


def _average_hash(img: np.ndarray, grid: int = 8) -> int:
    """8x8 block-mean hash of an image whose sides divide by ``grid``.
    Block sums of integer pixels are exact, so the float block means and
    their overall mean match any summation order bit for bit."""
    h, w = img.shape
    means = img.astype(np.float64).reshape(grid, h // grid, grid, w // grid).mean(axis=(1, 3))
    val = 0
    for b in (means > means.mean()).ravel():
        val = (val << 1) | int(b)
    return val - (1 << 64) if val >= (1 << 63) else val


def load_image_oracle(path: str) -> dict[str, np.ndarray]:
    with np.load(os.path.join(path, "oracle.npz")) as z:
        return {k: z[k] for k in z.files}


def scene_catalog(seed: int) -> tuple[str, float]:
    """Seeded, hotspot-skewed scene catalog: 40% of scenes in three
    Gaussian hotspots, the rest uniform over lon [-179, 179], lat [-60, 75].
    Each scene carries a footprint bbox of 0.05-0.6 degrees half-size."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    final = os.path.join(CACHE, f"scenes_s{seed}_c{SCENE_CHUNKS}x{CHUNK_SCENES}")
    if os.path.isdir(final):
        return final, 0.0
    t0 = time.perf_counter()
    tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
    rng = np.random.default_rng([seed, 0x5CE7E])
    for c in range(SCENE_CHUNKS):
        n = CHUNK_SCENES
        hot = rng.random(n) < 0.4
        which = rng.integers(0, len(HOTSPOTS), n)
        centers = np.array(HOTSPOTS)[which]
        lon = np.where(hot, centers[:, 0] + rng.normal(0, 1, n) * centers[:, 2], rng.uniform(-179, 179, n))
        lat = np.where(hot, centers[:, 1] + rng.normal(0, 1, n) * centers[:, 2], rng.uniform(-60, 75, n))
        hx, hy = rng.uniform(0.05, 0.6, n), rng.uniform(0.05, 0.6, n)
        table = pa.table(
            {
                "scene_id": np.arange(c * n, (c + 1) * n, dtype=np.int64),
                "lon": lon,
                "lat": lat,
                "minx": lon - hx,
                "miny": lat - hy,
                "maxx": lon + hx,
                "maxy": lat + hy,
            }
        )
        d = os.path.join(tmp, f"chunk={c}")
        os.makedirs(d)
        step = -(-n // FILES_PER_CHUNK)
        for f in range(FILES_PER_CHUNK):
            pq.write_table(table.slice(f * step, step), os.path.join(d, f"part-{f}.parquet"))
    _publish(tmp, final)
    return final, time.perf_counter() - t0


def read_chunk(path: str, chunk: int) -> dict[str, np.ndarray]:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(path, f"chunk={chunk}"))
    return {c: t.column(c).to_numpy() for c in t.column_names}


def dem_tiles():
    """Global 1-degree DEM tile catalog, one row per tile: id ('N40E010'
    style, as ``functions.spatial.tile_id_col`` names them), center
    (cx, cy) for knn_join and bounds (t_minx..t_maxy) for the range join."""
    import pandas as pd

    lo, la = np.meshgrid(np.arange(-180, 180), np.arange(-90, 90), indexing="ij")
    lo, la = lo.ravel(), la.ravel()
    ids = [tile_name(x, y) for x, y in zip(lo, la)]
    return pd.DataFrame(
        {
            "dem_tile_id": ids,
            "cx": lo + 0.5,
            "cy": la + 0.5,
            "t_minx": lo.astype(np.float64),
            "t_miny": la.astype(np.float64),
            "t_maxx": lo + 1.0,
            "t_maxy": la + 1.0,
        }
    )


def tile_name(lon_floor: int, lat_floor: int) -> str:
    return (
        f"{'N' if lat_floor >= 0 else 'S'}{abs(int(lat_floor)):02d}"
        f"{'E' if lon_floor >= 0 else 'W'}{abs(int(lon_floor)):03d}"
    )
