"""STAC product search + partial-product download planning — the full
query semantics of the reference's CDSE fetchers with the network layer
as an injectable seam.

Reference surface (/root/reference/eo_tools/S1/download.py):
- ``search_products`` (download.py:29-111): pystac Client search over
  one fixed collection with intersects / datetime / ids, returning a
  frame of (id, startTimeFromAscendingNode, relativeOrbitNumber,
  orbitDirection, geometry). The HTTP call is the ONLY part this module
  does not perform: the catalog arrives as a DataFrame of STAC items
  (the shape a one-off catalog ingest materializes), and everything the
  reference does client-side — validation contracts, the filters, the
  output schema — is reproduced here as Catalyst ops.
- ``download_partial_products`` (download.py:114-243): per product, the
  burst×AOI selection, per-(pol, subswath) line windows, measurement
  URLs, the ``partial_download.yml`` manifest and the
  ``partial_aoi.geojson`` sidecar. All of that planning
  (download.py:378-443 ``_build_download_list``) is pure logic and is
  computed here distributed; only ``_download_partial_raster_files``
  (the ranged S3/HTTP read, download.py:446-487) remains a seam — pass
  a ``fetcher`` callable to actually move bytes.

At 100 TB the planning side is the part that must scale: the burst
catalog is millions of rows (every product × subswath × burst), so
selection runs through the engine's one-pass cover-probe footprint join
(spatial_join.aoi_footprint_join) — no driver-side geometry loop; only
the ≤ (products × 6) job rows ever reach the driver, and only when a
manifest or a fetch loop asks for them.
"""

from __future__ import annotations

import json
from typing import Any, Callable, Sequence

import numpy as np

from pyspark.sql import DataFrame, functions as F

from eo_tools_spark.geo import wkb as W
from eo_tools_spark.operators.pairing import burst_range
from eo_tools_spark.operators.spatial_join import aoi_footprint_join

#: download.py:27 — the collection is fixed to Sentinel-1 SLC
S1_SLC_COLLECTION = ["sentinel-1-slc"]

#: download.py:290 — allowed polarizations, in canonical order
ALLOWED_POLS = ("vv", "vh")

PARTIAL_AOI_FILENAME = "partial_aoi.geojson"


def normalize_polarizations(pol: str | Sequence[str]) -> list[str]:
    """download.py:288-310 ``_normalize_polarizations``, identical
    contract: 'full' → both, strings lowered, canonical (vv, vh) order,
    same ValueError texts."""
    if isinstance(pol, str):
        selected = list(ALLOWED_POLS) if pol.lower() == "full" else [pol.lower()]
    elif isinstance(pol, (list, tuple, set)):
        selected = [p.lower() for p in pol]
    else:
        raise ValueError("pol must be a string or an iterable of strings")
    invalid = sorted(set(selected) - set(ALLOWED_POLS))
    if invalid:
        raise ValueError(
            f"Invalid polarization(s): {invalid}. Allowed values are 'vv', "
            "'vh', 'full', or ['vv', 'vh']."
        )
    selected = [p for p in ALLOWED_POLS if p in set(selected)]
    if not selected:
        raise ValueError("At least one valid polarization must be selected")
    return selected


def validate_single_ring(shp: Any, parameter_name: str) -> np.ndarray:
    """download.py:276-286 ``_validate_single_polygon`` for the engine's
    geometry model: one closed (N,2) lon/lat ring (or its WKB)."""
    if isinstance(shp, (bytes, bytearray)):
        rings = W.wkb_to_coords(bytes(shp))
        if len(rings) != 1:
            raise ValueError(
                f"{parameter_name} must be a single Polygon, not "
                f"{len(rings)} rings."
            )
        shp = rings[0]
    if not isinstance(shp, np.ndarray) or shp.ndim != 2 or shp.shape[1] != 2:
        raise ValueError(
            f"{parameter_name} must be a single polygon ring ((N,2) array "
            f"or WKB), not {type(shp).__name__}."
        )
    if shp.shape[0] < 4:
        raise ValueError(f"{parameter_name} must not be an empty Polygon.")
    return np.asarray(shp, dtype=np.float64)


def _parse_datetime(dt: Any) -> tuple[str | None, str | None]:
    """STAC datetime argument → [start, end] bounds (ISO strings; None =
    open). Accepts a single instant, 'start/end' with '..' open ends
    (the pystac-client convention the reference forwards), or a
    2-sequence."""
    if isinstance(dt, str):
        if "/" in dt:
            a, b = dt.split("/", 1)
            return (None if a in ("", "..") else a, None if b in ("", "..") else b)
        return dt, dt
    if isinstance(dt, (list, tuple)) and len(dt) == 2:
        a, b = dt
        return (None if a in (None, "..") else str(a),
                None if b in (None, "..") else str(b))
    raise ValueError(
        "datetime must be an ISO instant, 'start/end' interval, or a "
        "2-sequence of bounds"
    )


def stac_search(
    items: DataFrame,
    intersects: Any,
    datetime: Any | None = None,
    ids: Sequence[str] | None = None,
    res: int = 7,
) -> DataFrame:
    """``search_products`` (download.py:29-111) over a STAC-item table.

    ``items`` columns: id:string, start_time:timestamp,
    relative_orbit:int, orbit_state:string, footprint:binary (WKB),
    plus any asset columns passed through. Validation contracts and the
    output schema mirror the reference exactly; the spatial predicate
    runs through the engine's one-pass cover-probe footprint join, so it scales
    to a full-mission catalog (~10M products) without a driver loop.
    """
    ring = validate_single_ring(intersects, "intersects")
    if ids is not None:
        if (
            isinstance(ids, str)
            or not ids
            or not all(isinstance(it, str) for it in ids)
        ):
            raise ValueError(
                "ids must be a non-empty sequence of product ID strings."
            )
    if datetime is None and ids is None:
        raise ValueError("At least one of datetime or ids must be provided.")

    df = items
    if ids is not None:
        df = df.filter(F.col("id").isin(list(ids)))
    if datetime is not None:
        lo, hi = _parse_datetime(datetime)
        if lo is not None:
            df = df.filter(F.col("start_time") >= F.lit(lo).cast("timestamp"))
        if hi is not None:
            df = df.filter(F.col("start_time") <= F.lit(hi).cast("timestamp"))

    hit = aoi_footprint_join(
        df, {"_aoi": ring}, wkb_col="footprint", res=res, id_cols=["id"]
    ).drop("aoi_id")
    passthrough = [
        c for c in hit.columns
        if c not in ("id", "start_time", "relative_orbit", "orbit_state")
    ]
    return hit.select(
        F.col("id"),
        F.col("start_time").alias("startTimeFromAscendingNode"),
        F.col("relative_orbit").alias("relativeOrbitNumber"),
        F.col("orbit_state").alias("orbitDirection"),
        *passthrough,
    )


def plan_partial_downloads(
    bursts: DataFrame,
    shp: Any,
    lines_per_burst: int | DataFrame,
    pol: str | Sequence[str] = "full",
    assets: DataFrame | None = None,
    res: int = 7,
) -> DataFrame:
    """The distributed form of ``_build_download_list``
    (download.py:378-443): burst×AOI intersects → per (product,
    subswath) consecutive burst range → per selected polarization one
    download job with the measurement line window.

    ``bursts``: (product_id, subswath, burst, footprint:binary) — the
    burst-geometry catalog (get_burst_geometry analog).
    ``lines_per_burst``: constant, or a (product_id, subswath,
    lines_per_burst) frame read from annotations.
    ``assets``: optional (product_id, subswath, pol, href) frame; when
    given, each job carries the measurement href and its basename as
    ``file`` (download.py:425-427: the asset key is
    ``{subswath}-{pol}``, the tiff name is the href basename).

    Output jobs frame (one row per product × subswath × pol):
    product_id, subswath, pol, min_burst, max_burst, lines_per_burst,
    line_start, number_of_lines [, href, file]. Raises the reference's
    RuntimeError when no burst intersects (download.py:391-394).
    """
    ring = validate_single_ring(shp, "shp")
    pols = normalize_polarizations(pol)
    spark = bursts.sparkSession

    hit = aoi_footprint_join(
        bursts, {"_aoi": ring}, wkb_col="footprint", res=res,
        id_cols=["product_id", "subswath", "burst"],
    )
    if hit.isEmpty():
        raise RuntimeError(
            "The list of bursts to process is empty. Make sure shp "
            "intersects the product."
        )
    ranges = burst_range(hit.select("product_id", "subswath", "burst"))
    if isinstance(lines_per_burst, DataFrame):
        ranges = ranges.join(
            F.broadcast(lines_per_burst), ["product_id", "subswath"]
        )
    else:
        ranges = ranges.withColumn(
            "lines_per_burst", F.lit(int(lines_per_burst))
        )
    # download.py:414-415 — the shared formula home (per-row lpb Column)
    from eo_tools_spark.operators.pairing import line_range

    jobs = line_range(
        ranges.crossJoin(
            F.broadcast(spark.createDataFrame([(p,) for p in pols], "pol string"))
        ),
        F.col("lines_per_burst"),
    )
    if assets is not None:
        jobs = jobs.join(
            F.broadcast(assets), ["product_id", "subswath", "pol"], "left"
        ).withColumn("file", F.concat(F.lit("measurement/"),
                                      F.element_at(F.split("href", "/"), -1)))
    return jobs.select(
        "product_id", "subswath", "pol", "min_burst", "max_burst",
        "lines_per_burst", "line_start", "number_of_lines",
        *(["href", "file"] if assets is not None else []),
    )


def partial_manifest(
    jobs: DataFrame, product_id: str, aoi_file: str = PARTIAL_AOI_FILENAME
) -> dict[str, Any]:
    """One product's ``partial_download.yml`` payload
    (download.py:407-440 ``partial_info`` + 246-258 writer): nested
    subsets[subswath][pol] in the reference's iteration order (pol
    outer per normalize order, subswath sorted). Bounded collect: ≤
    (subswaths × pols) rows for one product."""
    # pol must iterate in the canonical normalize order (vv before vh)
    # so a YAML dump key-orders like the reference's writer; a plain
    # orderBy("pol") would sort vh first alphabetically
    pol_rank = F.array_position(
        F.array(*[F.lit(p) for p in ALLOWED_POLS]), F.col("pol")
    )
    rows = (
        jobs.filter(F.col("product_id") == product_id)
        .orderBy("subswath", pol_rank)
        .collect()
    )
    info: dict[str, Any] = {
        "product_id": product_id, "aoi_file": aoi_file, "subsets": {},
    }
    for r in rows:
        sub = info["subsets"].setdefault(r["subswath"].lower(), {})
        entry = {
            "min_burst": int(r["min_burst"]),
            "max_burst": int(r["max_burst"]),
            "line_start": int(r["line_start"]),
            "number_of_lines": int(r["number_of_lines"]),
            "lines_per_burst": int(r["lines_per_burst"]),
        }
        if "file" in jobs.columns and r["file"] is not None:
            entry = {"file": r["file"], **entry}
        sub[r["pol"]] = entry
    return info


def partial_aoi_geojson(shp: Any) -> str:
    """``_write_partial_aoi`` (download.py:261-275): the AOI as a
    single-feature GeoJSON FeatureCollection string."""
    ring = validate_single_ring(shp, "shp")
    doc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[float(x), float(y)] for x, y in ring]],
                },
            }
        ],
    }
    return json.dumps(doc, indent=2) + "\n"


def run_partial_downloads(
    jobs: DataFrame,
    fetcher: Callable[[dict[str, Any]], None] | None = None,
) -> int:
    """Execute a jobs plan. ``fetcher(job_dict)`` is the network seam —
    the analog of ``_download_partial_raster_files`` (download.py:
    446-487, a ranged S3 read via rasterio). The reference loops jobs
    driver-side (download.py:222-238); so do we — the jobs frame is
    bounded metadata (products × ≤6), never pixels. Returns the number
    of jobs dispatched; raises NotImplementedError without a fetcher
    (no network in this environment — SURVEY §7)."""
    if fetcher is None:
        raise NotImplementedError(
            "No network access in this environment: pass fetcher= to "
            "perform the ranged measurement reads (deployment seam)."
        )
    n = 0
    for r in jobs.collect():
        fetcher(r.asDict())
        n += 1
    return n
