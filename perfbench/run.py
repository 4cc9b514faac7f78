#!/usr/bin/env python3
"""Engine benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload aoi_query --seed 1 --seconds 10 --trace 0

Run from the repository root. Progress and per-metric lines go to stdout;
the last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics and writes the spans to
``.perfbench_cache/traces/``. The exit code is non-zero when any checked
operation fails its oracle. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from harness import CACHE, ROOT, Tracer  # noqa: E402

#: the two parallelism levels of the traced run's scaling legs
SCALING_CORES = (1, 2)


def log(msg: str) -> None:
    print(msg, flush=True)


def build_fixtures() -> None:
    """Child-process entry: generate the cached fixtures in a JVM of their
    own, so neither their time nor their memory lands in the measured run."""
    import fixtures

    spark = harness.start_session(harness.spark_cores())
    _, secs = fixtures.image_table(spark)
    print(json.dumps({"image_gen_s": secs}))
    harness.stop_jvm()


def ensure_fixtures(workload: str, seed: int) -> float:
    import fixtures

    secs = 0.0
    if not os.path.isdir(fixtures.image_dir()):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--build-fixtures"],
            cwd=ROOT, stdout=subprocess.PIPE, check=True, timeout=600,
        ).stdout.decode().strip().splitlines()
        secs += json.loads(out[-1])["image_gen_s"]
    if workload == "scene_dem_match":
        secs += fixtures.scene_catalog(seed)[1]
    return secs


def make_workload(name: str, seed: int, tracer: Tracer):
    import fixtures
    from workloads import WORKLOADS

    if name == "scene_dem_match":
        return WORKLOADS[name](seed, tracer, fixtures.image_dir(), fixtures.scene_catalog(seed)[0])
    return WORKLOADS[name](seed, tracer, fixtures.image_dir())


class Tally:
    def __init__(self):
        self.attempted = self.failed = 0

    def add(self, unit) -> None:
        self.attempted += unit.attempted
        self.failed += unit.failed
        for e in unit.errors:
            log(f"ORACLE FAILED: {e}")


def run_unit(wl, inp, tally: Tally, check: bool = True):
    try:
        unit = wl.run(inp, check=check)
    except Exception:
        traceback.print_exc()
        from workloads import Unit

        unit = Unit()
        unit.check(False, "operation raised")
    # a repetition must not leave cached data behind to evict the next one's
    leaked = harness.release_persisted(wl.spark)
    unit.check(leaked == 0, f"{leaked} persisted RDD(s) left after the operation")
    tally.add(unit)
    return unit


def session(wl, cores: int, warm_units: int | None = None) -> tuple[float, float]:
    """Start a session, open the tables and warm up: (start_s, warm_s)."""
    t0 = time.perf_counter()
    with wl.tr.span("session.start"):
        spark = harness.start_session(cores)
    t1 = time.perf_counter()
    with wl.tr.span("session.warm"):
        wl.open(spark)
        for inp in wl.warm_inputs()[:warm_units]:
            wl.run(inp, check=False)
    return t1 - t0, time.perf_counter() - t1


def measure(wl, stream, seconds: float, tally: Tally) -> list:
    """Run a fixed number of units, sized so they take about ``seconds``
    on a 4-core host. Fixed work keeps runs of one seed comparable and
    avoids a time limit that lands mid-unit deciding how much is measured."""
    n = max(1, round(seconds / wl.UNIT_S))
    return [run_unit(wl, next(stream), tally) for _ in range(n)]


def throughput(units) -> float:
    return sum(u.items for u in units) / sum(u.wall for u in units)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["aoi_query", "tile_pipeline", "scene_dem_match"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--build-fixtures", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import eo_tools_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    harness.prepare_environment()
    if args.build_fixtures:
        build_fixtures()
        return 0
    if args.workload is None:
        ap.error("--workload is required")

    gen_s = ensure_fixtures(args.workload, args.seed)
    log(f"fixtures: generated in {gen_s:.2f} s (0 = cached; not part of setup_s)")
    tally = Tally()
    try:
        if args.trace:
            metrics = traced_run(args, tally)
        else:
            metrics = untraced_run(args, tally)
    finally:
        harness.stop_jvm()
    for name, m in metrics.items():
        log(f"{name} {m['value']:.6g} {m['unit']}")
    log(f"operations: {tally.attempted} checked, {tally.failed} failed "
        f"(error_rate {tally.failed / max(tally.attempted, 1):.4f})")
    print(json.dumps({
        "correct": tally.failed == 0 and tally.attempted > 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if tally.failed == 0 and tally.attempted > 0 else 1


def untraced_run(args, tally: Tally) -> dict:
    wl = make_workload(args.workload, args.seed, Tracer(False))
    cores = harness.spark_cores()
    start, warm = session(wl, cores)
    log(f"setup: {start + warm:.3f} s (session start {start:.3f} s, open + warm-up {warm:.3f} s)")
    units = measure(wl, wl.inputs(), args.seconds, tally)
    latencies = [x for u in units for x in u.latencies]
    log(f"measured: {len(units)} units, {len(latencies)} {wl.item} ops at {cores} cores")
    tail = harness.tail_percentile(latencies)
    if tail is not None:
        log(f"op latency p{tail[0]:.0f} {tail[1]:.4f} s over {len(latencies)} ops")
    return {
        "setup_s": {"value": start + warm, "unit": "s"},
        "op_p50_s": {"value": float(statistics.median(latencies)), "unit": "s"},
        "items_per_s": {"value": throughput(units), "unit": "1/s"},
        "peak_rss_mb": {"value": harness.tree_peak_rss_mb(), "unit": "MB"},
    }


def traced_run(args, tally: Tally) -> dict:
    """One traced window after the usual set-up, then, for a workload
    with scaling legs, the two legs, each in a fresh session."""
    from layers import per_layer_metrics

    tracer = Tracer(False)
    wl = make_workload(args.workload, args.seed, tracer)
    start, warm = session(wl, harness.spark_cores())
    tracer.enabled = True
    t0 = time.perf_counter()
    traced = measure(wl, wl.inputs(), args.seconds, tally)
    window = time.perf_counter() - t0
    tracer.enabled = False
    tracer.request = None
    path = os.path.join(CACHE, "traces", f"{args.workload}-s{args.seed}.jsonl")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for s in tracer.spans:
            f.write(json.dumps(s) + "\n")
    log(f"trace: {len(tracer.spans)} spans over {len(traced)} units -> {path}")

    legs = {}
    leg_inputs = wl.leg_inputs()
    for c in SCALING_CORES if leg_inputs else ():
        wl.spark.stop()
        session(wl, c, warm_units=1)  # the JVM is warm by now
        legs[c] = throughput([run_unit(wl, inp, tally) for inp in leg_inputs])
        log(f"scaling leg: {c} cores {legs[c]:.4g} {wl.item}/s")
    return per_layer_metrics(tracer, start=start, warm=warm, window=window, scaling=legs)


if __name__ == "__main__":
    sys.exit(main())
