"""Benchmark plumbing: environment hygiene, Spark sessions, span tracing,
Spark job accounting, process memory and the latency tail.

Everything here wraps the engine from the outside: spans are recorded
around calls into ``eo_tools_spark``'s public functions, never inside it.
"""

from __future__ import annotations

import itertools
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")


def prepare_environment() -> None:
    """Process-wide settings that must exist before the JVM launches.

    - Python workers import ``eo_tools_spark`` from the checkout, so the
      checkout root goes on PYTHONPATH (without it every UDF fails with
      ModuleNotFoundError inside the workers).
    - Temp files, Spark scratch space and the warehouse stay inside the
      checkout's cache directory.
    """
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(CACHE, "spark-local"), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def spark_cores() -> int:
    """All of the host's cores but one. The Python process, py4j and the
    JVM's compiler and collector threads need a core of their own: on a 4-core
    host a fourth Spark core added no throughput to any workload, and
    left the per-query latency of ``aoi_query`` to the scheduler."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def driver_memory() -> str:
    """A quarter of physical memory, capped at 2 GB: the driver only holds
    covers, collected ids and oracle samples; ``get_spark``'s 24g default
    would overcommit a small host, and a heap far above the working set
    only makes the JVM's resident size depend on when it collects."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(1, min(2, total_kb // (4 << 20)))}g"


def session_conf() -> dict[str, str]:
    tmp = os.path.join(CACHE, "tmp")
    mem = driver_memory()
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": mem,
        "spark.local.dir": os.path.join(CACHE, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
        # a fixed, pre-touched heap: the JVM's resident size is then the
        # heap plus what lives off it, not whichever regions the collector
        # happened to touch. No perf-data file: it would go to /tmp.
        "spark.driver.extraJavaOptions": (
            f"-Xms{mem} -XX:+AlwaysPreTouch -XX:-UsePerfData"
            f" -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
    }


def start_session(cores: int):
    from eo_tools_spark.session import get_spark

    spark = get_spark(
        "perfbench", cores=cores, shuffle_partitions=cores, extra_conf=session_conf()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the active session and wait for the JVM to exit.

    ``spark.stop()`` keeps the py4j gateway JVM alive for reuse; closing
    its stdin makes the gateway exit, and we wait so no process outlives
    the benchmark."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is None:
        return
    try:
        gw.shutdown()
    except Exception:
        pass
    try:
        proc.stdin.close()
    except Exception:
        pass
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------- tracing


class Tracer:
    """In-memory span recorder. A span is (id, name, start, end, parent,
    request); its layer is the name's prefix before the first dot. Spans
    of one operation share the request id. Disabled tracers record
    nothing and cost one attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.request: str | None = None
        self._stack: list[int] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, "request": self.request}
            )

    def add(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counters[name] += value

    def layer_self_times(self) -> dict[str, float]:
        """Self time per layer: span duration minus its children's."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"].split(".", 1)[0]] += s["end"] - s["start"] - child[s["id"]]
        return out


# ----------------------------------------------------------- spark jobs


def job_stats(spark, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                continue  # skipped (reused shuffle output)
            stages += 1
            tasks += si.numCompletedTasks + si.numFailedTasks
            failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def release_persisted(spark) -> int:
    """Unpersist every RDD still cached in the session; returns how many
    were left behind."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    left = rdds.size()
    for rdd in list(rdds.values()):
        rdd.unpersist(False)
    return left


# --------------------------------------------------------------- memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(d))
    return kids


def tree_peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) of this process and all its
    descendants: the driver, the JVM and the Python workers."""
    kids = _children()
    todo, total_kb = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


# ---------------------------------------------------------------- stats


def tail_percentile(values, beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile with at least ``beyond`` samples above it,
    as (percentile, value); None when there are too few samples for that
    percentile to sit above the median."""
    xs = sorted(values)
    n = len(xs)
    idx = n - 1 - beyond
    if idx < n // 2:
        return None
    return 100.0 * (idx + 1) / n, float(xs[idx])
