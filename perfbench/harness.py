"""Host posture, session lifecycle, spans and memory probes.

Everything here wraps the program from outside: the posture is plain
environment that ``lakeflush_spark.session.get_spark`` already reads,
spans are wall-clock windows around public calls, and memory is read
from ``/proc`` and the JVM's own management beans.
"""

from __future__ import annotations

import contextlib
import gc
import glob
import math
import os
import platform
import signal
import statistics
import subprocess
import sys
import time

#: heap share of MemTotal; the machine is shared, so stay well below it
#: (the workloads' old generation peaks near 150 MB)
HEAP_FRACTION = 0.125
#: pre-touch only while the whole heap fits this share of MemTotal. Both
#: are fixed properties of the host, so every run on it gets the same
#: posture.
PRETOUCH_FIT = 0.25


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def resolve_posture(root: str, work: str) -> dict:
    """Size the session to this host through the environment
    ``get_spark`` reads, and keep every scratch write under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    total_mb = _meminfo_kb("MemTotal") / 1024
    heap_mb = max(1024, int(total_mb * HEAP_FRACTION) // 256 * 256)
    pretouch = heap_mb <= total_mb * PRETOUCH_FIT
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        SPARK_GRAFT_PRETOUCH="1" if pretouch else "0",
        LAKEFLUSH_Q41_ORACLE="0",
        PYTHONPATH=os.pathsep.join(dict.fromkeys(paths)),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    import tempfile

    tempfile.tempdir = tmp
    if root not in sys.path:
        sys.path.insert(0, root)
    return {"cores": cpus, "heap_mb": heap_mb, "pretouch": pretouch, "mem_total_mb": round(total_mb)}


def versions(spark) -> dict:
    import duckdb

    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
    }


# -- session lifecycle -------------------------------------------------


def start_session(app: str, extra_conf: dict) -> tuple[object, float]:
    """``get_spark`` in a fresh JVM; returns the session and its wall time."""
    from lakeflush_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app, extra_conf=extra_conf or None)
    dt = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, dt


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for children in glob.glob(f"/proc/{p}/task/*/children"):
            with contextlib.suppress(OSError), open(children) as f:
                kids = [int(c) for c in f.read().split()]
                out += kids
                todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop the session and wait until its JVM and the JVM's Python
    workers have exited, so the next ``get_spark`` launches a fresh JVM
    and nothing outlives the run."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    with contextlib.suppress(Exception):
        spark.stop()
    if gw is None:
        return
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in workers:
        if _alive(p):
            with contextlib.suppress(OSError):
                os.kill(p, signal.SIGKILL)
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- memory ------------------------------------------------------------


def py_hwm_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def jvm_old_gen_mb(spark) -> float:
    """Old-generation occupancy right after a full GC, once Python has
    dropped its references to JVM objects it no longer holds. The second
    GC collects what Spark's cleaner released after the first one."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(0.2)
    jvm.java.lang.System.gc()
    mf = jvm.java.lang.management.ManagementFactory
    used = 0
    for pool in mf.getMemoryPoolMXBeans():
        if "Old Gen" in pool.getName() or "Tenured" in pool.getName():
            used += pool.getUsage().getUsed()
    return used / 2**20


# -- spans -------------------------------------------------------------


class Spans:
    """Wall-clock windows (epoch ms, the event log's clock) around calls
    into the program. Attribution of Spark jobs to a span is by window."""

    def __init__(self) -> None:
        self.items: list[dict] = []
        self.mem_mb: list[float] = []
        self.spark = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.time() * 1000, **attrs}
        try:
            yield rec
        finally:
            rec["end"] = time.time() * 1000
            self.items.append(rec)

    def boundary(self) -> None:
        """End of a part: sample the JVM old generation."""
        if self.spark is not None:
            self.mem_mb.append(jvm_old_gen_mb(self.spark))


# -- statistics --------------------------------------------------------


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def supported_percentile(n: int) -> int:
    """Highest of p99/p95/p90/p75 with at least ten samples beyond it,
    else the median."""
    for q in (99, 95, 90, 75):
        if n * (100 - q) / 100.0 >= 10:
            return q
    return 50


def geomean(values) -> float:
    xs = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in xs) / len(xs)) if xs else float("nan")


def median(values) -> float:
    return statistics.median(values) if values else float("nan")


def progress_batches(query) -> list[dict]:
    """One record per executed micro-batch from the query's progress
    feed: window (epoch ms), input rows. Idle-trigger reports that
    repeat a batch id are folded into it."""
    from datetime import datetime

    out: dict[int, dict] = {}
    for p in query.recentProgress:
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp() * 1000
        dur = (p.durationMs or {}).get("triggerExecution", 0)
        rec = {"batch": p.batchId, "start": start, "end": start + dur, "rows": p.numInputRows}
        if p.batchId not in out or rec["rows"] > out[p.batchId]["rows"]:
            out[p.batchId] = rec
    return [out[b] for b in sorted(out)]
