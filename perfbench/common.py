"""Shared benchmark plumbing: the tree under test, Spark sessions, spans,
summary statistics and driver memory.

Nothing here runs at import time; ``run.py`` calls :func:`prepare_env`
before the first Spark or mgspark import.
"""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

WORK_DIRNAME = ".perfbench_work"


def prepare_env(root: str) -> str:
    """Point this process, the JVM and every Python worker at ``root``.

    Python workers inherit ``PYTHONPATH`` from the JVM, which inherits it
    from this process, so a run on one checkout never imports another
    checkout's ``mgspark``.  Temporary files of Python, the JVM and Spark
    all land under the checkout's work directory.
    """
    work = os.path.join(root, WORK_DIRNAME)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Every JVM (spark-submit's launcher and the driver) keeps its temp
    # files and no /tmp/hsperfdata_* entry outside the checkout.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={tmp}"]).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    if sys.path[0] != root:
        sys.path.insert(0, root)
    return work


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_probe_s() -> float:
    """Seconds for a fixed single-threaded Python loop that touches no
    mgspark code, printed with every run as a rough gauge of the host's
    speed at the time.  It tracks the run's own timings only in part: it
    does not see contention for memory or caches."""
    start = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - start


def bench_conf(work: str, event_log_dir: str | None = None) -> dict:
    """Session settings the benchmark adds to ``session.get_spark``'s own:
    local scratch paths inside the checkout and, for traced runs only, a
    local uncompressed single-file event log (no UI, no network)."""
    conf = {
        "spark.driver.memory": "2g",  # the inputs are small; the host is shared
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_spark(app: str, work: str, cores: int, event_log_dir: str | None = None):
    from mgspark.session import get_spark

    spark = get_spark(app, cores=cores, extra_conf=bench_conf(work, event_log_dir))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def spark_setup(app: str, work: str, cores: int, event_log_dir: str | None = None):
    """One set-up: ``session.get_spark`` plus a warm-up that boots one
    Python worker per core through mgspark's stage-1 build.  Returns
    ``(spark, get_spark seconds, warm-up seconds)``."""
    from mgspark.aggregate import mg_sketch

    t0 = time.perf_counter()
    spark = start_spark(app, work, cores, event_log_dir)
    t1 = time.perf_counter()
    keys = spark.range(0, 4096, numPartitions=cores).withColumnRenamed("id", "key")
    mg_sketch(keys, "key", 16, pre_aggregate=False)
    return spark, t1 - t0, time.perf_counter() - t1


def stop_jvm() -> None:
    """Stop the active SparkContext and wait for the JVM to exit.

    The gateway JVM exits when its stdin closes (PythonGatewayServer), and
    the Python worker daemons are its children, so this leaves no process
    behind.
    """
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def clear_caches() -> None:
    """Make the next repetition measure operators cold: drop persisted
    intermediates and the similarity index cache."""
    from mgspark.cacheutil import clear_transient_caches
    from mgspark.pipeline.similarity import clear_index_cache

    clear_transient_caches()
    clear_index_cache()


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans around calls into each layer.

    A span records name, start, end, its id and its parent's id.  With
    ``enabled=False`` a span does nothing, so the untraced and traced
    passes run the same workload code.  With a
    SparkContext attached, the innermost open span is the Spark job group,
    which attributes event-log jobs to it.
    """

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "parent": parent, "name": name, "start": time.perf_counter(),
               "end": None, "wall_start_ms": time.time() * 1000, "wall_end_ms": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end_ms"] = time.time() * 1000
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    self.sc.setJobGroup(f"span-{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its child spans cover."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out


class Ops:
    """Counts attempted and failed operations.  A raised exception or a
    failed output check marks the operation failed; neither aborts the
    run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, name: str, fn):
        """Call ``fn()``; return ``(result, seconds)``, or ``(None, None)``
        when it raised."""
        self.attempted += 1
        start = time.perf_counter()
        try:
            result = fn()
        except Exception as exc:  # noqa: BLE001 -- a failed operation is a measurement
            self.failed += 1
            self.errors.append(f"{name}: {type(exc).__name__}: {exc}")
            traceback.print_exc(file=sys.stderr)
            return None, None
        return result, time.perf_counter() - start

    def check(self, name: str, problems: list[str]) -> bool:
        """Record the outcome of the output check of one attempted
        operation; ``problems`` lists what was wrong (empty = correct)."""
        if problems:
            self.failed += 1
            self.errors.append(f"{name}: " + "; ".join(problems[:5]))
        return not problems


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------

PERCENTILES = (50, 75, 90, 95, 99)


def summarize(values: list[float]) -> dict:
    """Median, n, and the highest of ``PERCENTILES`` above the median that
    has at least ten samples beyond it (None when none has)."""
    vals = sorted(values)
    n = len(vals)
    out = {"median": statistics.median(vals) if vals else float("nan"), "n": n,
           "p": None, "p_value": None}
    for p in PERCENTILES[1:]:
        idx = math.ceil(p / 100 * n) - 1
        if n - 1 - idx >= 10:
            out["p"], out["p_value"] = p, vals[idx]
    return out


# ---------------------------------------------------------------------------
# Driver memory
# ---------------------------------------------------------------------------


def reset_peak_rss() -> None:
    """Reset this process's resident high-water mark (Linux clear_refs)."""
    try:
        with open("/proc/self/clear_refs", "w", encoding="ascii") as f:
            f.write("5")
    except OSError:
        pass  # not Linux: the peak then also covers set-up


def peak_rss_mb() -> float:
    with open("/proc/self/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
