"""Benchmark plumbing: host fit, the Spark session's life cycle, the
out-of-process RSS sampler, span tracing, and run bookkeeping.

Nothing here changes the engine: host fit is applied through the
environment and session conf before the JVM starts, and every measurement
is taken around calls into the engine's public functions.
"""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager, nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
MALLOC_THRESHOLD = "268435456"


def cores() -> int:
    """local[min(4, nproc)]: the benchmark is sized for a 4-core host."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def driver_mem() -> str:
    """Driver heap: 2 GiB, or an eighth of host memory if that is less
    (the engine's own default heap is sized for a much larger machine)."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{min(2048, total_kb // 8192)}m"


def fit_host(work_dir: str) -> None:
    """Environment for the JVM and the Python workers, set before pyspark
    is imported. Every scratch file Spark or Python writes lands under
    ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "SPARK_GRAFT_CPUS": str(cores()),
        # glibc arena growth/trim churn under many large numpy buffers
        "MALLOC_MMAP_THRESHOLD_": MALLOC_THRESHOLD,
        "MALLOC_TRIM_THRESHOLD_": MALLOC_THRESHOLD,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # no JVM perf-data files in the system temp directory
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        # workers import the engine and, for functions the benchmark
        # passes to mapInArrow, the benchmark's own modules
        "PYTHONPATH": os.pathsep.join([ROOT, os.path.join(ROOT, "perfbench"), os.environ.get("PYTHONPATH", "")]),
    }
    os.environ.update(env)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(work_dir: str):
    from poc_parquet_aggregator_spark.plans import get_spark

    from poc_parquet_aggregator_spark.operators.dedup import ensure_workers_can_import

    tmp = os.path.join(work_dir, "tmp")
    spark = get_spark(
        "perfbench",
        cores=cores(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            # a fixed, pre-touched heap: otherwise peak RSS follows how many
            # heap regions the collector happened to touch, not the engine;
            # this way it moves with off-heap (Arrow) and Python-worker memory
            "spark.driver.extraJavaOptions": (
                f"-Xms{driver_mem()} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
        },
    )
    # workers import the engine through PYTHONPATH, set before the JVM
    # started, so its fallback of zipping itself into the system temp
    # directory for addPyFile is not needed: mark it done for this context
    ensure_workers_can_import._done = spark.sparkContext.applicationId
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it, so no process
    outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants() -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def descendants_rss_mb() -> float:
    """Summed RSS of every process below this one: the driver JVM and its
    Python workers. The benchmark's own interpreter is not counted."""
    return sum(_rss_kb(pid) for pid in _descendants()) / 1024.0


class RssSampler:
    """Samples descendants' RSS from a thread every ``period`` seconds and
    keeps the peak."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, descendants_rss_mb())
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, descendants_rss_mb())


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    A span records name, layer, start, end, its parent span and the id of
    the operation it belongs to. Spans are kept in memory and written out
    once, by the caller, when the run ends. Disabled, ``span`` returns a
    shared no-op context."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = 0
        self._null = nullcontext()

    def new_op(self) -> int:
        self._op += 1
        return self._op

    def span(self, name: str, layer: str):
        return self._span(name, layer) if self.enabled else self._null

    @contextmanager
    def _span(self, name: str, layer: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def record(self, name: str, layer: str, seconds: float) -> None:
        """A span for work timed before the tracer existed."""
        if self.enabled:
            now = time.perf_counter()
            self.spans.append({
                "id": len(self.spans), "name": name, "layer": layer, "parent": None,
                "op": self._op, "start": now - seconds, "end": now,
            })

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def values(self, name: str, key: str) -> list:
        """A count recorded on the spans called ``name``."""
        return [s[key] for s in self.spans if s["name"] == name and key in s]

    def self_time_by_layer(self) -> dict[str, float]:
        """Each span's duration minus the part its children cover, summed
        per layer."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"]:
                own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
                out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out


class Ops:
    """Attempted/failed counts of one run. Every operation and every
    correctness check counts; a failure is a wrong result or a raised
    error."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr)
        return ok

    def error(self, what: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(f"{what}: {exc!r}")
        print(f"ERROR in {what}: {exc!r}", file=sys.stderr)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else float("nan")


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = max(0, min(len(xs) - 1, int(-(-q * len(xs) // 1)) - 1))
    return xs[k]


def identity_batches(batches):
    """mapInArrow function that passes every batch through unchanged."""
    yield from batches


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0
