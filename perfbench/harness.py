"""Run-time plumbing: the pinned Spark session, process-tree memory, spans,
and counters read back from the Spark event log.

Nothing here touches engine internals: the session comes from the engine's
public ``get_spark`` factory, and every count is read from what Spark itself
records (event log, ``StreamingQueryProgress``).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
HEAP = "2g"
MAX_TASK_THREADS = 3
PYTHON_BYTES_METRICS = ("data sent to Python workers",
                        "data returned from Python workers")


def usable_cpus() -> int:
    """Task threads for ``local[k]``: one fewer than the cores this process
    may run on, which leaves a core to the JVM's compiler and collector
    threads and the driver, and at most MAX_TASK_THREADS, so runs on wider
    hosts stay comparable with the 4-core figures in README.md."""
    return max(1, min(MAX_TASK_THREADS, len(os.sched_getaffinity(0)) - 1))


def start_session(work: str, cpus: int, event_log: bool):
    """A ``local[cpus]`` session from the engine's own factory, with every
    scratch path (shuffle spill, warehouse, JVM temp, event log) inside
    ``work`` and a fixed 2 GB driver heap (README.md, "Session"). Shuffle
    partitions stay at the engine default for ``cpus`` (the factory reads
    SPARK_GRAFT_CPUS, set by the caller before import)."""
    from social_media_sentiment_analysis_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # initial heap = max heap: the JVM's resident set then does not depend
    # on when the collector decides to grow the heap
    java_opts = f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.driver.memory": HEAP,
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()      # the launcher exits when stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:           # subprocess.TimeoutExpired
            proc.kill()
            proc.wait()


class RssSampler:
    """Peak of the summed resident set of this process and all its
    descendants (the Spark JVM and its Python workers), sampled every
    ``interval`` seconds on a daemon thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak_kb / 1024.0

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def _sample(self) -> None:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        total, stack = 0, [(os.getpid(), None)]
        while stack:
            pid, parent_exe = stack.pop()
            try:
                exe = os.readlink(f"/proc/{pid}/exe")
                with open(f"/proc/{pid}/statm") as fh:
                    rss_pages = int(fh.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
            # a child of the JVM still running the java binary is its
            # process-spawn helper before exec, sharing the JVM's pages
            if not (exe == parent_exe and exe.endswith("/java")):
                total += rss_pages * PAGE_KB
            stack.extend((c, exe) for c in children.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)


class Tracer:
    """In-memory spans around calls into the engine. A disabled tracer
    records nothing, so untraced runs pay no tracing cost."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return self._span(name, attrs) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str, attrs: dict):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            self._stack.pop()


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def _walk_plan(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _walk_plan(child)


def event_log_counters(log_dir: str, windows: list[tuple[float, float]]
                       ) -> list[dict]:
    """Per-window Spark work read from the event log: jobs submitted,
    tasks finished, shuffle bytes written, and bytes exchanged with Python
    workers (the Arrow UDF / mapInArrow crossings). ``windows`` are
    (start, end) wall-clock seconds; an event belongs to the window its
    timestamp falls in."""
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    py_ids: set[int] = set()
    out = [{"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "python_bytes": 0}
           for _ in windows]
    bounds = [(a * 1000.0, b * 1000.0) for a, b in windows]

    def slot(ts_ms: float):
        for i, (a, b) in enumerate(bounds):
            if a <= ts_ms <= b:
                return out[i]
        return None

    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind.endswith(("SQLExecutionStart",
                                  "SQLAdaptiveExecutionUpdate")):
                    for node in _walk_plan(ev["sparkPlanInfo"]):
                        for m in node.get("metrics", ()):
                            if m["name"] in PYTHON_BYTES_METRICS:
                                py_ids.add(m["accumulatorId"])
                elif kind == "SparkListenerJobStart":
                    w = slot(ev["Submission Time"])
                    if w is not None:
                        w["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    w = slot(info["Finish Time"])
                    if w is None:
                        continue
                    w["tasks"] += 1
                    metrics = ev.get("Task Metrics") or {}
                    w["shuffle_bytes"] += metrics.get(
                        "Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    for acc in info.get("Accumulables", ()):
                        if acc.get("ID") in py_ids:
                            w["python_bytes"] += int(acc.get("Update", 0))
    return out
