"""Measurement plumbing: the Spark session the benchmark drives, an
in-memory span tracer with per-span Spark stage metrics, and process-level
gauges (peak RSS, storage memory still held by persisted blocks)."""

from __future__ import annotations

import gc
import itertools
import os
import signal
import statistics
import time
from dataclasses import dataclass, field
from typing import Optional

MB = 1024 * 1024


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work_dir: str):
    """``local[nproc]`` session whose scratch space stays under
    ``work_dir``. The caller must have pointed ``TMPDIR`` there before
    anything touched :mod:`tempfile`."""
    from pyspark.sql import SparkSession
    n = cores()
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Spark scratch stays in work_dir even when the caller's environment
    # names other local dirs; no jvmstat files under /tmp, for the launcher
    # JVM or the driver JVM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    spark = (SparkSession.builder.master(f"local[{n}]")
             .appName("perfbench")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", "2g")
             .config("spark.sql.shuffle.partitions", str(2 * n))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.warehouse.dir",
                     os.path.join(work_dir, "warehouse"))
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def rss_parts_mb() -> dict[str, float]:
    """VmHWM in MB of every descendant process (the Spark JVM, the Python
    worker daemon and its workers), keyed by ``pid:name``."""
    parts = {}
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        parts[f"{pid}:{name}"] = _vm_hwm_kb(pid) / 1024.0
    return parts


def peak_rss_mb() -> float:
    """Sum of VmHWM over the Spark JVM and every live Python worker. Shared
    copy-on-write pages of forked workers count once per worker."""
    return sum(rss_parts_mb().values())


def storage_after(spark) -> tuple[float, int]:
    """(MB held by cached RDD/DataFrame blocks, persisted RDD count) once
    garbage both sides has been collected, so only blocks something still
    owns are counted."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.5)
    jsc = spark.sparkContext._jsc
    held = sum(i.memSize() + i.diskSize()
               for i in jsc.sc().getRDDStorageInfo())
    return held / MB, jsc.getPersistentRDDs().size()


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for it and its Python workers."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spawned = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in spawned:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    for pid in spawned:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's marker and
    checksum files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def quantile(values: list[float], q: int) -> float:
    """q-th percentile by the inclusive method; a single value is itself."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


# ---------------------------------------------------------------------------
# Spans and stage metrics
# ---------------------------------------------------------------------------

STAGE_KEYS = ("executor_run_s", "shuffle_write_mb", "shuffle_read_mb",
              "spill_mb", "input_mb", "tasks")


@dataclass
class Span:
    id: int
    name: str
    parent: Optional[int]
    run_id: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    stages: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; each span runs its Spark jobs under its own
    job group, and its stage metrics are read from the status store when it
    closes (works with the UI off)."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._open: list[Span] = []

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _enter(self, name: str) -> Span:
        parent = self._open[-1].id if self._open else None
        s = Span(next(self._ids), name, parent, self.run_id,
                 time.perf_counter())
        self._open.append(s)
        self.spark.sparkContext.setJobGroup(f"{self.run_id}:{s.id}", name)
        return s

    def _exit(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._open.pop()
        sc = self.spark.sparkContext
        s.stages = stage_metrics(self.spark, f"{self.run_id}:{s.id}")
        if self._open:
            sc.setJobGroup(f"{self.run_id}:{self._open[-1].id}",
                           self._open[-1].name)
        else:
            sc._jsc.clearJobGroup()
        self.spans.append(s)

    def self_seconds(self, s: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == s.id)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            a, b = max(a, s.start), min(b, s.end)
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return s.seconds - covered

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def to_json(self) -> dict:
        t0 = min((s.start for s in self.spans), default=0.0)
        return {"run_id": self.run_id, "spans": [
            {"id": s.id, "name": s.name, "parent": s.parent,
             "run_id": s.run_id, "start_s": s.start - t0,
             "end_s": s.end - t0, "self_s": self.self_seconds(s),
             "counts": s.counts, "stages": s.stages}
            for s in sorted(self.spans, key=lambda s: s.start)]}


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span:
        self.span = self.tracer._enter(self.name)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer._exit(self.span)


def stage_metrics(spark, group: str) -> dict:
    """Sum of the stage metrics of every job run under ``group``, read from
    the driver's status store through py4j."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    wanted = set()
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is not None:
            wanted.update(info.stageIds)
    out = dict.fromkeys(STAGE_KEYS, 0.0)
    if not wanted:
        return out
    jvm, gw = sc._jvm, sc._gateway
    store = sc._jsc.sc().statusStore()
    for stage in sorted(wanted):
        attempts = store.stageData(stage, False, jvm.java.util.ArrayList(),
                                   False, gw.new_array(gw.jvm.double, 0))
        for i in range(attempts.size()):
            d = attempts.apply(i)
            if d.status().toString() == "SKIPPED":
                continue
            out["executor_run_s"] += d.executorRunTime() / 1000.0
            out["shuffle_write_mb"] += d.shuffleWriteBytes() / MB
            out["shuffle_read_mb"] += d.shuffleReadBytes() / MB
            out["spill_mb"] += d.diskBytesSpilled() / MB
            out["input_mb"] += d.inputBytes() / MB
            out["tasks"] += d.numCompleteTasks()
    return out
