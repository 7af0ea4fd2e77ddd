"""Measurement helpers shared by the workloads: latency statistics,
spans with self time, Spark job/stage/task counts from the status
tracker, a sampler of the time no Spark job is running, outside-in file
accounting, peak RSS, and the Spark session's start and stop."""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

# --- statistics ---------------------------------------------------------------


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float], beyond: int = 10) -> tuple[int, float, int] | None:
    """(p, value, n_beyond) for the highest integer percentile p in
    [50, 99] whose nearest-rank value has at least ``beyond`` samples
    strictly above it; None when the sample is too small for any."""
    s = sorted(xs)
    n = len(s)
    for p in range(99, 49, -1):
        if n == 0:
            break
        v = s[max(0, math.ceil(p * n / 100) - 1)]
        above = sum(x > v for x in s)
        if above >= beyond:
            return p, v, above
    return None


# --- spans ----------------------------------------------------------------------


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Spans (name, start, end, parent, op) kept in memory and written
    at exit. While ``active`` is false, ``span`` records nothing, so the
    untraced ops of a traced run pay no span cost."""

    def __init__(self):
        self.spans: list[dict] = []
        self.active = False
        self.op: int | None = None
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "start": start, "end": end,
             "parent": parent, "op": self.op, **attrs}
        )
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.perf_counter(), math.nan, parent, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {
            s["id"]: (s["end"] - s["start"]) - covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in self.spans
        }

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def summary(self) -> list[tuple[str, int, float, float]]:
        """(name, count, total s, total self s) per span name."""
        selfs = self.self_times()
        acc: dict[str, list[float]] = {}
        for s in self.spans:
            a = acc.setdefault(s["name"], [0, 0.0, 0.0])
            a[0] += 1
            a[1] += s["end"] - s["start"]
            a[2] += selfs[s["id"]]
        return sorted(((k, *v) for k, v in acc.items()), key=lambda r: -r[2])


# --- Spark scheduler counts ------------------------------------------------------


class JobCounter:
    """Jobs, stages and tasks run since the last ``take``. Job ids are
    allocated in sequence, so scanning forward from a cursor finds every
    job whatever its job group — streaming queries replace the caller's
    group with their run id, so a group lookup would miss them."""

    GAP = 8  # ids allocated to jobs that never start leave small gaps

    def __init__(self, spark):
        sc = spark.sparkContext
        self.st = sc.statusTracker()
        self.bus = sc._jsc.sc().listenerBus()
        sc.setJobGroup("perfbench-cursor", "job id cursor")
        try:
            sc.parallelize([0], 1).count()
            self.cursor = max(self.st.getJobIdsForGroup("perfbench-cursor")) + 1
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def take(self) -> dict[str, int]:
        # The status store is filled by the listener bus, asynchronously:
        # wait until it has taken in every event of the jobs that ran.
        self.bus.waitUntilEmpty()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        j, misses = self.cursor, 0
        while misses < self.GAP:
            info = self.st.getJobInfo(j)
            j += 1
            if info is None:
                misses += 1
                continue
            misses = 0
            self.cursor = j
            out["jobs"] += 1
            for sid in info.stageIds:
                st = self.st.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompletedTasks + st.numFailedTasks
                out["failed_tasks"] += st.numFailedTasks
        return out


class NoJobSampler:
    """Samples ``getActiveJobsIds`` every ``period`` seconds while
    ``active`` is set; ``frac`` is the share of samples with no job
    running — the driver-bound share of the sampled wall."""

    def __init__(self, spark, period: float = 0.02):
        self.st = spark.sparkContext.statusTracker()
        self.period = period
        self.samples = 0
        self.idle = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="no-job-sampler", daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            if not self.active.wait(0.1):
                continue
            if not self.st.getActiveJobsIds():
                self.idle += 1
            self.samples += 1
            time.sleep(self.period)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def frac(self) -> float:
        return self.idle / self.samples if self.samples else 0.0


# --- files --------------------------------------------------------------------


def tree(root: str) -> dict[str, int]:
    """path -> size of every regular file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def new_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    return sum(sz for p, sz in after.items() if before.get(p) != sz)


def local_path(uri: str) -> str:
    return uri[len("file:"):] if uri.startswith("file:") else uri


# --- process ----------------------------------------------------------------------


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat:
    steal is time the hypervisor ran something else on this machine's
    virtual CPUs, the main source of run-to-run noise on a shared host."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks[:8])


def start_spark(work: str):
    """A local Spark session on every core this process may use, with
    every scratch directory under ``work``. The driver heap is fixed at
    2 GB from the start (-Xms = -Xmx): a heap that grows on demand
    makes peak RSS swing by a third from run to run."""
    from mora_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp  # overrides spark.local.dir when set
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit; closing its stdin is the gateway's exit signal."""
    gateway = spark.sparkContext._gateway
    proc: subprocess.Popen = gateway.proc
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
