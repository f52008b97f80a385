"""Measurement plumbing shared by the workloads: the Spark session, process
tree RSS and CPU accounting, per-job-group task counts, spans, and the
summary statistics the report uses.

Everything here observes the engine from outside: it times calls into the
engine's public functions and reads the OS and Spark's status tracker.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_CPUACCT = "/sys/fs/cgroup/cpuacct/cpuacct.usage"
_CPU_STAT_V2 = "/sys/fs/cgroup/cpu.stat"
_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def cpus() -> int:
    """Cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# process tree: RSS and CPU from /proc (psutil is not available)
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        ppid = int(st[st.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree() -> list[int]:
    """This process and every descendant (JVM, Python workers)."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_rss_bytes() -> int:
    total = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def _tree_cpu_s() -> float:
    total = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rindex(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def cpu_s() -> float:
    """Container CPU-seconds from cgroup cpuacct (v1) or cpu.stat (v2);
    the process tree's own counters where neither is readable."""
    try:
        with open(_CPUACCT) as f:
            return int(f.read()) / 1e9
    except OSError:
        pass
    try:
        with open(_CPU_STAT_V2) as f:
            for line in f:
                k, v = line.split()
                if k == "usage_usec":
                    return int(v) / 1e6
    except OSError:
        pass
    return _tree_cpu_s()


class RssMonitor:
    """Samples the summed RSS of the process tree on a background thread and
    keeps the peak.  Once a second: each sample scans /proc, and the thread
    shares the driver's interpreter with the timed calls."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes())
        return False


class CheckFailed(Exception):
    """An op's output differs from its reference."""


# ---------------------------------------------------------------------------
# Spark session lifetime
# ---------------------------------------------------------------------------

def start_spark(app: str):
    """The engine's own session factory, at local[nproc], with only the
    console progress bar turned off."""
    from libosmtools_spark.session import get_spark

    return get_spark(app=app, cpus=cpus(), extra={"spark.ui.showConsoleProgress": "false"})


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for the JVM and
    every other child process to exit."""
    from pyspark import SparkContext

    from libosmtools_spark.session import clear_session_caches

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    clear_session_caches()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and len(process_tree()) > 1:
        time.sleep(0.1)
    for p in process_tree()[1:]:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# ---------------------------------------------------------------------------
# job groups: task and stage counts per op, from the status tracker
# ---------------------------------------------------------------------------

class JobGroups:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def group(self, name: str):
        """Run the body's Spark jobs under a fresh job group; yields the
        group id for `counts`."""
        self._n += 1
        gid = f"{name}#{self._n}"
        self.sc.setJobGroup(gid, name)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, gid: str) -> tuple[int, int]:
        """(completed tasks, stages that ran a task) of a job group."""
        st = self.sc.statusTracker()
        tasks = stages = 0
        seen = set()
        for jid in st.getJobIdsForGroup(gid):
            job = st.getJobInfo(jid)
            for sid in job.stageIds if job else ():
                if sid in seen:
                    continue
                seen.add(sid)
                info = st.getStageInfo(sid)
                if info and info.numCompletedTasks:
                    tasks += info.numCompletedTasks
                    stages += 1
        return tasks, stages


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, op id), written out once at
    the end.  Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.monotonic()

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.monotonic() - self.t0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic() - self.t0

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


# ---------------------------------------------------------------------------
# timing and summaries
# ---------------------------------------------------------------------------

@contextmanager
def timed(out: dict):
    """Wall and CPU seconds of the body, written into ``out``."""
    c0, t0 = cpu_s(), time.perf_counter()
    try:
        yield out
    finally:
        out["wall_s"] = time.perf_counter() - t0
        out["cpu_s"] = cpu_s() - c0


def summary(values: list[float]) -> dict:
    """Median and sample count; p90 only when at least ten samples lie
    beyond it."""
    out = {"median": statistics.median(values), "n": len(values)}
    if len(values) >= 100:
        out["p90"] = statistics.quantiles(values, n=10)[-1]
    return out


def noop_write(df) -> None:
    """Materialize every column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
