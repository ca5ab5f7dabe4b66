"""Shared benchmark plumbing: the Spark session at ``local[nproc]``,
the in-memory span recorder, job/stage/task counting through the
status tracker, peak-RSS sampling from ``/proc``, and process cleanup.

Nothing here changes program code.  Layers are measured from outside:
by timing and forcing calls into public functions, and (traced run
only) by wrapping public methods for the length of one run.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Any, Iterator, Optional

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    return float(statistics.median(xs))


def force(df) -> None:
    """Materialize a plan fully without collecting its rows."""
    df.write.format("noop").mode("overwrite").save()


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = size = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            n += 1
            size += os.path.getsize(os.path.join(dp, f))
    return n, size


# --- tracing -----------------------------------------------------------
class Tracer:
    """Spans kept in memory and written out once, at the end of a run.

    A span has a name, start and end (seconds since the tracer was
    made), the id of the span that caused it, and ``key``: the batch
    number or gate name it belongs to.  ``enabled=False`` records
    nothing, so the untraced run pays only a flag test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[dict[str, Any]] = []
        self._stack = threading.local()
        self._lock = threading.Lock()
        #: parent for spans opened on threads the program starts itself
        #: (its commit pools), which have no stack of their own
        self.fallback_parent: Optional[int] = None

    def _parents(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    @contextmanager
    def span(self, name: str, key: Any = None, **attrs) -> Iterator[dict]:
        if not self.enabled:
            yield {}
            return
        stack = self._parents()
        parent = stack[-1] if stack else self.fallback_parent
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent, "key": key,
                   "start": time.perf_counter() - self.t0, "end": None, **attrs}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f, indent=0)


class JobCounter:
    """Jobs, stages and tasks Spark ran between two points, read from
    the status tracker.  The program's commit pools start jobs on
    their own threads, so jobs are counted by id range, not by group."""

    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()

    def last_job(self) -> int:
        ids = self.tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def since(self, after: int) -> dict[str, int]:
        jobs = [j for j in self.tracker.getJobIdsForGroup(None) if j > after]
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                st = self.tracker.getStageInfo(s)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


# --- memory ------------------------------------------------------------
def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _status_kib(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Resident memory of the processes this one started, polled every
    ``period_s``: the Spark JVM's own high-water mark (``VmHWM``), and
    the largest summed ``VmRSS`` of the Python worker processes with
    their count at that moment.  The benchmark's own process, which
    holds the generated inputs, is not counted."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.jvm_kib = 0
        self.py_kib = 0
        self.py_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _poll(self) -> None:
        py_kib = py_procs = 0
        for p in descendants(os.getpid()):
            name = _comm(p)
            if name == "java":
                self.jvm_kib = max(self.jvm_kib, _status_kib(p, "VmHWM:"))
            elif name.startswith("python"):
                py_kib += _status_kib(p, "VmRSS:")
                py_procs += 1
        if py_kib > self.py_kib:
            self.py_kib, self.py_procs = py_kib, py_procs

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self._poll()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._poll()
        self._stop.set()
        self._thread.join()


# --- session -----------------------------------------------------------
def start_spark(work: str, cores: int):
    """``local[nproc]`` session with fetch/shuffle sizing from nproc.
    Scratch space, temp files and Python workers' import path all stay
    inside the checkout."""
    tmp = fresh_dir(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = ROOT + (
        os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from scrapelect_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cpus=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.path.join(tmp, "spark"),
            # no /tmp/hsperfdata_<user> file: nothing is written outside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and every process under
    it, and wait until each has ended."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    for p in kids:
        while _alive(p) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def _alive(pid: int) -> bool:
    """Running, i.e. present and not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
