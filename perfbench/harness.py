"""Harness plumbing shared by the workloads: host set-up, spans, the
process-tree RSS sampler, percentiles and Spark session lifetime.

Nothing here imports the package under test; ``run.py`` puts the checkout
on ``sys.path`` only after host set-up."""

from __future__ import annotations

import hashlib
import itertools
import os
import signal
import subprocess
import threading
import time
from contextlib import contextmanager

import numpy as np


# -- host ----------------------------------------------------------------------


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def driver_memory_mb() -> int:
    """Local-mode heap: a quarter of the host's RAM, capped at 2 GiB. The
    inputs are tens of MB, and the package's 24g default exceeds a small
    host."""
    return min(2048, mem_total_mb() // 4)


def set_host_env(root: str, work: str) -> dict:
    """Environment the Spark JVM and its Python workers inherit. Everything
    they write goes under `work`."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    heap = driver_memory_mb()
    env = {
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEMORY": f"{heap}m",
        # heap committed and touched up front, so peak RSS does not depend
        # on how far the collector let the heap grow in one run
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap}m "
                             "-XX:+AlwaysPreTouch",
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
    }
    os.environ.update(env)
    os.environ.pop("OMP_NUM_THREADS", None)
    return env


def source_digest(root: str) -> str:
    """sha256 over the package's sources: identifies the code measured when
    the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "ape_dts_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str:
    """HEAD of the checkout's own repository; "unknown" when it has none."""
    if not os.path.exists(os.path.join(root, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def loadavg() -> list[float]:
    return list(os.getloadavg())


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat cpu ticks (user nice system idle iowait irq
    softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time the hypervisor gave to others."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(sum(d), 1) if len(d) > 7 else 0.0


# -- spans ---------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent) recorded around calls into
    the package. Disabled, `span` records nothing and `wrap` leaves the
    object alone, so the untraced run makes the same calls untouched."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.phase = "inputs"  # stamped on each span; layer figures use "timed" spans
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": next(self._ids), "name": name, "parent": stack[-1] if stack else None,
               "phase": self.phase, "start": time.perf_counter(), "attrs": dict(attrs)}
        stack.append(rec["id"])
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, obj, method: str, name: str, after=None):
        """Shadow `obj.method` with a spanned call; `after(attrs, result)`
        adds attributes once the call returns, inside the span."""
        if not self.enabled:
            return
        inner = getattr(obj, method)

        def traced(*args, **kwargs):
            with self.span(name) as attrs:
                out = inner(*args, **kwargs)
                if after is not None:
                    after(attrs, out)
                return out

        setattr(obj, method, traced)

    def timed(self, name: str) -> list[dict]:
        """`name` spans recorded in the timed phase."""
        return [s for s in self.spans if s["name"] == name and s["phase"] == "timed"]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.timed(name)]

    def self_times(self, name: str, child: str) -> list[float]:
        """Duration of each timed `name` span minus the time its `child`
        spans cover."""
        kids: dict = {}
        for s in self.spans:
            if s["name"] == child:
                kids.setdefault(s["parent"], []).append(s["end"] - s["start"])
        return [s["end"] - s["start"] - sum(kids.get(s["id"], ())) for s in self.timed(name)]


# -- process tree ----------------------------------------------------------------


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, starttime) of a live pid, None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None
    return int(rest[1]), int(rest[19])


def descendants(root_pid: int) -> list[tuple[int, int, int]]:
    """(pid, ppid, starttime) of every live descendant of root_pid."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)] = st
    out, frontier = [], {root_pid}
    while frontier:
        nxt = {p for p, (pp, _) in parent.items() if pp in frontier}
        out += [(p, parent[p][0], parent[p][1]) for p in nxt]
        frontier = nxt
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _forked_jvm(pid: int, ppid: int) -> bool:
    """A JVM child caught between fork and exec still maps the whole JVM;
    its pages are the parent's, so counting it would double the sum."""
    return os.path.basename(_exe(pid)) == "java" == os.path.basename(_exe(ppid))


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except (FileNotFoundError, ProcessLookupError):
        return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except (FileNotFoundError, ProcessLookupError):
        return "?"


class RssSampler:
    """Samples the summed RSS of this process and its descendants (the
    Spark JVM and its Python workers) every `period` seconds; pids in
    `exclude` (the benchmark's own load generator) are left out. Also
    remembers every descendant it saw, so the run can wait for all of them
    to end."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_mb = 0.0
        self.at_peak: dict = {}
        self.exclude: set[int] = set()
        self.seen: set[tuple[int, int]] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        kids = descendants(me)
        self.seen.update((p, st) for p, _, st in kids)
        per = {me: _rss_mb(me)}
        for p, pp, _ in kids:
            if p not in self.exclude and not _forked_jvm(p, pp):
                per[p] = _rss_mb(p)
        total = sum(per.values())
        if total > self.peak_mb:
            self.peak_mb = total
            self.at_peak = {f"{p}:{_comm(p)}": round(v) for p, v in per.items() if v >= 1}

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        """Take a last sample and stop; later calls do nothing."""
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join()
        self.sample()


def reap(seen: set[tuple[int, int]], timeout: float = 30.0) -> None:
    """Wait until every process in `seen` has ended, killing what is left
    after `timeout`. (pid, starttime) pairs guard against pid reuse."""
    deadline = time.time() + timeout
    while True:
        alive = [p for p, st in seen if (s := _stat(p)) is not None and s[1] == st]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.05)


# -- stats ---------------------------------------------------------------------


def pct(values, q: float) -> float:
    """q-th percentile (linear interpolation)."""
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def median(values) -> float:
    return pct(values, 50)


# -- Spark session lifetime --------------------------------------------------------


class Session:
    """Owns the SparkSession and the gateway JVM behind it. `start` calls
    get_spark, which launches the JVM the first time and returns the running
    session after that; `close` stops Spark and waits for the JVM to exit."""

    def __init__(self, get_spark):
        self._get_spark = get_spark
        self.spark = None
        self._jvm_proc = None

    def start(self) -> float:
        """Get the session; returns the seconds get_spark took."""
        t = time.perf_counter()
        self.spark = self._get_spark("perfbench")
        took = time.perf_counter() - t
        if self._jvm_proc is None:
            self._jvm_proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return took

    def close(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        proc = self._jvm_proc
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
