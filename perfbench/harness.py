"""Measurement plumbing shared by the workloads: box-derived session
settings, the peak-RSS sampler, the clean-up of child processes, the span
tracer and the statistics the report needs.

Nothing here imports pyspark or dedupe_spark, so ``run.py`` can set the
session environment before either is imported.
"""

from __future__ import annotations

import ctypes
import math
import os
import signal
import sys
import threading
import time
from contextlib import contextmanager

PR_SET_CHILD_SUBREAPER = 36


def box_settings(work: str) -> dict[str, str]:
    """Session settings derived from the machine it runs on, exported
    through the engine's own environment overrides (``session.get_spark``
    reads them).

    CPUs come from the affinity mask (what ``nproc`` prints); the driver
    heap is a quarter of physical memory, capped at 4 GiB: the inputs are
    small and the machine may be shared. Spill and shuffle files go under
    the run's work directory so a run writes only inside its checkout.
    """
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    mem_gb = max(1, min(4, kib // (4 * 1024 * 1024)))
    local_dirs = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local_dirs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": local_dirs,
        "TMPDIR": tmp,
        # the JVM's scratch files and perf-data file otherwise land in /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces; the ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants_rss_bytes(root: int) -> int:
    """Summed resident set of every descendant of ``root`` (the JVM the
    driver launches and the Python workers the JVM forks)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


def adopt_orphans() -> None:
    """Makes this process the reaper of its orphaned descendants: the
    Python daemon the JVM forks outlives the JVM for a moment, and is then
    re-parented here rather than to init, so :func:`stop_descendants` can
    wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap(pid: int) -> bool:
    """True once ``pid`` has ended (reaped here, or not a child of ours)."""
    try:
        done, _ = os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        return not os.path.exists(f"/proc/{pid}")
    return done == pid


def _descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        out.append(pid)
    return out


def _wait_descendants(timeout: float) -> bool:
    deadline = time.monotonic() + timeout
    while True:
        if all(_reap(pid) for pid in _descendants(os.getpid())):
            return True
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)


def stop_descendants(grace: float = 20.0) -> None:
    """Stops every process this one started and waits until each has ended.

    The Spark session is stopped first, then the JVM is asked to exit by
    closing its stdin (it exits on EOF there, and its Python daemon with
    it); whatever is left after ``grace`` seconds gets SIGTERM, then
    SIGKILL.
    """
    pyspark = sys.modules.get("pyspark")
    if pyspark is not None:
        sc_cls = pyspark.SparkContext
        if sc_cls._active_spark_context is not None:
            try:
                sc_cls._active_spark_context.stop()
            except Exception:  # noqa: BLE001 - the processes are stopped below regardless
                pass
        proc = getattr(sc_cls._gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if _wait_descendants(grace):
            return
        for pid in _descendants(os.getpid()):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        grace = 5.0
    if not _wait_descendants(grace):
        raise RuntimeError("child processes outlived SIGKILL")


class RssSampler:
    """Samples :func:`descendants_rss_bytes` every ``interval`` seconds on a
    daemon thread and keeps the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_rss_bytes(me))
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Tracer:
    """Span recorder. Every span names a layer; the spans of one operation
    share its ``op`` id. A traced run also tags the Spark jobs a span
    launches with a job group unique to that span, so event-log counters
    can be attributed to it afterwards. When disabled, ``span`` only runs
    the body (and yields a scratch dict): untraced runs pay nothing.
    """

    def __init__(self, spark_context=None, enabled: bool = False):
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op: str | None = None

    @contextmanager
    def op(self, name: str):
        """Marks one operation; spans inside it carry its id."""
        prev = self._op
        self._op = f"{name}#{len(self.spans)}"
        try:
            yield self._op
        finally:
            self._op = prev

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {
            "name": name,
            "group": f"{name}#{len(self.spans)}",
            "op": self._op,
            "parent": self._stack[-1]["group"] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc.setJobGroup("untraced", "outside any span")


def high_percentile(xs: list[float]) -> tuple[int, float] | None:
    """The highest of p90/p99/p999 that has at least ten samples beyond it
    (``None`` when the sample count supports none of them)."""
    best = None
    for p in (90, 99, 99.9):
        if len(xs) * (100 - p) / 100 >= 10:
            ordered = sorted(xs)
            idx = min(len(ordered) - 1, math.ceil(len(ordered) * p / 100) - 1)
            best = (p, ordered[idx])
    return best


def pairs_of_clusters(members: dict) -> set[tuple[str, str]]:
    """All unordered id pairs that share a cluster: ``members`` maps a
    cluster id to its member ids."""
    out = set()
    for ids in members.values():
        ids = sorted(ids)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                out.add((a, b))
    return out


def pairwise_f1(predicted: set, truth: set) -> float:
    tp = len(predicted & truth)
    if tp == 0:
        return 0.0
    precision, recall = tp / len(predicted), tp / len(truth)
    return 2 * precision * recall / (precision + recall)
