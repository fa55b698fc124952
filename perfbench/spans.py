"""Spans, Spark job-group statistics and a process-tree RSS sampler.

A span names a layer (one of the package's modules), sets the Spark job
group for its body, and on exit reads the jobs of that group from
``statusTracker`` and the stage data from the driver's status store (both
work with ``spark.ui.enabled=false``). Spans are kept in memory and written
out once, at exit.
"""

from __future__ import annotations

import contextlib
import json
import os
import signal
import threading
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame

# The layer map: each layer (a package module), the workloads whose traced
# run times it, and the end-to-end metric a change to it should move.
LAYER_MAP = {
    "sources": ("all", "setup_s on all workloads"),
    "chunking": ("longdoc_sweep longdoc_llm", "run_s on longdoc_sweep"),
    "collapse": ("longdoc_sweep longdoc_llm", "run_s on longdoc_sweep; llm_calls_per_doc on longdoc_llm"),
    "critique": ("longdoc_sweep longdoc_llm", "run_s on longdoc_sweep; llm_calls_per_doc on longdoc_llm"),
    "grouped": ("longdoc_sweep", "run_s on longdoc_sweep"),
    "hierarchical": ("longdoc_sweep", "run_s on longdoc_sweep"),
    "summarizer": ("longdoc_sweep longdoc_llm",
                   "run_s, docs_per_s and llm_calls_per_doc on longdoc_llm; no change on the other two"),
    "judge": ("longdoc_llm", "run_s and error_rate on longdoc_llm"),
    "evaluate": ("longdoc_sweep", "run_s on longdoc_sweep"),
    "aggregate": ("longdoc_sweep", "run_s on longdoc_sweep"),
    "sink": ("longdoc_sweep", "run_s on longdoc_sweep"),
    "dedup": ("corpus_curation", "run_s on corpus_curation"),
    "components": ("corpus_curation", "run_s and leaked_rdds on corpus_curation"),
    "similarity": ("corpus_curation", "run_s on corpus_curation"),
    "contamination": ("corpus_curation", "run_s on corpus_curation"),
    "report": ("corpus_curation", "run_s on corpus_curation"),
}
LAYERS = list(LAYER_MAP)
GENERIC = ["self_s", "jobs", "tasks", "executor_run_s", "shuffle_mb", "occupancy"]


def group_stats(sc, group: str) -> dict:
    """Jobs, tasks, failed tasks, executor run seconds and shuffle bytes of
    every job run under ``group``."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    out = {"jobs": len(jobs), "tasks": 0, "failed_tasks": 0, "executor_run_s": 0.0, "shuffle_mb": 0.0,
           "shuffle_records": 0}
    for s in stages:
        try:
            sd = store.lastStageAttempt(s)
        except Py4JJavaError:  # skipped stage: never attempted
            continue
        out["tasks"] += sd.numCompleteTasks()
        out["failed_tasks"] += sd.numFailedTasks()
        out["executor_run_s"] += sd.executorRunTime() / 1e3
        out["shuffle_mb"] += sd.shuffleWriteBytes() / 1e6
        out["shuffle_records"] += sd.shuffleWriteRecords()
    return out


class Tracer:
    """Flat spans under one root per iteration; each span is one layer call."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[dict] = []
        self._root: int | None = None

    @contextlib.contextmanager
    def iteration(self, name: str):
        self._root = self._new(name, None)
        try:
            yield
        finally:
            self.spans[self._root]["end"] = time.perf_counter()
            self._root = None

    @contextlib.contextmanager
    def span(self, layer: str):
        idx = self._new(layer, self._root)
        group = f"perfbench:{layer}:{idx}"
        self.sc.setJobGroup(group, layer)
        try:
            yield
        finally:
            self.spans[idx]["end"] = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans[idx].update(group_stats(self.sc, group))

    def _new(self, name: str, parent: int | None) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent, "start": time.perf_counter()})
        return len(self.spans) - 1

    def layer_metrics(self, root: int) -> dict:
        """Generic per-layer metrics summed over the spans under ``root``."""
        out = {f"{layer}.{g}": 0.0 for layer in LAYERS for g in GENERIC}
        for s in self.spans:
            if s["parent"] != root:
                continue
            L = s["name"]
            out[f"{L}.self_s"] += s["end"] - s["start"]
            for k in ("jobs", "tasks", "executor_run_s", "shuffle_mb"):
                out[f"{L}.{k}"] += s[k]
        for L in LAYERS:
            wall = out[f"{L}.self_s"]
            out[f"{L}.occupancy"] = out[f"{L}.executor_run_s"] / (wall * self.cores) if wall else 0.0
        return out

    def roots(self) -> list[int]:
        return [s["id"] for s in self.spans if s["parent"] is None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


@contextlib.contextmanager
def patched(owner, name: str, wrap):
    """Replace ``owner.name`` by ``wrap(original)`` inside the block."""
    orig = getattr(owner, name)
    setattr(owner, name, wrap(orig))
    try:
        yield
    finally:
        setattr(owner, name, orig)


@contextlib.contextmanager
def count_calls(owner, name: str):
    """Count the calls of ``owner.name`` made inside the block."""
    counts = {"calls": 0}

    def wrap(orig):
        def counting(*args, **kwargs):
            counts["calls"] += 1
            return orig(*args, **kwargs)
        return counting

    with patched(owner, name, wrap):
        yield counts


@contextlib.contextmanager
def count_checkpoints():
    """Count ``DataFrame.localCheckpoint`` calls made inside the block, split
    into eager and lazy. The package's driver loops checkpoint lazily once
    per round, so the lazy count gives their round counts from outside."""
    counts = {"eager": 0, "lazy": 0}

    def wrap(orig):
        def counting(self, eager=True, *args, **kwargs):
            counts["eager" if eager else "lazy"] += 1
            return orig(self, eager, *args, **kwargs)
        return counting

    with patched(_ClassicDataFrame, "localCheckpoint", wrap):
        yield counts


def _stat_fields(pid: int) -> list[str]:
    """``/proc/<pid>/stat`` after the command name: state, ppid, ..."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                children.setdefault(int(_stat_fields(int(pid))[1]), []).append(int(pid))
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        out.append(p)
        frontier += children.get(p, [])
    return out


def _identity(pid: int) -> tuple[int, str] | None:
    """(pid, start time) of a live, unreaped process; None once it has ended.
    The start time tells a process from a later one that reused its pid."""
    try:
        f = _stat_fields(pid)
    except (OSError, IndexError):
        return None
    return None if f[0] in ("Z", "X") else (pid, f[19])


def descendants() -> set[tuple[int, str]]:
    """Identities of every live descendant of this process."""
    return {i for i in map(_identity, process_tree(os.getpid())[1:]) if i is not None}


def wait_ended(procs: set[tuple[int, str]], timeout: float) -> set[tuple[int, str]]:
    """Poll until each process in ``procs`` has ended or ``timeout`` passes;
    return those still running."""
    deadline = time.monotonic() + timeout
    while True:
        procs = {p for p in procs if _identity(p[0]) == p}
        if not procs or time.monotonic() >= deadline:
            return procs
        time.sleep(0.05)


def end_processes(procs: set[tuple[int, str]], grace: float) -> set[tuple[int, str]]:
    """SIGTERM, then after ``grace`` seconds SIGKILL, every process of
    ``procs`` still running; wait for each to end and return any that
    would not."""
    for sig, wait in ((signal.SIGTERM, grace), (signal.SIGKILL, 10.0)):
        for pid, _ in procs:
            with contextlib.suppress(OSError):
                os.kill(pid, sig)
        procs = wait_ended(procs, wait)
        if not procs:
            break
    return procs


def host_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) of the host's CPUs so far, from /proc/stat:
    the share of time the hypervisor gave this machine's vCPUs to others."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` (default: this process) and its
    descendants (the driver JVM and its Python workers), reaped children
    included."""
    total = 0
    for pid in process_tree(root or os.getpid()):
        try:
            total += sum(int(x) for x in _stat_fields(pid)[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak summed resident memory of every descendant process of this one
    (the driver JVM and its Python workers), sampled from ``/proc``."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            total = 0
            for pid in process_tree(me)[1:]:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self._page
                except (OSError, IndexError, ValueError):
                    continue
            self.peak_mb = max(self.peak_mb, total / 2**20)
