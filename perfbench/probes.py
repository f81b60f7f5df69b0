"""Measurement probes used by the benchmark: an in-memory span tracer, a
``/proc`` sampler for the PySpark worker processes, and a reader for Spark's
per-stage / per-task metrics from the driver's status store.

None of these touch the package under test: they observe it from the
benchmark's side of each layer call.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections.abc import Iterator
from contextlib import contextmanager
from typing import Any


class Tracer:
    """Spans kept in memory and written out once at the end of a run.

    Each span has a name, start, end, parent span id and the run id. With
    ``enabled=False`` ``span()`` records nothing, so untraced runs pay no
    bookkeeping at layer boundaries."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus the time its
        direct children cover (children of one parent never overlap: spans
        are opened from the single driver thread)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def parents(self) -> set[str]:
        """Names of the spans that have at least one child span."""
        return {self.spans[s["parent"]]["name"] for s in self.spans if s["parent"] is not None}

    def write(self, path: str, extra: dict[str, Any]) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                {"run_id": self.run_id, "spans": spans, "self_s": self.self_times(), **extra},
                fh,
                indent=1,
            )


# --- time ------------------------------------------------------------------


def cpu_ticks() -> tuple[int, int]:
    """(steal ticks, all ticks) summed over the host's CPUs (/proc/stat)."""
    with open("/proc/stat", encoding="ascii") as fh:
        user, nice, system, idle, iowait, irq, softirq, steal = map(int, fh.readline().split()[1:9])
    return steal, user + nice + system + idle + iowait + irq + softirq + steal


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU ticks between two ``cpu_ticks()`` readings that the
    hypervisor took from this VM (steal)."""
    steal, total = (b - a for a, b in zip(before, after))
    return steal / total if total > 0 else 0.0


class Stopwatch:
    """Times a block in wall-clock ``seconds``."""

    def __enter__(self) -> Stopwatch:
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc: object) -> None:
        self.seconds = time.perf_counter() - self._t0


# --- PySpark worker processes, read from /proc ------------------------------

def proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime ticks) for every visible process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % name, "rb") as fh:
                stat = fh.read()
        except OSError:  # exited between listdir and open
            continue
        fields = stat[stat.rfind(b")") + 2 :].split()
        table[int(name)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    return table


def _cmdline(pid: int) -> bytes:
    try:
        with open("/proc/%d/cmdline" % pid, "rb") as fh:
            return fh.read()
    except OSError:
        return b""


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open("/proc/%d/status" % pid, "rb") as fh:
            for line in fh:
                if line.startswith(b"VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int, table: dict[int, tuple[int, int]]) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _cpu) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def python_workers(root: int, table: dict[int, tuple[int, int]]) -> set[int]:
    """PySpark python workers under ``root``: processes forked by a
    ``pyspark.daemon`` (which carry the daemon's command line), or
    ``pyspark.worker`` processes launched without the daemon."""
    procs = descendants(root, table)
    cmd = {pid: _cmdline(pid) for pid in procs}
    daemons = {p for p, c in cmd.items() if b"pyspark.daemon" in c}
    return {
        p
        for p, c in cmd.items()
        if b"pyspark.worker" in c or (p in daemons and table[p][0] in daemons)
    }


# Period of the background /proc sample. A worker's VmHWM is a high-water
# mark, so a slower sample only misses workers that exit between two
# samples; 0.25 s reads /proc a few times per task of a pass.
SAMPLE_INTERVAL_S = 0.25


class WorkerSampler:
    """Background sampler of the PySpark workers below this process: the
    highest VmHWM any worker reached, and each worker's CPU ticks, so a
    window can tell which workers did work inside it."""

    def __init__(self) -> None:
        self._root = os.getpid()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="perfbench-sampler", daemon=True)
        self.peak_hwm_kb = 0
        self._cpu: dict[int, int] = {}  # pid -> last seen cpu ticks
        self._opened: dict[int, int] | None = None  # open window: pid -> cpu at open

    def __enter__(self) -> WorkerSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self.sample()
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            self.sample()

    def sample(self) -> None:
        table = proc_table()
        workers = python_workers(self._root, table)
        hwm = max((_vm_hwm_kb(p) for p in workers), default=0)
        with self._lock:
            self.peak_hwm_kb = max(self.peak_hwm_kb, hwm)
            for p in workers:
                if self._opened is not None:
                    self._opened.setdefault(p, 0)  # started inside the window
                self._cpu[p] = table[p][1]

    @contextmanager
    def window(self) -> Iterator[dict[str, int]]:
        """Yields a dict that holds, once the block ends, ``worker_pids``: the
        number of distinct workers whose CPU time grew inside the block."""
        self.sample()
        with self._lock:
            opened = self._opened = dict(self._cpu)
        out: dict[str, int] = {}
        try:
            yield out
        finally:
            self.sample()
            with self._lock:
                self._opened = None
                out["worker_pids"] = sum(
                    1 for p, cpu in self._cpu.items() if p in opened and cpu > opened[p]
                )


# --- Spark status store -----------------------------------------------------


def _opt(o: Any, default: Any = None) -> Any:
    return o.get() if o.isDefined() else default


def stage_metrics(spark: Any, job_group: str) -> list[dict[str, Any]]:
    """Per-stage metrics (and per-task run times) of every job started under
    ``job_group``, read from the driver's status store after the listener
    bus has drained. Stages that AQE skipped have no attempt and are left
    out."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()  # noqa: SLF001
    jsc.listenerBus().waitUntilEmpty(30_000)
    tracker = sc.statusTracker()
    stage_ids = sorted(
        {
            sid
            for jid in tracker.getJobIdsForGroup(job_group)
            for sid in tracker.getJobInfo(jid).stageIds
        }
    )
    store = jsc.statusStore()
    to_java = sc._jvm.scala.jdk.javaapi.CollectionConverters  # noqa: SLF001
    out = []
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # py4j error wrapping NoSuchElementException: never ran
            continue
        if sd.numCompleteTasks() == 0:
            continue
        tasks = to_java.asJava(store.taskList(sid, sd.attemptId(), 1 << 20))
        task_s = []
        for t in tasks:
            m = _opt(t.taskMetrics())
            if m is not None:
                task_s.append(m.executorRunTime() / 1000.0)
        out.append(
            {
                "stage_id": sid,
                "name": sd.name(),
                "num_tasks": sd.numCompleteTasks(),
                "run_s": sd.executorRunTime() / 1000.0,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "gc_s": sd.jvmGcTime() / 1000.0,
                "deserialize_s": sd.executorDeserializeTime() / 1000.0,
                "shuffle_write_mb": sd.shuffleWriteBytes() / 1e6,
                "shuffle_read_mb": sd.shuffleReadBytes() / 1e6,
                "task_s": task_s,
            }
        )
    return out


def busiest_stage(stages: list[dict[str, Any]]) -> dict[str, Any]:
    """The stage with the most executor run time: in an extraction job, the
    one running the python pass after the salt Exchange."""
    return max(stages, key=lambda s: s["run_s"])


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in [0, 1]) of a non-empty list."""
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, max(0, round(q * (len(ordered) - 1))))]
