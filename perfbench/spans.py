"""Benchmark-side instrumentation: spans around calls into the engine's
layers, Spark status-store readers and a /proc RSS sampler.

Spans are recorded by wrapping module attributes from the benchmark's
own code (no engine file changes). They are held in memory and written
out with the run record. Spark jobs are attributed to the innermost
span open on the calling thread when the job was submitted.
"""

from __future__ import annotations

import functools
import os
import re
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: int
    start_ms: float
    end_ms: float = 0.0
    parent: int | None = None
    jobs: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Tracer:
    """Records spans for the operation set by :meth:`begin_op`.

    ``wrap`` registers a patch; ``install``/``uninstall`` apply and
    restore all patches, so traced and untraced operations can
    alternate in one process."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op = -1
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object, object]] = []
        self._main = threading.main_thread()
        self.captured: dict[str, tuple] = {}

    def begin_op(self, op: int) -> None:
        self.op = op
        self._stack.clear()

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, self.op, time.time() * 1000.0, parent=parent))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, index: int) -> None:
        self.spans[index].end_ms = time.time() * 1000.0
        self._stack.remove(index)

    def wrap(self, module, attr: str, name: str, capture: bool = False) -> None:
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if threading.current_thread() is not self._main:
                return original(*args, **kwargs)
            index = self.open(name)
            try:
                result = original(*args, **kwargs)
            finally:
                self.close(index)
            if capture:
                self.captured[name] = (args, kwargs, result)
            return result

        self._patches.append((module, attr, original, traced))

    def install(self) -> None:
        for module, attr, _, traced in self._patches:
            setattr(module, attr, traced)

    def uninstall(self) -> None:
        for module, attr, original, _ in self._patches:
            setattr(module, attr, original)

    def self_seconds(self, index: int) -> float:
        """Span duration minus the time its direct children cover
        (children run on the same thread, so they never overlap)."""
        span = self.spans[index]
        children = sum(s.seconds for s in self.spans if s.parent == index)
        return span.seconds - children

    def attribute_jobs(self, op: int, jobs: list["JobInfo"]) -> None:
        """Give each job to the innermost span of ``op`` that was open
        at its submission time."""
        candidates = [i for i, s in enumerate(self.spans) if s.op == op]
        for job in jobs:
            best, depth = None, -1
            for i in candidates:
                s = self.spans[i]
                if s.start_ms <= job.submitted_ms <= s.end_ms:
                    d = self._depth(i)
                    if d > depth:
                        best, depth = i, d
            if best is not None:
                self.spans[best].jobs.append(job.job_id)

    def _depth(self, index: int) -> int:
        depth = 0
        while self.spans[index].parent is not None:
            index = self.spans[index].parent
            depth += 1
        return depth


# ------------------------------------------------------ Spark status store


@dataclass
class JobInfo:
    job_id: int
    group: str | None
    submitted_ms: float
    stage_ids: list[int]


@dataclass
class StageTotals:
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


class SparkStats:
    """Reads jobs, stages and SQL-node metrics from the live status
    stores (works with ``spark.ui.enabled=false``)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def jobs(self, group: str) -> list[JobInfo]:
        store = self.sc._jsc.sc().statusStore()
        out = []
        for j in self._conv.asJava(store.jobsList(None)):
            g = j.jobGroup()
            name = g.get() if g.isDefined() else None
            if name != group:
                continue
            sub = j.submissionTime()
            out.append(
                JobInfo(
                    int(j.jobId()),
                    name,
                    float(sub.get().getTime()) if sub.isDefined() else 0.0,
                    [int(s) for s in self._conv.asJava(j.stageIds())],
                )
            )
        return sorted(out, key=lambda j: j.job_id)

    def stage_totals(self, jobs: list[JobInfo]) -> StageTotals:
        store = self.sc._jsc.sc().statusStore()
        t = StageTotals()
        seen: set[int] = set()
        for job in jobs:
            for sid in job.stage_ids:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # py4j: stage evicted or never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                t.stages += 1
                t.tasks += int(st.numCompleteTasks()) + int(st.numFailedTasks())
                t.run_s += st.executorRunTime() / 1e3
                t.cpu_s += st.executorCpuTime() / 1e9
                t.gc_s += st.jvmGcTime() / 1e3
                t.input_bytes += int(st.inputBytes())
                t.shuffle_write_bytes += int(st.shuffleWriteBytes())
                t.spill_bytes += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        return t

    def python_seconds(self, job_ids: set[int]) -> dict[str, float]:
        """Sum the Python-worker SQL metrics of every SQL execution that
        ran one of ``job_ids``: boot (start + initialize) and run."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        out = {"boot": 0.0, "run": 0.0}
        for e in self._conv.asJava(sql.executionsList()):
            ran = {int(k) for k in self._conv.asJava(e.jobs().keySet())}
            if not ran & job_ids:
                continue
            names = {int(m.accumulatorId()): m.name() for m in self._conv.asJava(e.metrics())}
            values = self._conv.asJava(sql.executionMetrics(e.executionId()))
            for acc, text in values.items():
                name = names.get(int(acc), "")
                if name in ("time to start Python workers", "time to initialize Python workers"):
                    out["boot"] += parse_total_seconds(text)
                elif name == "time to run Python workers":
                    out["run"] += parse_total_seconds(text)
        return out


_UNIT_SECONDS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_TOTAL = re.compile(r"([0-9][0-9.,]*)\s*(ms|s|min|m|h)\b")


def parse_total_seconds(text: str) -> float:
    """Total of a formatted Spark timing metric, e.g.
    ``'total (min, med, max (stageId: taskId))\\n7.0 s (1.7 s, ...)'``."""
    body = text.split("\n", 1)[-1]
    m = _TOTAL.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_SECONDS[m.group(2)]


# ----------------------------------------------------------- RSS sampler


class RssSampler:
    """Peak resident memory of the driver, the JVM and the Python workers
    since the last :meth:`reset`, per process. A child's peak is its
    kernel high-water mark (VmHWM), so short spikes between samples
    still count; the driver's own is its sampled VmRSS, so input
    generation before the reset does not."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self._peaks: dict[int, int] = {}
        self._kinds: dict[int, str] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def by_process(self) -> dict[str, float]:
        """Summed peak MB per process kind (driver, JVM, Python workers
        and their daemon), and the number of Python processes."""
        out = {"driver_mb": 0.0, "jvm_mb": 0.0, "python_mb": 0.0, "python_processes": 0}
        with self._lock:
            peaks = dict(self._peaks)
        for pid, value in peaks.items():
            kind = self._kinds.get(pid, "python_mb")
            out[kind] += value / 2**20
            out["python_processes"] += kind == "python_mb"
        return out

    def reset(self) -> None:
        with self._lock:
            self._peaks.clear()
            self._kinds.clear()
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        me = os.getpid()
        for pid in descendants(me, include_self=True):
            kb = _status_kb(pid, "VmRSS:" if pid == me else "VmHWM:")
            if pid not in self._kinds:
                self._kinds[pid] = "driver_mb" if pid == me else _kind(pid)
            with self._lock:
                self._peaks[pid] = max(self._peaks.get(pid, 0), kb * 1024)


def _kind(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return "python_mb"
    return "jvm_mb" if b"java" in cmd.split(b"\0")[0] else "python_mb"


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return 0


def tree_cpu_s() -> dict[str, float]:
    """CPU seconds (user + system) used so far by this process and every
    live descendant, including the children each has reaped, per kind:
    ``driver``, ``jvm`` and ``python`` workers, plus ``jit``, the part of
    ``jvm`` the JIT compiler threads used (the JVM runs a fixed set of
    them, see ``run.py``, so none exits and takes its count with it).
    Time the hypervisor steals and time spent waiting for a core are not
    counted."""
    ticks = {"driver": 0, "jvm": 0, "python": 0, "jit": 0}
    me = os.getpid()
    for pid in descendants(me, include_self=True):
        kind = "driver" if pid == me else _kind(pid)[: -len("_mb")]
        # fields 14-17: utime, stime, cutime, cstime
        ticks[kind] += sum(_stat_fields(f"/proc/{pid}/stat")[11:15])
        if kind != "jvm":
            continue
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    name = fh.read()
            except OSError:
                continue
            if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                ticks["jit"] += sum(_stat_fields(f"/proc/{pid}/task/{tid}/stat")[11:13])
    return {k: v / os.sysconf("SC_CLK_TCK") for k, v in ticks.items()}


def _stat_fields(path: str) -> list[int]:
    """The numeric fields of a /proc stat file after the command name,
    from field 3 (state, read as 0) on; empty if the task is gone."""
    try:
        with open(path) as fh:
            stat = fh.read()
    except OSError:
        return []
    return [0] + [int(f) for f in stat[stat.rindex(")") + 4 :].split()]


def descendants(root: int, include_self: bool = False) -> list[int]:
    """Pids of every live descendant of ``root`` (from /proc/*/stat)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for child in children.get(pid, []):
            out.append(child)
            todo.append(child)
    return ([root] if include_self else []) + out
