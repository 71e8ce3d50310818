"""Measurement from outside the program: process-tree CPU and memory, JVM GC,
spans around calls into each layer, and Spark event-log task metrics.

Nothing here runs inside the pipeline. CPU comes from ``/proc/<pid>/stat`` of
the JVM and its Python worker descendants; GC time from the JVM's
``GarbageCollectorMXBean``s over the py4j gateway; rows read, bytes written
and Arrow-boundary bytes from the task-end events of Spark's own event log,
matched to spans through the job group each span sets.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager
from pathlib import Path
from typing import Iterator, Optional

HZ = os.sysconf("SC_CLK_TCK")


def _children_index() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    """``pid``'s live descendants (not ``pid`` itself)."""
    kids = _children_index()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _stat_cpu(pid: int) -> tuple[int, int]:
    """(own utime+stime, reaped children's cutime+cstime) in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12]), int(fields[13]) + int(fields[14])
    except (OSError, ValueError, IndexError):
        return 0, 0


def _status_kb(pid: int, key: str, name: str = "status") -> int:
    """A memory field of ``/proc/<pid>/<name>`` (``status``: ``VmHWM``;
    ``smaps_rollup``: ``Pss``) in KiB."""
    try:
        with open(f"/proc/{pid}/{name}") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def _is_python(pid: int) -> bool:
    """Whether ``pid`` runs a Python interpreter. The JVM also has short-lived
    children of its own (process launches through ``posix_spawn``) which,
    until they exec, share the JVM's memory and report it as theirs."""
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")).startswith("python")
    except OSError:
        return False


class JobTree:
    """The JVM and its Python worker processes.

    ``cpu()`` returns cumulative (jvm_s, py_s): the JVM's own CPU, and the
    CPU of every process below it (the PySpark daemon, its live workers,
    and exited workers the daemon has reaped). The peak memory is the
    JVM's peak resident set (VmHWM) plus the largest proportional set size
    (PSS) of its Python processes together that a sampler thread has seen:
    the workers are forked from a PySpark daemon and share its pages, which
    a sum of their resident sets would count once per worker.
    """

    def __init__(self, jvm_pid: int, sample_s: float = 0.5):
        self.jvm = jvm_pid
        self._py_peak_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample_loop,
                                        args=(sample_s,), daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        kb = sum(_status_kb(p, "Pss", "smaps_rollup")
                 for p in descendants(self.jvm) if _is_python(p))
        with self._lock:
            self._py_peak_kb = max(self._py_peak_kb, kb)

    def _sample_loop(self, period: float) -> None:
        while not self._stop.wait(period):
            self._sample()

    def cpu(self) -> tuple[float, float]:
        jvm, _ = _stat_cpu(self.jvm)
        py = 0
        for p in descendants(self.jvm):
            own, reaped = _stat_cpu(p)
            py += own + reaped
        return jvm / HZ, py / HZ

    def peak_rss_parts_mb(self) -> tuple[float, float]:
        """(JVM peak RSS, Python processes' peak PSS) so far; their sum is
        the job tree's peak memory."""
        self._sample()
        with self._lock:
            return _status_kb(self.jvm, "VmHWM") / 1024.0, self._py_peak_kb / 1024.0

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def find_jvm(spark) -> int:
    """The pid of the JVM behind ``spark`` (asked over the gateway)."""
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def gc_seconds(spark) -> float:
    """Cumulative GC time of every collector in the JVM."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime())
               for b in mf.getGarbageCollectorMXBeans()) / 1000.0


class Tracer:
    """In-memory spans: name, start, end, parent, run id, CPU/GC deltas.

    Each span sets the Spark job group to its id, so the event log's task
    metrics can be attributed to it afterwards (:func:`task_totals`).
    """

    def __init__(self, spark, tree: JobTree):
        self.spark = spark
        self.tree = tree
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        sid = f"{self.run_id}-{len(self.spans)}"
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        sc = self.spark.sparkContext
        sc.setJobGroup(sid, name)
        self._stack.append(sid)
        jvm0, py0 = self.tree.cpu()
        gc0 = gc_seconds(self.spark)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            jvm1, py1 = self.tree.cpu()
            rec["jvm_cpu_s"] = jvm1 - jvm0
            rec["py_cpu_s"] = py1 - py0
            rec["job_cpu_s"] = rec["jvm_cpu_s"] + rec["py_cpu_s"]
            rec["jvm_gc_s"] = gc_seconds(self.spark) - gc0
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1], "")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def write(self, path: Path, extra: Optional[dict] = None) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        out = {"run_id": self.run_id, "spans": self.spans, **(extra or {})}
        path.write_text(json.dumps(out, indent=1, default=str))


#: accumulable names of the Arrow-boundary SQL metrics (PythonSQLMetrics)
ARROW_SENT = "data sent to Python workers"
ARROW_RECV = "data returned from Python workers"


def task_totals(event_log_dir: Path) -> dict[str, dict[str, float]]:
    """Per job group: task-level totals from the finished event log.

    Keys: records_read, bytes_written, records_written, executor_cpu_s,
    task_gc_s, arrow_bytes (sent + returned across the Arrow boundary).
    Input bytes are left out: the task metric undercounts vectorized
    parquet reads several-fold.
    """
    logs = sorted(p for p in event_log_dir.iterdir()
                  if not p.name.endswith(".inprogress"))
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for log in logs:
        with open(log) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    acc = out.setdefault(group, {
                        "records_read": 0, "bytes_written": 0,
                        "records_written": 0, "executor_cpu_s": 0.0,
                        "task_gc_s": 0.0, "arrow_bytes": 0})
                    m = ev.get("Task Metrics") or {}
                    inp = m.get("Input Metrics") or {}
                    outm = m.get("Output Metrics") or {}
                    acc["records_read"] += inp.get("Records Read", 0)
                    acc["bytes_written"] += outm.get("Bytes Written", 0)
                    acc["records_written"] += outm.get("Records Written", 0)
                    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["task_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if a.get("Name") in (ARROW_SENT, ARROW_RECV):
                            acc["arrow_bytes"] += int(a.get("Update") or 0)
    return out
