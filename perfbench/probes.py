"""Measurement from outside the engine: spans, Spark status-store counts,
Py4J call counts and resident memory.

Nothing here reaches into `financedatabase_spark`. Each operation phase runs
under its own Spark job group, and the counts for that phase are read back
from Spark's own status store after the phase returns (the listener bus is
drained first, so every finished stage is visible).
"""

from __future__ import annotations

import itertools
import os
import re
import subprocess
import sys
import threading
import time
from collections.abc import Iterable

PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "InPandas", "InArrow", "PythonUDTF")
_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


class Spans:
    """In-memory span log: (name, start, end, parent, op). Written once at
    exit by the caller."""

    def __init__(self) -> None:
        self.rows: list[dict] = []
        self._t0 = time.perf_counter()

    def open(self, name: str, parent: int | None, op: int | None) -> int:
        self.rows.append({"name": name, "start": time.perf_counter() - self._t0,
                          "end": None, "parent": parent, "op": op})
        return len(self.rows) - 1

    def close(self, sid: int) -> float:
        row = self.rows[sid]
        row["end"] = time.perf_counter() - self._t0
        return row["end"] - row["start"]


class Py4JCounter:
    """Counts Py4J commands by wrapping the gateway client's send_command.
    Installed in traced runs only."""

    def __init__(self, sc) -> None:
        self.n = 0
        client = sc._gateway._gateway_client
        orig = client.send_command

        def counting(*args, **kwargs):
            self.n += 1
            return orig(*args, **kwargs)

        client.send_command = counting


class StatusReader:
    """Per-job-group counts from the JVM status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = self.sql_store.executionsCount()

    def mark(self) -> None:
        """Call before a traced phase: SQL executions that finished before
        it (untraced passes, set-up) are not scanned by the next
        `group_stats`, which keeps the tracing overhead low."""
        self.jsc.listenerBus().waitUntilEmpty()
        self._sql_seen = self.sql_store.executionsCount()

    def group_stats(self, group: str, t_start: float, t_end: float) -> dict:
        """Counts for every job of ``group``; ``t_start``/``t_end`` are the
        phase's epoch seconds, used for the driver-gap computation."""
        self.jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys((
            "jobs", "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s",
            "stage_wait_s", "input_bytes", "input_records", "shuffle_read_records",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "py_udf_run_s", "write_job_s", "scan_job_s", "output_bytes",
        ), 0)
        intervals = []
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        for jid in job_ids:
            out["jobs"] += 1
            job = self.store.job(jid)
            job_s = _span_s(job.submissionTime(), job.completionTime())
            writes = False
            for sid in self.sc.statusTracker().getJobInfo(jid).stageIds:
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() not in ("COMPLETE", "FAILED"):
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                run_s = sd.executorRunTime() / 1e3
                out["task_run_s"] += run_s
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["input_bytes"] += sd.inputBytes()
                out["input_records"] += sd.inputRecords()
                out["shuffle_read_records"] += sd.shuffleReadRecords()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.diskBytesSpilled()
                out["output_bytes"] += sd.outputBytes()
                writes = writes or sd.outputBytes() > 0
                sub, first, done = (sd.submissionTime(), sd.firstTaskLaunchedTime(),
                                    sd.completionTime())
                if sub.isDefined() and first.isDefined():
                    out["stage_wait_s"] += (first.get().getTime() - sub.get().getTime()) / 1e3
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
                if self._runs_python(sid):
                    out["py_udf_run_s"] += run_s
            out["write_job_s" if writes else "scan_job_s"] += job_s
        out["driver_gap_s"] = max(0.0, (t_end - t_start) - _covered(intervals, t_start, t_end))
        out["py_udf_bytes"] = self._python_bytes_sent(set(job_ids))
        return out

    def _runs_python(self, sid: int) -> bool:
        graph = self.store.operationGraphForStage(sid)
        stack = [graph.rootCluster()]
        while stack:
            cluster = stack.pop()
            if any(k in cluster.name() for k in PY_NODES):
                return True
            it = cluster.childClusters().iterator()
            while it.hasNext():
                stack.append(it.next())
        return False

    def _python_bytes_sent(self, job_ids: set[int]) -> int:
        """'data sent to Python workers' summed over the SQL executions
        that finished since the previous call and ran jobs of ``job_ids``."""
        count = self.sql_store.executionsCount()
        if count <= self._sql_seen:
            return 0
        new = self.sql_store.executionsList(self._sql_seen, count - self._sql_seen)
        self._sql_seen = count
        total = 0
        it = new.iterator()
        while it.hasNext():
            ex = it.next()
            if not any(ex.jobs().contains(j) for j in job_ids):
                continue
            ids = []
            nodes = self.sql_store.planGraph(ex.executionId()).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                if not any(k in node.name() for k in PY_NODES):
                    continue
                ms = node.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    if m.name() == "data sent to Python workers":
                        ids.append(m.accumulatorId())
            if not ids:
                continue
            values = self.sql_store.executionMetrics(ex.executionId())
            for acc in ids:
                v = values.get(acc)
                if v.isDefined():
                    total += _first_size(v.get())
        return total

    def live_checkpoints(self) -> tuple[int, int]:
        """(RDDs held in block storage, their memory + disk bytes)."""
        infos = self.jsc.getRDDStorageInfo()
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos)


def _span_s(start_opt, end_opt) -> float:
    if start_opt.isDefined() and end_opt.isDefined():
        return (end_opt.get().getTime() - start_opt.get().getTime()) / 1e3
    return 0.0


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _first_size(text: str) -> int:
    m = _SIZE.search(text)
    return int(float(m.group(1)) * _UNITS[m.group(2)]) if m else 0


class RssSampler:
    """Peak summed RSS of this process, the Spark JVM and every descendant
    of either (the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        procs: dict[int, int] = {}
        for tick in itertools.count():
            if tick % 8 == 0:  # the process tree changes rarely; /proc walks are not free
                procs = tree_pids()
            statm = {}
            for pid in procs:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        statm[pid] = tuple(int(x) for x in f.read().split())
                except (OSError, ValueError):
                    pass
            # A child whose memory figures equal its parent's exactly still
            # shares the parent's pages: the JVM spawns shell commands, and
            # between fork and exec such a child shows the whole JVM.
            total = sum(m[1] for pid, m in statm.items() if statm.get(procs[pid]) != m)
            self.peak_bytes = max(self.peak_bytes, total * page)
            if self._stop.wait(self.interval):
                return


def tree_cpu_s(pids: Iterable[int]) -> float:
    """User + system CPU seconds of ``pids``, including their reaped
    children. CPU time the hypervisor steals from the VM is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return total / tick


def tree_pids() -> dict[int, int]:
    """This process and all its descendants, each mapped to its parent (the
    JVM is a child of this process; the Python workers are children of the
    JVM)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, stack = {}, [(os.getpid(), os.getppid())]
    while stack:
        pid, parent = stack.pop()
        out[pid] = parent
        stack.extend((child, pid) for child in children.get(pid, []))
    return out


_PING = """
import os, sys, time
n = int(sys.argv[1])
r1, w1 = os.pipe()
r2, w2 = os.pipe()
if os.fork() == 0:
    for _ in range(n):
        os.read(r1, 1)
        os.write(w2, b"x")
    os._exit(0)
t0 = time.perf_counter()
for _ in range(n):
    os.write(w1, b"x")
    os.read(r2, 1)
print((time.perf_counter() - t0) / n * 1e6)
os.wait()
"""


def wakeup_us(n: int = 3000) -> float:
    """Mean round trip, in microseconds, of one byte between two fresh
    processes through a pair of pipes: how long this VM takes to wake a
    waiting process. A diagnostic printed beside the results, not a metric.
    On a shared host it rises with the neighbours' load, and the engine's
    thread and process hand-offs (driver, executor threads, Py4J, Python
    workers) slow with it."""
    out = subprocess.run([sys.executable, "-c", _PING, str(n)], capture_output=True,
                         text=True, check=True, timeout=60)
    return float(out.stdout)
