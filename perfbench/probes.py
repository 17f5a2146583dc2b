"""Measurement probes that watch the engine from outside.

* ``CpuMeter``: CPU seconds by process class, read from ``/proc``: the
  Spark JVM (its JIT compiler threads counted apart), the processes
  under it (the ``pyspark.daemon`` tree, including the
  ``cutime``/``cstime`` of workers that already exited) and this client
  process.
* ``host_sample``: cumulative host steal seconds (``/proc/stat``) and
  the 1-minute load average.
* ``JobCounter``: Spark jobs, stages, tasks and input / shuffle bytes
  per operation, through ``setJobGroup``, the ``StatusTracker`` and the
  status store, read after the listener bus has been drained.
* ``Tracer``: in-memory spans (name, op id, start, end, parent) with
  self time derived from the children.

Nothing here imports pyspark; callers pass the SparkContext in.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, own ticks, reaped-children ticks) for live processes."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:  # exited between listdir and open
            continue
        f = raw[raw.rindex(")") + 2:].split()
        table[int(name)] = (int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14]))
    return table


class CpuMeter:
    """Cumulative CPU seconds of the JVM (its JIT compiler threads apart),
    of its descendants and of this process. Differences of two samples
    give the CPU an operation cost."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        # last seen ticks per JIT compiler thread: a thread that exits
        # keeps its last count (run.py starts the JVM with a fixed set of
        # compiler threads, so none should)
        self.jit_seen: dict[str, int] = {}

    def _jit_ticks(self) -> int:
        """CPU ticks of the JVM's ``C1``/``C2 CompilerThread*`` threads:
        the warm-up share of a young JVM's CPU."""
        task_dir = f"/proc/{self.jvm_pid}/task"
        try:
            tids = os.listdir(task_dir)
        except OSError:
            tids = []
        for tid in tids:
            try:
                with open(f"{task_dir}/{tid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            if "CompilerThre" in raw[raw.index("("):raw.rindex(")")]:
                f = raw[raw.rindex(")") + 2:].split()
                self.jit_seen[tid] = int(f[11]) + int(f[12])
        return sum(self.jit_seen.values())

    def sample(self) -> dict[str, float]:
        table = _proc_table()
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in table.items():
            children.setdefault(ppid, []).append(pid)
        _, jvm_own, jvm_reaped = table.get(self.jvm_pid, (0, 0, 0))
        # processes the JVM started and already reaped count with the workers
        workers = jvm_reaped
        stack = list(children.get(self.jvm_pid, []))
        while stack:
            pid = stack.pop()
            _, own, reaped = table[pid]
            workers += own + reaped
            stack.extend(children.get(pid, []))
        jit = self._jit_ticks()
        return {
            "jvm": (jvm_own - jit) / CLK_TCK,
            "jit": jit / CLK_TCK,
            "pyworker": workers / CLK_TCK,
            "client": time.process_time(),
        }


def cpu_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


def host_sample() -> dict[str, float]:
    """Cumulative host steal seconds and the current 1-minute load."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    with open("/proc/loadavg") as fh:
        load = float(fh.read().split()[0])
    steal = int(cpu[8]) if len(cpu) > 8 else 0
    return {"steal_s": steal / CLK_TCK, "loadavg_1m": load}


class JobCounter:
    """Tags each operation (or phase of one) with its own job group and
    reads back what Spark recorded for it: jobs, stages, completed tasks,
    and the input and shuffle-read bytes of its completed stages (from the
    application status store). Groups nest: ending one restores the
    enclosing one."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        self.no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self.n = 0
        self.open: list[tuple[str, str]] = []

    def begin(self, label: str) -> str:
        self.n += 1
        group = f"perfbench-{self.n}"
        self.open.append((group, label))
        self.sc.setJobGroup(group, label)
        return group

    def _drain(self) -> None:
        """The StatusTracker is fed by the asynchronous listener bus: drain
        it so every job, stage and task event so far is counted."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def _stage_bytes(self, stage_id: int) -> tuple[int, int]:
        """(input bytes, shuffle-read bytes) over the stage's completed
        attempts; skipped stages read nothing."""
        attempts = self.store.stageData(stage_id, False, self.sc._jvm.java.util.ArrayList(),
                                        False, self.no_quantiles).iterator()
        read = shuffled = 0
        while attempts.hasNext():
            d = attempts.next()
            if d.status().toString() == "COMPLETE":
                read += d.inputBytes()
                shuffled += d.shuffleReadBytes()
        return read, shuffled

    def end(self, group: str) -> dict[str, int]:
        while self.open and self.open.pop()[0] != group:
            pass  # an inner group left open by a failed phase
        self.sc.setJobGroup(*(self.open[-1] if self.open else ("perfbench-idle", "idle")))
        self._drain()
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = []
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            deadline = time.monotonic() + 10.0
            while info is not None and info.status == "RUNNING" and time.monotonic() < deadline:
                time.sleep(0.01)  # a job the op left behind, e.g. a broadcast
                self._drain()
                info = self.tracker.getJobInfo(j)
            stages.extend(info.stageIds if info else [])
        out = {"jobs": len(jobs), "stages": len(stages), "tasks": 0,
               "input_bytes": 0, "shuffle_bytes": 0}
        for s in stages:
            info = self.tracker.getStageInfo(s)
            out["tasks"] += info.numCompletedTasks if info else 0
            read, shuffled = self._stage_bytes(s)
            out["input_bytes"] += read
            out["shuffle_bytes"] += shuffled
        return out


class Tracer:
    """Spans kept in memory; ``on=False`` makes every call a no-op."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: int):
        if not self.on:
            yield
            return
        idx = len(self.spans)
        parent = self._open[-1] if self._open else None
        self.spans.append({"name": name, "op": op_id, "start": time.perf_counter(),
                           "end": None, "parent": parent})
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def self_times(self) -> list[float]:
        """Duration minus the time covered by direct children (the client
        is single-threaded, so children never overlap)."""
        out = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def table(self) -> list[dict]:
        """Per span name: count, p50 and total wall, total self time."""
        by: dict[str, dict] = {}
        for s, self_t in zip(self.spans, self.self_times()):
            row = by.setdefault(s["name"], {"name": s["name"], "walls": [], "self_s": 0.0})
            row["walls"].append(s["end"] - s["start"])
            row["self_s"] += self_t
        rows = []
        for row in by.values():
            walls = row.pop("walls")
            rows.append({**row, "count": len(walls), "p50_s": statistics.median(walls),
                         "total_s": sum(walls)})
        return sorted(rows, key=lambda r: -r["total_s"])
