"""Measurement: process-tree cpu, spans, and Spark counts per job group.

Cpu is read from ``/proc/<pid>/stat`` for this process and every process
below it (the JVM, ``pyspark.daemon`` and its workers), never from the
machine-wide ``/proc/stat``, so other tenants of the host do not show up
in it.  A process's own user+sys time plus that of the children it has
reaped covers workers that exited during the measured window.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state; utime, stime, cutime, cstime are stat fields 14-17
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return int(fields[1]), comm, cpu


def process_tree(root: int | None = None) -> dict[int, tuple[int, str, float]]:
    """Every live process at or below ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    tree, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in stats and pid not in tree:
            tree[pid] = stats[pid]
            frontier.extend(p for p, s in stats.items() if s[0] == pid)
    return tree


def tree_cpu() -> dict[str, float]:
    """User+sys cpu seconds of this process tree, split into the driver
    Python, the JVM and the Python workers below the JVM."""
    me = os.getpid()
    out = {"driver_py": 0.0, "jvm": 0.0, "python_workers": 0.0, "other": 0.0}
    for pid, (_ppid, comm, cpu) in process_tree(me).items():
        if pid == me:
            out["driver_py"] += cpu
        elif comm == "java":
            out["jvm"] += cpu
        elif comm.startswith("python"):
            out["python_workers"] += cpu
        else:
            out["other"] += cpu
    out["total"] = sum(out.values())
    return out


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in before}


def jvm_peak_rss_mb() -> float:
    for pid, (_ppid, comm, _cpu) in process_tree().items():
        if comm == "java":
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
    return 0.0


class Tracer:
    """Spans (name, start, end, parent) kept in memory; written out once at
    the end of a traced run.  With ``enabled`` false every call is a no-op,
    so the untraced run pays nothing for the instrumentation points."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def spark_group_stats(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and shuffle bytes (read + written) of the jobs
    run under ``group``, from Spark's status tracker and status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    jobs = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            jobs += 1
            stage_ids.update(info.stageIds)
    tasks = shuffle = 0
    if stage_ids:
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                                 sc._gateway.new_array(jvm.double, 0),
                                 jvm.java.util.ArrayList())
        # skipped stages (shuffle output reused) never ran
        run = set()
        for i in range(stages.length()):
            sd = stages.apply(i)
            if sd.stageId() in stage_ids and sd.status().toString() != "SKIPPED":
                run.add(sd.stageId())
                tasks += sd.numTasks()
                shuffle += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
        stage_ids = run
    return {"jobs": jobs, "stages": len(stage_ids), "tasks": tasks,
            "shuffle_bytes": shuffle}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return median(xs)
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]
