"""Measurements taken from outside the engine: process CPU from `/proc`,
Spark's status store, disk usage, and the spans of a traced run.

Nothing here submits a Spark job: the status store is read after the
fact, per job group, so the counts are exactly the jobs the engine ran.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

_TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, int] | None:
    """(ppid, comm, utime+stime+cutime+cstime ticks) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2:].split()
    # fields after comm: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
    return int(rest[1]), comm, sum(int(x) for x in rest[11:15])


def cpu_ms(jvm_pid: int | None) -> dict[str, float]:
    """CPU consumed so far by the driver, the JVM and the Python workers.

    Summing each live process's own and reaped-children time counts every
    process of the tree once: an exited worker is folded into the
    ``cutime`` of the process that reaped it."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                procs[int(d)] = st
    me = os.getpid()
    t = os.times()
    driver = (t.user + t.system) * 1000.0
    jvm = procs[jvm_pid][2] * _TICK_MS if jvm_pid in procs else 0.0
    workers = 0.0
    for pid, (ppid, _comm, ticks) in procs.items():
        p, depth = ppid, 0
        while p not in (0, 1, jvm_pid, me) and p in procs and depth < 16:
            p, depth = procs[p][0], depth + 1
        if p == jvm_pid and pid != jvm_pid:
            workers += ticks * _TICK_MS
    return {"driver": driver, "jvm": jvm, "pyworker": workers}


def descendants(root_pid: int) -> list[int]:
    """Live processes below ``root_pid``."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                parent[int(d)] = st[0]
    out = []
    for pid in parent:
        p, depth = parent[pid], 0
        while p in parent and p != root_pid and depth < 16:
            p, depth = parent[p], depth + 1
        if p == root_pid:
            out.append(pid)
    return out


def steal_share_reader():
    """Return a function giving the share of CPU time stolen since creation."""
    def read() -> tuple[int, int]:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])

    s0, t0 = read()

    def share() -> float:
        s1, t1 = read()
        return (s1 - s0) / max(1, t1 - t0)

    return share


def host_ms(n: int = 100_000) -> float:
    """Time of a fixed pure-Python loop: the host's speed at this moment,
    taken apart from the engine (about 10 ms on a 4-core VM)."""
    t = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i % 7
    return (time.perf_counter() - t) * 1000


def dir_usage(root: str) -> tuple[int, int]:
    """(bytes, files) under ``root``."""
    nbytes = nfiles = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            try:
                nbytes += os.path.getsize(os.path.join(dirpath, f))
                nfiles += 1
            except OSError:
                pass
    return nbytes, nfiles


_STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ms": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
}


def group_stats(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and stage metrics of every job run under
    ``group``, read from the status store (skipped stages excluded)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = spark._jsc.sc().statusStore()
    out = {"jobs": 0.0, "stages": 0.0, "tasks": 0.0, "spill_bytes": 0.0,
           **{k: 0.0 for k in _STAGE_FIELDS}}
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage never attempted
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            for k, attr in _STAGE_FIELDS.items():
                out[k] += getattr(sd, attr)()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    out["executor_cpu_ms"] /= 1e6  # status store keeps CPU in ns
    return out


@dataclass
class Tracer:
    """In-memory spans of a traced run: (name, start, end, parent, op id).

    ``enabled=False`` makes every call a no-op so the untraced run pays
    nothing; the traced run books its own bookkeeping time as overhead."""

    spark: object = None
    enabled: bool = False
    spans: list = field(default_factory=list)
    overhead_s: float = 0.0
    _seq: int = 0

    def group(self, op_id: int, layer: str) -> str | None:
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        g = f"perfbench-{op_id}-{layer}"
        self.spark.sparkContext.setJobGroup(g, g)
        self.overhead_s += time.perf_counter() - t0
        return g

    def span(self, name: str, start: float, end: float, op_id: int,
             parent: str | None = None, **attrs) -> None:
        if self.enabled:
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "op": op_id, **attrs})

    def stats(self, group: str | None) -> dict[str, float]:
        t0 = time.perf_counter()
        out = group_stats(self.spark, group)
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.overhead_s += time.perf_counter() - t0
        return out

    def write(self, path: str) -> None:
        if self.enabled:
            with open(path, "w") as f:
                json.dump(self.spans, f)
