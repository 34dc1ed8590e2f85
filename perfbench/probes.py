"""Measurements taken from outside the engine.

``Tracer`` keeps spans (name, start, end, parent, op id) in memory and
reads Spark's own status store at the same boundaries, keyed by a job group
per span. ``cpu_snapshot`` and ``contention`` record contention on the host:
hypervisor steal, CPU used by processes outside this process tree, and the
load average. Nothing here imports the package under test.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Iterator


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: str | None = None
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans plus status-store counts; a disabled tracer records nothing,
    sets no job group and makes no call into the JVM."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.ops: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self._groups: list[str] = []
        self._sc = None
        self._store = None
        self._mapper = None

    def attach(self, spark) -> None:
        """Bind the Spark context once the session exists."""
        if not self.enabled:
            return
        sc = spark.sparkContext
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = jvm.java.lang.Class.forName(
            "com.fasterxml.jackson.module.scala.DefaultScalaModule$"
        ).getField("MODULE$").get(None)
        self._mapper.registerModule(scala_module)

    @contextmanager
    def span(self, name: str, op_id: str | None = None, group: str | None = None) -> Iterator[Span]:
        """Time a block. ``group`` tags the Spark jobs the block submits."""
        sp = Span(name, time.time(), parent=self._stack[-1] if self._stack else None, op_id=op_id)
        if not self.enabled:
            yield sp
            return
        if group and self._sc is not None:
            self._groups.append(group)
            self._sc.setJobGroup(group, name)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if group and self._sc is not None:
                self._groups.pop()
                outer = self._groups[-1] if self._groups else "perfbench/other"
                self._sc.setJobGroup(outer, outer)

    # ------------------------------------------------- status store ----

    def _json(self, obj) -> dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self, groups: list[str]) -> list[dict]:
        """Jobs of the given job groups (or streaming run ids), each with
        the metrics of its completed stages under ``"stages"``. A stage
        listed by several jobs (a shuffle map stage that a later job reuses
        and skips) is counted under the first of them only."""
        if not self.enabled or self._sc is None:
            return []
        tracker = self._sc.statusTracker()
        out, seen = [], set()
        for group in groups:
            for job_id in sorted(tracker.getJobIdsForGroup(group)):
                job = self._json(self._store.job(job_id))
                job["group"] = group
                job["stages"] = []
                for stage_id in sorted(job.get("stageIds", [])):
                    if stage_id in seen:
                        continue
                    try:
                        st = self._json(self._store.lastStageAttempt(stage_id))
                    except Exception:  # a skipped stage never gets an attempt
                        continue
                    if st.get("status") == "COMPLETE":
                        seen.add(stage_id)
                        job["stages"].append({k: st.get(k) or 0 for k in _STAGE_KEYS})
                out.append(job)
        return out

    def storage_bytes(self) -> int:
        """Memory plus disk held by cached and checkpointed RDD blocks."""
        if not self.enabled or self._sc is None:
            return 0
        rdds = self._json(self._store.rddList(True))
        return sum(int(r.get("memoryUsed", 0)) + int(r.get("diskUsed", 0)) for r in rdds)

    def jvm_gc_seconds(self) -> float:
        """Cumulative collection time of the driver JVM (local mode: the
        executors share it)."""
        if self._sc is None:
            return 0.0
        beans = self._sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def dump(self, path: str, extra: dict[str, Any]) -> None:
        doc = {
            "spans": [
                {"id": i, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "op_id": s.op_id, "attrs": s.attrs}
                for i, s in enumerate(self.spans)
            ],
            "ops": self.ops,
            **extra,
        }
        with open(path + ".tmp", "w") as fh:
            json.dump(doc, fh)
        os.replace(path + ".tmp", path)


_STAGE_KEYS = (
    "stageId", "numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "inputBytes", "outputBytes", "shuffleReadBytes", "shuffleWriteBytes",
    "shuffleWriteRecords", "memoryBytesSpilled", "diskBytesSpilled", "submissionTime",
)


def job_totals(jobs: list[dict]) -> dict[str, float]:
    """Sum the stage metrics of ``jobs`` (times in seconds, sizes in MB)."""
    stages = [s for j in jobs for s in j["stages"]]
    mb = 1 / (1 << 20)
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["numTasks"] for s in stages),
        "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "executor_gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "input_mb": sum(s["inputBytes"] for s in stages) * mb,
        "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) * mb,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) * mb,
        "shuffle_records": sum(s["shuffleWriteRecords"] for s in stages),
        "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) * mb,
    }


def first_shuffle_write_mb(jobs: list[dict]) -> float:
    """Shuffle bytes written by the earliest stage of ``jobs`` that writes
    any: in a MapReduce job, the map-and-combine stage feeding the
    reducers' ``groupByKey``."""
    stages = sorted((s for j in jobs for s in j["stages"]), key=lambda s: s["stageId"])
    return next((s["shuffleWriteBytes"] / (1 << 20) for s in stages if s["shuffleWriteBytes"]), 0.0)


def result_stage_seconds(jobs: list[dict]) -> float:
    """From the start of the last job's final stage to the job's end: for
    a ``saveAsTextFile`` job, the stage that formats and writes the part
    files plus the job's output commit."""
    done = [j for j in jobs if j.get("completionTime") and j["stages"]]
    if not done:
        return 0.0
    last = max(done, key=lambda j: j["jobId"])
    final = max(last["stages"], key=lambda s: s["stageId"])
    return max(0.0, (last["completionTime"] - final["submissionTime"]) / 1e3)


def busy_seconds(jobs: list[dict], start: float, end: float) -> float:
    """Length of the union of the jobs' run intervals, clipped to
    [start, end] (epoch seconds)."""
    ivals = sorted(
        (max(start, j["submissionTime"] / 1e3), min(end, j["completionTime"] / 1e3))
        for j in jobs
        if j.get("submissionTime") and j.get("completionTime")
    )
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in ivals:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ---------------------------------------------------------------- host ----


def _process_tree(root: int) -> dict[int, int]:
    """pid -> CPU jiffies (user + system) of ``root`` and its live
    descendants (python, JVM, Python workers)."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
            rest = st[st.rindex(")") + 2 :].split()
            procs[int(d)] = (int(rest[1]), int(rest[11]) + int(rest[12]))
        except (OSError, ValueError, IndexError):
            continue
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    tree: dict[int, int] = {}
    stack = [root]
    while stack:
        p = stack.pop()
        if p in tree:
            continue
        tree[p] = procs.get(p, (0, 0))[1]
        stack.extend(kids.get(p, []))
    return tree


@dataclass
class CpuSnapshot:
    busy: int
    steal: int
    total: int
    tree: int


def _host_jiffies() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies of the host since boot."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    total = sum(vals)
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    return total - idle, steal, total


def cpu_snapshot() -> CpuSnapshot:
    busy, steal, total = _host_jiffies()
    return CpuSnapshot(busy, steal, total, sum(_process_tree(os.getpid()).values()))


def contention(before: CpuSnapshot, after: CpuSnapshot) -> dict[str, float]:
    """Steal and foreign CPU as fractions of host capacity over a window.

    Foreign CPU is host busy time minus steal minus this process tree's
    own time; workers that exited inside the window can make the tree
    undercount, so it is clamped at 0."""
    d_total = max(1, after.total - before.total)
    d_steal = after.steal - before.steal
    d_foreign = (after.busy - before.busy) - d_steal - (after.tree - before.tree)
    return {
        "host.steal_frac": d_steal / d_total,
        "host.foreign_cpu_frac": max(0, d_foreign) / d_total,
        "host.loadavg_1m": os.getloadavg()[0],
    }


def cpu_probe_seconds() -> float:
    """Median time of a fixed single-threaded Python loop. The host's own
    speed drifts with load that neither steal nor foreign CPU shows (other
    tenants on shared cores); this makes the drift visible in a run."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        sum(i * i for i in range(200_000))
        times.append(time.perf_counter() - t0)
    return sorted(times)[2]


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM over the live process tree (python, JVM, workers)."""
    kb = 0
    for pid in _process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024
