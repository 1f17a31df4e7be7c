"""Readers the benchmark measures with: the kernel's ``/proc`` for CPU,
memory and host steal, and Spark's own status stores for jobs, stages
and SQL metrics. Nothing here touches the library's code."""

from __future__ import annotations

import os
import re

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of the process tree: user + system of each live
    process plus what its reaped children used (Python workers that
    exited are counted through the daemon that reaped them)."""
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11:15] are utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


# thread names (15-character ``comm``) of HotSpot's JIT compiler threads
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_cpu(root: int) -> dict[int, int]:
    """CPU ticks of each live JIT compiler thread in the tree, by thread
    id. HotSpot starts and stops compiler threads as its queue grows and
    drains, so callers compare per thread id."""
    out = {}
    for pid in tree(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if f.read().rstrip("\n") not in _JIT_THREADS:
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            out[int(tid)] = int(fields[11]) + int(fields[12])
    return out


def jit_cpu_s(before: dict[int, int], after: dict[int, int]) -> float:
    """CPU seconds the JIT compiler threads used between two reads. A
    thread that stopped in between counts with what it had used before
    (its last ticks cannot be read)."""
    return sum(t - before.get(tid, 0) for tid, t in after.items()) / _TICK


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


def host_cpu() -> tuple[int, int, int]:
    """(total, idle incl. iowait, steal) jiffies of the host."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[3] + v[4], v[7]


def host_shares(before: tuple, after: tuple) -> tuple[float, float]:
    """(busy share, steal share) of the host's CPU between two reads."""
    total = after[0] - before[0]
    if total <= 0:
        return 0.0, 0.0
    idle = after[1] - before[1]
    return (total - idle) / total, (after[2] - before[2]) / total


# -- Spark status stores (read only in the traced run) ------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
}
_PY_METRICS = {
    "time to run Python workers": "py.run_s",
    "time to start Python workers": "py.boot_s",
    "time to initialize Python workers": "py.init_s",
    "data sent to Python workers": "py.sent_mb",
    "data returned from Python workers": "py.recv_mb",
}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: ``'1.7 s'``, ``'2.3 MiB'``,
    ``'100,000'`` or the ``'total (min, med, max ...)\\n<total> (...)'``
    form; seconds for times, MiB for sizes."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)", line)
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


class SparkStores:
    """Watermarks and reads over the live status stores.

    Job ids come from the DAG scheduler's counter and SQL executions are
    numbered densely, so the work an operation started is the id range
    between the watermarks taken around it."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._jvm = sc._jvm
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def mark(self) -> tuple[int, int]:
        self._sc.listenerBus().waitUntilEmpty()
        return self._sc.dagScheduler().nextJobId(), self._sql.executionsCount()

    def jobs(self, lo: int, hi: int) -> dict:
        """Jobs ``lo <= id < hi``: count, summed run time, and their
        stages' task metrics."""
        out = {"jobs": 0, "job_s": 0.0, "stages": 0, "tasks": 0, "task_run_s": 0.0,
               "task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        stage_ids: set[int] = set()
        for jid in range(lo, hi):
            job = self._store.job(jid)
            out["jobs"] += 1
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                out["job_s"] += (end.get().getTime() - sub.get().getTime()) / 1e3
            stage_ids.update(self._conv.asJava(job.stageIds()))
        empty = self._jvm.java.util.ArrayList()
        for sid in stage_ids:
            for st in self._conv.asJava(
                self._store.stageData(sid, False, empty, False, self._no_quantiles)
            ):
                if st.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_run_s"] += st.executorRunTime() / 1e3
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        return out

    def python(self, lo: int, hi: int) -> dict:
        """Python-worker SQL metrics summed over executions ``lo <= id <
        hi``; ``py.rows`` counts rows out of the plan nodes that ran
        Python."""
        out = dict.fromkeys([*_PY_METRICS.values(), "py.rows"], 0.0)
        for eid in range(lo, hi):
            if not self._sql.execution(eid).isDefined():
                continue
            values = {
                int(k): v
                for k, v in self._conv.asJava(self._sql.executionMetrics(eid)).items()
            }
            for node in self._conv.asJava(self._sql.planGraph(eid).allNodes()):
                metrics = {m.name(): m.accumulatorId() for m in self._conv.asJava(node.metrics())}
                if "time to run Python workers" not in metrics:
                    continue
                for name, acc in metrics.items():
                    key = _PY_METRICS.get(name) or (
                        "py.rows" if name == "number of output rows" else None
                    )
                    if key and acc in values:
                        out[key] += parse_metric(values[acc])
        return out


def plan_phases(df) -> tuple[float, float]:
    """(optimization s, planning s) from the DataFrame's Catalyst
    tracker, after forcing its physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    def sec(name):
        p = phases.get(name)
        return p.get().durationMs() / 1e3 if p.isDefined() else 0.0
    return sec("optimization"), sec("planning")
