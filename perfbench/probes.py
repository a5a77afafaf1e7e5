"""Read-only probes of what Spark and the kernel expose from outside the
program: job groups, the app status store, QueryExecution phase timers,
codegen counters, JVM GC beans and ``/proc`` of this run's processes.

Nothing here changes what the program computes; every call reads state.
"""

from __future__ import annotations

import os
import re

_CLK = os.sysconf("SC_CLK_TCK")

# Physical plan node counts; a node name opens a plan line after the tree
# drawing characters (and an optional ``*(n)`` codegen stage marker).
PLAN_NODES = {
    "exchanges": re.compile(r"^[\s:+\-|*()\d]*(Exchange|BroadcastExchange)\b"),
    "bnlj": re.compile(r"^[\s:+\-|*()\d]*BroadcastNestedLoopJoin\b"),
    "scans": re.compile(r"^[\s:+\-|*()\d]*(FileScan|BatchScan)\b"),
    "python_nodes": re.compile(
        r"^[\s:+\-|*()\d]*(BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas"
        r"|FlatMapCoGroupsInPandas|MapInPandas|MapInArrow|PythonMapInArrow"
        r"|AggregateInPandas|WindowInPandas|FlatMapGroupsInPandasWithState"
        r"|FlatMapGroupsInArrow|PythonUDTF|ArrowEvalPythonUDTF)"),
}


# ---------------------------------------------------------------- /proc ---

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; split after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_s_of(pids: list[int]) -> float:
    """CPU seconds used by the live ``pids``, including the children each
    of them has already reaped."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:  # utime stime cutime cstime
            ticks += sum(int(f) for f in fields[11:15])
    return ticks / _CLK


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by the live tree under ``root``."""
    return cpu_s_of(descendants(root))


def peak_rss_mb(root: int) -> float:
    """Sum of the peak resident set (VmHWM) of every live process in the tree."""
    kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


def python_worker_pids(jvm_pid: int) -> list[int]:
    """The PySpark daemon and workers the JVM forked."""
    return [p for p in descendants(jvm_pid) if p != jvm_pid]


# ---------------------------------------------------------------- Spark ---

class SparkProbe:
    """Counters read through the live SparkContext's py4j gateway."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.tracker = self.sc.statusTracker()
        self._no_list = self.jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        codegen = self.jvm.org.apache.spark.sql.catalyst.expressions.codegen
        self._codegen = codegen.CodeGenerator
        self._compiles = (self.jvm.org.apache.spark.metrics.source
                          .CodegenMetrics.METRIC_COMPILATION_TIME())

    def jvm_pid(self) -> int:
        return int(self.jvm.ProcessHandle.current().pid())

    def codegen(self) -> tuple[int, float]:
        """(classes compiled, compile milliseconds) since the JVM started."""
        return (int(self._compiles.getCount()),
                int(self._codegen.compileTime()) / 1e6)

    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3

    def group_jobs(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def all_jobs(self) -> set[int]:
        jobs = self.store.jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    def stage_totals(self, job_ids) -> dict[str, float]:
        """Sums over the stages the jobs ran (skipped stages excluded)."""
        tot = dict(stages=0, tasks=0, task_run_s=0.0, task_cpu_s=0.0,
                   scan_mb=0.0, scan_rows=0, shuffle_read_mb=0.0,
                   shuffle_write_mb=0.0, spill_mb=0.0)
        seen = set()
        for jid in job_ids:
            stage_ids = self.store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self.store.stageData(sid, False, self._no_list,
                                                False, self._no_quantiles)
                for k in range(attempts.size()):
                    s = attempts.apply(k)
                    if s.status().toString() == "SKIPPED":
                        continue
                    tot["stages"] += 1
                    tot["tasks"] += s.numCompleteTasks()
                    tot["task_run_s"] += s.executorRunTime() / 1e3
                    tot["task_cpu_s"] += s.executorCpuTime() / 1e9
                    tot["scan_mb"] += s.inputBytes() / 2**20
                    tot["scan_rows"] += s.inputRecords()
                    tot["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
                    tot["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
                    tot["spill_mb"] += (s.memoryBytesSpilled()
                                        + s.diskBytesSpilled()) / 2**20
        return tot

    @staticmethod
    def phases_ms(df) -> dict[str, float]:
        """Catalyst phase times recorded on the DataFrame's QueryExecution.
        Actions run on that same QueryExecution, so after one has run the
        optimization and planning phases are there too."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            if phases.contains(name):
                p = phases.apply(name)
                out[name] = float(p.durationMs())
            else:
                out[name] = 0.0
        return out

    @staticmethod
    def plan_counts(df) -> dict[str, int]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        # an executed adaptive plan prints its final and initial forms
        plan = plan.split("== Initial Plan ==")[0]
        lines = plan.splitlines()
        return {k: sum(1 for ln in lines if rx.match(ln))
                for k, rx in PLAN_NODES.items()}

    def pins(self) -> tuple[int, float]:
        """(persistent RDDs, MB they hold in memory and on disk)."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        return int(self.sc._jsc.getPersistentRDDs().size()), mb
