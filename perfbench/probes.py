"""Counters read from outside the library: Spark's scheduler and status
store, the executed plan's SQL metrics, process memory and index
directories. Nothing here changes what the library does; every probe runs
between calls, never inside one.
"""

from __future__ import annotations

import os
import resource


class JobCounter:
    """Jobs, stages and tasks submitted between :meth:`mark` and
    :meth:`since`.

    Counting by job-id range rather than by job group is deliberate: the
    library submits most of a report's jobs from its own driver thread
    pools, whose threads do not inherit the caller's job group, so a
    per-group count misses them. With one client and one call in flight,
    every job id allocated inside the window belongs to that call."""

    GROUP = "perfbench-call"

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = spark._jsc.sc()
        self._tracker = self._sc.statusTracker()

    def _next_job(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def mark(self) -> int:
        """Start a window; the calling thread's jobs are also tagged with a
        job group, so :meth:`since` can tell how many of the window's jobs
        the caller's own thread submitted."""
        self._sc.setJobGroup(self.GROUP, self.GROUP)
        return self._next_job()

    def since(self, mark: int) -> dict[str, int]:
        end = self._next_job()
        self._sc._jsc.clearJobGroup()
        # the status store is fed by the listener bus; drain it so every
        # job and stage of the window is visible before reading
        self._jsc.listenerBus().waitUntilEmpty()
        stages: set[int] = set()
        tasks = 0
        for job_id in range(mark, end):
            info = self._tracker.getJobInfo(job_id)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in stages:
                    continue
                st = self._tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages.add(sid)
                    tasks += st.numCompletedTasks
        own = sum(1 for j in self._tracker.getJobIdsForGroup(self.GROUP) if mark <= j < end)
        return {"jobs": end - mark, "stages": len(stages), "tasks": tasks, "caller_jobs": own}


# SQL metric name -> reported counter, summed over every node that has it
_PLAN_METRICS = {
    "shuffleBytesWritten": "shuffle_bytes",
    "spillSize": "spill_bytes",
    "numFiles": "files_read",
    "numPartitions": "partitions_read",
}


def plan_metrics(df) -> dict[str, int]:
    """Sum selected SQL metrics over the executed plan of an already
    collected DataFrame: through adaptive plans, query stages and the
    cached plans behind in-memory scans, so work done by a persisted
    intermediate is attributed to the query that filled it."""
    totals = {v: 0 for v in _PLAN_METRICS.values()}
    seen: set[int] = set()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
            continue
        ident = int(node.id())
        if ident in seen:
            continue
        seen.add(ident)
        metrics = node.metrics()
        for key, name in _PLAN_METRICS.items():
            opt = metrics.get(key)
            if opt.isDefined():
                totals[name] += int(opt.get().value())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
        subqueries = node.subqueries()
        stack.extend(subqueries.apply(i) for i in range(subqueries.size()))
    return totals


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver Python process plus the JVM."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (py_kb + _hwm_kb(jvm_pid)) / 1024.0


def dir_stats(path: str) -> tuple[int, int]:
    """``(data files, bytes)`` under ``path``, skipping the hidden and
    ``_``-prefixed files (checksums, commit markers) a reader ignores."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size
