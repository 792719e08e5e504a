"""Measurement helpers: host facts, noise diagnostics, process-tree CPU from
/proc, Spark storage held by cached blocks, per-stage task metrics from the
JVM status store, and operator counts from an executed plan."""

from __future__ import annotations

import os
import platform
import resource
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_MB = float(1 << 20)


def host_facts() -> dict:
    mem_kb = 0
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / (1 << 20), 1),
        "python": platform.python_version(),
        "kernel": platform.release(),
    }


def noise() -> dict:
    """Load average and cumulative steal ticks; they explain a run, they
    never decide whether it counts."""
    cpu = Path("/proc/stat").read_text().splitlines()[0].split()
    return {
        "loadavg": Path("/proc/loadavg").read_text().split()[:3],
        "steal_ticks": int(cpu[8]) if len(cpu) > 8 else 0,
    }


def _stat(pid: str) -> tuple[int, float] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    f = raw[raw.rindex(")") + 2:].split()
    # fields after the command: state ppid ... utime(14) stime cutime cstime
    return int(f[1]), sum(int(x) for x in f[11:15]) / _TICK


def process_tree_cpu(root_pid: int) -> float:
    """CPU seconds of this Python process plus the JVM at root_pid and every
    live descendant of it (Python workers); reaped children are in the
    parents' cutime/cstime."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            s = _stat(d)
            if s is not None:
                stats[int(d)] = s
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == parent and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    me = resource.getrusage(resource.RUSAGE_SELF)
    return me.ru_utime + me.ru_stime + sum(stats[p][1] for p in tree if p in stats)


def cached_mb(spark) -> float:
    """Storage memory held by persisted DataFrames and RDD checkpoints."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / _MB


def release(spark) -> int:
    """Drop every cached DataFrame and persisted RDD (localCheckpoint blocks
    included) so the next repetition starts cold on the program's caches.
    Returns how many persisted RDDs survived the release."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    return len(jsc.getPersistentRDDs())


_STAGE_FIELDS = {
    "tasks": ("numTasks", 1.0),
    "executor_cpu_s": ("executorCpuTime", 1e9),
    "input_mb": ("inputBytes", _MB),
    "shuffle_read_mb": ("shuffleReadBytes", _MB),
    "shuffle_write_mb": ("shuffleWriteBytes", _MB),
    "spill_mb": ("diskBytesSpilled", _MB),
    "gc_s": ("jvmGcTime", 1e3),
}


def stage_metrics(spark, job_group: str) -> dict:
    """Task metrics summed over every stage of the jobs in job_group, read
    from the JVM status store (works with the UI disabled). Read per span:
    the store keeps only a bounded number of stages."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stage_ids = sorted({s for j in tracker.getJobIdsForGroup(job_group)
                        for s in (tracker.getJobInfo(j).stageIds or [])})
    store = sc._jsc.sc().statusStore()
    no_tasks = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    out = {k: 0.0 for k in _STAGE_FIELDS}
    out["stages"] = 0
    out["peak_exec_mem_mb"] = 0.0
    for sid in stage_ids:
        attempts = store.stageData(sid, False, no_tasks, False, no_quantiles)
        for i in range(attempts.size()):
            sd = attempts.apply(i)
            out["stages"] += 1
            for key, (getter, scale) in _STAGE_FIELDS.items():
                out[key] += getattr(sd, getter)() / scale
            out["peak_exec_mem_mb"] = max(out["peak_exec_mem_mb"],
                                          sd.peakExecutionMemory() / _MB)
    return out


_COUNTED = {"Exchange": "exchanges", "SortAggregate": "sort_aggregates",
            "SortMergeJoin": "sort_merge_joins"}


def plan_counts(spark, dfs) -> dict:
    """Shuffle exchanges, sort aggregates and sort-merge joins in the
    executed plans of already-executed DataFrames, counting inside adaptive
    query stages and inside the plan of every cached relation they scan
    (each cached plan once, since it runs once)."""
    identity = spark.sparkContext._jvm.System.identityHashCode
    counts = dict.fromkeys(_COUNTED.values(), 0)
    seen: set[int] = set()
    stack = [df._jdf.queryExecution().executedPlan() for df in dfs]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name in _COUNTED:
            counts[_COUNTED[name]] += 1
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        elif name == "InMemoryTableScan":
            cached = node.relation().cachedPlan()
            if identity(cached) not in seen:
                seen.add(identity(cached))
                stack.append(cached)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return counts


def dir_mb(path: str) -> float:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file()) / _MB
