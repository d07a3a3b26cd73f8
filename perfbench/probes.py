"""Measurement taken from outside the engine: spans, per-job-group stage
metrics from Spark's in-process status store, plan-node counts of the
executed plan, a streaming progress listener, and peak memory.

Nothing here changes what the engine runs; every probe reads state that
Spark already keeps (the status store works with ``spark.ui.enabled``
false) or times a call the benchmark makes itself.
"""

from __future__ import annotations

import threading
import time
from collections import Counter

from pyspark.sql.streaming import StreamingQueryListener


class Spans:
    """Spans kept in memory and written out once, at the end of a run."""

    def __init__(self) -> None:
        self.rows: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.rows.append({"id": len(self.rows), "name": name, "start": start, "end": end, "parent": parent, **attrs})
        return len(self.rows) - 1


# -- job groups and the status store ---------------------------------

# (metric, StageData getter, scale to the reported unit)
_STAGE_FIELDS = (
    ("cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_read_mb", "shuffleReadBytes", 1 / 2**20),
    ("shuffle_write_mb", "shuffleWriteBytes", 1 / 2**20),
    ("spill_mem_mb", "memoryBytesSpilled", 1 / 2**20),
    ("spill_disk_mb", "diskBytesSpilled", 1 / 2**20),
    ("input_rows", "inputRecords", 1),
)


def set_group(sc, group: str | None) -> None:
    """Tag the jobs this thread starts from now on (``None`` clears)."""
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    else:
        sc.setJobGroup(group, group)


def settle(sc) -> None:
    """Wait until Spark's listener bus has delivered every event posted so
    far, so the status store holds the jobs and stage counters of work
    that has already returned to the caller."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def group_jobs(sc, group: str) -> list[int]:
    return list(sc.statusTracker().getJobIdsForGroup(group))


def group_metrics(sc, group: str) -> dict[str, float]:
    """Jobs, executed stages, tasks and the stage counters of every job
    tagged ``group``. Attribution is by job group, never by time window,
    so concurrent work is not mis-assigned. Call :func:`settle` first."""
    store = sc._jsc.sc().statusStore()
    empty_q = sc._gateway.new_array(sc._jvm.double, 0)
    out = {"jobs": 0, "stages": 0, "tasks": 0, **{k: 0.0 for k, _, _ in _STAGE_FIELDS}}
    seen: set[int] = set()
    for job in group_jobs(sc, group):
        out["jobs"] += 1
        info = sc.statusTracker().getJobInfo(job)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            stages = store.stageData(sid, False, sc._jvm.java.util.ArrayList(), False, empty_q)
            for k in range(stages.size()):
                sd = stages.apply(k)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                for name, getter, scale in _STAGE_FIELDS:
                    out[name] += getattr(sd, getter)() * scale
    return out


def profile_call(spark, build, tag: str) -> tuple[dict, list[str], list]:
    """Run one query the way a caller does (build the DataFrame, then
    collect it) and split its wall time into three layers:

    - ``build_s``: ``build()``, the registry's ``QuerySpec.fn``, including
      any Spark job it starts while constructing the DataFrame
      (``eager_jobs``);
    - ``plan_s``: forcing ``queryExecution().executedPlan()``;
    - ``exec_s``: ``collect()``, which reuses that executed plan.

    Stage counters come from the jobs tagged with the execution group,
    plan-node counts from the executed plan after it ran (adaptive
    plans are final then). Returns the record, the columns and the rows."""
    sc = spark.sparkContext
    set_group(sc, f"build:{tag}")
    t0 = time.monotonic()
    try:
        df = build()
        t1 = time.monotonic()
        set_group(sc, f"exec:{tag}")
        plan = df._jdf.queryExecution().executedPlan()
        t2 = time.monotonic()
        rows = df.collect()
        t3 = time.monotonic()
    finally:
        set_group(sc, None)
    settle(sc)
    rec = {"build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2, "start": t0, "end": t3,
           "eager_jobs": len(group_jobs(sc, f"build:{tag}"))}
    rec.update(group_metrics(sc, f"exec:{tag}"))
    rec.update(plan_nodes(plan))
    return rec, df.columns, rows


# -- executed-plan node counts ----------------------------------------

NODE_KINDS = ("exchange", "sort", "smj", "shj", "bhj", "window", "arrow_python")
_EXACT = {
    "Exchange": "exchange",
    "Sort": "sort",
    "SortMergeJoin": "smj",
    "ShuffledHashJoin": "shj",
    "BroadcastHashJoin": "bhj",
    "Window": "window",
}


def _kind(node_name: str) -> str | None:
    if node_name in _EXACT:
        return _EXACT[node_name]
    if node_name.startswith("ArrowEvalPython") or node_name.endswith(("InPandas", "InArrow")):
        return "arrow_python"
    return None


def plan_nodes(jplan) -> Counter:
    """Count plan nodes by kind in an executed physical plan, following
    adaptive plans to their current (after execution: final) plan, query
    stages to the plan they wrap, and subquery plans."""
    counts: Counter = Counter({k: 0 for k in NODE_KINDS})
    stack = [jplan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        kind = _kind(node.nodeName())
        if kind:
            counts[kind] += 1
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return counts


# -- streaming progress -----------------------------------------------

class ProgressLog(StreamingQueryListener):
    """One row per trigger of every streaming query, stamped with the
    monotonic time the progress event reached this process."""

    def __init__(self) -> None:
        self.rows: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        row = {
            "query": str(p.id),
            "batch": p.batchId,
            "at": time.monotonic(),
            "duration_ms": dict(p.durationMs),
            "input_rows": p.numInputRows,
            "event_time": dict(p.eventTime),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            "late_dropped": sum(s.numRowsDroppedByWatermark for s in p.stateOperators),
        }
        with self._lock:
            self.rows.append(row)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def of(self, query_id: str) -> list[dict]:
        with self._lock:
            return [r for r in self.rows if r["query"] == query_id]


# -- memory -------------------------------------------------------------

def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0
