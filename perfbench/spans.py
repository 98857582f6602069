"""Spans around the benchmark's calls into the program, and the Spark
job, stage and SQL figures of each op read back from Spark's own status
store (which answers with ``spark.ui.enabled=false``).

Untraced runs use ``Tracer(None)``: every span is a no-op and no job
group is set, so the end-to-end figures carry none of this.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


def _stage_figures(jss, stage_ids) -> dict[str, float]:
    """Summed task metrics of the stages that ran, plus the worst
    slowest-task / median-task run-time ratio among stages of 4+ tasks."""
    out = {"stages": 0, "tasks": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
           "spill_bytes": 0, "executor_cpu_s": 0.0, "executor_run_s": 0.0, "gc_s": 0.0,
           "task_max_over_p50": 1.0}
    store = jss.statusStore()
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # py4j error for a stage skipped by shuffle reuse
            continue
        if st.numCompleteTasks() == 0:
            continue
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["gc_s"] += st.jvmGcTime() / 1e3
        if st.numTasks() >= 4:
            out["task_max_over_p50"] = max(out["task_max_over_p50"],
                                           _skew(store, sid, st.attemptId()))
    return out


def _skew(store, sid: int, attempt: int) -> float:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    summary = store.taskSummary(sid, attempt, quantiles)
    if not summary.isDefined():
        return 1.0
    run = summary.get().executorRunTime()
    p50, top = run.apply(0), run.apply(1)
    return top / p50 if p50 > 0 else 1.0


def _verified_share(jspark, job_ids: set[int], threshold_text: str) -> tuple[int, int]:
    """(rows out, rows in) of every Filter node whose condition holds
    ``threshold_text``, over the SQL executions that ran ``job_ids``:
    verified pairs against candidate pairs reaching the verify step."""
    store = jspark.sharedState().statusStore()
    kept = seen = 0
    execs = store.executionsList()
    for i in range(execs.size()):
        ex = execs.apply(i)
        jobs = ex.jobs().keySet()
        if not any(jobs.contains(j) for j in job_ids):
            continue
        eid = ex.executionId()
        graph = store.planGraph(eid)
        values = store.executionMetrics(eid)
        nodes = {}
        it = graph.allNodes().iterator()
        while it.hasNext():
            n = it.next()
            nodes[n.id()] = n
        rows = {}
        for nid, n in nodes.items():
            ms = n.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                if m.name() == "number of output rows":
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        rows[nid] = int(str(v.get()).replace(",", ""))
        edges = graph.edges().iterator()
        child_of = {}
        while edges.hasNext():
            e = edges.next()
            child_of.setdefault(e.toId(), []).append(e.fromId())
        for nid, n in nodes.items():
            if n.name() == "Filter" and threshold_text in n.desc() and nid in rows:
                kids = [rows[c] for c in child_of.get(nid, []) if c in rows]
                if kids:
                    kept += rows[nid]
                    seen += sum(kids)
    return kept, seen


# span names opened with build=True -> the metric counting their jobs
JOB_COUNTS = {"driver.build_s": "driver.eager_jobs",
              "llm_ops.clusters.cc_s": "llm_ops.clusters.cc_jobs"}


class Tracer:
    """Spans of one run. ``spark=None`` disables everything."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._notes: dict = {}
        self._own = 0.0  # the tracer's own time inside the current op
        self._t0 = time.perf_counter()

    @property
    def enabled(self) -> bool:
        return self.spark is not None

    def _jobs(self) -> set[int]:
        t = time.perf_counter()
        jobs = set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(self._op))
        self._own += time.perf_counter() - t
        return jobs

    @contextmanager
    def span(self, name: str, build: bool = False):
        """One call into the program, recorded under the metric name it
        feeds. ``build=True`` also counts the jobs the call starts: for
        a call that returns a DataFrame those are its eager jobs."""
        if not self.enabled:
            yield
            return
        before = self._jobs() if build else None
        rec = {"op": self._op, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0
            if build:
                rec["jobs"] = len(self._jobs() - before)

    def begin_op(self, op_id: str) -> None:
        if self.enabled:
            t = time.perf_counter()
            self._op = op_id
            self._own = 0.0
            self.spark.sparkContext.setJobGroup(op_id, op_id)
            self._own += time.perf_counter() - t

    def note(self, key: str, value: float) -> None:
        """Add ``value`` to the current op's ``key`` figure."""
        if self.enabled:
            self._notes[key] = self._notes.get(key, 0) + value

    def plan(self, df) -> None:
        """Force Catalyst planning of ``df`` under a span. Counted as the
        tracer's own time too: an action that plans afresh (a write)
        repeats it, one that reuses the DataFrame's plan (a collect)
        does not."""
        if self.enabled:
            t = time.perf_counter()
            with self.span("catalyst.plan_s"):
                df._jdf.queryExecution().executedPlan()
            self._own += time.perf_counter() - t

    def end_op(self, verify_filter: str | None = None) -> dict:
        """Close the op: fold its spans and Spark figures into one record."""
        if not self.enabled:
            return {}
        sc = self.spark.sparkContext
        jobs = self._jobs()
        stage_ids = set()
        for j in jobs:
            info = sc.statusTracker().getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        rec = {"exec.jobs": len(jobs), "trace.overhead_s": self._own}
        rec.update({f"exec.{k}": v for k, v in _stage_figures(sc._jsc.sc(), sorted(stage_ids)).items()})
        for s in self.spans:
            if s["op"] == self._op:
                rec[s["name"]] = rec.get(s["name"], 0.0) + s["end"] - s["start"]
                if "jobs" in s:
                    key = JOB_COUNTS[s["name"]]
                    rec[key] = rec.get(key, 0) + s["jobs"]
        if verify_filter is not None:
            kept, seen = _verified_share(self.spark._jsparkSession, jobs, verify_filter)
            rec["llm_ops.dedup.verified_per_candidate"] = kept / seen if seen else 0.0
        rec.update(self._notes)
        self._notes = {}
        rinfo = sc._jsc.sc().getRDDStorageInfo()
        rec["cache.persisted_frames"] = len(rinfo)
        rec["cache.memory_bytes"] = sum(r.memSize() for r in rinfo)
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.ops.append(rec)
        self._op = None
        return rec

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops, **extra}, f, indent=1)


def heap_peak_bytes(spark) -> int:
    """Summed peak usage of the driver JVM's heap pools."""
    jvm = spark.sparkContext._jvm
    total = 0
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    for i in range(pools.size()):
        p = pools.get(i)
        if str(p.getType().toString()) == "Heap memory":
            total += p.getPeakUsage().getUsed()
    return total
