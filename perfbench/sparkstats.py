"""Spark's own counters for one operation, read from outside the program.

Each traced operation runs under its own job group. After it ends the
listener bus is drained and the jobs of that group are read from the
AppStatusStore (job intervals, stage task time, GC, shuffle, spill,
failed tasks) and from the SQL status store (the Python worker metrics
of the SQL executions those jobs belong to). Only the traced run calls
this module.
"""

from __future__ import annotations

import re

from spans import union_length

_UNITS = {
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
    "h": 3600.0, "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3,
    "TiB": 1024**4,
}
_PY_METRICS = {
    "time to run Python workers": "python.worker_s",
    "time to start Python workers": "python.boot_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_TOTAL = re.compile(r"\n\s*([0-9.]+)\s*([A-Za-zµ]+)")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric (``'total (min, ...)\\n8.3 s (...)'``)
    in seconds or bytes; plain numbers pass through."""
    m = _TOTAL.search(text)
    if m:
        return float(m.group(1)) * _UNITS.get(m.group(2), 1.0)
    try:
        return float(text.strip())
    except ValueError:
        return 0.0


class SparkCounters:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._seen_exec = -1

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> dict:
        """Counters of every job the group ran since :meth:`begin`."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.sc.setJobGroup("idle", "idle")
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        out = dict.fromkeys((
            "spark.jobs", "spark.stages", "spark.tasks", "spark.task_busy_s",
            "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
            "spark.spill_bytes", "spark.gc_s", "spark.failed_tasks",
            *_PY_METRICS.values(),
        ), 0.0)
        intervals = []
        seen_stages = set()
        for j in job_ids:
            jd = self.store.job(j)
            out["spark.jobs"] += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            sids = jd.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = self.store.lastStageAttempt(sid)
                if st.numCompleteTasks() + st.numFailedTasks() == 0:
                    continue  # skipped stage: its output was reused
                out["spark.stages"] += 1
                out["spark.tasks"] += st.numTasks()
                out["spark.failed_tasks"] += st.numFailedTasks()
                out["spark.task_busy_s"] += st.executorRunTime() / 1e3
                out["spark.gc_s"] += st.jvmGcTime() / 1e3
                out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["spark.job_wall_s"] = union_length(intervals)
        self._python_metrics(job_ids, out)
        return out

    def _python_metrics(self, job_ids: set, out: dict) -> None:
        execs = self.sql_store.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self._seen_exec:
                continue
            jobs = e.jobs()
            it = jobs.keys().iterator()
            mine = False
            while it.hasNext():
                if it.next() in job_ids:
                    mine = True
            if not mine:
                continue
            self._seen_exec = max(self._seen_exec, eid)
            values = self.sql_store.executionMetrics(eid)
            metrics = e.metrics()
            done = set()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = _PY_METRICS.get(m.name())
                if key is None or m.accumulatorId() in done:
                    continue
                done.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[key] += parse_sql_metric(v.get())
