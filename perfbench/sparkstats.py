"""What Spark did for a job group, read from its status stores.

Jobs, stages and tasks come from the application status store;
the Python UDF boundary metrics (``PythonSQLMetrics`` on the
ArrowEvalPython node) come from the SQL status store, which keeps SQL
metrics only as formatted totals (``"10.3 s"``, ``"17.6 MiB"``), so
those carry three significant digits.
"""
from __future__ import annotations

import statistics

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
PYTHON_METRICS = {
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
}


def parse_total(formatted: str) -> float:
    """'total (min, med, max ...)\\n10.3 s (...)' → 10.3 (seconds or bytes)."""
    line = formatted.strip().splitlines()[-1]
    value, unit = line.split(" (")[0].split()
    return float(value.replace(",", "")) * _UNITS[unit]


class GroupStats:
    """Totals for the Spark jobs of one or more job groups."""

    def __init__(self, spark, groups):
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        self.job_ids = sorted(j for g in groups for j in tracker.getJobIdsForGroup(g))
        stage_ids = sorted(
            {s for j in self.job_ids for s in tracker.getJobInfo(j).stageIds}
        )
        self.stages = self.tasks = 0
        self.shuffle_bytes = self.output_bytes = 0
        self.executor_cpu_s = 0.0
        self.stage_task_ms = []  # per stage: executor run time of each task
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.numCompleteTasks() == 0:  # skipped: its output was reused
                continue
            self.stages += 1
            self.tasks += sd.numCompleteTasks()
            self.shuffle_bytes += sd.shuffleWriteBytes()
            self.output_bytes += sd.outputBytes()
            self.executor_cpu_s += sd.executorCpuTime() / 1e9
            tl = store.taskList(sid, sd.attemptId(), 1 << 20)
            tasks = [tl.apply(k).taskMetrics() for k in range(tl.length())]
            self.stage_task_ms.append(
                [m.get().executorRunTime() for m in tasks if m.isDefined()]
            )
        self.python = self._python_metrics(spark, set(self.job_ids))

    @property
    def spark_jobs(self) -> int:
        return len(self.job_ids)

    def task_skew(self) -> float:
        """max ÷ median executor run time per task, in the stage that
        took the most executor time (the UDF stage, where there is one)."""
        t = max(self.stage_task_ms, key=sum, default=[])
        return max(t) / statistics.median(t) if t and statistics.median(t) > 0 else 0.0

    @staticmethod
    def _python_metrics(spark, job_ids) -> dict:
        out = {v: 0.0 for v in PYTHON_METRICS.values()}
        sql = spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.length()):
            e = execs.apply(i)
            jobs = e.jobs().keySet()
            if not any(jobs.contains(j) for j in job_ids):
                continue
            values = sql.executionMetrics(e.executionId())
            seen = set()
            ms = e.metrics()
            for k in range(ms.length()):
                m = ms.apply(k)
                key = PYTHON_METRICS.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in seen or not values.contains(acc):
                    continue
                seen.add(acc)
                out[key] += parse_total(values.apply(acc))
        return out
