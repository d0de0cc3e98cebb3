"""Per-layer counters read from Spark's own status stores.

Nothing here touches the engine's code: after each query the traced run
reads the jobs, stages and tasks the query caused from the application
status store (``SparkContext.statusStore``) and the per-operator SQL
metrics of its SQL executions from the SQL status store
(``sharedState().statusStore()``). Both are populated with the Spark UI
disabled.
"""

from __future__ import annotations

import re
from collections import Counter

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOKEN = re.compile(r"\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """The total of a rendered SQL metric, in bytes, seconds or a plain count.

    Spark renders a metric as ``1,234``, ``466.5 KiB`` or ``12 ms``; a metric
    updated by several tasks gets a ``total (min, med, max ...)`` header line
    and then ``9.4 s (344 ms, 2.0 s, 2.2 s (stage 15.0: task 7))``, whose
    leading figure is the total.
    """
    lines = text.strip().splitlines()
    m = _TOKEN.match(lines[-1]) if lines else None
    if m is None:
        raise ValueError(f"unparseable SQL metric {text!r}")
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if not unit:
        return value
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")


# SQL metric name -> the per-layer metric it is summed into, over every plan
# node that carries it (the Python metrics appear on FlatMapGroupsInPandas,
# ArrowEvalPython and the Python data source scan and write nodes).
SQL_SUMS = {
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "number of total state rows": "streaming.state_rows",
    "time to commit changes": "streaming.state_commit_s",
}
# The same, summed over parquet Scan nodes only.
SCAN_SUMS = {
    "number of files read": "io.scan_files",
    "size of files read": "io.scan_bytes",
    "scan time": "io.scan_s",
}


def _opt(option):
    return option.get() if option.isDefined() else None


def _millis(date_option) -> int | None:
    d = _opt(date_option)
    return None if d is None else d.getTime()


class SparkCounters:
    """Reads what Spark recorded since the previous :meth:`take`."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._app = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._sc.listenerBus().waitUntilEmpty()
        existing = self._job_ids_from(0)
        self._next_job = existing[-1] + 1 if existing else 0
        self._last_exec = max(self._exec_ids_after(-1), default=-1)

    def _job_ids_from(self, first: int) -> list[int]:
        jobs = self._app.jobsList(None)  # newest first
        ids = []
        for i in range(jobs.size()):
            job_id = jobs.apply(i).jobId()
            if job_id < first:
                break
            ids.append(job_id)
        return sorted(ids)

    def _exec_ids_after(self, last: int) -> list[int]:
        total = self._sql.executionsCount()
        window = 64
        while True:
            start = max(0, total - window)
            execs = self._sql.executionsList(start, window)
            ids = [execs.apply(i).executionId() for i in range(execs.size())]
            if start == 0 or (ids and ids[0] <= last):
                return [i for i in ids if i > last]
            window *= 4

    def take(self) -> tuple[dict[str, float], list[dict]]:
        """Counters and job spans for everything since the previous call."""
        self._sc.listenerBus().waitUntilEmpty()
        job_ids = self._job_ids_from(self._next_job)
        if job_ids:
            self._next_job = job_ids[-1] + 1
        exec_ids = self._exec_ids_after(self._last_exec)
        if exec_ids:
            self._last_exec = exec_ids[-1]
        counters: Counter = Counter()
        jobs, stage_ids = [], set()
        for job_id in job_ids:
            job = self._app.job(job_id)
            stages = job.stageIds()
            stage_ids.update(stages.apply(i) for i in range(stages.size()))
            jobs.append({
                "name": "job",
                "job_id": job_id,
                "group": _opt(job.jobGroup()),
                "start_ms": _millis(job.submissionTime()),
                "end_ms": _millis(job.completionTime()),
                "status": str(job.status()),
            })
        counters["spark.jobs"] = len(jobs)
        for stage_id in sorted(stage_ids):
            self._add_stage(counters, stage_id)
        for exec_id in exec_ids:
            self._add_execution(counters, exec_id)
        return dict(counters), jobs

    def _add_stage(self, counters: Counter, stage_id: int) -> None:
        st = self._app.lastStageAttempt(stage_id)
        if str(st.status()) == "SKIPPED":
            return
        counters["spark.stages"] += 1
        counters["spark.tasks"] += st.numTasks()
        counters["spark.failed_tasks"] += st.numFailedTasks()
        counters["spark.executor_run_s"] += st.executorRunTime() / 1e3
        counters["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
        counters["spark.jvm_gc_s"] += st.jvmGcTime() / 1e3
        counters["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
        counters["spark.fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
        counters["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        # a stage's figure is the sum of its tasks' peaks; keep the largest stage
        counters["spark.peak_exec_mem_bytes"] = max(
            counters["spark.peak_exec_mem_bytes"], st.peakExecutionMemory()
        )
        # an empty task read no input and no shuffle records
        tasks = self._app.taskList(stage_id, st.attemptId(), st.numTasks())
        for i in range(tasks.size()):
            metrics = _opt(tasks.apply(i).taskMetrics())
            if metrics is None:
                continue
            read = (
                metrics.inputMetrics().recordsRead()
                + metrics.shuffleReadMetrics().recordsRead()
            )
            counters["spark.empty_tasks"] += read == 0

    def _add_execution(self, counters: Counter, exec_id: int) -> None:
        values = self._sql.executionMetrics(exec_id)
        nodes = self._sql.planGraph(exec_id).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            is_scan = node.name().startswith("Scan parquet")
            metrics = node.metrics()
            for j in range(metrics.size()):
                metric = metrics.apply(j)
                name = metric.name()
                layer = SQL_SUMS.get(name) or (is_scan and SCAN_SUMS.get(name))
                if not layer:
                    continue
                text = _opt(values.get(metric.accumulatorId()))
                if text is not None:
                    counters[layer] += parse_metric(text)
