"""Spark job metrics keyed by job group, read from the status stores.

Each measured action runs under its own job group.  Afterwards the reader
collects, for that group only:

* per-stage task metrics from the core status store
  (``statusStore().lastStageAttempt``): run, CPU and GC time, shuffle
  bytes, and per-task durations of the heaviest stage;
* per-node SQL metrics from the SQL status store
  (``SQLAppStatusStore.executionMetrics`` over ``planGraph`` nodes), e.g.
  the ``MapInArrow`` node's Python worker times and bytes each way;
* each SQL execution's wall interval and physical plan, so a caller can
  attribute the executions a CLI call ran.

Both stores are kept with ``spark.ui.enabled=false``.  SQL metric values
arrive formatted ("19.0 MiB", "6.3 s", "20,008"); they are parsed back to
bytes, milliseconds and counts at the precision Spark prints.
"""

from __future__ import annotations

import re
import statistics

from py4j.protocol import Py4JJavaError

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3,
         "TiB": 1024**4}
_TIME_MS = {"ns": 1e-6, "ms": 1.0, "s": 1000.0, "m": 60_000.0,
            "h": 3_600_000.0}
_VALUE = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float | None:
    """A formatted SQL metric -> its total as bytes, ms or a plain number.
    Multi-task metrics print "total (min, med, max ...)" on the first line
    and the values on the second; the total is the first value there."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        return None
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME_MS:
        return value * _TIME_MS[unit]
    return value


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt(scala_opt):
    return scala_opt.get() if scala_opt.isDefined() else None


class SparkStats:
    def __init__(self, spark):
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def job_ids(self, group: str) -> list[int]:
        return [int(j.jobId()) for j in _seq(self._app.jobsList(None))
                if _opt(j.jobGroup()) == group]

    def jobs(self, group: str) -> dict:
        """Job, stage and task counts of the stages that ran (skipped
        stages reuse earlier shuffle output and did no work)."""
        rows = [j for j in _seq(self._app.jobsList(None))
                if _opt(j.jobGroup()) == group]
        return {
            "jobs": len(rows),
            "stages": sum(int(j.numCompletedStages()) for j in rows),
            "tasks": sum(int(j.numCompletedTasks()) for j in rows),
            "stage_ids": sorted({int(s) for j in rows
                                 for s in _seq(j.stageIds())}),
        }

    def stages(self, group: str) -> dict:
        """Task metrics summed over the group's stages, and the task
        durations of its heaviest stage."""
        info = self.jobs(group)
        total = {"executor_run_ms": 0, "executor_cpu_ms": 0.0,
                 "jvm_gc_ms": 0, "shuffle_write_bytes": 0,
                 "shuffle_read_bytes": 0}
        heaviest = None
        for sid in info["stage_ids"]:
            try:
                sd = self._app.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            if str(sd.status()) != "COMPLETE":
                continue
            run = int(sd.executorRunTime())
            total["executor_run_ms"] += run
            total["executor_cpu_ms"] += int(sd.executorCpuTime()) / 1e6
            total["jvm_gc_ms"] += int(sd.jvmGcTime())
            total["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
            total["shuffle_read_bytes"] += int(sd.shuffleReadBytes())
            if heaviest is None or run > heaviest[0]:
                heaviest = (run, sd)
        durations, records = [], []
        if heaviest is not None:
            sd = heaviest[1]
            for t in _seq(self._app.taskList(sd.stageId(), sd.attemptId(),
                                             100_000)):
                d = _opt(t.duration())
                if d is not None:
                    durations.append(int(d))
                tm = _opt(t.taskMetrics())
                if tm is not None:
                    records.append(int(tm.inputMetrics().recordsRead()))
        total["task_ms_p50"] = (statistics.median(durations)
                                if durations else 0.0)
        total["task_ms_max"] = max(durations, default=0)
        total["heaviest_task_records"] = records
        total.update({k: info[k] for k in ("jobs", "stages", "tasks")})
        return total

    def executions(self, group: str) -> list[dict]:
        """The group's SQL executions in submission order, each with its
        wall interval (epoch seconds), physical plan and node metrics."""
        ids = set(self.job_ids(group))
        out = []
        for e in _seq(self._sql.executionsList()):
            jobs = {int(x) for x in
                    str(e.jobs().keys().mkString(",")).split(",") if x}
            if not jobs & ids:
                continue
            done = _opt(e.completionTime())
            out.append({
                "id": int(e.executionId()),
                "start": int(e.submissionTime()) / 1000.0,
                "end": (int(done.getTime()) / 1000.0 if done is not None
                        else None),
                "plan": str(e.physicalPlanDescription()),
                "nodes": self._nodes(int(e.executionId())),
            })
        out.sort(key=lambda x: x["start"])
        return out

    def _nodes(self, execution_id: int) -> list[tuple[str, dict]]:
        values = self._sql.executionMetrics(execution_id)
        nodes = []
        for node in _seq(self._sql.planGraph(execution_id).allNodes()):
            metrics = {}
            for m in _seq(node.metrics()):
                v = _opt(values.get(m.accumulatorId()))
                if v is not None:
                    parsed = parse_metric(str(v))
                    if parsed is not None:
                        metrics[str(m.name())] = parsed
            nodes.append((str(node.name()).strip(), metrics))
        return nodes


def node_total(executions: list[dict], node: str, metric: str) -> float:
    """Sum of one metric over every node of that name in the executions."""
    return sum(m.get(metric, 0.0) for e in executions
               for name, m in e["nodes"] if name == node)
