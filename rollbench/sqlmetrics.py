"""Read Spark's per-execution SQL metrics from the status store.

Spark keeps the metrics of every SQL execution (one per action) in the
driver's status store even with the UI disabled. Each value arrives as the
string the UI would show, so ``parse_value`` turns it back into a number in
base units: seconds for timings, bytes for sizes, plain counts otherwise.

Executions are matched to benchmark spans by their description: a span sets
``SparkContext.setJobDescription`` while it runs, and Spark copies the job
description into every SQL execution the span starts.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30,
    "TiB": 2**40, "PiB": 2**50, "EiB": 2**60,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def _number(text: str) -> float:
    m = _VALUE.match(text)
    if m is None:
        raise ValueError(f"unparsable SQL metric value: {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return number
    if unit in _TIME_UNITS:
        return number * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return number * _SIZE_UNITS[unit]
    raise ValueError(f"unknown unit {unit!r} in SQL metric value: {text!r}")


def parse_value(text: str) -> tuple[float, float]:
    """(total, max) in base units from a formatted SQL metric value.

    Handles plain counts (``"65,799"``), timings (``"4.0 s"``, ``"12 ms"``)
    and sizes (``"158.7 KiB"``). Per-task metrics come as two lines, a
    ``total (min, med, max ...)`` header and then
    ``"14.1 s (463 ms, 2.9 s, 3.2 s (stage 57.0: task 94))"``; the total and
    the largest task's value are returned. A metric with no total (a
    ``(min, med, max ...):`` header) returns its max for both. A single
    value is both its own total and max."""
    lines = text.strip().splitlines()
    if len(lines) == 1:
        v = _number(lines[0])
        return v, v
    header, values = lines[0], lines[1]
    if header.startswith("(min, med, max"):
        v = _number(values.lstrip("(").split(",")[2])
        return v, v
    if not header.startswith(("total", "avg")):
        raise ValueError(f"unparsable SQL metric value: {text!r}")
    total, spread = values.split("(", 1)
    return _number(total), _number(spread.split(",")[2])


@dataclass
class Execution:
    """One finished SQL execution and its parsed plan-node metrics."""

    id: int
    description: str
    duration_s: float
    plan: str
    stage_ids: list[int]
    # (node name, metric name, total, largest task's value), base units
    metrics: list[tuple[str, str, float, float]] = field(default_factory=list)

    def total(self, node_prefix: str, metric: str) -> float:
        """Sum of a metric over the plan nodes whose name has the prefix."""
        return sum(
            t for node, name, t, _ in self.metrics
            if node.startswith(node_prefix) and name == metric
        )

    def task_max(self, node_prefix: str, metric: str) -> float:
        """Largest single-task value of a metric over matching nodes."""
        return max(
            (mx for node, name, _, mx in self.metrics
             if node.startswith(node_prefix) and name == metric),
            default=0.0,
        )


class StatusStoreReader:
    """Executions and task-time summaries from a live SparkSession."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._sc._jsc.sc().statusStore()

    def sync(self) -> None:
        """Wait until the listener bus has recorded every finished event."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def executions(self, description_prefix: str) -> list[Execution]:
        """Finished executions whose description starts with the prefix."""
        out = []
        it = self._sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            desc = e.description() or ""
            done = e.completionTime()
            if not desc.startswith(description_prefix) or not done.isDefined():
                continue
            stages = []
            st = e.stages().iterator()
            while st.hasNext():
                stages.append(int(st.next()))
            ex = Execution(
                id=int(e.executionId()),
                description=desc,
                duration_s=(done.get().getTime() - e.submissionTime()) / 1000.0,
                plan=e.physicalPlanDescription() or "",
                stage_ids=sorted(stages),
            )
            ex.metrics = self._node_metrics(ex.id)
            out.append(ex)
        return out

    def _node_metrics(self, execution_id: int) -> list[tuple[str, str, float, float]]:
        values = self._sql.executionMetrics(execution_id)
        graph = self._sql.planGraph(execution_id)
        out = []
        nodes = graph.allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            ms = node.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out.append((node.name().strip(), m.name(), *parse_value(v.get())))
        return out

    def task_run_times(self, stage_id: int) -> tuple[int, float, float]:
        """(task count, median, max) executor run time in seconds of a
        stage's first attempt; (0, 0.0, 0.0) for a stage that ran no task
        (skipped because its shuffle output was reused)."""
        n_tasks = int(self._app.taskCount(stage_id, 0))
        if n_tasks == 0:
            return 0, 0.0, 0.0
        gw = self._sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        times = self._app.taskSummary(stage_id, 0, q).get().executorRunTime()
        return n_tasks, times.apply(0) / 1000.0, times.apply(1) / 1000.0
