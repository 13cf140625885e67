"""Spans around calls into the engine's layers, and the per-layer metrics
derived from them and from Spark's SQL metrics.

A span records name, start, end, parent and a few counts. While a span is
open it is the Spark job description (``rollbench#<span id>``), so every SQL
execution it starts can be attributed to it afterwards. Spans are kept in
memory and reduced once the measured loop has ended.

Per-layer values are per *cycle* (one pass over a workload's operations) and
the reported value is the median over the traced cycles. A layer the
workload never calls reports 0.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from sqlmetrics import Execution, StatusStoreReader

PREFIX = "rollbench#"

# span name (the engine function the span wraps) -> per-layer time metric
SPAN_METRICS = {
    "store.run_rollup": "store.run_rollup_s",
    "retention.apply_retention": "retention.apply_s",
    "tiers.encode_tier_blocks": "tiers.encode_blocks_s",
    "tiers.decode_tier_blocks": "tiers.decode_blocks_s",
    "tiers.gap_fill_tier": "tiers.gap_fill_s",
    "operators.summarize_by_time": "operators.summarize_s",
    "operators.augment_rolling": "operators.rolling_s",
    "webtext.dedup_exact": "webtext.dedup_exact_s",
    "webtext.minhash_dedup": "webtext.minhash_s",
    "webtext.repetition_signals": "webtext.repetition_s",
}

# every per-layer metric: unit, and the end-to-end metric (on the workload)
# a change to that layer should move
LAYERS = {
    "tiers.raw_to_tier_s": ("s", "rollup_s on bulk"),
    "tiers.tier_to_tier_s": ("s", "rollup_s on daily"),
    "tiers.encode_blocks_s": ("s", "derive_s on daily"),
    "tiers.decode_blocks_s": ("s", "analyze_s on daily"),
    "tiers.gap_fill_s": ("s", "analyze_s on daily"),
    "agg.build_s": ("s", "rollup_s on bulk"),
    "agg.peak_mem_mb": ("MB", "rollup_s on bulk"),
    "agg.spill_bytes": ("B", "rollup_s on bulk"),
    "agg.task_skew": ("ratio", "rollup_s on bulk"),
    "exchange.bytes": ("B", "rollup_s on bulk"),
    "exchange.records": ("count", "rollup_s on bulk"),
    "compression.encode_points_per_s": ("1/s", "derive_s on daily; none on bulk"),
    "compression.decode_points_per_s": ("1/s", "analyze_s on daily; none on bulk"),
    "compression.bytes_per_point": ("B", "block_bytes_per_point on daily"),
    "store.run_rollup_s": ("s", "rollup_s and rerun_s on daily; rollup_s on bulk"),
    "store.sql_executions": ("count", "rollup_s and rerun_s on daily"),
    "store.scan_rows_per_new_row": ("ratio", "rollup_s on daily"),
    "store.partitions_rewritten_per_changed": ("ratio", "rollup_s on daily"),
    "store.manifests_written": ("count", "rollup_s and rerun_s on daily"),
    "store.write_bytes": ("B", "rollup_s on bulk and daily"),
    "store.bytes_per_point": ("B", "store_bytes_per_point on bulk"),
    "scan.rows": ("count", "rollup_s and rerun_s on daily"),
    "scan.bytes": ("B", "rollup_s and rerun_s on daily"),
    "scan.time_s": ("s", "rollup_s and rerun_s on daily; rollup_s on bulk"),
    "retention.apply_s": ("s", "rollup_s on daily"),
    "retention.partitions_expired": ("count", "rollup_s on daily"),
    "operators.summarize_s": ("s", "analyze_s on daily"),
    "operators.rolling_s": ("s", "analyze_s on daily"),
    "webtext.dedup_exact_s": ("s", "derive_s on bulk"),
    "webtext.minhash_s": ("s", "analyze_s on bulk"),
    "webtext.repetition_s": ("s", "analyze_s on bulk"),
    "python.worker_start_s": ("s", "derive_s and analyze_s on daily and bulk"),
    "python.worker_init_s": ("s", "derive_s and analyze_s on daily and bulk"),
    "python.run_s": ("s", "derive_s and analyze_s on daily and bulk"),
    "python.bytes_to_worker": ("B", "derive_s and analyze_s on daily and bulk"),
    "python.bytes_from_worker": ("B", "derive_s and analyze_s on daily and bulk"),
    "sources.generate_s": ("s", "setup_s on both workloads"),
    "trace.overhead_s": ("s", "none: traced minus untraced cycle time"),
}

_AGG = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
_WRITE = "Execute InsertIntoHadoopFsRelationCommand"
_PY = {
    "python.worker_start_s": "time to start Python workers",
    "python.worker_init_s": "time to initialize Python workers",
    "python.run_s": "time to run Python workers",
    "python.bytes_to_worker": "data sent to Python workers",
    "python.bytes_from_worker": "data returned from Python workers",
}
# the target directory of a file write, from the plan's node details
_WRITE_TARGET = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\n.*?Arguments: (\S+?),", re.S
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; when disabled a span only times."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        rec = Span(len(self.spans), name, parent, time.perf_counter())
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(rec)
            self._sc.setJobDescription(f"{PREFIX}{rec.id}")
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()
                self._sc.setJobDescription(
                    f"{PREFIX}{self._stack[-1].id}" if self._stack else None
                )


def self_time(span: Span, spans: list[Span]) -> float:
    """A span's duration minus what its child spans cover."""
    return span.duration - sum(s.duration for s in spans if s.parent == span.id)


def write_target(plan: str) -> str | None:
    m = _WRITE_TARGET.search(plan)
    return m.group(1) if m else None


def _cycle_of(span: Span, by_id: dict[int, Span]) -> Span:
    while span.parent is not None:
        span = by_id[span.parent]
    return span


def cycle_metrics(
    spans: list[Span], execs: list[Execution], reader: StatusStoreReader
) -> dict[str, float]:
    """Per-layer metrics of one cycle from its spans and SQL executions.

    A ``run_rollup`` write into the 1h tier directory is the raw -> 1h
    aggregation; a write into a coarser tier's directory is a tier -> tier
    re-aggregation."""
    out = {metric: 0.0 for metric in SPAN_METRICS.values()}
    for s in spans:
        if s.name in SPAN_METRICS:
            out[SPAN_METRICS[s.name]] += s.duration

    rollup_ids = {s.id for s in spans if s.name == "store.run_rollup"}
    rollup_execs = [
        e for e in execs if int(e.description[len(PREFIX):]) in rollup_ids
    ]
    raw_to_tier = tier_to_tier = 0.0
    for e in rollup_execs:
        target = write_target(e.plan)
        if target is None:
            continue
        if target.endswith("/tier=1h"):
            raw_to_tier += e.duration_s
        else:
            tier_to_tier += e.duration_s
    out["tiers.raw_to_tier_s"] = raw_to_tier
    out["tiers.tier_to_tier_s"] = tier_to_tier

    counts: dict[str, float] = {}
    for s in spans:
        for k, v in s.counts.items():
            counts[k] = counts.get(k, 0.0) + v
    rollup_scan_rows = sum(e.total("Scan ", "number of output rows") for e in rollup_execs)
    new_rows = counts.get("new_rows", 0.0)
    changed = counts.get("changed_partitions", 0.0)
    out["store.sql_executions"] = float(len(rollup_execs))
    out["store.scan_rows_per_new_row"] = rollup_scan_rows / new_rows if new_rows else 0.0
    out["store.manifests_written"] = counts.get("manifests_written", 0.0)
    out["store.partitions_rewritten_per_changed"] = (
        counts.get("manifests_written", 0.0) / changed if changed else 0.0
    )
    out["store.write_bytes"] = sum(e.total(_WRITE, "written output") for e in rollup_execs)
    out["retention.partitions_expired"] = counts.get("partitions_expired", 0.0)

    out["agg.build_s"] = sum(e.total(_AGG, "time in aggregation build") for e in execs)
    out["agg.peak_mem_mb"] = max(
        (e.task_max(_AGG, "peak memory") for e in execs), default=0.0
    ) / 2**20
    out["agg.spill_bytes"] = sum(e.total(_AGG, "spill size") for e in execs)
    out["agg.task_skew"] = _agg_task_skew(execs, reader)
    out["exchange.bytes"] = sum(e.total("Exchange", "shuffle bytes written") for e in execs)
    out["exchange.records"] = sum(e.total("Exchange", "shuffle records written") for e in execs)
    out["scan.rows"] = sum(e.total("Scan ", "number of output rows") for e in execs)
    out["scan.bytes"] = sum(e.total("Scan ", "size of files read") for e in execs)
    out["scan.time_s"] = sum(e.total("Scan ", "scan time") for e in execs)
    for metric, spark_name in _PY.items():
        out[metric] = sum(e.total("", spark_name) for e in execs)
    return out


def _agg_task_skew(execs: list[Execution], reader: StatusStoreReader) -> float:
    """max / median task run time of the aggregate stage whose slowest task
    took longest (the stage that sets the aggregation's wall time); 1.0 when
    no aggregate stage ran more than one task."""
    worst = None  # (max task time, median task time)
    for e in execs:
        if not any(node.startswith(_AGG) for node, *_ in e.metrics):
            continue
        for stage in e.stage_ids:
            n, med, mx = reader.task_run_times(stage)
            if n >= 2 and med > 0 and (worst is None or mx > worst[0]):
                worst = (mx, med)
    return worst[0] / worst[1] if worst else 1.0


def layer_metrics(tracer: Tracer, reader: StatusStoreReader) -> dict[str, float]:
    """Median over traced cycles of each per-layer metric."""
    reader.sync()
    by_id = {s.id: s for s in tracer.spans}
    cycles = [s for s in tracer.spans if s.name == "cycle"]
    spans_of: dict[int, list[Span]] = {c.id: [] for c in cycles}
    for s in tracer.spans:
        root = _cycle_of(s, by_id)
        if root.id in spans_of:
            spans_of[root.id].append(s)
    execs_of: dict[int, list[Execution]] = {c.id: [] for c in cycles}
    for e in reader.executions(PREFIX):
        root = _cycle_of(by_id[int(e.description[len(PREFIX):])], by_id)
        if root.id in execs_of:
            execs_of[root.id].append(e)
    per_cycle = [
        cycle_metrics(spans_of[c.id], execs_of[c.id], reader)
        for c in cycles
    ]
    return {k: statistics.median(m[k] for m in per_cycle) for k in per_cycle[0]}


def self_times(tracer: Tracer) -> dict[str, float]:
    """Median over traced cycles of each span name's summed self time."""
    by_id = {s.id: s for s in tracer.spans}
    per_cycle: dict[int, dict[str, float]] = {}
    for s in tracer.spans:
        root = _cycle_of(s, by_id)
        if root.name == "cycle":
            times = per_cycle.setdefault(root.id, {})
            times[s.name] = times.get(s.name, 0.0) + self_time(s, tracer.spans)
    names = sorted({n for times in per_cycle.values() for n in times})
    return {
        n: statistics.median(times.get(n, 0.0) for times in per_cycle.values())
        for n in names
    }
