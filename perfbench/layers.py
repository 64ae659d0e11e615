"""Per-layer metrics of a traced run, from the spans, the Spark counters and
the workload's own per-operation counts of the traced operations.

Layer self times and counts are per traced operation; ``<function>_s`` of
a named function is per call of that function; streaming state sizes are the
mean over operations of the state kept after each one."""

from __future__ import annotations

from typing import Sequence

from perfbench.sparkstats import OpCounters
from perfbench.stats import Span, layer_self_seconds, percentile

SPARK = [  # (metric, OpCounters field, unit)
    ("spark.shuffle_write_mb", "shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "shuffle_read_mb", "MB"),
    ("spark.task_run_s", "task_run_s", "s"),
    ("spark.task_cpu_s", "task_cpu_s", "s"),
    ("spark.spill_mb", "spill_mb", "MB"),
    ("spark.jobs", "jobs", "count"),
    ("spark.stages", "stages", "count"),
    ("spark.tasks", "tasks", "count"),
    ("spark.driver_s", "driver_s", "s"),
    ("spark.gc_s", "gc_s", "s"),
    ("spark.failed_tasks", "failed_tasks", "count"),
]
PIPELINES = ["naive_suppression_pipeline", "t_closeness_pipeline", "clustering_pipeline"]
SELF_LAYERS = ["operators.kanonymity", "operators.tcloseness", "operators.metrics",
               "operators.clustering", "functions.binning", "operators.dp"]
WORKLOAD_COUNTS = [  # (metric, unit) summed from the workload's per-operation numbers
    ("operators.util.cached_relations", "count"),
    ("sources.writers.files", "count"),
    ("sources.writers.output_mb", "MB"),
    ("streaming.trigger_ms", "ms"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.get_batch_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.state_rows", "count"),
    ("streaming.state_mb", "MB"),
]


def _named(spans: Sequence[Span], layer: str, name: str) -> list[Span]:
    return [s for s in spans if s.layer == layer and s.name == name]


def overhead_pct(untraced_s: Sequence[float], traced_s: Sequence[float]) -> float:
    """Traced vs untraced median operation latency, in percent."""
    base = percentile(untraced_s, 50)
    return (percentile(traced_s, 50) - base) / base * 100.0


def layer_metrics(ops: dict, spans: Sequence[Span], cpus: int) -> dict:
    traced = ops["traced"]
    n = max(1, len(traced))
    out: dict[str, tuple[float, str]] = {}

    total = OpCounters()
    for op in traced:
        total.add(ops["counters"][op])
    for metric, field, unit in SPARK:
        out[metric] = (getattr(total, field) / n, unit)
    busy = sum((ops["walls"][op][1] - ops["walls"][op][0]) * cpus for op in traced)
    out["spark.core_busy_share"] = (total.task_run_s / busy if busy else 0.0, "ratio")

    for fn in PIPELINES:
        calls = _named(spans, "pipelines", fn)
        out[f"pipelines.{fn}_s"] = (
            sum(s.duration for s in calls) / len(calls) if calls else 0.0, "s")
    self_s = layer_self_seconds(spans)
    for layer in SELF_LAYERS:
        out[f"{layer}.self_s"] = (self_s.get(layer, 0.0) / n, "s")
    by_id = {s.span_id: s for s in spans}
    dp_calls = [s for s in spans if s.layer == "operators.dp"
                and (s.parent_id is None or by_id[s.parent_id].layer != "operators.dp")]
    out["operators.dp.calls"] = (len(dp_calls) / n, "count")
    gates = _named(spans, "operators.util", "gate_broadcast_keys")
    out["operators.util.gate_broadcast_keys_s"] = (sum(s.duration for s in gates) / n, "s")
    out["operators.util.gate_broadcast_keys_calls"] = (len(gates) / n, "count")
    writes = _named(spans, "sources.writers", "write_release")
    out["sources.writers.write_release_s"] = (sum(s.duration for s in writes) / n, "s")
    out["action.collect_s"] = (sum(s.duration for s in _named(spans, "action", "collect")) / n, "s")

    for metric, unit in WORKLOAD_COUNTS:
        out[metric] = (sum(ops["numbers"][op].get(metric, 0.0) for op in traced) / n, unit)

    lat = ops["latency"]
    untraced = [lat[op] for op in lat if op not in set(traced)]
    out["tracing.overhead_pct"] = (
        overhead_pct(untraced, [lat[op] for op in traced]) if traced and untraced else 0.0, "%")
    return {name: {"value": value, "unit": unit} for name, (value, unit) in out.items()}
