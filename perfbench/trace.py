"""Spans recorded from outside the engine, and their Spark counters.

A span is one layer function's output materialized under a Spark job group
named after the span. Spans live in memory while the run goes on; after the
session stops, the event log (``spark.eventLog.*``, a session setting) is
parsed once and each task is charged to the span whose job group submitted
its stage.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

from perfbench.harness import percentile

SPAN_FIELDS = (
    "self_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "task_skew",
    "cpu_busy",
    "tasks_failed",
)
SPAN_UNITS = {
    "self_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "task_skew": "ratio",
    "cpu_busy": "ratio",
    "tasks_failed": "count",
}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(parent or "", parent or "")
            self.spans.append(
                {"name": name, "parent": parent, "start": t0, "end": t1}
            )

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part its child spans cover."""
        out = {s["name"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] in out:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _scopes(stage_info: dict) -> set[tuple[str, str]]:
    """(operator name, scope id) of every RDD in a stage. A scope id names
    one execution of a physical operator: a recompute gets a new id, a read
    of a cached result keeps the id of the run that cached it."""
    out = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            s = json.loads(scope)
            out.add((s.get("name", ""), s.get("id", "")))
    return out


def read_event_log(event_log_dir: str) -> dict:
    """Per job group: its tasks and the operator names of its stages."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(event_log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[info["Stage ID"]] = group or ""
                    g = groups.setdefault(group or "", {"tasks": [], "stages": {}})
                    g["stages"][info["Stage ID"]] = _scopes(info)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"], "")
                    m = ev.get("Task Metrics") or {}
                    shuffle = m.get("Shuffle Write Metrics") or {}
                    groups.setdefault(group, {"tasks": [], "stages": {}})[
                        "tasks"
                    ].append(
                        {
                            "stage": ev["Stage ID"],
                            "ok": (ev.get("Task End Reason") or {}).get("Reason")
                            == "Success",
                            "run_ms": m.get("Executor Run Time", 0),
                            "cpu_ns": m.get("Executor CPU Time", 0),
                            "shuffle_bytes": shuffle.get("Shuffle Bytes Written", 0),
                            "spill_bytes": m.get("Disk Bytes Spilled", 0),
                        }
                    )
    return groups


def span_metrics(name: str, self_s: float, group: dict | None, cores: int) -> dict:
    """The six per-span figures. ``task_skew`` is max / median task run
    time in the span's busiest stage; ``cpu_busy`` is JVM executor CPU
    (Python UDF workers are separate processes, not counted) over the
    span's self time on every core."""
    tasks = (group or {}).get("tasks", [])
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    skew = 0.0
    if by_stage:
        busiest = max(by_stage.values(), key=sum)
        med = percentile(busiest, 0.5)
        skew = max(busiest) / med if med > 0 else 1.0
    cpu_s = sum(t["cpu_ns"] for t in tasks) / 1e9
    values = {
        "self_s": self_s,
        "shuffle_write_bytes": sum(t["shuffle_bytes"] for t in tasks),
        "spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "task_skew": skew,
        "cpu_busy": cpu_s / (self_s * cores) if self_s > 0 else 0.0,
        "tasks_failed": sum(not t["ok"] for t in tasks),
    }
    return {f"{name}.{k}": (float(v), SPAN_UNITS[k]) for k, v in values.items()}


def udf_runs(group: dict | None, operator: str = "FlatMapGroupsInPandas") -> int:
    """Executions of grouped pandas UDF operators in a job group."""
    stages = (group or {}).get("stages", {})
    return len({sid for scopes in stages.values() for name, sid in scopes if name == operator})


# Every per-layer metric a traced run prints, with its unit. A workload
# prints all of them; a layer it does not run reads 0.
BATCH_SPANS = (
    "sources.scan",
    "fragment.tag_narrow",
    "fragment.base",
    "segment_map.match",
    "fragment.counted_arrays",
    "tag.records",
    "segments.daily",
    "sink.write",
    "identity.vessel_daily",
)
OTHER_LAYER_UNITS = {
    "fragment.records_in": "count",
    "fragment.noise_records": "count",
    "fragment.fragments_out": "count",
    "segment_map.segmap_rows": "count",
    "segments.segment_days": "count",
    "sink.bytes_written": "bytes",
    "pipeline.udf_pass_ratio": "ratio",
    "kernel.fragment_s": "s",
    "kernel.greedy_merge_s": "s",
    "kernel.records_per_s": "records/s",
    "stream.batches": "count",
    "stream.files_per_batch_mean": "count",
    "stream.trigger_s_p50": "s",
    "stream.trigger_s_p90": "s",
    "stream.add_batch_s_p50": "s",
    "stream.overhead_s_p50": "s",
    "state.rows_total_peak": "count",
    "state.bytes_peak": "bytes",
    "state.commit_s_p50": "s",
    "state.updates_s_p50": "s",
    "state.rows_updated_per_record": "ratio",
    "stream.dropped_by_watermark": "count",
    "sink.batch_write_s_p50": "s",
    "sink.rows_written": "count",
    "stream.backlog_files_max": "count",
    "gen.late_s_max": "s",
    "trace.overhead_s": "s",
}


def per_layer_template() -> dict[str, tuple[float, str]]:
    out = {
        f"{span}.{k}": (0.0, SPAN_UNITS[k]) for span in BATCH_SPANS for k in SPAN_FIELDS
    }
    out.update({k: (0.0, u) for k, u in OTHER_LAYER_UNITS.items()})
    return out
