"""Offline parser for Spark's local JSON event log.

Spark writes one JSON object per line when ``spark.eventLog.enabled`` is
set. This module reads such a file after the session has stopped and sums
task metrics per *layer*, the value of the ``LAYER_KEY`` local property
the benchmark sets around each call into verde_spark. No UI, network or
extra package is needed.

Stages are attributed through the properties of their submission event,
so jobs that Spark starts on helper threads (broadcast exchanges) land in
the layer of the call that caused them.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from typing import Dict, List

LAYER_KEY = "perfbench.layer"

_JOIN_NODES = (
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "SortMergeJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)
_STAGE_SUBMITTED = "SparkListenerStageSubmitted"
_JOB_START = "SparkListenerJobStart"
_TASK_END = "SparkListenerTaskEnd"
_SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)


@dataclass
class StageStats:
    run_ms: List[float] = field(default_factory=list)
    gc_ms: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_bytes: int = 0


@dataclass
class LayerStats:
    """Totals of one layer over every traced pass."""

    jobs: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    #: max / median task run time of the layer's busiest stage
    skew: float = 1.0
    #: output rows of every inner or cross join, and how many such join
    #: operators ran
    join_rows: int = 0
    joins: int = 0


def _join_row_accumulators(plan: dict, out: Dict[int, str]) -> None:
    """Collect the ``number of output rows`` accumulator of every inner or
    cross join in a SparkPlanInfo tree."""
    name = plan.get("nodeName", "")
    desc = plan.get("simpleString", "")
    if name.startswith(_JOIN_NODES) and (
        ", Inner" in desc or ", Cross" in desc or name == "CartesianProduct"
    ):
        for metric in plan.get("metrics", []):
            if metric.get("name") == "number of output rows":
                out[int(metric["accumulatorId"])] = desc
    for child in plan.get("children", []):
        _join_row_accumulators(child, out)


def parse(path: str) -> Dict[str, LayerStats]:
    """Per-layer totals from one event-log file."""
    stage_layer: Dict[int, str] = {}
    stages: Dict[int, StageStats] = {}
    layers: Dict[str, LayerStats] = {}
    join_accs: Dict[int, str] = {}
    join_rows: Dict[str, Dict[int, int]] = {}

    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == _JOB_START:
                layer = (ev.get("Properties") or {}).get(LAYER_KEY)
                if layer:
                    layers.setdefault(layer, LayerStats()).jobs += 1
            elif kind == _STAGE_SUBMITTED:
                layer = (ev.get("Properties") or {}).get(LAYER_KEY)
                if layer:
                    stage_layer[ev["Stage Info"]["Stage ID"]] = layer
            elif kind in _SQL_PLAN_EVENTS:
                _join_row_accumulators(ev.get("sparkPlanInfo") or {}, join_accs)
            elif kind == _TASK_END:
                sid = ev["Stage ID"]
                layer = stage_layer.get(sid)
                info = ev.get("Task Info") or {}
                tm = ev.get("Task Metrics")
                if layer is None or tm is None or info.get("Failed"):
                    continue
                st = stages.setdefault(sid, StageStats())
                st.run_ms.append(float(tm.get("Executor Run Time", 0)))
                st.gc_ms += float(tm.get("JVM GC Time", 0))
                rd = tm.get("Shuffle Read Metrics") or {}
                st.shuffle_read += int(rd.get("Remote Bytes Read", 0)) + int(
                    rd.get("Local Bytes Read", 0)
                )
                wr = tm.get("Shuffle Write Metrics") or {}
                st.shuffle_write += int(wr.get("Shuffle Bytes Written", 0))
                st.spill += int(tm.get("Disk Bytes Spilled", 0))
                st.input_bytes += int((tm.get("Input Metrics") or {}).get("Bytes Read", 0))
                for acc in info.get("Accumulables", []):
                    acc_id = int(acc.get("ID", -1))
                    if acc_id in join_accs:
                        per = join_rows.setdefault(layer, {})
                        per[acc_id] = per.get(acc_id, 0) + int(acc.get("Update", 0))

    busiest: Dict[str, float] = {}
    for sid, st in stages.items():
        ls = layers.setdefault(stage_layer[sid], LayerStats())
        total = sum(st.run_ms)
        ls.task_s += total / 1000.0
        ls.gc_s += st.gc_ms / 1000.0
        ls.shuffle_read_bytes += st.shuffle_read
        ls.shuffle_write_bytes += st.shuffle_write
        ls.spill_bytes += st.spill
        ls.input_bytes += st.input_bytes
        layer = stage_layer[sid]
        if len(st.run_ms) >= 2 and total > busiest.get(layer, -1.0):
            busiest[layer] = total
            med = statistics.median(st.run_ms)
            ls.skew = max(st.run_ms) / med if med > 0 else 1.0
    for layer, per in join_rows.items():
        ls = layers.setdefault(layer, LayerStats())
        ls.join_rows = sum(per.values())
        ls.joins = sum(1 for v in per.values() if v > 0)
    return layers
