"""Per-layer spans recorded around calls into sparkval's public functions.

Each traced call runs inside a Spark job group named after the layer,
so the event log (switched on only for the traced session) attributes
every job, stage and task to the call that caused it. Spans stay in
memory; the event log is parsed once, after the session has stopped
and flushed it.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from collections import defaultdict

#: every per-layer measure a Spark-side layer reports, with its unit
SPARK_MEASURES = {
    "s": "s", "rows_out": "count", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "fetch_wait_s": "s", "task_skew": "ratio", "failed_tasks": "count",
}
#: layers that run in this Python process start no Spark job: wall
#: time and output size only
LOCAL_MEASURES = {"s": "s", "rows_out": "count"}


class Tracer:
    """Times ``fn`` together with the action that forces its result."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []

    def call(self, layer: str, fn, force, rows=None):
        """Run ``force(fn())`` inside job group ``layer``; returns the
        forced value. ``rows(value)`` counts the output, untimed."""
        self.sc.setJobGroup(layer, layer)
        try:
            t0 = time.perf_counter()
            value = force(fn())
            t1 = time.perf_counter()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        n = rows(value) if rows is not None else None
        self.spans.append({"layer": layer, "start": t0, "end": t1, "rows_out": n})
        return value

    def totals(self) -> dict[str, dict]:
        out: dict[str, dict] = {}
        for sp in self.spans:
            agg = out.setdefault(sp["layer"], {"s": 0.0, "rows_out": 0})
            agg["s"] += sp["end"] - sp["start"]
            agg["rows_out"] += sp["rows_out"] or 0
        return out


def _metric(tm: dict, *path, default=0):
    for p in path:
        if not isinstance(tm, dict) or p not in tm:
            return default
        tm = tm[p]
    return tm


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: shuffle write, spill, fetch wait, task skew
    (max over stages of slowest task run time / median task run time)
    and failed tasks."""
    group_of_stage: dict[int, str] = {}
    run_ms: dict[int, list[int]] = defaultdict(list)
    acc: dict[str, dict] = defaultdict(lambda: {
        "shuffle_write_mb": 0.0, "spill_mb": 0.0, "fetch_wait_s": 0.0,
        "task_skew": 1.0, "failed_tasks": 0,
    })
    # read after the session stopped, so every log is complete
    for path in glob.glob(f"{log_dir}/*"):
        if path.endswith(".crc"):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            group_of_stage[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = group_of_stage.get(ev["Stage ID"])
                    if group is None:
                        continue
                    a = acc[group]
                    if _metric(ev, "Task End Reason", "Reason", default="Success") != "Success":
                        a["failed_tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    a["shuffle_write_mb"] += _metric(
                        tm, "Shuffle Write Metrics", "Shuffle Bytes Written") / 2**20
                    a["spill_mb"] += _metric(tm, "Disk Bytes Spilled") / 2**20
                    a["fetch_wait_s"] += _metric(
                        tm, "Shuffle Read Metrics", "Fetch Wait Time") / 1000.0
                    run_ms[ev["Stage ID"]].append(_metric(tm, "Executor Run Time"))
    for sid, times in run_ms.items():
        med = statistics.median(times)
        if len(times) >= 2 and med > 0:
            a = acc[group_of_stage[sid]]
            a["task_skew"] = max(a["task_skew"], max(times) / med)
    return dict(acc)


def layer_metrics(layers: dict[str, str], tracer: Tracer, events: dict[str, dict]) -> dict:
    """Flatten into ``<layer>.<measure>`` entries for every declared
    layer; a layer this workload never calls reports 0."""
    totals = tracer.totals()
    out = {}
    for layer, kind in layers.items():
        measures = SPARK_MEASURES if kind == "spark" else LOCAL_MEASURES
        called = layer in totals
        for m, unit in measures.items():
            if m in ("s", "rows_out"):
                v = totals.get(layer, {}).get(m, 0)
            elif not called:
                v = 0
            else:
                v = events.get(layer, {}).get(m, 1.0 if m == "task_skew" else 0)
            out[f"{layer}.{m}"] = {"value": v, "unit": unit}
    return out
