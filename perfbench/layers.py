"""Per-layer attribution from outside the engine.

``Tracer`` wraps the public functions of each layer (named after the
engine's modules). Every call records a span (layer, function, start, end,
parent) and runs under the Spark job group ``<layer>:<function>``; the
parent's group is restored on exit, so a job belongs to the innermost layer
call that ran it. Jobs, stages and tasks per group come from Spark's status
tracker; executor time, GC, bytes and spill come from the event log, which
``eventlog_conf`` enables at launch for the traced run only.

Spark is lazy: ``sources.read`` and ``operators`` calls only build plans,
so their executor work shows under the layer whose action runs it (a
writer, or the export). The prefix ablation splits compute between layers.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import sys
import time
from dataclasses import dataclass

LAYERS: dict[str, list[tuple[str, str]]] = {
    "session": [("ncagg_spark.session", "get_spark")],
    "sources.read": [
        ("ncagg_spark.sources.nc_granules", "nc_attributes"),
        ("ncagg_spark.sources.nc_granules", "read_nc_granules"),
    ],
    "operators": [("ncagg_spark.operators.regularize", "regularize")],
    "plans": [
        ("ncagg_spark.plans.manifest", "build_manifest"),
        ("ncagg_spark.plans.attributes", "reduce_attributes"),
    ],
    "sources.writer": [("ncagg_spark.sources.writer", "write_aggregate")],
    "sources.export": [
        ("ncagg_spark.sources.nc_granules", "write_nc_aggregate_streamed")
    ],
    "pipeline.dedup": [
        ("ncagg_spark.pipeline.dedup", "simhash_signatures"),
        ("ncagg_spark.pipeline.dedup", "simhash_near_duplicates"),
        ("ncagg_spark.pipeline.dedup", "connected_components"),
        ("ncagg_spark.pipeline.dedup", "near_dedup"),
    ],
}
GROUPS = [f"{layer}:{fn}" for layer, fns in LAYERS.items() for _, fn in fns]
# metric -> unit, reported for every layer
LAYER_METRICS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "stages": "count",
    "tasks": "count", "executor_s": "s", "gc_s": "s", "input_mb": "MB",
    "shuffle_write_mb": "MB", "spill_mb": "MB",
}
GROUP_KEY = "spark.jobGroup.id"


def eventlog_conf(log_dir: str) -> str:
    """PYSPARK_SUBMIT_ARGS that turn on the rolling event log."""
    os.makedirs(log_dir, exist_ok=True)
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.rolling.enabled": "true",
        "spark.eventLog.compress": "false",
    }
    return " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"


@dataclass
class Span:
    layer: str
    fn: str
    start: float
    parent: "Span | None"
    end: float = 0.0


class Tracer:
    """Context manager: wraps every layer function in every loaded engine
    module that holds a reference to it, and restores the originals."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def _wrap(self, layer: str, fn: str, orig):
        def traced(*args, **kwargs):
            parent_group = self.sc.getLocalProperty(GROUP_KEY)
            span = Span(layer, fn, time.perf_counter(),
                        self._stack[-1] if self._stack else None)
            self._stack.append(span)
            self.sc.setLocalProperty(GROUP_KEY, f"{layer}:{fn}")
            try:
                return orig(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                self._stack.pop()
                self.spans.append(span)
                self.sc.setLocalProperty(GROUP_KEY, parent_group)

        return traced

    def __enter__(self):
        for layer, fns in LAYERS.items():
            for mod_name, fn in fns:
                orig = getattr(importlib.import_module(mod_name), fn)
                traced = self._wrap(layer, fn, orig)
                for name, mod in list(sys.modules.items()):
                    if not name.startswith("ncagg_spark"):
                        continue
                    for attr, val in list(vars(mod).items()):
                        if val is orig:
                            setattr(mod, attr, traced)
                            self._patched.append((mod, attr, orig))
        return self

    def __exit__(self, *exc):
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def span_times(self) -> dict[str, dict[str, float]]:
        """Per layer: wall (outermost spans of the layer) and self time
        (span time not covered by child spans)."""
        out = {layer: {"wall_s": 0.0, "self_s": 0.0} for layer in LAYERS}
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[id(s.parent)] = (
                    child_time.get(id(s.parent), 0.0) + s.end - s.start
                )
        for s in self.spans:
            dur = s.end - s.start
            out[s.layer]["self_s"] += dur - child_time.get(id(s), 0.0)
            p = s.parent
            while p is not None and p.layer != s.layer:
                p = p.parent
            if p is None:
                out[s.layer]["wall_s"] += dur
        return out


def tracker_counts(sc, groups: list[str]) -> dict[str, dict[str, int]]:
    """Jobs, stages that ran, and tasks per job group (status tracker)."""
    st = sc.statusTracker()
    out = {}
    for g in groups:
        jobs = st.getJobIdsForGroup(g)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else []:
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        out[g] = {"jobs": len(jobs), "stages": stages, "tasks": tasks}
    return out


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: executor and GC seconds, input / shuffle-write /
    spilled MB, plus ``scan_files``: rows read by binaryFile scans, i.e.
    granule files decoded."""
    events = []
    for d in glob.glob(os.path.join(log_dir, "eventlog_v2_*")):
        files = glob.glob(os.path.join(d, "events_*"))
        files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
        for p in files:
            with open(p) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    stage_group: dict[int, str] = {}
    binary_stages: set[int] = set()
    out: dict[str, dict[str, float]] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get(GROUP_KEY) or ""
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
            for si in e.get("Stage Infos", []):
                if any(
                    "binaryFile" in (r.get("Scope") or "") or "binaryFile" in r.get("Name", "")
                    for r in si.get("RDD Info", [])
                ):
                    binary_stages.add(si["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            sid = e["Stage ID"]
            acc = out.setdefault(stage_group.get(sid, ""), {
                "executor_s": 0.0, "gc_s": 0.0, "input_mb": 0.0,
                "shuffle_write_mb": 0.0, "spill_mb": 0.0, "scan_files": 0.0,
            })
            inp = m.get("Input Metrics") or {}
            acc["executor_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            acc["input_mb"] += inp.get("Bytes Read", 0) / 2**20
            acc["shuffle_write_mb"] += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                / 2**20
            )
            acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
            if sid in binary_stages:
                acc["scan_files"] += inp.get("Records Read", 0)
    return out


def layer_metrics(spans, counts, log, n_calls: int) -> dict[str, tuple[float, str]]:
    """``<layer>.<metric>`` per traced aggregation, for every layer (zero
    where a workload bypasses the layer)."""
    out = {}
    for layer in LAYERS:
        acc = dict.fromkeys(LAYER_METRICS, 0.0)
        acc.update(spans[layer])
        for g in GROUPS:
            if g.split(":", 1)[0] != layer:
                continue
            for k, v in counts[g].items():
                acc[k] += v
            for k, v in log.get(g, {}).items():
                if k in acc:
                    acc[k] += v
        for k, unit in LAYER_METRICS.items():
            out[f"{layer}.{k}"] = (acc[k] / n_calls, unit)
    return out
