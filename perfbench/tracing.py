"""Layer attribution for the traced benchmark run.

Spark runs the work lazily, so a Python timer around a library call does
not say which layer spent the executor time.  The traced run therefore
does two things from outside the library:

* It tags every Spark job with the layer that launched it, through
  ``SparkContext.setJobDescription``.  For ``DedupPipeline`` this is done
  by :class:`TracingStore`, a StageStore passed through the pipeline's
  public ``store=`` argument.  The pipeline asks the store
  ``is_committed(stage)`` before it builds each stage and calls
  ``write(df, stage)`` when it commits it, so every job in between (CC
  iterations, verify's count job, the stage write itself) is charged to
  that stage.
* It records spans (name, start, end, parent, run id) in memory and
  joins them, after the session has stopped, with the Spark event log,
  which holds per-task executor CPU, run time, shuffle and spill.

Streaming micro-batches run on the query's own thread; their jobs carry
the ``streaming.sql.batchId`` property and are charged to ``stream_batch``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from lsh_rs_spark.sources.storage import StageStore

#: DedupPipeline stage name → benchmark layer name.
STAGE_LAYER = {
    "exact_groups": "exact",
    "signatures": "signatures",
    "buckets": "bands",
    "bucket_stats": "bucket_stats",
    "dropped_buckets": "dropped_buckets",
    "candidate_pairs": "pairs",
    "edges": "verify",
    "components": "cc",
    "keep_list": "keep",
    "substring_spans": "span_extract",
    "clean_docs": "span_strip",
}

LAYERS = tuple(STAGE_LAYER.values()) + ("ann", "stream_batch")

COUNTERS = ("wall_s", "cpu_s", "cpu_util", "jobs", "tasks", "task_skew",
            "shuffle_write_mb", "spill_mb")

#: counts and ratios measured beside the per-layer counters
EXTRA_METRICS = {
    "pairs.rows": "count",
    "verify.rows": "count",
    "verify.yield": "ratio",
    "dropped_buckets.rows": "count",
    "checkpoint.mb_written": "MB",
    "span_extract.rows": "count",
    "stream_batch.store_mb": "MB",
    "stream_batch.probe_rows_skipped_hot": "count",
    "ann.query_p50_s": "s",
    "ann.twin_recall": "ratio",
    "trace.pages_per_s": "pages/s",
    "trace.peak_rss_mb": "MB",
}

COUNTER_UNITS = {
    "wall_s": "s", "cpu_s": "s", "cpu_util": "ratio", "jobs": "count",
    "tasks": "count", "task_skew": "ratio", "shuffle_write_mb": "MB",
    "spill_mb": "MB",
}

_MB = 1 << 20


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = {f"{layer}.{c}": COUNTER_UNITS[c] for layer in LAYERS for c in COUNTERS}
    units.update(EXTRA_METRICS)
    return units


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: str | None
    run_id: str


@dataclass
class Tracer:
    """Spans kept in memory and Spark jobs tagged with their layer, both
    only while ``enabled`` (the measured phase of a traced run)."""

    spark: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _open: list[Span] = field(default_factory=list)
    run_id: str = ""

    def _describe(self, layer: str | None) -> None:
        self.spark.sparkContext.setJobDescription(
            f"{layer}|{self.run_id}" if layer else None)

    def begin(self, name: str) -> None:
        if not self.enabled:
            return
        parent = self._open[-1].name if self._open else None
        s = Span(name, time.time(), None, parent, self.run_id)
        self._open.append(s)
        self.spans.append(s)
        self._describe(name)

    def end(self, name: str) -> None:
        if not self.enabled:
            return
        while self._open:
            s = self._open.pop()
            s.end = time.time()
            if s.name == name:
                break
        self._describe(self._open[-1].name if self._open else None)

    @contextmanager
    def span(self, name: str, run_id: str | None = None):
        if run_id is not None:
            self.run_id = run_id
        self.begin(name)
        try:
            yield
        finally:
            self.end(name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


@dataclass
class TracingStore(StageStore):
    """StageStore that opens a span when the pipeline starts a stage and
    closes it when the stage commits; also records bytes committed."""

    tracer: Tracer | None = None
    bytes_written: dict = field(default_factory=dict)

    def is_committed(self, name: str) -> bool:
        committed = super().is_committed(name)
        if not committed:
            self.tracer.begin(STAGE_LAYER.get(name, name))
        return committed

    def write(self, df, name, *args, **kwargs) -> dict:
        try:
            return super().write(df, name, *args, **kwargs)
        finally:
            self.bytes_written[name] = dir_bytes(self._dir(name))
            self.tracer.end(STAGE_LAYER.get(name, name))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the (single) application that wrote into ``log_dir``."""
    events = []
    # Spark 4 writes a rolling log: a directory of numbered event files
    paths = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def layer_counters(events: list[dict], spans: list[Span], cores: int,
                   invocations: dict[str, int],
                   first_stream_batch: int = 0) -> dict[str, float]:
    """Per-layer counters from the event log, as means per invocation.

    ``invocations[layer]`` is how many times the layer ran in the measured
    phase (pipeline runs, ANN requests, micro-batches); additive counters
    are divided by it so runs that fit a different number of requests
    into their window stay comparable.  A layer that never ran reports 0.
    Micro-batches before ``first_stream_batch`` ran during set-up.
    """
    def layer_of(props: dict) -> str | None:
        if "streaming.sql.batchId" in props:
            batch = int(props["streaming.sql.batchId"])
            return "stream_batch" if batch >= first_stream_batch else None
        layer = (props.get("spark.job.description") or "").split("|", 1)[0]
        return layer if layer in LAYERS else None

    stage_layer: dict[int, str] = {}
    jobs = defaultdict(int)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            layer = layer_of(ev.get("Properties") or {})
            if layer:
                jobs[layer] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_layer.setdefault(sid, layer)
        elif kind == "SparkListenerStageSubmitted":
            layer = layer_of(ev.get("Properties") or {})
            if layer:
                stage_layer[ev["Stage Info"]["Stage ID"]] = layer

    cpu_ns = defaultdict(int)
    tasks = defaultdict(int)
    shuffle = defaultdict(int)
    spill = defaultdict(int)
    stage_task_ms: dict[int, list[int]] = defaultdict(list)
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        layer = stage_layer.get(ev.get("Stage ID"))
        if layer is None:
            continue
        m = ev.get("Task Metrics") or {}
        info = ev.get("Task Info") or {}
        tasks[layer] += 1
        cpu_ns[layer] += m.get("Executor CPU Time", 0)
        shuffle[layer] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        spill[layer] += m.get("Disk Bytes Spilled", 0)
        stage_task_ms[ev["Stage ID"]].append(
            info.get("Finish Time", 0) - info.get("Launch Time", 0))

    # task skew of each layer's heaviest stage (most summed task time)
    heaviest: dict[str, list[int]] = {}
    for sid, times in stage_task_ms.items():
        layer = stage_layer[sid]
        if layer not in heaviest or sum(times) > sum(heaviest[layer]):
            heaviest[layer] = times

    wall = defaultdict(float)
    for s in spans:
        if s.end is not None:
            wall[s.name] += s.end - s.start

    out: dict[str, float] = {}
    for layer in LAYERS:
        n = invocations.get(layer, 0)
        if n == 0:
            for c in COUNTERS:
                out[f"{layer}.{c}"] = 0
            continue
        times = heaviest.get(layer, [])
        med = statistics.median(times) if times else 0
        cpu_s = cpu_ns[layer] / 1e9
        out[f"{layer}.wall_s"] = wall[layer] / n
        out[f"{layer}.cpu_s"] = cpu_s / n
        out[f"{layer}.cpu_util"] = (
            cpu_s / (wall[layer] * cores) if wall[layer] else 0)
        out[f"{layer}.jobs"] = jobs[layer] / n
        out[f"{layer}.tasks"] = tasks[layer] / n
        out[f"{layer}.task_skew"] = max(times) / med if med else 0
        out[f"{layer}.shuffle_write_mb"] = shuffle[layer] / _MB / n
        out[f"{layer}.spill_mb"] = spill[layer] / _MB / n
    return out
