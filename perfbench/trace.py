"""The traced run: spans around the calls into each layer, kept in
memory and reduced to per-layer metrics when the run ends.

Spans come from the benchmark's own wrappers, installed for the traced
pass only. A wrapped operator or model stub first materializes its
DataFrame inputs (charged to ``trace.materialize``, not to the layer),
then times the materialization of its own output, so a span measures
that call's work alone. Operators are wrapped both where the pipeline
stages import them and in their own modules, where the interval
queries call them. The audio scans are wrapped the same way
(``sources.scan``). The incremental runner is wrapped per stage call
(``call.<stage>``, under a job group of its own, clearing Spark's cache
when the stage is done): inside it, materializing the stage's inputs
(``trace.materialize``), the pending anti-join
(``incremental.pending``) and the stage function (``stages.<stage>``)
get spans of their own, so the call's self time is the runner's own
work: reading the done set, the emptiness probe and the append. A
layer's self time is its span minus the spans nested inside it.

Spark's own counters come from the event log, which only the traced
run enables; each pipeline stage call and each query runs under its
own job group, ``<phase>:<stage or query>``.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

#: Wrapped model stubs: metric name -> attribute of ``ml.stubs``.
STUBS = {
    "vad": "vad",
    "separate": "separate",
    "diarize": "diarize",
    "embed": "embed",
    "cluster": "cluster_per_group",
    "verify": "verify_pairs",
}
#: Wrapped operators: name -> defining module under ``operators``.
OPERATORS = {
    "sessionize_gap": "sessions",
    "sliding_windows": "windows",
    "sessionize_capped": "sessions",
    "flatten_active_sets": "sweepline",
    "attach_sliced_samples": "multimodal",
    "budgeted_topk": "windows",
}


@dataclass
class Span:
    name: str
    phase: str
    start: float
    end: float = 0.0
    rows_in: int = 0
    rows_out: int = 0
    children: list["Span"] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_seconds(self) -> float:
        return self.seconds - sum(c.seconds for c in self.children)


class Tracer:
    """Span recorder. ``phase`` tags every span opened while it is set."""

    def __init__(self) -> None:
        self.phase = ""
        self.roots: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, self.phase, time.perf_counter())
        (self._stack[-1].children if self._stack else self.roots).append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def all_spans(self) -> list[Span]:
        out, todo = [], list(self.roots)
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(s.children)
        return out

    def total(self, name: str, phase: str | None = None, attr: str = "self_seconds") -> float:
        return sum(
            getattr(s, attr)
            for s in self.all_spans()
            if s.name == name and (phase is None or s.phase == phase)
        )


def materialize(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.persist()
    return df, df.count()


def _traced_call(tracer: Tracer, name: str, fn):
    def wrapper(*args, **kwargs):
        with tracer.span("trace.materialize"):
            rows_in = 0
            args = list(args)
            for i, a in enumerate(args):
                if isinstance(a, DataFrame):
                    args[i], n = materialize(a)
                    rows_in += n
            for k, a in kwargs.items():
                if isinstance(a, DataFrame):
                    kwargs[k], n = materialize(a)
                    rows_in += n
        with tracer.span(name) as s:
            out, s.rows_out = materialize(fn(*args, **kwargs))
            s.rows_in = rows_in
        return out

    return wrapper


def install(tracer: Tracer):
    """Wrap the stubs, operators, audio scans and incremental runner for
    the traced pass; returns a function that restores the originals."""
    from speech_data_pipeline_spark.ml import stubs
    from speech_data_pipeline_spark.plans import incremental, pipeline, stages
    from speech_data_pipeline_spark.sources import audio

    saved = []

    def patch(mod, attr, new):
        saved.append((mod, attr, getattr(mod, attr)))
        setattr(mod, attr, new)

    for metric, attr in STUBS.items():
        patch(stubs, attr, _traced_call(tracer, f"stubs.{metric}", getattr(stubs, attr)))
    for attr, module in OPERATORS.items():
        defining = importlib.import_module(f"speech_data_pipeline_spark.operators.{module}")
        for mod in (stages, defining):
            patch(mod, attr, _traced_call(tracer, f"operators.{attr}", getattr(mod, attr)))

    for attr in ("scan_audio_dir", "scan_reference_voiceprints"):
        patch(audio, attr, _traced_call(tracer, "sources.scan", getattr(audio, attr)))

    orig_pending = incremental.pending

    def pending(inputs, done, **kw):
        with tracer.span("trace.materialize"):
            inputs, _ = materialize(inputs)
        with tracer.span("incremental.pending") as s:
            out, s.rows_out = materialize(orig_pending(inputs, done, **kw))
        return out

    orig_run = pipeline.run_incremental_stage

    def run_incremental_stage(spark, inputs, stage_fn, out_path, **kw):
        stage = os.path.basename(out_path)
        sc = spark.sparkContext

        def compute(todo):
            with tracer.span(f"stages.{stage}") as s:
                out, s.rows_out = materialize(stage_fn(todo))
            return out

        sc.setJobGroup(f"{tracer.phase}:{stage}", stage)
        try:
            with tracer.span(f"call.{stage}"):
                return orig_run(spark, inputs, compute, out_path, **kw)
        finally:
            spark.catalog.clearCache()
            sc.setLocalProperty("spark.jobGroup.id", None)

    patch(incremental, "pending", pending)
    patch(pipeline, "run_incremental_stage", run_incremental_stage)

    def restore():
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)

    return restore


def event_log_counters(log_dir: str) -> dict[str, dict]:
    """Per job group: ``tasks``, ``shuffle_write_mb``, ``spill_mb``
    (bytes spilled to disk), ``gc_s`` and the list of task wall times
    ``task_s``."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    # Spark 4 rolls event logs into eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_group[ev["Stage Info"]["Stage ID"]] = props.get(
                        "spark.jobGroup.id", ""
                    )
                elif kind == "SparkListenerTaskEnd":
                    g = groups.setdefault(
                        stage_group.get(ev["Stage ID"], ""),
                        {"tasks": 0, "shuffle_write_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0,
                         "task_s": []},
                    )
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    g["tasks"] += 1
                    g["shuffle_write_mb"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
                    )
                    g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["task_s"].append((info["Finish Time"] - info["Launch Time"]) / 1e3)
    return groups
