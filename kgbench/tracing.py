"""Traced-run instrumentation: driver spans plus Spark event-log folding.

Spans time calls into each layer's public functions by wrapping them
from here (the package itself is untouched).  ``run_kg_pipeline``
imports its operators inside the function body, so replacing the module
attributes is enough for the pipeline to pick the wrappers up.  Each
span is ``(name, start, end, parent)``; self time is a span's wall
minus its direct children's walls.

``PipelineContext.run_stage`` is also wrapped to tag every Spark job of
a stage with the job group ``"<pass>:<stage>"``, so the TaskEnd records
of Spark's own event log (task metrics plus the Python SQL metrics
``pythonBootTime``/``pythonInitTime``/``pythonTotalTime``/
``pythonDataSent``/``pythonDataReceived``) fold per stage.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass

STAGES = ("sentences", "candidates", "label_matrix", "marginals", "triples")

# span name → the per-layer metric its summed wall reports
PLAN_SPANS = {
    "parser": "parser.plan_s",
    "ngrams": "ngrams.plan_s",
    "matchers": "matchers.plan_s",
    "candidates": "candidates.plan_s",
    "labeling": "labeling.plan_s",
    "encoding.compute_O": "encoding.compute_O_s",
    "model.fit": "model.fit_s",
    "model.marginals": "model.marginals_plan_s",
    "linker": "linker.plan_s",
    "canonicalize": "canonicalize.plan_s",
}

# event-log accumulable name → (metric suffix, scale from ms / bytes to s / MB)
PYTHON_SQL_METRICS = {
    "time to start Python workers": ("python_boot_s", 1e-3),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "time to run Python workers": ("python_total_s", 1e-3),
    "data sent to Python workers": ("python_data_sent_mb", 1 / 2**20),
    "data returned from Python workers": ("python_data_recv_mb", 1 / 2**20),
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root span


class Tracer:
    def __init__(self):
        self.on = False
        self.spans: list[Span] = []
        self.file_metrics: dict[str, list[dict]] = {}
        self._stack: list[int] = []

    def call(self, name: str, fn, *a, **k):
        if not self.on:
            return fn(*a, **k)
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0,
                               self._stack[-1] if self._stack else -1))
        self._stack.append(idx)
        try:
            return fn(*a, **k)
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def walls(self) -> list[float]:
        return [s.end - s.start for s in self.spans]

    def self_times(self) -> list[float]:
        own = self.walls()
        for i, s in enumerate(self.spans):
            if s.parent >= 0:
                own[s.parent] -= s.end - s.start
        return own

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def _patch(owner, attr: str, make):
    orig = getattr(owner, attr)
    setattr(owner, attr, functools.wraps(orig)(make(orig)))


def _named(tracer: Tracer, name: str):
    return lambda orig: lambda *a, **k: tracer.call(name, orig, *a, **k)


def install(captured: dict, tracer: Tracer | None = None, job_groups: list | None = None) -> None:
    """Wrap the layers' public functions.  ``captured['O']`` always
    receives the last ``compute_O_arrow`` result (the correctness check
    needs it, traced or not); nothing else is wrapped without a
    ``tracer``.  ``job_groups`` is a one-item list holding the current
    pass tag; every stage's jobs get the job group ``<tag>:<stage>``."""
    from snorkel_spark import storage
    from snorkel_spark.functions import labeling
    from snorkel_spark.labelmodel import encoding, model
    from snorkel_spark.operators import (
        candidates, canonicalize, linker, matchers, ngrams, parser)
    from snorkel_spark.plans import pipeline

    def compute_o(orig):
        def w(*a, **k):
            call = tracer.call if tracer else (lambda _name, fn, *a, **k: fn(*a, **k))
            captured["O"] = out = call("encoding.compute_O", orig, *a, **k)
            return out
        return w

    _patch(encoding, "compute_O_arrow", compute_o)
    if tracer is None:
        return
    for owner, attr, name in (
        (parser, "parse_sentences", "parser"),
        (ngrams, "ngram_mentions", "ngrams"),
        (matchers, "person_matcher", "matchers"),
        (matchers.Matcher, "apply", "matchers"),
        (matchers.DictionaryJoinMatch, "mention_lengths", "matchers"),
        (candidates, "extract_candidates", "candidates"),
        (labeling, "apply_lfs", "labeling"),
        (model.LabelModel, "fit", "model.fit"),
        (model.LabelModel, "marginals", "model.marginals"),
        (linker, "link_text_map", "linker"),
        (canonicalize, "canonical_triples", "canonicalize"),
        (storage.Catalog, "read", "storage.read"),
    ):
        _patch(owner, attr, _named(tracer, name))

    def write(orig):
        return lambda self, df, table, *a, **k: tracer.call(
            f"storage.write.{table}", orig, self, df, table, *a, **k)

    def file_metrics(orig):
        def w(self, table, snap):
            out = tracer.call("storage.file_metrics", orig, self, table, snap)
            if tracer.on:
                tracer.file_metrics[table] = out
            return out
        return w

    _patch(storage.Catalog, "write", write)
    _patch(storage.Catalog, "file_metrics", file_metrics)

    def run_stage(orig):
        def w(self, stage, *a, **k):
            if job_groups is None:
                return tracer.call(f"pipeline.{stage}", orig, self, stage, *a, **k)
            sc = self.spark.sparkContext
            sc.setJobGroup(f"{job_groups[0]}:{stage}", stage)
            try:
                return tracer.call(f"pipeline.{stage}", orig, self, stage, *a, **k)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        return w

    _patch(pipeline.PipelineContext, "run_stage", run_stage)


# ---------------------------------------------------------------- event log
def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, summed task metrics, Python SQL
    metrics, and per-Spark-stage executor run times (for skew)."""
    group_of_stage: dict[int, str] = {}
    out: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    e = json.loads(line)
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    for sid in e.get("Stage IDs", []):
                        group_of_stage.setdefault(sid, g)
                    out.setdefault(g, _empty())["jobs"] += 1
                elif '"SparkListenerTaskEnd"' in line:
                    e = json.loads(line)
                    g = group_of_stage.get(e["Stage ID"])
                    if g is None:
                        continue
                    _add_task(out.setdefault(g, _empty()), e)
    return out


def _empty() -> dict:
    return {"jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "stage_runs": {},
            **{m: 0.0 for m, _ in PYTHON_SQL_METRICS.values()}}


def _add_task(acc: dict, e: dict) -> None:
    tm = e.get("Task Metrics") or {}
    run_s = tm.get("Executor Run Time", 0) / 1e3
    acc["tasks"] += 1
    acc["run_s"] += run_s
    acc["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    acc["shuffle_write_mb"] += (tm.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0) / 2**20
    acc["spill_mb"] += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / 2**20
    acc["stage_runs"].setdefault(e["Stage ID"], []).append(run_s)
    for a in (e.get("Task Info") or {}).get("Accumulables", []):
        hit = PYTHON_SQL_METRICS.get(a.get("Name"))
        if hit:
            acc[hit[0]] += _num(a.get("Update")) * hit[1]


def task_skew(acc: dict) -> float:
    """max ÷ median task run time in the group's busiest Spark stage."""
    runs = [r for r in acc["stage_runs"].values() if len(r) >= 2]
    if not runs:
        return 1.0
    busiest = max(runs, key=sum)
    med = statistics.median(busiest)
    return max(busiest) / med if med > 0 else 1.0


# ---------------------------------------------------------------- table
ENGINE_METRICS = {
    "sentences": ("python_boot_s", "python_init_s", "python_total_s",
                  "python_data_sent_mb", "python_data_recv_mb"),
    "candidates": ("executor_run_s", "cpu_s", "gc_s", "shuffle_write_mb",
                   "spill_mb", "task_skew"),
    "label_matrix": ("executor_run_s",),
    "marginals": ("executor_run_s", "python_total_s", "shuffle_write_mb"),
    "triples": ("shuffle_write_mb", "task_skew", "spill_mb"),
}


def per_layer(tracer: Tracer, groups: dict[str, dict], tag: str, cores: int,
              traced_s: float) -> dict[str, float]:
    """The per-layer metric table of one traced pass."""
    walls, own = tracer.walls(), tracer.self_times()
    m: dict[str, float] = {}
    for st in STAGES:
        i = next(i for i, s in enumerate(tracer.spans) if s.name == f"pipeline.{st}")
        m[f"pipeline.{st}.wall_s"] = walls[i]
        m[f"pipeline.{st}.self_s"] = own[i]
    for span, metric in PLAN_SPANS.items():
        m[metric] = tracer.total(span)
    for st in STAGES:
        m[f"storage.write_s.{st}"] = tracer.total(f"storage.write.{st}")
    m["storage.read_s"] = tracer.total("storage.read")
    m["storage.file_metrics_s"] = tracer.total("storage.file_metrics")
    rows = {}
    for st in STAGES:
        fm = tracer.file_metrics.get(st, [])
        m[f"storage.bytes_written_mb.{st}"] = sum(r["bytes"] for r in fm) / 2**20
        m[f"storage.files.{st}"] = len(fm)
        rows[st] = sum(r["output_rows"] for r in fm)
    m["candidates.per_sentence"] = rows["candidates"] / max(rows["sentences"], 1)
    m["labeling.votes_per_candidate"] = rows["label_matrix"] / max(rows["candidates"], 1)
    for st in STAGES:
        g = groups.get(f"{tag}:{st}") or _empty()
        m[f"{st}.jobs"] = g["jobs"]
        m[f"{st}.tasks"] = g["tasks"]
        m[f"{st}.busy_ratio"] = g["run_s"] / (m[f"pipeline.{st}.wall_s"] * cores)
        vals = {**g, "executor_run_s": g["run_s"], "task_skew": task_skew(g)}
        for name in ENGINE_METRICS[st]:
            m[f"{st}.{name}"] = vals[name]
    stage_sum = sum(m[f"pipeline.{st}.wall_s"] for st in STAGES)
    m["trace.batch_s"] = traced_s
    m["trace.stage_coverage"] = stage_sum / traced_s
    return m


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_mb") or ".bytes_written_mb." in name:
        return "MB"
    if name.endswith("_s") or ".write_s." in name:
        return "s"
    if name.endswith((".jobs", ".tasks")) or ".files." in name:
        return "count"
    return "ratio"
