"""Spans around the program's layer entry points, and the Spark event log
attributed to them.

A :class:`Tracer` rebinds the entry points ``run_pipeline`` calls in the
namespaces they are looked up from (``kglinker.jobs.pipeline`` and
``kglinker.automaton.build``), records one span per call, and sets the
Spark job description to the innermost span so that every stage in the
event log can be charged to the span that ran it. Spans stay in memory
and are printed with the run's details when it ends.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass

DESC_PREFIX = "perfbench/"

# (module, attribute, span name): entry points called by run_pipeline
PIPELINE_ENTRY_POINTS = [
    ("kglinker.jobs.pipeline", "build_kb_side", "kb.build_kb_side"),
    ("kglinker.jobs.pipeline", "score_kb", "kb.score_kb"),
    ("kglinker.jobs.pipeline", "build_namelist", "kb.build_namelist"),
    ("kglinker.jobs.pipeline", "broadcast_artifacts",
     "automaton.broadcast_artifacts"),
    ("kglinker.automaton.build", "build_artifacts",
     "automaton.build_artifacts"),
    ("kglinker.jobs.pipeline", "canonical_map", "graph.canonical_map"),
    ("kglinker.runtime.checkpoint", "LineageCheckpointer.run",
     "runtime.checkpoint"),
    ("kglinker.jobs.pipeline", "build_triples", "graph.build_triples"),
    ("kglinker.jobs.pipeline", "entity_table", "graph.entity_table"),
    ("kglinker.jobs.pipeline", "write_graph", "graph.write_graph"),
]


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._saved: list[tuple[object, str, object]] = []
        self.results: dict[str, object] = {}   # last return value per span

    # -- spans ----------------------------------------------------------------
    def call(self, name: str, fn, *args, **kwargs):
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name,
                    parent.span_id if parent else None, self.run_id,
                    time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobDescription(f"{DESC_PREFIX}{span.span_id}")
        try:
            out = fn(*args, **kwargs)
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(
                f"{DESC_PREFIX}{parent.span_id}" if parent else None)
        self.results[name] = out
        return out

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)
        return traced

    # -- entry-point rebinding --------------------------------------------------
    def install(self) -> None:
        import importlib
        for mod_name, attr, span_name in PIPELINE_ENTRY_POINTS:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = getattr(owner, leaf)
            self._saved.append((owner, leaf, orig))
            setattr(owner, leaf, self._wrap(span_name, orig))

    def uninstall(self) -> None:
        while self._saved:
            owner, leaf, orig = self._saved.pop()
            setattr(owner, leaf, orig)

    # -- queries ---------------------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def wall(self, name: str) -> float:
        return sum(s.wall_s for s in self.named(name))

    def self_time(self, name: str) -> float:
        """Span wall minus the part of it that child spans cover (children
        run sequentially in one thread, so their walls do not overlap)."""
        total = 0.0
        for s in self.named(name):
            kids = [c for c in self.spans if c.parent == s.span_id]
            total += s.wall_s - sum(c.wall_s for c in kids)
        return total

    def children_wall(self, span: Span) -> float:
        return sum(c.wall_s for c in self.spans if c.parent == span.span_id)


# -- event log -------------------------------------------------------------------

_PY_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "arrow_to_py_bytes",
    "data returned from Python workers": "arrow_from_py_bytes",
}


def event_log_file(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    return os.path.join(log_dir, files[0])


def stage_counters_by_span(path: str) -> dict[int, dict[str, float]]:
    """Sum task metrics per span id over the stages whose job description
    names that span. Task-level updates are summed rather than the
    stage-level accumulable values, which are running totals of
    accumulators that several stages of one plan can share."""
    stage_span: dict[int, int] = {}
    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path, "rb") as fh:
        for line in fh:
            if line.startswith(b'{"Event":"SparkListenerStageSubmitted"'):
                ev = json.loads(line)
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                if desc and desc.startswith(DESC_PREFIX):
                    stage_span[ev["Stage Info"]["Stage ID"]] = \
                        int(desc[len(DESC_PREFIX):])
            elif line.startswith(b'{"Event":"SparkListenerTaskEnd"'):
                ev = json.loads(line)
                span = stage_span.get(ev["Stage ID"])
                if span is None:
                    continue
                acc = out[span]
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                acc["n_tasks"] += 1
                acc["executor_run_ms"] += m.get("Executor Run Time", 0)
                acc["gc_ms"] += m.get("JVM GC Time", 0)
                acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                acc["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
                acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                for a in ev["Task Info"].get("Accumulables") or ():
                    key = _PY_METRICS.get(a.get("Name"))
                    if key is not None:
                        acc[key] += float(a.get("Update") or 0)
    return {k: dict(v) for k, v in out.items()}


def counters_for(by_span: dict[int, dict[str, float]], tracer: Tracer,
                 name: str) -> dict[str, float]:
    """Event-log counters of every span called ``name`` (self stages)."""
    total: dict[str, float] = defaultdict(float)
    for s in tracer.named(name):
        for k, v in by_span.get(s.span_id, {}).items():
            total[k] += v
    return total
