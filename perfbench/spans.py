"""Spans recorded from the benchmark's side of each layer call.

A span is (name, start, end, parent); spans of one operation share the
operation's root span. Spans are kept in memory and written out when the
run ends. `instrument` wraps the program's layer entry points (table
loads, checkpoints, shared-table lookups, the rollup store commit) for
the length of a traced run and restores them afterwards, so an untraced
run executes the program unmodified.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time

PKG = "quantitative_database_and_visualization_platform_spark"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "start": time.perf_counter(), "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def ancestors(self, s: dict):
        p = s["parent"]
        while p is not None:
            yield self.spans[p]
            p = self.spans[p]["parent"]

    def find(self, name: str, root: dict | None = None, outermost: bool = True) -> list[dict]:
        """Finished spans called `name` under `root` (default: anywhere);
        with `outermost`, a span nested in one of the same name is skipped
        so that its time is not counted twice."""
        out = []
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            up = list(self.ancestors(s))
            if outermost and any(a["name"] == name for a in up):
                continue
            if root is None or any(a is root for a in up):
                out.append(s)
        return out

    def total(self, name: str, root: dict | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.find(name, root))

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]


def _patch_everywhere(fn, wrapper, undo: list) -> None:
    """Rebind every module-level reference to `fn` inside the program
    package (``from x import fn`` copies the binding into each importer)."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith(PKG):
            continue
        for attr, val in list(vars(mod).items()):
            if val is fn:
                setattr(mod, attr, wrapper)
                undo.append((mod, attr, fn))


def _spanned(tracer: Tracer, fn, span_name: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(span_name):
            return fn(*args, **kwargs)

    return wrapper


def _shared(tracer: Tracer, fn, span_name: str, cache: dict):
    """A shared-table lookup span, marked `built` when it filled the cache."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        before = {k: id(v) for k, v in cache.items()}
        with tracer.span(span_name) as rec:
            out = fn(*args, **kwargs)
            rec["built"] = {k: id(v) for k, v in cache.items()} != before
        return out

    return wrapper


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the program's layer entry points for the duration of the block."""
    import importlib

    catalog = importlib.import_module(f"{PKG}.sources.catalog")
    session = importlib.import_module(f"{PKG}.session")
    panel = importlib.import_module(f"{PKG}.factors.panel")
    rollup = importlib.import_module(f"{PKG}.streaming.rollup_sink")

    undo: list = []
    targets = [
        (catalog.load_table, _spanned(tracer, catalog.load_table, "sources.load_table")),
        (session.checkpoint_sized, _spanned(tracer, session.checkpoint_sized, "session.checkpoint")),
        (panel.bars_table, _shared(tracer, panel.bars_table, "shared.lookup", panel._BARS_CACHE)),
        (rollup.commit_store, _spanned(tracer, rollup.commit_store, "streaming.commit_store")),
    ]
    try:
        for fn, wrapper in targets:
            _patch_everywhere(fn, wrapper, undo)
        yield tracer
    finally:
        for mod, attr, fn in reversed(undo):
            setattr(mod, attr, fn)


class JvmCounters:
    """Engine-wide counters read through py4j: codegen compile time and
    compiled-class count, and the jobs/stages/tasks of a job group."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self._sc = spark.sparkContext
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def codegen(self) -> tuple[float, int]:
        """(seconds spent compiling generated code, classes compiled) so far."""
        return self._codegen.compileTime() / 1e9, self._compiles.getCount()

    def job_stats(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) run under job group `group`."""
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            for sid in info.stageIds:
                stage = tracker.getStageInfo(sid)
                stages += 1
                tasks += stage.numTasks if stage is not None else 0
        return len(jobs), stages, tasks
