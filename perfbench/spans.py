"""Layer spans for the traced benchmark run.

A span covers one call into a package layer.  Calls the benchmark makes
itself are wrapped at the call site (``with tracer.span(...)``); calls the
package makes between its own layers are wrapped by rebinding the callee's
name in the caller's module namespace (``runner.run_etl``,
``etl.write_warehouse``, ``operators.text.load_table``, ...), which is where
the caller looks the name up.

Each span gets its own Spark job group, so after the run every Spark job,
and through it every stage, is attributed to the innermost span that was
open when the job was submitted.  Spans stay in memory until the run ends;
``dump`` then writes them out as JSON lines.

``NullTracer`` is the untraced twin: same interface, no work.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from pathlib import Path
from time import perf_counter
from types import ModuleType
from typing import Any, Callable, Iterator

LAYERS = (
    "runner", "contract", "etl", "quality", "drift", "healing", "incidents",
    "dashboard", "sources.tables", "sources.index_store", "operators.text",
    "operators.similarity", "operators.sketches", "session",
)
# Pure-Python layers: they submit no Spark work, so only time is reported.
PYTHON_ONLY = ("contract", "healing", "session")
SPARK_FIELDS = ("spark_jobs", "tasks", "tasks_failed", "input_mb", "shuffle_write_mb")
MB = float(1 << 20)


@dataclass
class Span:
    id: int
    parent: int
    layer: str
    op: str
    t0: float = 0.0
    t1: float = 0.0
    excl: float = 0.0  # tracer work done inside the span, left out of ``dur``
    spark: dict[str, float] = field(default_factory=dict)
    tags: dict[str, Any] = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"

    @property
    def dur(self) -> float:
        return self.t1 - self.t0 - self.excl


class NullTracer:
    enabled = False
    own_s = 0.0

    def span(self, layer: str, op: str):
        return nullcontext()


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.sc = None
        self.own_s = 0.0  # time spent in the tracer's own bookkeeping
        self._ids = itertools.count(1)
        self._stack: list[Span] = []  # open spans; the benchmark calls from one thread
        self._patches: list[tuple[ModuleType, str, Any]] = []

    @contextmanager
    def span(self, layer: str, op: str) -> Iterator[Span]:
        c0 = perf_counter()
        stack = self._stack
        sp = Span(next(self._ids), stack[-1].id if stack else 0, layer, op)
        stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(sp.group, f"{layer}.{op}")
        sp.t0 = perf_counter()
        self.own_s += sp.t0 - c0
        try:
            yield sp
        finally:
            sp.t1 = perf_counter()
            stack.pop()
            if self.sc is not None:
                if stack:
                    self.sc.setJobGroup(stack[-1].group, f"{stack[-1].layer}.{stack[-1].op}")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)
            self.own_s += perf_counter() - sp.t1

    def exclude(self, seconds: float) -> None:
        """Charge tracer work done inside the open spans to the tracer,
        not to those spans."""
        self.own_s += seconds
        for sp in self._stack:
            sp.excl += seconds

    # --- rebinding -------------------------------------------------------
    def patch(self, module: ModuleType, name: str, layer: str,
              around: Callable[[Span, Callable[[], Any]], Any] | None = None) -> None:
        """Rebind ``module.name`` to a wrapper that opens a span per call."""
        original = getattr(module, name)

        @functools.wraps(original)
        def wrapper(*args: Any, **kwargs: Any) -> Any:
            with self.span(layer, name) as sp:
                if around is None:
                    return original(*args, **kwargs)
                return around(sp, lambda: original(*args, **kwargs))

        self._patches.append((module, name, original))
        setattr(module, name, wrapper)

    def unpatch_all(self) -> None:
        for module, name, original in reversed(self._patches):
            setattr(module, name, original)
        self._patches.clear()

    # --- Spark attribution -------------------------------------------------
    def collect_spark(self) -> None:
        """Attach job/stage counters to every span (after the run)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        seen: set[int] = set()
        for sp in self.spans:
            jobs = tracker.getJobIdsForGroup(sp.group)
            agg = {"spark_jobs": float(len(jobs)), "tasks": 0.0, "tasks_failed": 0.0,
                   "input_mb": 0.0, "shuffle_write_mb": 0.0}
            for job in jobs:
                info = tracker.getJobInfo(job)
                for sid in (info.stageIds if info else []):
                    if sid in seen:
                        continue
                    seen.add(sid)
                    st = store.lastStageAttempt(sid)
                    agg["tasks"] += st.numCompleteTasks() + st.numFailedTasks() + st.numKilledTasks()
                    agg["tasks_failed"] += st.numFailedTasks()
                    agg["input_mb"] += st.inputBytes() / MB
                    agg["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            sp.spark = agg

    def dump(self, path: Path, origin: float) -> None:
        """Write every span as one JSON line, times relative to ``origin``."""
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.t0):
                f.write(json.dumps({
                    "id": s.id, "parent": s.parent, "layer": s.layer, "op": s.op,
                    "start_s": s.t0 - origin, "dur_s": s.dur, "spark": s.spark,
                    "tags": s.tags,
                }) + "\n")


def index_store_builds(store: Path, tracer: Tracer) -> Callable[[Span, Callable[[], Any]], Any]:
    """``around`` hook for ``ensure_*``: tags the span ``built`` when the
    call wrote anything under the index store (a miss), else it served a
    stored artifact (a hit).  The two walks of the store are tracer work."""

    def newest() -> int:
        latest = 0
        for dirpath, _dirs, files in os.walk(store):
            for f in files:
                latest = max(latest, os.stat(os.path.join(dirpath, f)).st_mtime_ns)
        return latest

    def around(sp: Span, call: Callable[[], Any]) -> Any:
        c0 = perf_counter()
        before = newest()
        tracer.exclude(perf_counter() - c0)
        try:
            return call()
        finally:
            c0 = perf_counter()
            sp.tags["built"] = newest() > before
            tracer.exclude(perf_counter() - c0)

    return around


def layer_metrics(spans: list[Span], units: float) -> dict[str, float]:
    """Per-layer calls / busy / self time and Spark counters, divided by
    ``units`` (the work quota the spans cover)."""
    by_id = {sp.id: sp for sp in spans}
    child_time: dict[int, float] = defaultdict(float)
    for sp in spans:
        if sp.parent:
            child_time[sp.parent] += sp.dur
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [sp for sp in spans if sp.layer == layer]
        busy = 0.0
        for sp in mine:
            p = by_id.get(sp.parent)
            while p is not None and p.layer != layer:
                p = by_id.get(p.parent)
            if p is None:
                busy += sp.dur
        vals = {
            "calls": len(mine),
            "busy_s": busy,
            "self_s": sum(sp.dur - child_time[sp.id] for sp in mine),
        }
        if layer not in PYTHON_ONLY:
            for f in SPARK_FIELDS:
                vals[f] = sum(sp.spark.get(f, 0.0) for sp in mine)
        for k, v in vals.items():
            out[f"{layer}.{k}"] = v / units
    return out
