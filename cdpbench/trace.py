"""Span tracer for the traced benchmark run.

Spans are recorded around the benchmark's calls into each layer and around
the engine's public functions, which are wrapped at run time from here (the
engine source is untouched). Spans stay in memory and are written out when
the run ends.

Spark jobs are attributed to the innermost open span through job groups:
entering a span sets the ``spark.jobGroup.id`` local property of the calling
thread to the span's id. Local properties are per thread, and the streaming
sink submits its table writes from a thread pool, so while tracing is on
``ThreadPoolExecutor.submit`` hands the submitting thread's open span to the
worker thread, and jobs run there count toward the span that spawned them.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass

GROUP_PROP = "spark.jobGroup.id"
GROUP_PREFIX = "cdpbench-span-"
ENGINE = "rudder_server_spark"

# (module, public function) pairs timed in the traced run
WRAPPED = (
    ("sources.config", "load_workspace_config"),
    ("sources.staging", "read_staging_files"),
    ("pipeline_batch", "run_batch_pipeline"),
    ("operators.filters", "batch_dedup"),
    ("operators.filters", "suppress_users"),
    ("operators.filters", "fanout_to_destinations"),
    ("operators.filters", "consent_filter"),
    ("operators.filters", "filter_supported_types"),
    ("operators.router", "throttle_pickup"),
    ("operators.router", "retry_backoff"),
    ("pipeline_warehouse", "run_warehouse_upload"),
    ("operators.event_tables", "event_table_fanout"),
    ("operators.event_tables", "discover_fanout_schemas"),
    ("operators.flatten", "discover_promotions"),
    ("operators.flatten", "flatten_events"),
    ("operators.identity", "connected_components"),
    ("sources.load_commit", "commit_merge"),
    ("sources.load_commit", "commit_overwrite"),
    ("sources.load_commit", "read_table"),
    ("streaming.pipeline", "read_event_stream"),
    ("streaming.pipeline", "processed_stream"),
)
# factories whose returned callable is the layer's unit of work
WRAPPED_FACTORIES = (("streaming.pipeline", "warehouse_sink", "streaming.sink"),)


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    t0: float
    t1: float = 0.0
    jobs: int = 0
    tasks: int = 0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple] = []
        # seconds the tracer itself spends on bookkeeping and job-group calls
        self.bookkeeping_s = 0.0

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _set_group(self, span_id: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(GROUP_PROP, None if span_id is None else f"{GROUP_PREFIX}{span_id}")

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        b0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        prev_group = self.sc.getLocalProperty(GROUP_PROP) if self.sc is not None else None
        s = Span(next(self._ids), parent.id if parent else None, name, 0.0)
        self._set_group(s.id)
        stack.append(s)
        s.t0 = time.perf_counter()
        self.bookkeeping_s += s.t0 - b0
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(GROUP_PROP, prev_group)
            with self._lock:
                self.spans.append(s)
            self.bookkeeping_s += time.perf_counter() - s.t1

    # -- wrapping the engine's public functions ------------------------------

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self._span(name):
                return fn(*args, **kwargs)

        return traced

    def _wrap_factory(self, factory, name: str):
        @functools.wraps(factory)
        def traced_factory(*args, **kwargs):
            return self._wrap(factory(*args, **kwargs), name)

        return traced_factory

    def _replace(self, module: str, attr: str, make) -> None:
        orig = getattr(importlib.import_module(f"{ENGINE}.{module}"), attr)
        new = make(orig)
        # rebind every engine module that imported the function by name
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(ENGINE) and getattr(mod, attr, None) is orig:
                setattr(mod, attr, new)
                self._undo.append((mod, attr, orig))

    def install(self) -> None:
        """Wrap the engine's public functions and make thread pools carry
        the submitting thread's span. No-op when tracing is off."""
        if not self.enabled:
            return
        for module, attr in WRAPPED:
            self._replace(module, attr, lambda f, n=f"{module}.{attr}": self._wrap(f, n))
        for module, attr, name in WRAPPED_FACTORIES:
            self._replace(module, attr, lambda f, n=name: self._wrap_factory(f, n))
        orig_submit = ThreadPoolExecutor.submit
        tracer = self

        def submit(pool, fn, /, *args, **kwargs):
            stack = tracer._stack()
            if not stack:
                return orig_submit(pool, fn, *args, **kwargs)
            owner = stack[-1]

            def in_owner_span(*a, **kw):
                tracer._stack().append(owner)
                tracer._set_group(owner.id)
                try:
                    return fn(*a, **kw)
                finally:
                    tracer._set_group(None)
                    tracer._stack().pop()

            return orig_submit(pool, in_owner_span, *args, **kwargs)

        ThreadPoolExecutor.submit = submit
        self._undo.append((ThreadPoolExecutor, "submit", orig_submit))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- Spark job attribution ------------------------------------------------

    def count_jobs(self, spans: list[Span]) -> None:
        """Fill ``jobs``/``tasks`` of each span from Spark's status tracker.
        Call soon after the spans close: the tracker keeps a bounded number
        of finished jobs."""
        if self.sc is None:
            return
        b0 = time.perf_counter()
        tracker = self.sc.statusTracker()
        for s in spans:
            job_ids = tracker.getJobIdsForGroup(f"{GROUP_PREFIX}{s.id}")
            s.jobs = len(job_ids)
            s.tasks = 0
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = tracker.getStageInfo(sid)
                    s.tasks += stage.numTasks if stage else 0
        self.bookkeeping_s += time.perf_counter() - b0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in sorted(self.spans, key=lambda s: s.id)], fh)


# -- span arithmetic ----------------------------------------------------------


def children_of(spans: list[Span]) -> dict[int | None, list[Span]]:
    out: dict[int | None, list[Span]] = {}
    for s in spans:
        out.setdefault(s.parent, []).append(s)
    return out


def subtree(root: Span, children: dict[int | None, list[Span]]) -> list[Span]:
    """``root`` and every span below it."""
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children.get(s.id, ()))
    return out


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: its duration minus the part of it its children cover
    (children clipped to the parent; overlapping children counted once)."""
    kids = children_of(spans)
    out = {}
    for s in spans:
        clipped = [(max(c.t0, s.t0), min(c.t1, s.t1)) for c in kids.get(s.id, ())]
        out[s.id] = s.dur - covered([(a, b) for a, b in clipped if b > a])
    return out


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.id]
    return out


def time_in(root: Span, name: str, children: dict[int | None, list[Span]]) -> float:
    """Wall time under ``root`` spent inside spans called ``name`` (nested
    or concurrent spans of that name counted once)."""
    return covered([(s.t0, s.t1) for s in subtree(root, children) if s.name == name])


def jobs_in(root: Span, children: dict[int | None, list[Span]]) -> int:
    return sum(s.jobs for s in subtree(root, children))
