"""Span tracing from outside the package.

The tracer wraps the public entry points of each layer where they are
looked up (class attributes, or the module attribute that callers import
at call time), records one span per call in memory, and removes the
wrappers again. A span opened on a worker thread with no open span of its
own attaches to the innermost open span of the thread that opened the op,
so the scheduler's and the promotion pool's spans land under their op.

Self time of a span is its duration minus the union of its children's
intervals; a layer's time is the self time of its spans.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field
from typing import Optional

from sqlmesh_spark import adapter as adapter_mod
from sqlmesh_spark import macros as macros_mod
from sqlmesh_spark.core import context as context_mod
from sqlmesh_spark.core import plan as plan_mod
from sqlmesh_spark.core import scheduler as scheduler_mod
from sqlmesh_spark.core import state as state_mod
from sqlmesh_spark.core import transpile as transpile_mod

_ADAPTER_DDL = (
    "create_schema", "drop_schema", "create_table", "create_view", "drop_table",
    "drop_view", "rename_table", "alter_table", "table_exists", "columns",
    "get_data_objects",
)
_ADAPTER_WRITE = (
    "ctas", "replace_query", "insert_append", "insert_overwrite_by_time_partition",
    "insert_overwrite_by_partition", "merge", "delete_from", "update_table",
    "load_seed", "create_managed_table", "refresh_managed_table", "clone_table",
)


def _targets() -> list[tuple[object, str, str]]:
    """(owner, attribute, layer) for every traced entry point."""
    Context = context_mod.Context
    out = [
        (Context, "__init__", "context.load"),
        (Context, "add_model", "context.load"),
        (Context, "plan", "context.plan"),
        (Context, "apply", "context.apply"),
        (Context, "run", "context.run"),
        (plan_mod.PlanEvaluator, "plan", "plan.plan"),
        (plan_mod.PlanEvaluator, "apply", "plan.apply"),
        (scheduler_mod.Scheduler, "run", "scheduler.run"),
        (scheduler_mod.SnapshotEvaluator, "evaluate", "scheduler.evaluate"),
        (scheduler_mod.SnapshotEvaluator, "render", "scheduler.render"),
        (scheduler_mod.SnapshotEvaluator, "render_statement", "scheduler.render"),
        (scheduler_mod.SnapshotEvaluator, "run_audits", "scheduler.audit"),
        (macros_mod.MacroEvaluator, "render", "macros.render"),
        (transpile_mod, "transpile", "transpile"),
    ]
    store = state_mod.StateStore
    out += [
        (store, name, "state")
        for name, fn in vars(store).items()
        if not name.startswith("_") and callable(fn)
    ]
    out += [(adapter_mod.SparkAdapter, n, "adapter.ddl") for n in _ADAPTER_DDL]
    out += [(adapter_mod.SparkAdapter, n, "adapter.write") for n in _ADAPTER_WRITE]
    return out


@dataclass
class Span:
    layer: str
    name: str
    parent: Optional["Span"]
    t0: float
    t1: float = 0.0
    children: list["Span"] = field(default_factory=list)
    bytes_written: int = 0


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_time(span: Span) -> float:
    kids = [(max(c.t0, span.t0), min(c.t1, span.t1)) for c in span.children]
    return (span.t1 - span.t0) - _union([k for k in kids if k[1] > k[0]])


def walk(span: Span):
    yield span
    for c in span.children:
        yield from walk(c)


def _state_files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for name in os.listdir(path):
        if name.endswith(".json"):
            st = os.stat(os.path.join(path, name))
            out[name] = (st.st_mtime_ns, st.st_size)
    return out


class Tracer:
    def __init__(self) -> None:
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root_stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------------

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _open(self, layer: str, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else (self._root_stack[-1] if self._root_stack else None)
        span = Span(layer, name, parent, time.perf_counter())
        if parent is not None:
            with self._lock:
                parent.children.append(span)
        stack.append(span)
        return span

    def _close(self, span: Span) -> None:
        span.t1 = time.perf_counter()
        self._stack().pop()

    @contextlib.contextmanager
    def op(self, name: str):
        """The root span of one op; worker-thread spans attach under it."""
        root = self._open("op", name)
        self._root_stack = self._stack()
        try:
            yield root
        finally:
            self._close(root)
            self._root_stack = []

    # -- patching -----------------------------------------------------------

    def install(self) -> None:
        for owner, attr, layer in _targets():
            orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            setattr(owner, attr, self._wrap(orig, layer, attr))
            self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def _wrap(self, fn, layer: str, name: str):
        tracer = self
        measure_bytes = layer == "state" and not name.startswith("get")

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = tracer._open(layer, name)
            before = _state_files(args[0].path) if measure_bytes else None
            try:
                return fn(*args, **kwargs)
            finally:
                if before is not None:
                    after = _state_files(args[0].path)
                    span.bytes_written = sum(
                        size for f, (mtime, size) in after.items() if before.get(f, (None,))[0] != mtime
                    )
                tracer._close(span)

        return wrapper


def layer_metrics(root: Span) -> dict[str, float]:
    """Per-layer numbers of one traced op.

    ``context.load_s``, ``plan.plan_s``, ``plan.promote_s`` (plan apply
    minus the scheduler run inside it) and ``scheduler.run_s`` are wall
    seconds of the outermost calls. The other ``_s`` layers are self time
    summed over threads, so with the scheduler's pool they can exceed the
    op's wall time. ``trace.coverage`` is the share of op wall time inside
    some traced call."""
    spans = list(walk(root))[1:]
    out: dict[str, float] = {}

    def total(layer: str) -> float:
        return sum(s.t1 - s.t0 for s in spans if s.layer == layer and s.parent.layer != layer)

    def own(*layers: str) -> float:
        return sum(self_time(s) for s in spans if s.layer in layers)

    def calls(layer: str) -> int:
        return sum(1 for s in spans if s.layer == layer and s.parent.layer != layer)

    run_s = total("scheduler.run")
    out["context.load_s"] = total("context.load")
    out["plan.plan_s"] = total("plan.plan")
    out["plan.promote_s"] = total("plan.apply") - sum(
        s.t1 - s.t0 for s in spans if s.layer == "scheduler.run" and s.parent.layer == "plan.apply"
    )
    out["scheduler.run_s"] = run_s
    out["scheduler.parallelism"] = total("scheduler.evaluate") / run_s if run_s > 0 else 0.0
    out["scheduler.render_s"] = own("scheduler.render")
    out["scheduler.audit_s"] = own("scheduler.audit")
    out["macros.render_s"] = own("macros.render")
    out["transpile.s"] = own("transpile")
    out["state.s"] = own("state")
    out["state.calls"] = calls("state")
    out["state.bytes_written"] = sum(s.bytes_written for s in spans if s.layer == "state")
    out["adapter.ddl_s"] = own("adapter.ddl")
    out["adapter.ddl_calls"] = calls("adapter.ddl")
    out["adapter.write_s"] = own("adapter.write")
    out["adapter.write_calls"] = calls("adapter.write")
    wall = root.t1 - root.t0
    out["trace.coverage"] = 1.0 - self_time(root) / wall if wall > 0 else 0.0
    return out


# -- Spark event log ---------------------------------------------------------

def spark_event_conf(log_dir: str) -> dict[str, str]:
    """Uncompressed, non-rolling event log: plain JSON lines."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def spark_job_metrics(log_dir: str, windows: list[tuple[float, float]]) -> list[dict[str, float]]:
    """Jobs, executor run seconds and shuffle bytes written, per window of
    epoch seconds; a job belongs to the window holding its submission."""
    out = [{"spark.jobs": 0, "spark.task_s": 0.0, "spark.shuffle_bytes": 0} for _ in windows]
    stage_window: dict[int, int] = {}

    def window_of(ms: int) -> Optional[int]:
        for i, (a, b) in enumerate(windows):
            if a * 1000 <= ms <= b * 1000:
                return i
        return None

    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    w = window_of(ev.get("Submission Time", 0))
                    if w is None:
                        continue
                    out[w]["spark.jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_window[sid] = w
                elif kind == "SparkListenerTaskEnd":
                    w = stage_window.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics") or {}
                    if w is None:
                        continue
                    out[w]["spark.task_s"] += metrics.get("Executor Run Time", 0) / 1000
                    out[w]["spark.shuffle_bytes"] += (
                        metrics.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
    return out
