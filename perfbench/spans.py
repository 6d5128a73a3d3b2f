"""Spans around the benchmark's calls into the package, Spark job groups,
event-log parsing, and process-tree memory.

A span is opened from the benchmark's own code around one public call
(``tracer.span("plans.gold_jobs", "run_full_refresh")``). While it is
open, the calling thread's Spark job group is the span's id, so every job
the call launches is attributed to it in Spark's event log; the parent
span's group is restored on exit. Nesting is kept on the Python side (one
stack per thread), because a job group has no parent.

Calls the package makes internally (an operator inside a registry query,
the shard sink inside the document pipeline) are reached by
:func:`instrument`, which wraps each public function of a layer's module
in a span of that layer.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

JOB_GROUP = "spark.jobGroup.id"

# event-log counters aggregated per layer, with their units: the ones a
# change in a layer's plans moves (stage counts, spill and GC time are left
# out to stay within the per-layer metric budget)
EVENT_UNITS = {"jobs": "count", "tasks": "count", "executor_run_s": "s", "shuffle_write_bytes": "B"}


@dataclass
class Span:
    sid: str
    parent: str | None
    layer: str
    name: str
    t0: float
    t1: float


class Tracer:
    """Collects spans in memory. ``enabled`` may be flipped between
    operations; a disabled tracer sets no job group and records nothing."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.group_layer: dict[str, str] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = f"perfbench-{self._next}"
            self._next += 1
        prev_group = self.sc.getLocalProperty(JOB_GROUP)
        self.sc.setJobGroup(sid, f"{layer}:{name}")
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(JOB_GROUP, prev_group)
            with self._lock:
                self.spans.append(Span(sid, parent, layer, name, t0, t1))

    def adopt(self, group: str, layer: str) -> None:
        """Attribute jobs of job group ``group`` to ``layer``: a streaming
        query runs its micro-batches on its own thread under its run id."""
        if self.enabled:
            self.group_layer[group] = layer

    def layer_seconds(self) -> dict[str, float]:
        """Wall time per layer, counting each layer once where its spans
        nest inside each other."""
        by_id = {s.sid: s for s in self.spans}
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            p = by_id.get(s.parent) if s.parent else None
            if p is None or p.layer != s.layer:
                out[s.layer] += s.t1 - s.t0
        return dict(out)

    def call_seconds(self, layer: str, prefix: str) -> float:
        """Wall time of the calls of ``layer`` whose function name starts
        with ``prefix``, each counted once where such calls nest."""
        by_id = {s.sid: s for s in self.spans}

        def hit(s: Span | None) -> bool:
            return s is not None and s.layer == layer and s.name.startswith(prefix)

        return sum(
            s.t1 - s.t0
            for s in self.spans
            if hit(s) and not hit(by_id.get(s.parent) if s.parent else None)
        )

    def self_seconds(self) -> dict[str, float]:
        """Per layer: span time minus the part covered by child spans."""
        child_time: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.parent:
                child_time[s.parent] += s.t1 - s.t0
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.layer] += (s.t1 - s.t0) - child_time[s.sid]
        return dict(out)


def instrument(tracer: Tracer, layers: dict[str, str]) -> None:
    """Wrap every public function defined in each module of ``layers``
    (layer name -> module name) so that each call opens a span of its
    layer, and rebind every name under which any loaded module imported
    one of them. The wrapper keeps the function's module and
    qualified name, so a function shipped to Python workers by reference
    still resolves to the plain original there."""
    wrapped: dict[int, object] = {}
    for layer, modname in layers.items():
        for name, fn in list(vars(importlib.import_module(modname)).items()):
            if (
                inspect.isfunction(fn)
                and not name.startswith("_")
                and fn.__module__ == modname
                and fn.__qualname__ == name
            ):
                wrapped[id(fn)] = _in_span(tracer, layer, fn)
    for mod in list(sys.modules.values()):
        for name, obj in list(getattr(mod, "__dict__", {}).items()):
            if inspect.isfunction(obj) and id(obj) in wrapped:
                setattr(mod, name, wrapped[id(obj)])


def _in_span(tracer: Tracer, layer: str, fn):
    @functools.wraps(fn)
    def call(*args, **kwargs):
        with tracer.span(layer, fn.__name__):
            return fn(*args, **kwargs)

    return call


def parse_event_log(log_dir: str, app_id: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks run and their task metrics, from the
    (finished) event log of application ``app_id``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if app_id in os.path.basename(p)]
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EVENT_UNITS, 0.0))
    with open(paths[0], encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(JOB_GROUP) or "untagged"
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                g = out[stage_group.get(ev.get("Stage ID"), "untagged")]
                m = ev.get("Task Metrics") or {}
                g["tasks"] += 1
                g["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return dict(out)


def layer_events(tracer: Tracer, by_group: dict[str, dict[str, float]]) -> dict[str, dict[str, float]]:
    """Fold per-job-group event counters into per-layer ones."""
    layer_of = {s.sid: s.layer for s in tracer.spans}
    layer_of.update(tracer.group_layer)
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EVENT_UNITS, 0.0))
    for group, vals in by_group.items():
        layer = layer_of.get(group)
        if layer is None:
            continue
        for k, v in vals.items():
            out[layer][k] += v
    return dict(out)


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from the parent links in /proc."""
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat, encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def peak_rss_mb(root: int | None = None) -> float:
    """Sum of each live process's peak resident set (VmHWM) over the tree
    rooted at this process: the Python driver, its JVM and the Python
    workers the JVM forked."""
    total_kb = 0
    for pid in process_tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def dir_stats(*paths: str) -> tuple[int, int]:
    """(bytes, files) under the given directories."""
    n_bytes = n_files = 0
    for root in paths:
        for dirpath, _, files in os.walk(root):
            for name in files:
                n_bytes += os.path.getsize(os.path.join(dirpath, name))
                n_files += 1
    return n_bytes, n_files
