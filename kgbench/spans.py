"""Spans around the program's public functions, and per-span Spark counts
read back from the Spark event log.

A span records name, layer, start, end and parent.  Each span runs its
Spark jobs under its own job group (``spark.jobGroup.id`` is a
thread-local property, so streaming callbacks keep theirs), and after
the session stops the event log is read to charge jobs, tasks, shuffle,
spill, input and output to the innermost span that submitted them.
Spark is lazy: work lands in the span of the call that forces it.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict

GROUP = "spark.jobGroup.id"


class Tracer:
    """Spans of the current run, kept in memory until the run ends."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.enabled = True
        self.cost_s = 0.0  # time spent in the tracer's own bookkeeping
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span; returns (result, span dict)."""
        if not self.enabled:
            return fn(*args, **kwargs), None
        c0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            span = {"id": len(self.spans), "name": name, "layer": layer,
                    "parent": stack[-1] if stack else None, "attrs": {}}
            self.spans.append(span)
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, f"kgbench-{span['id']}")
        stack.append(span["id"])
        span["start"] = time.perf_counter()
        try:
            return fn(*args, **kwargs), span
        finally:
            span["end"] = c1 = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(GROUP, prev)
            with self._lock:
                self.cost_s += (span["start"] - c0) + (time.perf_counter() - c1)

    def wrap(self, owner, attr: str, layer: str, after=None) -> None:
        """Replace ``owner.attr`` (a module function or a class method) by a
        spanned call.  ``after(span, args, kwargs, result)`` may record
        attributes once the call returns."""
        fn = getattr(owner, attr)
        name = (
            f"{owner.__module__}.{owner.__qualname__}.{attr}"
            if isinstance(owner, type)
            else f"{owner.__name__}.{attr}"
        )

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            res, span = self.call(name, layer, fn, *args, **kwargs)
            if span is not None and after is not None:
                after(span, args, kwargs, res)
            return res

        setattr(owner, attr, spanned)

    def by_layer(self, layer: str) -> list[dict]:
        return [s for s in self.spans if s["layer"] == layer]

    def busy_s(self, layer: str) -> float:
        """Wall time of the layer's outermost spans (nested same-layer
        spans are not counted twice)."""
        ids = {s["id"]: s for s in self.spans}
        return sum(
            s["end"] - s["start"]
            for s in self.by_layer(layer)
            if "end" in s and (s["parent"] is None or ids[s["parent"]]["layer"] != layer)
        )


def _walk_plan(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"])
    for ch in node.get("children", []):
        _walk_plan(ch, out)


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def read_event_log(paths: list[str], t0_ms: float, t1_ms: float) -> dict:
    """Per job group: jobs, tasks, shuffle/spill/input/output totals, GC,
    Arrow-UDF output rows and text-scan rows, for jobs submitted in
    [t0_ms, t1_ms]."""
    stage_group: dict[int, str | None] = {}
    accs: dict[int, tuple[str, str]] = {}
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    total = defaultdict(float)
    for ev in _events(paths):
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk_plan(ev.get("sparkPlanInfo", {}), accs)
        elif kind == "SparkListenerJobStart":
            if not t0_ms <= ev.get("Submission Time", 0) <= t1_ms:
                continue
            g = (ev.get("Properties") or {}).get(GROUP) or "unattributed"
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
            groups[g]["jobs"] += 1
            total["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            if g is None:
                continue
            m = ev.get("Task Metrics") or {}
            row = groups[g]
            row["tasks"] += 1
            sw = m.get("Shuffle Write Metrics") or {}
            row["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
            row["spill_bytes"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
            row["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            out = m.get("Output Metrics") or {}
            row["output_bytes"] += out.get("Bytes Written", 0)
            row["output_records"] += out.get("Records Written", 0)
            total["gc_ms"] += m.get("JVM GC Time", 0)
            for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                node = accs.get(a.get("ID"))
                if node and node[1] == "number of output rows":
                    if node[0] == "ArrowEvalPython":
                        row["udf_rows"] += float(a.get("Update") or 0)
                    elif node[0].startswith("Scan text"):
                        row["text_rows"] += float(a.get("Update") or 0)
    return {"groups": groups, "total": total}


def find_event_log(log_dir: str, app_id: str) -> list[str]:
    """The event log files of ``app_id``: one file, or the numbered parts
    of a rolling log directory (``eventlog_v2_<app>/events_<n>_<app>``)."""
    for name in os.listdir(log_dir):
        if app_id not in name:
            continue
        path = os.path.join(log_dir, name)
        if not os.path.isdir(path):
            return [path]
        parts = [p for p in os.listdir(path) if p.startswith("events_")]
        return [os.path.join(path, p) for p in sorted(parts, key=lambda p: int(p.split("_")[1]))]
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
