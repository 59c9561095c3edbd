"""Span tracing for the benchmark's traced run.

The tracer wraps, from outside the program, every public function of the
package's ``sources``, ``operators``, ``plans`` and ``functions`` modules
and every registry query function, and records one span per call: name,
layer, start, end, parent span and request. Names that other package
modules imported with ``from … import name`` are patched too, so calls
through those bindings are seen. ``uninstall`` restores every binding.

Spark-side stage metrics come from the application's event log, whose
jobs are keyed to requests by job group (see ``EventLog``).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import sys
import time
from contextlib import contextmanager

PACKAGE = "thisishappening_spark"
LAYER_PACKAGES = ("sources", "operators", "plans", "functions")
OPERATORS = ("dedup", "similarity", "textstats", "admission", "ingest")


def layer_of(module: str) -> str:
    """``thisishappening_spark.operators.dedup`` → ``operators.dedup``;
    other layers are named by their package alone."""
    parts = module.split(".")
    return ".".join(parts[1:3]) if parts[1] == "operators" else parts[1]


class Tracer:
    def __init__(self, cache_size):
        # ``cache_size`` reports the relation cache's entry count, so a
        # sources call that adds no entry is counted as a cache hit.
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self._cache_size = cache_size
        self.request: str | None = None

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "request": self.request,
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
        }
        outer_source = layer == "sources" and not any(s["layer"] == "sources" for s in self._stack)
        size = self._cache_size() if outer_source else None
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if outer_source:
                rec["outer"] = True
                rec["cache_hit"] = self._cache_size() == size

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(fn.__qualname__, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self, registry) -> None:
        wrappers = {}
        for pkg_name in LAYER_PACKAGES:
            pkg = importlib.import_module(f"{PACKAGE}.{pkg_name}")
            for info in pkgutil.iter_modules(pkg.__path__):
                mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
                for name, obj in vars(mod).items():
                    if inspect.isfunction(obj) and obj.__module__ == mod.__name__ and not name.startswith("_"):
                        wrappers[obj] = self._wrap(obj, layer_of(mod.__name__))
        for mod_name, mod in list(sys.modules.items()):
            if mod_name != PACKAGE and not mod_name.startswith(PACKAGE + "."):
                continue
            for name, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj in wrappers:
                    self._patch(mod, name, wrappers[obj])
        for spec in registry.values():
            self._patch(spec, "fn", self._wrap(spec.fn, "queries"))

    def _patch(self, owner, name: str, value) -> None:
        self._patches.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def uninstall(self) -> None:
        for owner, name, original in reversed(self._patches):
            setattr(owner, name, original)
        self._patches.clear()

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the time its direct children cover."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def write(self, path: str, stage_spans: list[dict], epoch_offset: float) -> None:
        """Write request spans plus the event log's stage spans (epoch
        milliseconds converted to the tracer's clock) as one JSON list."""
        stages = [
            dict(s, start=s["start_ms"] / 1000 - epoch_offset, end=s["end_ms"] / 1000 - epoch_offset)
            for s in stage_spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans + stages, f)


class EventLog:
    """Per-request task and stage totals from an uncompressed, non-rolling
    Spark event log. Jobs are mapped to requests through the
    ``spark.jobGroup.id`` property the benchmark sets per request."""

    def __init__(self, path: str):
        self.stage_group: dict[int, str] = {}
        self.jobs: dict[str, int] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: list[dict] = []
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                return
            self.jobs[group] = self.jobs.get(group, 0) + 1
            for sid in ev["Stage IDs"]:
                self.stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            self.stages[info["Stage ID"]] = {
                "tasks": info["Number of Tasks"],
                "start_ms": info.get("Submission Time", 0),
                "end_ms": info.get("Completion Time", 0),
            }
        elif kind == "SparkListenerTaskEnd":
            self.tasks.append(ev)

    def stage_spans(self, groups: set[str]) -> list[dict]:
        return [
            {"name": f"stage {sid}", "layer": "exec.stage", "request": self.stage_group[sid],
             "tasks": st["tasks"], "start_ms": st["start_ms"], "end_ms": st["end_ms"]}
            for sid, st in self.stages.items()
            if self.stage_group.get(sid) in groups
        ]

    def totals(self, groups: set[str]) -> dict[str, float]:
        """Sums over the jobs, stages and tasks of the given requests."""
        t = dict.fromkeys(
            ["jobs", "stages", "single_task_stages", "tasks", "failed_tasks", "scheduler_delay_s",
             "run_s", "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
             "peak_execution_memory_bytes", "scan_rows", "scan_bytes", "scan_tasks"],
            0.0,
        )
        t["jobs"] = sum(n for g, n in self.jobs.items() if g in groups)
        for sid, st in self.stages.items():
            if self.stage_group.get(sid) in groups:
                t["stages"] += 1
                t["single_task_stages"] += st["tasks"] == 1
        for ev in self.tasks:
            if self.stage_group.get(ev["Stage ID"]) not in groups:
                continue
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            t["tasks"] += 1
            ok = not info.get("Failed") and ev.get("Task End Reason", {}).get("Reason") == "Success"
            t["failed_tasks"] += not ok
            run_ms = m.get("Executor Run Time", 0)
            overhead_ms = (
                m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
                + info.get("Getting Result Time", 0)
            )
            duration_ms = info["Finish Time"] - info["Launch Time"]
            t["scheduler_delay_s"] += max(0, duration_ms - run_ms - overhead_ms) / 1000
            t["run_s"] += run_ms / 1000
            t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1000
            sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            t["peak_execution_memory_bytes"] = max(
                t["peak_execution_memory_bytes"], m.get("Peak Execution Memory", 0)
            )
            inp = m.get("Input Metrics", {})
            t["scan_rows"] += inp.get("Records Read", 0)
            t["scan_bytes"] += inp.get("Bytes Read", 0)
            t["scan_tasks"] += inp.get("Records Read", 0) > 0
        return t
