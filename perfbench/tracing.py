"""Spans recorded around the benchmark's calls into the package, and the
join of those spans with Spark's own job/stage/task metrics.

A span has a name, layer, start, end, parent span and ``op`` — the id
shared by everything done for one released file, micro-batch or query
execution. Around each call it records, the tracer also sets a Spark job
group named after the span, so the event log's task metrics join back to
the span that caused them. Spans stay in memory and are written once, at
exit. With tracing off every method is a no-op and nothing is wrapped.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list = []
        self.sc = None  # SparkContext, for job groups

    # ------------------------------------------------------------ spans

    @contextlib.contextmanager
    def span(self, name: str, layer: str, op: str | None = None,
             group: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        sp = {"id": next(self._ids), "name": name, "layer": layer,
              "parent": parent["id"] if parent else None,
              "op": op if op is not None else (parent or {}).get("op"),
              "start": time.time(), **attrs}
        if group and self.sc is not None:
            sp["group"] = f"span-{sp['id']}"
            self.sc.setJobGroup(sp["group"], name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            stack.pop()
            if group and self.sc is not None:
                if parent and parent.get("group"):
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(sp)

    def add(self, **span) -> None:
        """Record a span measured elsewhere (e.g. a file's release to the
        commit of the batch that read it)."""
        if self.enabled:
            span.setdefault("id", next(self._ids))
            span.setdefault("parent", None)
            with self._lock:
                self.spans.append(span)

    def wrap(self, module, attr: str, layer: str) -> None:
        """Replace ``module.attr`` by a wrapper that records a span per
        call. The package looks these functions up as module globals at
        call time, so wrapping the global is enough."""
        if not self.enabled:
            return
        orig = getattr(module, attr)
        name = f"{module.__name__.split('.')[-1]}.{attr}"

        def wrapped(*args, **kw):
            with self.span(name, layer):
                return orig(*args, **kw)

        self.replace(module, attr, wrapped)

    def replace(self, module, attr: str, fn) -> None:
        """Install ``fn`` as ``module.attr`` until ``unwrap``."""
        self._restore.append((module, attr, getattr(module, attr)))
        setattr(module, attr, fn)

    def unwrap(self) -> None:
        for module, attr, orig in reversed(self._restore):
            setattr(module, attr, orig)
        self._restore.clear()

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        if self.enabled:
            with open(path, "w") as f:
                json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of it
    its child spans cover."""
    kids: dict = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        if "end" not in s:
            continue
        covered = 0.0
        for iv in _union([(c["start"], c["end"])
                          for c in kids.get(s["id"], ())]):
            covered += min(iv[1], s["end"]) - max(iv[0], s["start"])
        out[s["layer"]] = (out.get(s["layer"], 0.0)
                           + (s["end"] - s["start"]) - max(covered, 0.0))
    return out


def _union(ivs):
    out = []
    for a, b in sorted(ivs):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


# ------------------------------------------------------------ event log


def read_event_log(log_dir: str) -> dict:
    """Parse the (finished) event log: per job group, the jobs, stages
    that ran tasks, tasks and their summed metrics; plus every task's
    [launch, finish] and run time for busy-fraction windows."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    job_group: dict[int, str | None] = {}
    stage_jobs: dict[int, int] = {}
    groups: dict = {}
    tasks: list = []
    retries = 0

    def g(name):
        return groups.setdefault(name, {
            "jobs": 0, "stages": set(), "tasks": 0, "run_ms": 0,
            "gc_ms": 0, "shuffle_bytes": 0, "spill_bytes": 0,
            "failed_tasks": 0})

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    job_group[ev["Job ID"]] = grp
                    g(grp)["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_jobs.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    grp = job_group.get(stage_jobs.get(ev["Stage ID"]))
                    rec = g(grp)
                    rec["stages"].add(ev["Stage ID"])
                    rec["tasks"] += 1
                    run = m.get("Executor Run Time", 0)
                    rec["run_ms"] += run
                    rec["gc_ms"] += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    rec["shuffle_bytes"] += sw.get("Shuffle Bytes Written",
                                                   0)
                    rec["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
                    if info.get("Failed") or info.get("Killed"):
                        rec["failed_tasks"] += 1
                    if info.get("Attempt", 0) > 0:
                        retries += 1
                    tasks.append((info.get("Launch Time", 0) / 1000.0,
                                  info.get("Finish Time", 0) / 1000.0,
                                  run / 1000.0, grp))
    for rec in groups.values():
        rec["stages"] = len(rec["stages"])
    return {"groups": groups, "tasks": tasks, "task_retries": retries}
