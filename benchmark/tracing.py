"""Spans recorded from the benchmark's own files around the library's layers.

``patch_function`` / ``patch_method`` replace public functions of a layer
with a wrapper that records a span (name, start, end, parent, request id) while the tracer is
enabled, and is a plain pass-through otherwise. Spans marked ``counted``
also set a Spark job group for their duration, so the Spark jobs they
submit can be attributed to them afterwards; ``SparkCollector`` polls the
status REST API for those jobs and their stages. Spans are kept in memory
and written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import sys
import threading
import time
import urllib.request

JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._sc = None

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _enter(self, name: str, counted: bool, rid) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else None
        span = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "rid": rid if rid is not None else (parent["rid"] if parent else None),
            "thread": threading.get_ident(),
        }
        sc = self._sc if counted else None
        if sc is not None:
            span["_old_group"] = sc.getLocalProperty(JOB_GROUP)
            sc.setLocalProperty(JOB_GROUP, f"bench-span-{span['id']}")
        stack.append(span)
        span["start"] = time.perf_counter()
        return span

    def _exit(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack().pop()
        if "_old_group" in span:
            self._sc.setLocalProperty(JOB_GROUP, span.pop("_old_group"))
        self.spans.append(span)

    def run(self, name: str, fn, args, kwargs, counted=False, rid=None, on_result=None):
        """Call ``fn`` inside a span; ``on_result(span, result, args)`` may
        add attributes to the span."""
        if not self.enabled:
            return fn(*args, **kwargs)
        span = self._enter(name, counted, rid)
        try:
            result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(span, result, args)
            return result
        finally:
            self._exit(span)

    @contextlib.contextmanager
    def span(self, name: str, counted=False):
        """Context-manager form, for benchmark-level steps; yields the span
        dict (or a throwaway one when tracing is off)."""
        if not self.enabled:
            yield {}
            return
        span = self._enter(name, counted, None)
        try:
            yield span
        finally:
            self._exit(span)

    def wrap(self, fn, name: str, counted=False, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return tracer.run(name, fn, args, kwargs, counted, None, on_result)

        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def patch_function(tracer: Tracer, module, attr: str, name: str, counted=False, on_result=None):
    """Wrap ``module.attr`` and every other module-level reference to the
    same function object (``from x import f`` bindings), so calls made
    inside the library go through the span too."""
    orig = getattr(module, attr)
    wrapped = tracer.wrap(orig, name, counted, on_result)
    for mod in list(sys.modules.values()):
        d = getattr(mod, "__dict__", None)
        if not d or not getattr(mod, "__name__", "").startswith("mindb_spark"):
            continue
        for k, v in list(d.items()):
            if v is orig:
                setattr(mod, k, wrapped)
    setattr(module, attr, wrapped)


def patch_method(tracer: Tracer, cls, attr: str, name: str, counted=False, on_result=None):
    raw = cls.__dict__[attr]
    if isinstance(raw, classmethod):
        setattr(cls, attr, classmethod(tracer.wrap(raw.__func__, name, counted, on_result)))
    else:
        setattr(cls, attr, tracer.wrap(raw, name, counted, on_result))


class SparkCollector:
    """Polls the Spark status REST API while the traced phase runs.

    Completed jobs (with their job group) and stages (with run time, GC,
    input and shuffle bytes, and the median task run time) are copied out
    before the UI's retention limits can drop them."""

    def __init__(self, sc, interval: float = 1.0):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.jobs: dict[int, dict] = {}
        self.stages: dict[str, dict] = {}
        # jobs and stages that finished before tracing began are skipped
        self._before: set = set()
        self.interval = interval
        self.paused = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="bench-spark-poll", daemon=True)

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.loads(r.read())

    def poll(self) -> None:
        for j in self._get("/jobs"):
            if j.get("status") not in ("SUCCEEDED", "FAILED") or j["jobId"] in self._before:
                continue
            if j["jobId"] not in self.jobs:
                self.jobs[j["jobId"]] = {
                    "group": j.get("jobGroup"),
                    "stages": j.get("stageIds", []),
                    "tasks": j.get("numTasks", 0),
                }
        for s in self._get("/stages"):
            key = f"{s['stageId']}.{s['attemptId']}"
            if s.get("status") != "COMPLETE" or key in self.stages or key in self._before:
                continue
            rec = {
                "stage": s["stageId"],
                "tasks": s.get("numCompleteTasks", 0),
                "run_ms": s.get("executorRunTime", 0),
                "gc_ms": s.get("jvmGcTime", 0),
                "input_bytes": s.get("inputBytes", 0),
                "shuffle_bytes": s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0),
                "task_ms_p50": None,
            }
            try:
                summ = self._get(f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5")
                rec["task_ms_p50"] = summ["executorRunTime"][0]
            except (OSError, KeyError, IndexError, ValueError):
                pass
            self.stages[key] = rec

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self.paused:
                continue
            try:
                self.poll()
            except (OSError, ValueError):
                pass  # transient: the next poll or the final sweep catches up

    def start(self) -> None:
        self._before = {j["jobId"] for j in self._get("/jobs")} | {
            f"{s['stageId']}.{s['attemptId']}" for s in self._get("/stages")
        }
        self._thread.start()

    def finish(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=30)
        self.poll()
        return {"jobs": self.jobs, "stages": list(self.stages.values())}
