"""Span recording around the engine's public calls, from outside the
engine.

A traced run patches the module attributes and methods named in
:func:`patch_engine` with wrappers that open a span (name, start, end,
parent, operation id) and count the Spark jobs submitted inside it. The
engine's code is not changed: every wrapped call is one the engine looks
up at call time (a module global or a method), so the wrapper sees
every call the workload makes. Spans stay in memory and are written out
when the run ends.

Execution-side numbers the Python side cannot see (task CPU, shuffle,
spill, GC) come from the Spark UI's REST API, which only a traced run
turns on.
"""

from __future__ import annotations

import functools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager


def next_job_id(spark) -> int:
    """The DAGScheduler's monotone job counter: moves iff a job ran."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


class Tracer:
    """In-memory span log. Spans opened on one thread nest under that
    thread's open span; ``op`` tags every span with the chunk or query
    being processed."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.op: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {
            "name": name,
            "op": self.op,
            "parent": stack[-1] if stack else None,
            "start": time.perf_counter(),
            "jobs": next_job_id(self.spark),
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            rec["jobs"] = next_job_id(self.spark) - rec["jobs"]

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper until
        :meth:`restore`."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self.replace(owner, attr, wrapper)

    def replace(self, owner, attr: str, new) -> None:
        """Replace ``owner.attr`` with ``new`` until :meth:`restore`."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def durations_ms(self, name: str) -> list[float]:
        return [
            (s["end"] - s["start"]) * 1000.0 for s in self.spans if s["name"] == name
        ]

    def self_ms(self, name: str) -> list[float]:
        """Each ``name`` span's duration minus the time its children
        cover (children never overlap: they run on the span's thread)."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [
            (s["end"] - s["start"] - kids.get(s["id"], 0.0)) * 1000.0
            for s in self.spans
            if s["name"] == name
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def patch_engine(tracer: Tracer) -> None:
    """Wrap the public calls the DQ gate's per-layer metrics are read
    from (the CDC merge is wrapped by the workload, which also lists the
    files it rewrites). Imports are local so an untraced run never
    touches them."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators import quality

    tracer.wrap(quality.DataQualityValidator, "gate", "quality.gate")
    tracer.wrap(quality.DataQualityValidator, "passed", "quality.passed")


class StageMetrics:
    """Completed-stage totals from the Spark UI REST API. ``delta()``
    returns the sums over stages completed since the previous call."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
        self.seen: set[tuple[int, int]] = set()
        self.delta()

    def _stages(self) -> list[dict]:
        with urllib.request.urlopen(f"{self.base}/stages?status=complete", timeout=30) as r:
            return json.load(r)

    def delta(self) -> dict[str, float]:
        out = {"task_cpu_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0}
        for st in self._stages():
            key = (st["stageId"], st["attemptId"])
            if key in self.seen:
                continue
            self.seen.add(key)
            out["task_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            out["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / 2**20
            out["spill_mb"] += (
                st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
            ) / 2**20
            out["gc_s"] += st.get("jvmGcTime", 0) / 1000.0
        return out
