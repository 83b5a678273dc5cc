"""Spans around the calls into each layer, the provider-boundary
timer, and Spark-side counters (job groups, the status store and
streaming progress events).

Spans are kept in memory: name, start, end, parent span and iteration.
A span also sets its own Spark job group while it is open, so every
job the layer launches is attributed to the innermost open span."""

from __future__ import annotations

import functools
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

_GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    """Span recorder. A disabled tracer's ``span`` is a no-op, so the
    timed code is the same in traced and untraced iterations."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = False
        self.iteration: int | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "iteration": self.iteration,
            "groups": [f"perfbench-span-{len(self.spans)}"],
        }
        self.spans.append(rec)
        self._stack.append(rec)
        prev = self.sc.getLocalProperty(_GROUP_KEY) if self.sc else None
        if self.sc:
            self.sc.setLocalProperty(_GROUP_KEY, rec["groups"][0])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc:
                self.sc.setLocalProperty(_GROUP_KEY, prev)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


@contextmanager
def patched(tracer: Tracer, targets):
    """Wrap ``(owner, attribute, span name)`` targets in spans for the
    duration of the block: the package calls these through the owner
    at call time, so its own calls are traced too."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for (owner, attr, orig), (_, _, name) in zip(saved, targets):
            setattr(owner, attr, tracer.wrap(orig, name))
        yield
    finally:
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)


class TimedBackend:
    """Provider-boundary proxy: times every ``submit``/``status``/
    ``fetch``/``submit_spark`` call of the wrapped backend (untraced
    runs too: ``client_s`` subtracts this time) and opens a span per
    call when tracing. Other attributes, and the absence of optional
    methods, pass through unchanged."""

    BOUNDARY = ("submit", "status", "fetch", "submit_spark")

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer
        self.seconds = 0.0
        self.calls: Counter = Counter()

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if name not in self.BOUNDARY:
            return attr

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                with self._tracer.span(f"provider.{name}"):
                    return attr(*args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t0
                self.calls[name] += 1

        return timed


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch's progress and each query's run id
    (Structured Streaming runs a query's jobs in the job group named
    by its run id)."""

    def __init__(self):
        self.progress: list[dict] = []
        self.run_ids: list[str] = []
        self._terminated = 0
        self._cond = threading.Condition()

    def onQueryStarted(self, event):
        with self._cond:
            self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        with self._cond:
            self.progress.append(
                {
                    "run_id": str(p.runId),
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                }
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cond:
            self._terminated += 1
            self._cond.notify_all()

    def wait_terminated(self, n: int, timeout: float = 30.0) -> bool:
        """Events arrive asynchronously; wait until ``n`` queries in
        total have reported termination."""
        with self._cond:
            return self._cond.wait_for(
                lambda: self._terminated >= n, timeout=timeout
            )


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time: its duration minus its children's (spans
    of one thread nest, so children never overlap)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in spans}


def descendants(spans: list[dict], root_id: int) -> list[dict]:
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out, todo = [], [root_id]
    while todo:
        sid = todo.pop()
        out.extend(kids[sid])
        todo.extend(k["id"] for k in kids[sid])
    return out


SPARK_COUNTERS = (
    "spark_jobs",
    "spark_stages",
    "spark_tasks",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_s",
    "gc_s",
)


def group_counters(spark, groups: list[str]) -> dict[str, float]:
    """Jobs, executed stages and tasks, shuffle-write and spilled bytes,
    executor run time and GC time of every job in ``groups``, from the
    SparkContext status store (works with the UI disabled)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    no_tasks = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    out = dict.fromkeys(SPARK_COUNTERS, 0.0)
    stages = set()
    for g in groups:
        for job in tracker.getJobIdsForGroup(g):
            out["spark_jobs"] += 1
            info = tracker.getJobInfo(job)
            if info is not None:
                stages.update(info.stageIds)
    for sid in stages:
        try:
            attempts = store.stageData(sid, False, no_tasks, False, no_quantiles)
        except Py4JJavaError:  # never submitted, or evicted from the store
            continue
        ran = False
        for i in range(attempts.size()):
            d = attempts.apply(i)
            if str(d.status()) == "SKIPPED":
                continue
            ran = True
            out["spark_tasks"] += d.numTasks()
            out["shuffle_write_bytes"] += d.shuffleWriteBytes()
            out["spill_bytes"] += d.diskBytesSpilled()
            out["executor_run_s"] += d.executorRunTime() / 1000.0
            out["gc_s"] += d.jvmGcTime() / 1000.0
        out["spark_stages"] += ran
    return out
