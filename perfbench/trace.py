"""In-memory spans recorded by the benchmark around its calls into the
engine's public functions, written out when the run ends.

A span has a name (``<layer>.<call>``), start and end (ns, monotonic
clock), parent span, and the run id. A disabled tracer records nothing
and costs one attribute check per call site.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time

from perfbench import stats

LAYERS = ("client", "ledger", "worker", "api", "queries", "session")


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        #: ns spent in the tracer's own bookkeeping (spans, job counts,
        #: progress records): its overhead on the traced pass
        self.cost_ns = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    def charge(self, since_ns: int) -> None:
        """Add the time since ``since_ns`` (perf_counter_ns) to cost_ns."""
        with self._lock:
            self.cost_ns += time.perf_counter_ns() - since_ns

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict):
        c0 = time.perf_counter_ns()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
               "run": self.run_id, "start": time.monotonic_ns(), "end": None}
        rec.update(attrs)
        stack.append(sid)
        self.charge(c0)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic_ns()
            c1 = time.perf_counter_ns()
            stack.pop()
            with self._lock:
                self.spans.append(rec)
            self.charge(c1)

    def span(self, name: str, **attrs):
        """Context manager timing one call; yields the span record (a
        dict the caller may annotate) or None when disabled."""
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, attrs)

    def add_spans(self, recs: list[dict]) -> None:
        """Spans recorded by another process (e.g. the traffic
        generator), re-numbered into this tracer."""
        if not self.enabled:
            return
        with self._lock:
            for r in recs:
                self._next_id += 1
                self.spans.append(dict(r, id=self._next_id, parent=None,
                                       run=self.run_id))

    def add_progress(self, rec: dict, since_ns: int) -> None:
        if self.enabled:
            with self._lock:
                self.progress.append(rec)
            self.charge(since_ns)

    def layer_summary(self) -> dict:
        """Per layer: number of calls and self seconds."""
        selfs = stats.self_times(self.spans)
        out = {}
        for layer in LAYERS:
            mine = [s for s in self.spans if s["name"].split(".", 1)[0] == layer]
            out[layer] = {"calls": len(mine), "self_s": sum(selfs[s["id"]] for s in mine) / 1e9}
        return out

    def durations(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) / 1e9 for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps({"kind": "span", **s}) + "\n")
            for p in self.progress:
                fh.write(json.dumps({"kind": "progress", "run": self.run_id, **p}) + "\n")


class SparkJobCounter:
    """Spark job / stage / task counts of calls made inside ``count()``,
    from ``SparkContext.statusTracker()`` with a job group set around
    the call (the UI and REST API are off in the engine's session)."""

    def __init__(self, sc, tracer: Tracer):
        self.sc = sc
        self.tracer = tracer
        self._n = 0
        self.totals: dict[str, list[int]] = {}

    @contextlib.contextmanager
    def count(self, key: str):
        c0 = time.perf_counter_ns()
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, key)
        self.tracer.charge(c0)
        try:
            yield
        finally:
            c1 = time.perf_counter_ns()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(group)
            stages = tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is None:
                    continue
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    stages += 1
                    tasks += st.numTasks if st is not None else 0
            t = self.totals.setdefault(key, [0, 0, 0, 0])
            t[0] += 1
            t[1] += len(jobs)
            t[2] += stages
            t[3] += tasks
            self.tracer.charge(c1)


def progress_listener(tracer: Tracer):
    """A StreamingQueryListener that files every trigger's progress
    (durations, input rows) with the tracer."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            c0 = time.perf_counter_ns()
            p = event.progress
            tracer.add_progress({
                "query": str(p.id), "batch": p.batchId, "ts": p.timestamp,
                "rows": p.numInputRows, "duration_ms": dict(p.durationMs),
            }, c0)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
