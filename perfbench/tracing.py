"""In-process tracing for the benchmark's traced runs.

Everything here observes the engine from outside: spans are taken around
the benchmark's own calls into the engine's public functions, and around
calls the engine makes to ``catalog.load_table`` and
``sources.readers.read_parquet`` by rebinding those two names, for the
length of a traced session, in every engine module that imported them. No
engine file changes.

* ``Tracer``: spans (name, start, end, parent, job id) kept in memory and
  written as JSON when the run ends, the Spark job group of the benchmark
  job that is running, and per-job Catalyst phase times.
* ``StreamListener``: a ``StreamingQueryListener`` that maps each streaming
  query run to the benchmark job that started it and keeps its progress
  events.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

PHASES = ("analysis", "optimization", "planning")


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.job: str | None = None
        # Engine producer threads call wrapped functions too: each thread
        # nests its own spans.
        self._local = threading.local()
        self._lock = threading.Lock()
        self.phases: dict[str, dict[str, float]] = {}

    @contextmanager
    def span(self, name: str):
        """Record one span; nested spans name their parent by index."""
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "job": self.job,
        }
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def job_group(self, group: str):
        """Tag every Spark job this thread starts with ``group``."""
        sc = self.spark.sparkContext
        self.job = group
        sc.setJobGroup(group, group)
        try:
            with self.span("job"):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.job = None

    def record_phases(self, df) -> None:
        """Catalyst phase times of ``df``'s (executed) query."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in PHASES:
            opt = phases.get(name)
            out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        self.phases[self.job] = out

    def total(self, name: str, jobs: set[str]) -> tuple[float, int]:
        """(seconds, count) of spans called ``name`` inside ``jobs``."""
        secs, n = 0.0, 0
        for s in self.spans:
            if s["name"] == name and s["job"] in jobs and s["end"] is not None:
                secs += s["end"] - s["start"]
                n += 1
        return secs, n

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, "phases": self.phases}, fh)


@contextmanager
def wrapped(tracer: Tracer, targets: dict[str, tuple[object, str]]):
    """Rebind each ``module.attr`` in ``targets`` (span name -> (module,
    attr)) to a span-recording wrapper, in every loaded engine module that
    holds the original function; restore on exit."""
    patched: list[tuple[object, str, object]] = []
    for span_name, (module, attr) in targets.items():
        orig = getattr(module, attr)

        def wrapper(*a, _orig=orig, _name=span_name, **kw):
            with tracer.span(_name):
                return _orig(*a, **kw)

        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if not name.startswith("xgboost_ray_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, wrapper)
                    patched.append((mod, key, orig))
    try:
        yield
    finally:
        for mod, key, orig in patched:
            setattr(mod, key, orig)


class StreamListener(StreamingQueryListener):
    """Streaming progress, keyed by the benchmark job that ran the query."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.run_job: dict[str, str | None] = {}
        self.progress: list[tuple[str, dict]] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        # Delivered synchronously with start(), on the starting thread's
        # watch, so the current benchmark job is the one that started it.
        with self._lock:
            self.run_job[str(event.runId)] = self.tracer.job

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "batch": p.batchId,
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        }
        with self._lock:
            self.progress.append((str(p.runId), rec))

    def onQueryTerminated(self, event) -> None:
        pass

    def for_jobs(self, jobs: set[str]) -> list[dict]:
        with self._lock:
            return [
                rec for run, rec in self.progress
                if self.run_job.get(run) in jobs
            ]
