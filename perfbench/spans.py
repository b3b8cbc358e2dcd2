"""In-memory span tracing around the package's public calls.

Tracing lives entirely in the benchmark: the benchmark opens spans around
its own calls (``session.get_spark``, ``registry.load_all``, each query's
build and ``noop`` write), and ``Tracer.wrap_package`` rebinds the public
functions the package calls internally (``catalog.table``,
``loader.validate_config`` / ``transform`` / ``run_loader`` /
``read_loaded``) to wrappers that record a span and call the original.
With tracing off nothing is wrapped and ``span`` is a no-op, so untraced
runs measure the package as is.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener

# Streaming progress phases reported per micro-batch (durationMs keys).
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    """Records spans (name, start, end, parent) while enabled."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        s = Span(sid, name, time.perf_counter(), 0.0,
                 self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    @contextmanager
    def paused(self):
        """Record no spans inside the block."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap_package(self) -> None:
        """Rebind the package's public calls to traced wrappers, in every
        loaded module that imported them by name."""
        if not self.enabled:
            return
        from kafka_hadoop_loader_spark import catalog
        from kafka_hadoop_loader_spark.streaming import loader

        targets = {
            catalog.table: "catalog.table",
            loader.validate_config: "loader.preflight",
            loader.transform: "loader.transform",
            loader.run_loader: "loader.run",
            loader.read_loaded: "loader.read_loaded",
        }
        wrapped = {id(fn): self.wrap(name, fn) for fn, name in targets.items()}
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("kafka_hadoop_loader_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in wrapped:
                    setattr(mod, attr, wrapped[id(val)])

    # ---------------------------------------------------------- analysis

    def self_times(self, first: int = 0) -> dict[str, float]:
        """Per span name, over the spans from index ``first`` on: total
        duration minus the part covered by direct children (children of
        one span never overlap: calls are sequential)."""
        spans = self.spans[first:]
        child: dict[int, float] = defaultdict(float)
        for s in spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s.name] += (s.end - s.start) - child[s.id]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


class ProgressRecorder(StreamingQueryListener):
    """Keeps every micro-batch's phase durations and input rows."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        d = dict(p.durationMs or {})
        d["rows"] = int(p.numInputRows or 0)
        self.batches.append(d)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def take(self) -> list[dict]:
        """Batches seen since the last call."""
        out, self.batches = self.batches, []
        return out


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, tasks, failed tasks) Spark ran under job group ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            if stage:
                tasks += stage.numTasks
                failed += stage.numFailedTasks
    return len(jobs), tasks, failed
