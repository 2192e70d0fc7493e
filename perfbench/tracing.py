"""Spans, streaming progress and job counts for the traced run.

Spans are recorded only from the benchmark's own files, around calls into
the engine's public entry points: the ingest phases and stream starts, and
``REGISTRY`` calls (each run under its own job group, read back through
``statusTracker()``).  Spans stay in memory and are written once, at exit.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, req: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
               "req": req,
               "start": time.time(), **attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, start: float, end: float, req: str | None = None,
            parent: int | None = None, **attrs) -> None:
        """Record a span whose edges were observed elsewhere (another thread,
        a callback or a progress event)."""
        with self._lock:
            self.spans.append({"id": next(self._ids), "name": name,
                               "parent": parent, "req": req,
                               "start": start, "end": end, **attrs})

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def epoch(timestamp: str) -> float:
    """A progress event's ISO-8601 UTC ``timestamp`` in epoch seconds."""
    return datetime.fromisoformat(timestamp.replace("Z", "+00:00")).timestamp()


class ProgressListener(StreamingQueryListener):
    """Collects every streaming query's progress: ``durationMs`` and
    ``stateOperators``, keyed by query id."""

    def __init__(self):
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802 — listener API
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self._lock:
            self.events.append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.events)


def job_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under ``group``, read back from the status
    tracker."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks

