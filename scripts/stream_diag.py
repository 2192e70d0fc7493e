"""Diagnose where streaming drain wall-time goes (r13 optimization).

Collects each StreamingQuery's progress (durationMs breakdown: addBatch,
getBatch, queryPlanning, walCommit, commitOffsets, latestOffset) with a
StreamingQueryListener and times the full registry query, optionally
under a reduced spark.sql.shuffle.partitions (state-store partition count
for the stateful operators).

Usage::

    python scripts/stream_diag.py NAME [NAME ...] [--parts N]
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# the session factory derives the initial shuffle width from this dir;
# pin the default into the env so harness and session agree when unset
os.environ.setdefault("SPARK_GRAFT_SF_DIR", SF_DIR)


class DrainProgress(StreamingQueryListener):
    """Progress records of every query started on the session.  The
    listener bus delivers a query's terminated event after its last
    progress event, so the records are complete once every query started
    has terminated."""

    def __init__(self) -> None:
        self.cond = threading.Condition()
        self.records: dict = {}  # runId -> progress records, in start order
        self.terminated: set = set()

    def onQueryStarted(self, event) -> None:
        with self.cond:
            self.records[event.runId] = []

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self.cond:
            self.records[p.runId].append({
                "query": p.name,
                "batchId": p.batchId,
                "durationMs": p.durationMs,
                "numInputRows": p.numInputRows,
            })

    def onQueryTerminated(self, event) -> None:
        with self.cond:
            self.terminated.add(event.runId)
            self.cond.notify_all()

    def take(self) -> list[dict]:
        """Wait until every started query has terminated, then return
        and forget their records."""
        with self.cond:
            self.cond.wait_for(lambda: self.terminated >= self.records.keys())
            out = [r for recs in self.records.values() for r in recs]
            self.records.clear()
            self.terminated.clear()
        return out


def main() -> None:
    from killrweather_spark.api.inventory import REGISTRY
    from killrweather_spark.session import get_session

    args = sys.argv[1:]
    parts = None
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--parts":
            parts = int(args[i + 1]); i += 2
        else:
            names.append(args[i]); i += 1

    spark = get_session(app_name="stream_diag")
    spark.range(1).count()
    if parts is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    listener = DrainProgress()
    spark.streams.addListener(listener)

    for name in names:
        spec = REGISTRY[name]
        t0 = time.time()
        df = spec.fn(spark, SF_DIR)
        n = df.count()
        wall = time.time() - t0
        print(json.dumps({
            "name": name,
            "wall_sec": round(wall, 3),
            "rows": n,
            "parts": parts or spark.conf.get("spark.sql.shuffle.partitions"),
            "progress": listener.take(),
        }))

    spark.streams.removeListener(listener)


if __name__ == "__main__":
    main()
