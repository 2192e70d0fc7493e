"""Isolated per-query timing + plan capture for optimization A/Bs.

Usage::

    python scripts/qtime.py NAME [NAME ...] [--runs N] [--plan-dir DIR]
    python scripts/qtime.py --noop NAME ...      # time via the noop sink

Fresh-JVM leg of the A/B discipline: times the named REGISTRY queries
with the bench methodology (``bench.warm_up``, then ``bench.best_of``
with the bench's count/collect action), printing one JSON line.  For
``--runs`` N > 3 the bench's plateau stop applies: two runs in a row
that fail to beat the best by 10% end a query's loop early.  ``--noop``
instead drives every column of every row through ``format("noop")``
(guide §1.4) — use it when adjudicating whether a win is real compute
or column-pruned away by count().  ``compiles`` reports, per query,
what its runs after the first spent compiling and collecting garbage:
whole-stage codegen classes and milliseconds (``codegen``,
``codegen_ms``; 0 classes once the session's cache holds the query),
the JVM JIT's milliseconds (``jit_ms``) and the garbage collectors'
milliseconds (``gc_ms``, the sum of ``getCollectionTime()`` over the
JVM's collector MXBeans).  ``progress`` lists, per query, the progress records
(``batchId``, ``durationMs`` breakdown, ``numInputRows``) of the
streaming drains its last run started; ``[]`` for a batch query.
``--plan-dir`` writes ``<name>.txt`` with the formatted physical plan
(AQE off for stable printing) per query.
"""

from __future__ import annotations

import json
import sys
import threading
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import SF_DIR, best_of, run_action, warm_up  # noqa: E402


class DrainProgress(StreamingQueryListener):
    """Progress records of every query started on the session.  Spark
    calls onQueryStarted before ``start()`` returns and delivers a query's
    terminated event after its last progress event, so the records are
    complete once every query started has terminated."""

    def __init__(self) -> None:
        self.cond = threading.Condition()
        self.records: dict = {}  # runId -> progress records, in start order
        self.terminated: set = set()
        self.since = 0  # queries started before the last mark()

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

    def mark(self) -> None:
        """Leave the queries started so far out of the next take()."""
        with self.cond:
            self.since = len(self.records)

    def take(self) -> list[dict]:
        """Wait until every started query has terminated, then return the
        records of those started since the last mark() and forget all."""
        with self.cond:
            self.cond.wait_for(lambda: self.terminated >= self.records.keys())
            out = [r for recs in list(self.records.values())[self.since:]
                   for r in recs]
            self.records.clear()
            self.terminated.clear()
            self.since = 0
        return out


def main() -> None:
    from killrweather_spark.api.inventory import REGISTRY
    from killrweather_spark.plans.checks import formatted_plan
    from killrweather_spark.session import codegen_compiles, get_session, scoped_conf

    args = sys.argv[1:]
    runs = 2
    plan_dir: str | None = None
    use_noop = False
    names: list[str] = []
    while args:
        a = args.pop(0)
        if a == "--runs":
            runs = int(args.pop(0))
        elif a == "--plan-dir":
            plan_dir = args.pop(0)
        elif a == "--noop":
            use_noop = True
        else:
            names.append(a)
    if not names:
        sys.exit(__doc__)

    spark = get_session(app_name="qtime")
    listener = DrainProgress()
    spark.streams.addListener(listener)
    warm_up(spark)

    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    jit = mf.getCompilationMXBean()
    gcs = list(mf.getGarbageCollectorMXBeans())

    def gc_ms() -> int:
        return sum(gc.getCollectionTime() for gc in gcs)

    timings: dict[str, float] = {}
    compiles: dict[str, dict] = {}
    progress: dict[str, list] = {}
    for name in names:
        spec = REGISTRY[name]
        after_first: list = []  # compile counters read at the end of run 1

        def run() -> None:
            listener.mark()
            df = spec.fn(spark, SF_DIR)
            if use_noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                run_action(df)
            if not after_first:
                after_first.extend((codegen_compiles(spark),
                                    jit.getTotalCompilationTime(), gc_ms()))

        spark.sparkContext.setJobDescription(f"qtime:{name}")
        timings[name] = round(best_of(run, runs), 3)
        spark.sparkContext.setJobDescription(None)
        progress[name] = listener.take()
        if runs > 1:
            (n0, ms0), jit0, gc0 = after_first
            n1, ms1 = codegen_compiles(spark)
            compiles[name] = {"codegen": n1 - n0, "codegen_ms": round(ms1 - ms0, 1),
                              "jit_ms": jit.getTotalCompilationTime() - jit0,
                              "gc_ms": gc_ms() - gc0}
        if plan_dir:
            Path(plan_dir).mkdir(parents=True, exist_ok=True)
            with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
                plan = formatted_plan(spec.fn(spark, SF_DIR))
            # explain() prints the same string plus a newline
            (Path(plan_dir) / f"{name}.txt").write_text(plan + "\n")

    print(json.dumps({"sf_dir": SF_DIR, "noop": use_noop, "runs": runs,
                      "queries": timings, "compiles": compiles,
                      "progress": progress,
                      "total": round(sum(timings.values()), 3)}))
    spark.stop()


if __name__ == "__main__":
    main()
