"""Isolated per-query timing + plan capture for optimization A/Bs.

Usage::

    python scripts/qtime.py NAME [NAME ...] [--runs N] [--plan-dir DIR]
    python scripts/qtime.py --noop NAME ...      # time via the noop sink

Fresh-JVM leg of the A/B discipline: times the named REGISTRY queries
with the bench methodology (warmup of the session + representative
shapes, then best-of-``--runs`` with the same count/collect action the
bench uses), printing one JSON line.  ``--noop`` instead drives every
column of every row through ``format("noop")`` (guide §1.4) — use it
when adjudicating whether a win is real compute or column-pruned away
by count().  ``compiles`` reports, per query, what its runs after the
first spent compiling: whole-stage codegen classes and milliseconds
(``codegen``, ``codegen_ms``; 0 classes once the session's cache holds
the query) and the JVM JIT's milliseconds (``jit_ms``) over the same
runs.  ``--plan-dir`` writes ``<name>.txt`` with
``explain("formatted")`` (AQE off for stable printing) per query.
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# the session factory derives the initial shuffle width from this dir;
# pin the default into the env so harness and session agree when unset
os.environ.setdefault("SPARK_GRAFT_SF_DIR", SF_DIR)


def main() -> None:
    from killrweather_spark.api.inventory import REGISTRY
    from killrweather_spark.session import codegen_compiles, get_session, scoped_conf

    args = sys.argv[1:]
    runs = 2
    plan_dir: str | None = None
    use_noop = False
    names: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--runs":
            runs = int(args[i + 1]); i += 2
        elif a == "--plan-dir":
            plan_dir = args[i + 1]; i += 2
        elif a == "--noop":
            use_noop = True; i += 1
        else:
            names.append(a); i += 1
    if not names:
        sys.exit(__doc__)

    spark = get_session(app_name="qtime")
    spark.range(1).count()
    spark.read.parquet(os.path.join(SF_DIR, "region.parquet")).count()
    for _warm in ("daily_stats", "star_join_revenue", "minhash_lsh_pairs"):
        _spec = REGISTRY.get(_warm)
        if _spec is not None:
            _df = _spec.fn(spark, SF_DIR)
            _df.count() if len(_df.columns) > 6 else len(_df.collect())

    jvm = spark.sparkContext._jvm
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    timings: dict[str, float] = {}
    compiles: dict[str, dict] = {}
    for name in names:
        spec = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"qtime:{name}")
        best = None
        for run in range(runs):
            if run == 1:
                (n0, ms0), jit0 = codegen_compiles(spark), jit.getTotalCompilationTime()
            t0 = time.perf_counter()
            df = spec.fn(spark, SF_DIR)
            if use_noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count() if len(df.columns) > 6 else len(df.collect())
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        if runs > 1:
            n1, ms1 = codegen_compiles(spark)
            compiles[name] = {"codegen": n1 - n0, "codegen_ms": round(ms1 - ms0, 1),
                              "jit_ms": jit.getTotalCompilationTime() - jit0}
        spark.sparkContext.setJobDescription(None)
        if plan_dir:
            Path(plan_dir).mkdir(parents=True, exist_ok=True)
            buf = io.StringIO()
            with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
                df = spec.fn(spark, SF_DIR)
                with redirect_stdout(buf):
                    df.explain("formatted")
            (Path(plan_dir) / f"{name}.txt").write_text(buf.getvalue())

    print(json.dumps({"sf_dir": SF_DIR, "noop": use_noop, "runs": runs,
                      "queries": timings, "compiles": compiles,
                      "total": round(sum(timings.values()), 3)}))
    spark.stop()


if __name__ == "__main__":
    main()
