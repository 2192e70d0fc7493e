"""SparkSession factory — the rebuild of the reference's ``WeatherSettings``.

Reference: ``killrweather-app/.../WeatherSettings.scala`` (config surface) and
``KillrWeatherApp.scala:80-95`` (context construction).  Instead of Typesafe
config + manual SparkConf, we centralize one builder with scale-aware defaults:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) — at
  100 TB the static plan is never right, AQE re-plans from runtime stats.
- ``spark.sql.shuffle.partitions`` sized from the input data's size (one
  partition per ``SHUFFLE_TARGET_MB`` of ``$SPARK_GRAFT_SF_DIR``, between 4
  and 4x the task slots), or the core count when no data directory is set;
  AQE coalescing makes the initial number a ceiling.
- UTC session timezone (reference uses joda ``DateTimeZone.UTC`` throughout,
  e.g. ``AggregationActor.scala:44``).
- Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Initial shuffle width targets DATA volume, not the core count (guide §2.2
# and the round-14 brief: "make partitioning scale-adaptive ... rather than a
# constant tuned for either local mode or the cluster").  Measured at r14:
# every extra initial shuffle partition carries a fixed map-side cost
# (per-partition writer segments + reduce tasks AQE's parallelism-first
# floor refuses to coalesce below defaultParallelism), so a 32-wide shuffle
# of a half-MB aggregate loses to an 8-wide one by ~2x at sf0.1
# (exact_substring_pairs 2.2 s -> 1.1 s; ten-query probe 18.0 -> 12.1 s) and
# a 32-wide sf1 shuffle loses to 16 (30.4 -> 24.4 s).  AQE read-side
# coalescing did NOT recover this (parallelismFirst=false A/B'd a wash), so
# the INITIAL number must track input size.  Production posture: raise
# SPARK_GRAFT_SHUFFLE_TARGET_MB toward the guide's 100 MB-1 GB per-partition
# band (the 16 MiB default reflects local-mode per-partition fixed costs)
# and the 4x-slots cap scales with the cluster.
SHUFFLE_TARGET_MB = int(os.environ.get("SPARK_GRAFT_SHUFFLE_TARGET_MB", "16"))


def _derived_shuffle_partitions(cpus: int) -> int:
    """Input-size-derived initial shuffle partition count.

    Sized from the bench data directory ($SPARK_GRAFT_SF_DIR) when it is
    set: one initial partition per SHUFFLE_TARGET_MB of input, floored at 4
    (keep some reduce parallelism for genuinely heavy aggregations) and
    capped at 4x the task slots (the classic over-partitioning bound; AQE
    coalesces downward from there).  Without the env contract the caller
    knows nothing about the data — fall back to the core count.
    """
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir or not os.path.isdir(sf_dir):
        return cpus
    # the size sum stops at the cap: past it the width is 4x slots whatever
    # the rest of the directory holds, so a huge table is never fully walked
    cap = 4 * cpus * (SHUFFLE_TARGET_MB << 20)
    total = 0
    try:
        for size in _parquet_sizes(sf_dir):
            total += size
            if total >= cap:
                break
    except OSError:
        return cpus
    if total <= 0:
        return cpus
    return max(4, min(4 * cpus, total // (SHUFFLE_TARGET_MB << 20) + 1))


def _parquet_sizes(sf_dir: str) -> Iterator[int]:
    """Sizes of the ``*.parquet`` files and directory-style parquet
    tables' files under ``sf_dir``, one stat at a time."""
    for name in os.listdir(sf_dir):
        if name.endswith(".parquet"):
            p = os.path.join(sf_dir, name)
            if os.path.isfile(p):
                yield os.stat(p).st_size
            else:  # directory-style parquet table
                for root, _dirs, files in os.walk(p):
                    for f in files:
                        yield os.stat(os.path.join(root, f)).st_size


def get_session(
    app_name: str = "killrweather_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Defaults target local-mode testing but every setting is the one you'd
    want on a 1000-executor cluster too (AQE, UTC, Arrow, Kryo).
    """
    cpus = int(DEFAULT_CPUS) if DEFAULT_CPUS.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or _derived_shuffle_partitions(cpus)),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # split sizing: 128 MB input splits keep per-task memory bounded at
        # any table size; maxRecordsPerFile on writes bounds the other side
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        # FAIR job scheduling: the reference serves queries concurrently via
        # collectAsync + pipeTo (TemperatureActor.scala:59-60); FIFO mode
        # would let one full-scan batch job convoy every point lookup behind
        # it.  Serving threads tag their jobs into a named pool
        # (api/serving.py); pools materialize on first use.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
