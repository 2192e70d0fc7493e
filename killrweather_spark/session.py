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
- Each whole-stage-codegen class compiled once per session: generated class
  names carry no stage id (``spark.sql.codegen.useIdInClassName=false``) and
  the compiled-class cache holds ``CODEGEN_CACHE_MAX_ENTRIES`` classes
  (Spark's default is 100).  Measured on 4 cores with ``perfbench/run.py``
  (registry workload, 30 s runs): with Spark's defaults every timed pass
  compiled 25-59 classes, nearly all of them compiled before and evicted or
  renamed since; with these two settings a run compiles 105 classes, 14 in
  the first timed pass and none in the five after it, and CPU per query
  falls by about a sixth, mostly C2 JIT work on re-generated bytecode.
- The driver JVM starts from a class-data-sharing archive
  (``jvm_archive.py``) when ``get_session`` launches it: the Spark/Scala
  classes a session loads are mapped pre-parsed instead of loaded from the
  jars.  A session that finds no archive starts as before and leaves a
  background process at idle CPU priority that dumps one (about 55 s and
  65 CPU-seconds on 4 cores, 1.4 GB peak RSS, once per host); every later
  session maps it.  Measured on 4 cores with ``perfbench/run.py`` (30 s
  runs, alternating pairs, medians): with the archive, ``setup_s`` 22.0 ->
  16.1 s on ingest (10/10 pairs) and 25.3 -> 17.7 s on registry (4/4),
  CPU per operation and peak RSS within 3 %; the first run on an empty
  cache read 23.5 -> 22.0 s on ingest and 29.8 -> 26.8 s on registry
  (3 and 2 pairs), with registry CPU per operation 13 % higher while the
  dump ran beside it.  Not understood yet: in a fresh session some
  queries read 13-18 % slower once warm with the archive mapped
  (``bench._isolated_measure``, 3 alternating rounds).  The archive
  (about 180 MB) lives in
  ``${XDG_CACHE_HOME:-~/.cache}/killrweather_spark/cds/``, one per Java
  build, Spark version and jars directory; delete that directory to clear
  it, and the next session starts a new dump.  Without the archive (a real
  file in ``$SPARK_CONF_DIR``, an unwritable cache, a refused archive, a
  failed dump) the session starts as before and one warning says why.
- The driver JVM (in local mode also the executor) runs the parallel
  collector, ``GC_OPTION`` in ``spark.driver.defaultJavaOptions``, unless
  the caller's ``spark.driver.extraJavaOptions``, ``JAVA_TOOL_OPTIONS``,
  ``JDK_JAVA_OPTIONS``, ``_JAVA_OPTIONS`` or ``spark-defaults.conf``
  selects a collector (a second selection would stop the JVM at start
  with "Multiple garbage collectors selected").  JDK 17's default, G1, grows eden to about 600 MB of a 1 GB
  heap and so touches all of it; the parallel collector keeps the young
  generation at a third of the heap.  Measured on 4 cores with
  ``perfbench/run.py`` (30 s runs, 7 ingest and 6 registry seeds,
  medians, G1 -> parallel): ``peak_rss_mb`` 1,661 -> 1,265 on ingest
  (-24 %, lower 7/7) and 1,814 -> 1,442 on registry (-21 %, 6/6),
  ``cpu_ms`` 4,734 -> 4,473 and 2,345 -> 2,143, ``setup_s`` unchanged;
  warm ``scripts/qtime.py --runs 7`` at sf0.1 on five queries 6.14 / 6.26
  -> 5.28 s.  The trade-off: a parallel full collection stops the world
  for the whole old generation, which matters on multi-GB heaps such as
  the 8 GB ``SPARK_GRAFT_DRIVER_MEM`` default, and the serving path
  (``api/http_serving.py``), whose pause latency perfbench does not
  measure.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

from killrweather_spark import jvm_archive

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
# the INITIAL number must track input size.  16 MiB per partition reflects
# local-mode per-partition fixed costs; a cluster deployment would move it
# toward the guide's 100 MB-1 GB per-partition band, and the 4x-slots cap
# scales with the cluster.
SHUFFLE_TARGET_MB = 16

# Compiled-class cache size (static: read once, when the JVM first compiles).
# The registry bench's three queries alone generate 105 distinct classes over
# a run (check pass plus timed passes); Spark's default of 100 evicted and
# recompiled part of them in every pass.  1000 holds that working set with
# room for the rest of a serving session's queries.
CODEGEN_CACHE_MAX_ENTRIES = 1000

# The driver JVM's garbage collector, unless something else selects one.
GC_OPTION = "-XX:+UseParallelGC"
DEFAULT_JAVA_OPTIONS = "spark.driver.defaultJavaOptions"
# the variables the JVM reads options from, besides its command line
JAVA_OPTIONS_VARIABLES = ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS")
_SELECTS_COLLECTOR = re.compile(r"-XX:[+-]Use\w*GC\b")


def default_java_options(caller_options: str | None) -> str | None:
    """``spark.driver.defaultJavaOptions`` for the driver JVM: ``GC_OPTION``
    when neither ``caller_options`` (the caller's ``extraJavaOptions``), a
    ``JAVA_OPTIONS_VARIABLES`` variable nor ``spark-defaults.conf`` selects
    a collector, else None.  None too when ``spark-defaults.conf`` names
    ``spark.driver.defaultJavaOptions``: an administrator's defaults stay
    whole rather than being replaced."""
    try:
        with open(os.path.join(jvm_archive.spark_conf_dir(), "spark-defaults.conf")) as f:
            conf_file = f.read()
    except OSError:
        conf_file = ""
    if DEFAULT_JAVA_OPTIONS in conf_file:
        return None
    sources = [caller_options, conf_file, *(os.environ.get(v) for v in JAVA_OPTIONS_VARIABLES)]
    if any(_SELECTS_COLLECTOR.search(s) for s in sources if s):
        return None
    return GC_OPTION


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
    extra_conf = extra_conf or {}
    caller_options = extra_conf.get(jvm_archive.JAVA_OPTIONS)
    builder = session_builder(app_name, master, shuffle_partitions)
    defaults = default_java_options(caller_options)
    if defaults:
        builder = builder.config(DEFAULT_JAVA_OPTIONS, defaults)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = jvm_archive.get_or_create(builder, caller_options)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def session_builder(
    app_name: str, master: str | None = None, shuffle_partitions: int | None = None
) -> SparkSession.Builder:
    """The builder behind ``get_session``, with the engine's settings."""
    cpus = int(DEFAULT_CPUS) if DEFAULT_CPUS.isdigit() else 32
    return (
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
        # compile each generated class once: without the stage-id suffix an
        # identical pipeline hashes to the same source text whatever order
        # AQE planned its stages in, and the cache holds the working set
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
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


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, milliseconds spent compiling them) by Spark's code
    generator so far, whole-stage and expression classes alike: the count
    of ``CodegenMetrics.METRIC_COMPILATION_TIME`` and the total of
    ``CodeGenerator.compileTime`` (the histogram keeps no exact sum).  Cache
    hits are not compiles.  Both cover the driver JVM only, which in local
    mode is also the executor JVM; on a cluster each executor compiles, and
    counts, its own classes."""
    jvm = spark.sparkContext._jvm
    histogram = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(histogram.getCount()), nanos / 1e6


@contextmanager
def scoped_conf(spark: SparkSession, conf: Mapping[str, str]) -> Iterator[None]:
    """Set the session conf keys in ``conf`` for the body, then put each
    back as it was: its prior value, or unset when it had none.  The
    restore runs when the body raises too."""
    prior = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
