"""Structured Streaming ingest — the rebuild of the reference's pipeline.

Reference flow (SURVEY §3.1, ``KafkaStreamingActor.scala:39-70``):
Kafka topic ``killrweather.raw`` → 1 s microbatch DStream → CSV parse →
fan-out: (a) raw upsert to Cassandra, (b) 5-column projection incrementing a
Cassandra ``counter`` for daily precip, (c) debug print.

Structured-Streaming equivalents:

- DStream + receiver + DISK_ONLY_2 (T6) → Kafka *source* with offset
  tracking in the checkpoint; durability/backpressure are subsumed.
- ``saveToCassandra`` raw upsert (S3) → append parquet sink partitioned by
  ``year`` (idempotent per epoch via the sink's transaction log; swap in a
  Cassandra/Delta writer behind the same function for keyed upserts).
- Cassandra counter (A4/T4) → update-mode stateful aggregation: the state
  store holds the running per-(wsid,y,m,d) sum; ``foreachBatch`` publishes
  changed keys.  Exactly-once on replay — an intentional improvement over
  counters, which double-count on replayed batches (T7, SURVEY §7 risk 2).
- ``ssc.checkpoint`` (T5) → ``checkpointLocation`` option.
- 1000 ms batch interval (T1) → ``processingTime='1 second'`` trigger
  (tests use ``availableNow`` to drain bounded input deterministically).

State policy (T3): the reference never expires counter state; here the
streaming agg optionally takes a watermark on an event-time column to bound
the store.  Without one (parity mode) state grows with key cardinality —
(station × day) keys are small (~20k stations × 366 ≈ 7M rows/yr of state),
fine for RocksDB; document before enabling unbounded on higher-cardinality
keys.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import uuid
from collections.abc import Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from killrweather_spark.model.schemas import RAW_WEATHER_CSV_SCHEMA
from killrweather_spark.session import scoped_conf
from killrweather_spark.sources.readers import parse_raw_lines

RAW_TOPIC = "killrweather.raw"  # reference.conf:156

# Guard on the driver-side touched-partition lists (upsert_into_partitions /
# cdc_apply_pruned_batch / WeatherEngine.ingest_raw): the pruned
# read-modify-write contract assumes a microbatch touches FEW partitions
# (calendar keys / date buckets — the reference's partition-key design,
# create-timeseries.cql:46).  A misconfigured partition column (e.g. an id)
# would silently turn the collect into a driver-side list of millions of
# rows and the "pruned" write into a full-table rewrite; fail fast and name
# the column instead.
MAX_TOUCHED_PARTITIONS = 10_000


def _collect_touched(df: DataFrame, cols: Sequence[str]):
    """Distinct partition tuples of a microbatch, capped at
    MAX_TOUCHED_PARTITIONS with a loud failure naming the columns."""
    rows = (
        df.select(*cols).distinct().limit(MAX_TOUCHED_PARTITIONS + 1).collect()
    )
    if len(rows) > MAX_TOUCHED_PARTITIONS:
        raise ValueError(
            f"batch touches more than {MAX_TOUCHED_PARTITIONS} distinct "
            f"partitions of {list(cols)} — partition columns this granular "
            "break the pruned upsert contract (each touched partition is a "
            "driver-side list entry and a read-modify-write); partition on "
            "a coarser key (calendar unit / key bucket) instead"
        )
    return rows


# Spark's default checkpoint manager goes through Hadoop's FileContext, whose
# local-FS rename shells out to ``readlink`` (and whose creates fork
# ``chmod``) when libhadoop is absent — thousands of forks per run under the
# state store's delta/checksum files.  On the local file system the
# FileSystem-based manager does the same check-destination-then-rename, so
# no atomicity is lost; every other scheme keeps Spark's default.
CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
# serializes the set/start/restore of the session conf across threads
_CHECKPOINT_MANAGER_LOCK = threading.Lock()


def checkpoint_manager_for(spark: SparkSession, checkpoint_dir: str) -> str | None:
    """The checkpoint file manager class a query checkpointing under
    ``checkpoint_dir`` should use: the FileSystem-based manager when the
    directory resolves to the ``file`` scheme, ``None`` (Spark's default)
    otherwise.

    A path without a scheme resolves against the session's default file
    system (``fs.defaultFS``), as Hadoop's ``Path.getFileSystem`` does, so a
    bare path on an HDFS-default cluster is not mistaken for local.  Only
    the scheme is resolved: no file-system client is instantiated, so a
    remote URI never opens a connection here."""
    jvm = spark._jvm
    uri = jvm.org.apache.hadoop.fs.Path(checkpoint_dir).toUri()
    scheme = uri.getScheme()
    if scheme is None:
        conf = spark._jsparkSession.sessionState().newHadoopConf()
        scheme = jvm.org.apache.hadoop.fs.FileSystem.getDefaultUri(conf).getScheme()
    return FS_CHECKPOINT_MANAGER if scheme == "file" else None


@contextmanager
def _checkpoint_manager(spark: SparkSession, checkpoint_dir: str) -> Iterator[None]:
    """Set :func:`checkpoint_manager_for`'s choice around query starts and
    restore the session's setting afterwards.  A query clones the session
    when it is constructed, inside ``start()``, so it keeps the setting.

    The SESSION conf holds the FileSystem-based manager for the length of
    ``start()``: code starting queries on the same session from another
    thread must not overlap that window, or its query inherits the local
    manager whatever its checkpoint scheme.  Both branches hold
    ``_CHECKPOINT_MANAGER_LOCK``, so the starts made here never overlap
    it; other callers that start queries concurrently on this session
    should take the same lock."""
    cls = checkpoint_manager_for(spark, checkpoint_dir)
    conf = {} if cls is None else {CHECKPOINT_MANAGER_CONF: cls}
    with _CHECKPOINT_MANAGER_LOCK, scoped_conf(spark, conf):
        yield


# --------------------------------------------------------------------------
# sources
# --------------------------------------------------------------------------

def kafka_source_options(
    bootstrap_servers: str,
    topic: str = RAW_TOPIC,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """The Kafka *source* option contract, buildable (and unit-testable)
    without a broker or the kafka package on the classpath.

    Mirrors the reference's consumer config (topic ``killrweather.raw``,
    ``reference.conf:156``; group/offset handling subsumed by Spark's
    checkpointed offsets, T6).  ``maxOffsetsPerTrigger`` is the
    backpressure bound the reference got from its 1-thread receiver.
    """
    if not bootstrap_servers:
        raise ValueError("bootstrap_servers must be non-empty")
    if not topic:
        raise ValueError("topic must be non-empty")
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        # replayed batches must converge: never silently drop poisoned
        # offsets on restart (at-least-once source + idempotent sinks, T7)
        "failOnDataLoss": "true",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_lines(
    spark: SparkSession, bootstrap_servers: str, topic: str = RAW_TOPIC
) -> DataFrame:
    """S1: Kafka stream of CSV lines (KafkaStreamingActor.scala:39-40).

    Requires the spark-sql-kafka package on the classpath; this container has
    no broker, so tests use :func:`file_lines` — the parse/agg/sink graph
    downstream is identical either way.  The option strings themselves are
    built by :func:`kafka_source_options` and unit-tested in-container so a
    broken option can't hide behind the broker gate.
    """
    raw = (
        spark.readStream.format("kafka")
        .options(**kafka_source_options(bootstrap_servers, topic))
        .load()
    )
    return raw.select(F.col("value").cast("string").alias("value"))


def file_lines(spark: SparkSession, path: str) -> DataFrame:
    """S6 as a stream: text files of CSV lines appearing in a directory
    (each file ≙ a batch of Kafka messages; gzip transparent).  The text
    source already names its column ``value`` — the same contract as the
    Kafka source after the cast, so the two are drop-in interchangeable."""
    return spark.readStream.text(path)


# --------------------------------------------------------------------------
# pipeline
# --------------------------------------------------------------------------

def kafka_sink_options(
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    batch_size: int = 100,
) -> dict[str, str]:
    """The Kafka *sink* option contract (unit-testable without a broker).

    The reference's publisher batches 100 messages per async send
    (``batch.send.size=100``, ``reference.conf:160``,
    ``KafkaDataIngestionApp.scala:76-79``) — the modern client equivalent is
    ``kafka.batch.size``/``kafka.linger.ms`` on the producer; exactly-once
    replay protection comes from the checkpoint, not the producer.
    """
    if not bootstrap_servers:
        raise ValueError("bootstrap_servers must be non-empty")
    if not topic:
        raise ValueError("topic must be non-empty")
    if not checkpoint_dir:
        raise ValueError("checkpoint_dir must be non-empty")
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        "checkpointLocation": checkpoint_dir,
        "kafka.batch.size": str(batch_size * 1024),
        "kafka.linger.ms": "5",
    }


def kafka_sink(
    df: DataFrame, bootstrap_servers: str, topic: str, checkpoint_dir: str
) -> StreamingQuery:
    """S9: Kafka producer sink (``KafkaPublisherActor``'s batched async
    publish, ``KafkaDataIngestionApp.scala:113-118``) — the engine-side
    equivalent is one option'd writeStream; batching/async are the Kafka
    client's own ``linger.ms``/``batch.size``.  Broker-gated: this container
    has none, so graph construction runs in tests while the option strings
    are unit-tested via :func:`kafka_sink_options`."""
    payload = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
    return (
        payload.writeStream.format("kafka")
        .options(**kafka_sink_options(bootstrap_servers, topic, checkpoint_dir))
        .start()
    )


def console_sink(df: DataFrame, n_rows: int = 20) -> StreamingQuery:
    """S10: debug print sink (``kafkaStream.print``,
    ``KafkaStreamingActor.scala:66``)."""
    return (
        df.writeStream.format("console")
        .option("numRows", n_rows)
        .option("truncate", "true")
        .trigger(availableNow=True)
        .start()
    )


def parsed_observations(lines: DataFrame) -> DataFrame:
    """CSV lines → typed observations (the reference's map+RawWeatherData)."""
    return parse_raw_lines(lines)


def upsert_into_partitions(
    batch_df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    key_cols: Sequence[str],
) -> None:
    """Keyed upsert of a changed-keys-only batch into a partitioned parquet
    table: read ONLY the partitions the batch touches, keep their rows whose
    key is NOT in the batch, union the batch, dynamic-overwrite those
    partitions.

    This is the correct sink body for an update-mode stateful aggregate —
    the batch holds the new TOTAL for each CHANGED key only, so writing the
    batch alone with dynamic overwrite would DELETE every unchanged key
    that shares a partition (data loss the single-drain tests can't see).
    Idempotent on replay: a replayed batch carries the same totals, and the
    anti-join + union converges to the same partition contents.  Cost is
    O(touched partitions), never a full-table rewrite — the same pruned
    read-modify-write shape as :func:`cdc_apply_pruned_batch`.

    Per-batch fixed cost: the upstream stateful stage runs ONCE.  The first
    batch (no tier yet) is read only by the write; a merge batch is
    persisted, so the touched-partition collect, the anti-join keys and the
    union all read the cached rows (each read of an uncached batch re-runs
    the aggregate and rewrites its state-store files); the
    tier is read with the batch's schema, so no footer-inference job runs;
    and the merged rows are hash-partitioned on ``partition_cols`` before
    the write, so each touched partition gets ONE writer task and one file.
    """
    from functools import reduce
    from operator import and_, or_

    from pyspark.errors import AnalysisException

    spark = batch_df.sparkSession

    def write(frame: DataFrame) -> None:
        (
            frame.repartition(*partition_cols)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
            .parquet(path)
        )

    try:
        # the batch's schema is the tier's: skip footer inference.  A
        # missing path still raises, which is the first-batch signal.
        # Reading the schema does not execute the batch.
        existing = spark.read.schema(batch_df.schema).parquet(path)
    except AnalysisException:
        write(batch_df)  # first batch: nothing to merge, one read
        return
    batch_df = batch_df.persist()
    try:
        # touched-partition values are a small driver-side list by
        # construction (a microbatch spans few calendar partitions —
        # the cap makes that assumption loud instead of trusted);
        # equality literals on partition columns prune directories
        touched = _collect_touched(batch_df, partition_cols)
        merged = batch_df
        if touched:
            pred = reduce(
                or_,
                [
                    reduce(and_, [F.col(c) == r[c] for c in partition_cols])
                    for r in touched
                ],
            )
            keep = (
                existing.filter(pred)
                .select(*batch_df.columns)
                .join(batch_df.select(*key_cols), list(key_cols), "left_anti")
            )
            # Detach the merge input from the sink path BEFORE the
            # overwrite action: the lazy self-read is safe under the
            # local-FS committer (staged files commit after the read
            # completes) but fragile on object-store committers with
            # different staging order — the eager checkpoint
            # materializes the kept rows first, bounded by the touched
            # partitions' size (round-4 advice).  Cluster caveat
            # (round-5 advice): localCheckpoint blocks live UNREPLICATED
            # on executors — losing one between the checkpoint and the
            # commit fails that microbatch ATTEMPT (lineage is
            # truncated, not recomputable) and the stream retries from
            # its offset checkpoint; blocks are freed by ContextCleaner
            # GC.  The stronger form for object stores is staging the
            # merged output to a temp path and renaming — at the cost
            # of a second full write; the idempotent-retry property
            # holds either way.  Only the kept rows are checkpointed so
            # the write's plan references the batch ONCE: the analyzer
            # re-aliases a second reference, which then misses the
            # cache and re-runs the stateful stage.
            merged = keep.localCheckpoint(eager=True).unionByName(batch_df)
        write(merged)
    finally:
        batch_df.unpersist()


def daily_precip_updates(observations: DataFrame) -> DataFrame:
    """A4: streaming daily-precip accumulation.

    ``groupBy(wsid,y,m,d).agg(sum(one_hour_precip))`` — Spark's state store
    plays the Cassandra counter: partial sums merge commutatively per
    microbatch, update mode emits only changed keys.
    """
    return observations.groupBy("wsid", "year", "month", "day").agg(
        F.sum("one_hour_precip").alias("precipitation")
    )


def start_ingest(
    observations: DataFrame,
    raw_path: str,
    precip_path: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    partition_by: Sequence[str] = ("year",),
) -> tuple[StreamingQuery, StreamingQuery]:
    """Fan out one parsed stream to the two sinks (reference fan-out a+b).

    - raw: append parquet, partitioned by year (partition pruning for the
      calendar-key queries; add a wsid bucket column for 100 TB layouts).
    - daily precip: update-mode agg via foreachBatch → idempotent overwrite
      of changed (year, month) partitions.

    Per-microbatch cost of the precip sink (see
    :func:`upsert_into_partitions`): one pass of the stateful aggregate,
    one writer task per touched (year, month) partition, no schema
    inference job.  When ``checkpoint_dir`` resolves to the local file
    system both queries checkpoint through Spark's FileSystem-based
    checkpoint manager (no ``readlink``/``chmod`` process per rename or
    create); any other scheme keeps Spark's default manager
    (:func:`checkpoint_manager_for`).  Checkpoint checksums stay on.
    """
    trig = trigger or {"processingTime": "1 second"}  # T1: 1000 ms microbatch

    def upsert_precip(batch_df: DataFrame, epoch_id: int) -> None:
        # Update-mode batch contains the NEW TOTAL for each changed key
        # (state store did the accumulation).  Merge it into the touched
        # (year, month) partitions keyed by (wsid, y, m, d) — writing the
        # batch alone would delete every UNchanged station sharing the
        # partition.  Idempotent on replay (counter semantics, no
        # double-count).
        upsert_into_partitions(
            batch_df, precip_path,
            partition_cols=("year", "month"),
            key_cols=("wsid", "year", "month", "day"),
        )

    with _checkpoint_manager(observations.sparkSession, checkpoint_dir):
        raw_q = (
            observations.writeStream.format("parquet")
            .option("path", raw_path)
            .option("checkpointLocation", f"{checkpoint_dir}/raw")
            .partitionBy(*partition_by)
            .outputMode("append")
            .trigger(**trig)
            .start()
        )
        precip_q = (
            daily_precip_updates(observations)
            .writeStream.outputMode("update")
            .option("checkpointLocation", f"{checkpoint_dir}/precip")
            .foreachBatch(upsert_precip)
            .trigger(**trig)
            .start()
        )
    return raw_q, precip_q


def start_daily_temp_rollup(
    observations: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Continuous daily-temperature aggregate — the streaming form of the
    reference's on-demand write-back (``TemperatureActor.scala:76-77,90``:
    compute daily stats, persist to ``daily_aggregate_temperature``; the
    monthly query then reads that table).

    Update-mode stateful agg keeps (n, Σx, Σx², min, max) per
    (wsid, y, m, d) — the same algebraic partials as
    ``daily_stats_exact`` — and ``foreachBatch`` rewrites only the changed
    (year, month) partitions.  Readers of the tier table see
    high/low/mean/variance/stdev exactly as the batch path computes them.
    Per-batch cost and checkpoint-manager rule as in :func:`start_ingest`.
    """
    trig = trigger or {"processingTime": "1 second"}
    s = 100  # fixed-point scale (2 dp measures, SURVEY §2.4 A1)
    x = F.col("temperature")
    agg = observations.groupBy("wsid", "year", "month", "day").agg(
        F.max("temperature").alias("high"),
        F.min("temperature").alias("low"),
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.round(x * s).cast("bigint")).alias("__sx"),
        F.sum(F.round(x * x * s * s).cast("bigint")).alias("__sxx"),
    )

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        mean = (F.col("__sx") / float(s)) / F.col("__n")
        var = F.greatest(
            F.lit(0.0),
            (F.col("__sxx") / float(s * s)) / F.col("__n")
            - F.col("mean") * F.col("mean"),
        )
        finished = (
            batch_df.withColumn("mean", mean)
            .withColumn("variance", var)
            .withColumn("stdev", F.sqrt(F.col("variance")))
            .drop("__n", "__sx", "__sxx")
        )
        # changed-keys-only batch: MERGE into the touched partitions (see
        # upsert_into_partitions — a bare dynamic overwrite would drop
        # every unchanged (wsid, day) sharing the month)
        upsert_into_partitions(
            finished, out_path,
            partition_cols=("year", "month"),
            key_cols=("wsid", "year", "month", "day"),
        )

    with _checkpoint_manager(observations.sparkSession, checkpoint_dir):
        return (
            agg.writeStream.outputMode("update")
            .option("checkpointLocation", f"{checkpoint_dir}/daily_temp")
            .foreachBatch(upsert)
            .trigger(**trig)
            .start()
        )


def join_streams_within(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    tolerance: str = "1 hour",
    watermark: str = "2 hours",
    right_suffix: str = "_r",
) -> DataFrame:
    """Stream-stream inner join: pair each left event with right events
    sharing the key within ±``tolerance`` of its event time.

    This is the capability the reference's DStream model cannot express at
    all (SURVEY §2.9 ext): correlating two LIVE streams (raw observations
    × station alerts, views × purchases) requires buffering both sides in
    the state store until the other side's matching window has provably
    passed.  Structured Streaming's symmetric hash join does exactly that,
    and the WATERMARK on both sides plus the time-bound join condition is
    what makes the state finite: a row is evicted once the other stream's
    watermark passes its ``ts ± tolerance`` window.  (Spark only HARD-fails
    the unbounded form for outer joins; an inner join without a time bound
    is silently planned with state that grows forever — which is exactly
    why this helper bakes the bound into the condition instead of leaving
    it to the caller.)  State is keyed by the join key → uniform shuffle
    on both sides, no broadcast (both sides are unbounded).

    Right-side columns are suffixed with ``right_suffix`` (its ``ts``
    becomes e.g. ``ts_r``); the join condition is key equality plus
    ``ts_r ∈ [ts - tolerance, ts + tolerance]``.  Works identically on
    two bounded streams drained with availableNow — the deterministic
    test/oracle path — and equals the batch join of the same inputs.
    """
    lw = left.withWatermark(ts_col, watermark)
    rw = right.withWatermark(ts_col, watermark).withColumnsRenamed(
        {c: f"{c}{right_suffix}" for c in right.columns}
    )
    key_eq = [
        F.col(k) == F.col(f"{k}{right_suffix}") for k in key_cols
    ]
    rts = F.col(f"{ts_col}{right_suffix}")
    bound = (
        (rts >= F.col(ts_col) - F.expr(f"INTERVAL {tolerance}"))
        & (rts <= F.col(ts_col) + F.expr(f"INTERVAL {tolerance}"))
    )
    cond = bound
    for e in key_eq:
        cond = cond & e
    return lw.join(rw, cond, "inner")


def run_stream_to_batch(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Drain a bounded stream with availableNow into a memory sink and return
    the result as a batch DataFrame (deterministic test/oracle path).

    The sink is named ``<query_name>_<8 hex>``, so drains with the same
    label never collide, and checkpoints into a fresh temp directory.
    Leak-free by construction: the drained result is detached from the
    memory sink (eager ``localCheckpoint``), and the sink's view and the
    checkpoint directory are removed in ``finally`` — a failing query
    leaves neither behind either."""
    spark = stream_df.sparkSession
    name = f"{query_name}_{uuid.uuid4().hex[:8]}"
    checkpoint_dir = tempfile.mkdtemp()
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(checkpoint_dir, ignore_errors=True)


def start_cdc_apply(
    changes: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    order_by: list[str],
    delete_col: str = "is_delete",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Continuous changelog→snapshot maintenance: each microbatch of keyed
    changes is MERGEd onto the current snapshot with
    ``operators/cdc.py:merge_changes`` (latest-wins upserts + deletes).

    Exactly-once without a transactional table format: every batch writes a
    full new snapshot *version* directory ``v=<batch_id>`` derived from the
    highest version below it, so a replayed batch deterministically
    rewrites its own version instead of double-applying (same contract as
    the reference's idempotent upsert-by-PK sink,
    ``KafkaStreamingActor.scala:45``, lifted to files).  Readers take
    ``cdc_snapshot_path(dir)`` — the highest complete version.

    This full-rewrite form is right when the delta is a large fraction of
    the snapshot (backfills, replays).  For the 100 TB steady state — a
    GB-scale batch touching a sliver of the snapshot — use
    :func:`start_cdc_apply_pruned`: it merges ONLY the partitions the batch
    touches and versions per partition, with the same merge kernel and the
    same replay-deterministic versioning contract.
    """
    trig = trigger or {"processingTime": "1 second"}

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        from killrweather_spark.operators.cdc import merge_changes

        out_cols = [c for c in batch_df.columns if c != delete_col]
        prev = _latest_version(snapshot_dir, below=epoch_id)
        if prev is None:
            snap = batch_df.select(*out_cols).limit(0)
        else:
            snap = spark.read.parquet(os.path.join(snapshot_dir, f"v={prev}"))
        merged = merge_changes(
            snap, batch_df, keys=keys, order_by=order_by, delete_col=delete_col
        )
        merged.write.mode("overwrite").parquet(
            os.path.join(snapshot_dir, f"v={epoch_id}")
        )

    return (
        changes.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trig)
        .start()
    )


def start_cdc_apply_pruned(
    changes: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    order_by: list[str],
    partition_col: str,
    delete_col: str = "is_delete",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Partition-pruned CDC apply: each microbatch merges ONLY the snapshot
    partitions it touches — the 100 TB form of :func:`start_cdc_apply`.

    Layout: ``snapshot_dir/<partition_col>=<val>/v=<batch_id>/*.parquet``
    plus a ``_manifest_v=<batch_id>.json`` mapping every partition directory
    to its current version.  Per batch:

    1. read the previous manifest (highest epoch BELOW this batch's, so a
       replayed batch deterministically recomputes from the same base);
    2. collect the batch's distinct partition values — a bounded, small
       list by the CDC contract (a delta batch touches few partitions;
       ``partition_col`` is typically a date or a key bucket);
    3. read ONLY those partitions' current version directories, run
       ``merge_changes`` (one shuffle over touched-partitions ∪ delta,
       never the full snapshot), and stage the result partitioned by
       ``partition_col``;
    4. move each staged partition to its ``v=<batch_id>`` directory —
       touched partitions whose keys were all deleted get an empty version
       directory so the deletion is visible to readers;
    5. atomically (tempfile + rename) write the new manifest: untouched
       partitions carry their old version forward BY REFERENCE — their
       files are never rewritten, read, or even listed.

    Exactly-once on replay: a batch whose manifest already exists is
    detected as fully applied and SKIPPED (recompute is deterministic, so
    rewriting would only re-create identical bytes — and deleting the
    live ``v=`` dirs first would break the atomic cut for concurrent
    readers); a batch that crashed mid-apply left no manifest, so its
    partial ``v=`` dirs are unreferenced and safely overwritten from the
    same below-epoch base.  Double-apply is impossible either way (same
    contract as the full-rewrite form).  Readers use
    :func:`cdc_pruned_snapshot`, which unions each partition's manifest
    version — the manifest rename is the atomic cut, so a reader never sees
    a half-applied batch.

    ``partition_col`` must be one of the snapshot's payload columns with
    filesystem-simple values (int bucket, ``yyyy-MM-dd`` date): directory
    names are ``str(value)``, matching Spark's own partition encoding for
    those types.  It must also be STABLE per key (part of the key, or
    functionally dependent on it — a date-partitioned fact keyed by
    (date, id), a hash bucket of the key): a change that moves a key to a
    new partition value only touches the NEW partition, so the old copy
    would survive as a stale duplicate.  Mutable-partition changelogs
    belong on the full-rewrite form (:func:`start_cdc_apply`), which sees
    the whole snapshot every batch.
    """
    trig = trigger or {"processingTime": "1 second"}

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        cdc_apply_pruned_batch(
            batch_df, epoch_id, snapshot_dir,
            keys=keys, order_by=order_by, partition_col=partition_col,
            delete_col=delete_col,
        )

    os.makedirs(snapshot_dir, exist_ok=True)
    return (
        changes.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trig)
        .start()
    )


def cdc_apply_pruned_batch(
    batch_df: DataFrame,
    epoch_id: int,
    snapshot_dir: str,
    keys: list[str],
    order_by: list[str],
    partition_col: str,
    delete_col: str = "is_delete",
) -> None:
    """One pruned CDC batch application (the ``foreachBatch`` body of
    :func:`start_cdc_apply_pruned`, callable directly for tests/backfills).
    """
    import json

    spark = batch_df.sparkSession
    from killrweather_spark.operators.cdc import merge_changes

    if os.path.exists(
        os.path.join(snapshot_dir, f"_manifest_v={epoch_id}.json")
    ):
        # replay of a fully-applied batch (crash after manifest rename
        # but before checkpoint commit): recompute is deterministic, so
        # the on-disk state is already exactly what this batch would
        # write — and touching the live v= dirs here would break the
        # atomic cut for concurrent readers.  No-op.
        return
    out_cols = [c for c in batch_df.columns if c != delete_col]
    manifest = _latest_manifest(snapshot_dir, below=epoch_id) or {}
    touched = [r[0] for r in _collect_touched(batch_df, [partition_col])]
    # a NULL partition value stages under Spark's reserved directory name —
    # mirror it so null-keyed rows are tracked instead of silently treated
    # as a fully-deleted partition (str(None) would look for 'col=None')
    touched_dirs = [
        f"{partition_col}="
        + ("__HIVE_DEFAULT_PARTITION__" if v is None else str(v))
        for v in touched
    ]
    prev_paths = [
        os.path.join(snapshot_dir, d, f"v={manifest[d]}")
        for d in touched_dirs
        if d in manifest
    ]
    prev_paths = [p for p in prev_paths if _has_parquet(p)]
    if prev_paths:
        # partition-dir values are re-inferred on read (e.g. "3" → int);
        # pin the column back to the changelog's declared type so the
        # merge union never sees a type drift
        ptype = batch_df.schema[partition_col].dataType
        snap = (
            spark.read.option("basePath", snapshot_dir)
            .parquet(*prev_paths)
            .drop("v")
            .withColumn(partition_col, F.col(partition_col).cast(ptype))
            .select(*out_cols)
        )
    else:
        snap = batch_df.select(*out_cols).limit(0)
    merged = merge_changes(
        snap, batch_df, keys=keys, order_by=order_by, delete_col=delete_col
    )
    stage = os.path.join(snapshot_dir, f"_stage_v={epoch_id}")
    merged.write.mode("overwrite").partitionBy(partition_col).parquet(stage)
    # Escaping validation (round-4 advice, medium): directory names here are
    # str(value), but Spark percent-escapes special characters in partition
    # dir names (':' → '%3A', etc.).  On a mismatch the move below would find
    # no staged dir and silently write an empty tombstone — DELETING the
    # partition's data.  Any staged partition dir not in the expected set
    # means the values violate the documented filesystem-simple contract:
    # raise before touching the live tree.
    staged_dirs = {
        d for d in os.listdir(stage)
        if d.startswith(f"{partition_col}=") and os.path.isdir(os.path.join(stage, d))
    }
    unexpected = staged_dirs - set(touched_dirs)
    if unexpected:
        shutil.rmtree(stage, ignore_errors=True)
        raise ValueError(
            f"partition column {partition_col!r} has values that Spark "
            f"escapes in directory names ({sorted(unexpected)[:3]} vs "
            "str(value)); pruned CDC requires filesystem-simple partition "
            "values (int buckets, yyyy-MM-dd dates) — see "
            "start_cdc_apply_pruned"
        )
    for d in touched_dirs:
        dst = os.path.join(snapshot_dir, d, f"v={epoch_id}")
        shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        src = os.path.join(stage, d)
        if os.path.isdir(src):
            shutil.move(src, dst)
        else:
            # every key in this partition was deleted: an empty version
            # directory records the tombstone
            os.makedirs(dst, exist_ok=True)
    shutil.rmtree(stage, ignore_errors=True)
    new_manifest = {**manifest, **{d: epoch_id for d in touched_dirs}}
    fd, tmp = tempfile.mkstemp(dir=snapshot_dir, prefix="._manifest")
    with os.fdopen(fd, "w") as f:
        json.dump(new_manifest, f)
    os.rename(tmp, os.path.join(snapshot_dir, f"_manifest_v={epoch_id}.json"))


def _has_parquet(path: str) -> bool:
    try:
        return any(n.endswith(".parquet") for n in os.listdir(path))
    except FileNotFoundError:
        return False


def _latest_manifest(
    snapshot_dir: str, below: int | None = None
) -> dict[str, int] | None:
    import json

    try:
        epochs = [
            int(n[len("_manifest_v="): -len(".json")])
            for n in os.listdir(snapshot_dir)
            if n.startswith("_manifest_v=") and n.endswith(".json")
        ]
    except FileNotFoundError:
        return None
    if below is not None:
        epochs = [e for e in epochs if e < below]
    if not epochs:
        return None
    with open(os.path.join(snapshot_dir, f"_manifest_v={max(epochs)}.json")) as f:
        return json.load(f)


def cdc_pruned_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    """Current snapshot under :func:`start_cdc_apply_pruned`'s layout: the
    union of every partition's manifest version (empty version dirs =
    fully-deleted partitions are skipped).

    A fully-deleted snapshot still returns an EMPTY DataFrame (schema
    recovered from any superseded version's files) rather than None, so
    callers can ``.select()``/``.count()`` unconditionally."""
    import glob as _glob

    manifest = _latest_manifest(snapshot_dir)
    if manifest is None:
        raise FileNotFoundError(f"no CDC manifest under {snapshot_dir}")
    paths = [
        os.path.join(snapshot_dir, d, f"v={v}") for d, v in manifest.items()
    ]
    paths = [p for p in paths if _has_parquet(p)]
    if paths:
        return (
            spark.read.option("basePath", snapshot_dir)
            .parquet(*paths)
            .drop("v")
        )
    # every live partition is a tombstone: recover the payload schema from
    # any historical version's files and return an empty frame of it
    any_files = _glob.glob(
        os.path.join(_glob.escape(snapshot_dir), "*", "v=*", "*.parquet")
    )
    if not any_files:
        raise FileNotFoundError(
            f"snapshot under {snapshot_dir} has no data files in any version"
        )
    return (
        spark.read.option("basePath", snapshot_dir)
        .parquet(any_files[0])
        .drop("v")
        .limit(0)
    )


def _latest_version(snapshot_dir: str, below: int | None = None) -> int | None:
    try:
        versions = [
            int(d.split("=", 1)[1])
            for d in os.listdir(snapshot_dir)
            if d.startswith("v=")
        ]
    except FileNotFoundError:
        return None
    if below is not None:
        versions = [v for v in versions if v < below]
    return max(versions, default=None)


def cdc_snapshot_path(snapshot_dir: str) -> str:
    """Path of the current (highest-version) CDC snapshot."""
    v = _latest_version(snapshot_dir)
    if v is None:
        raise FileNotFoundError(f"no snapshot versions under {snapshot_dir}")
    return os.path.join(snapshot_dir, f"v={v}")
