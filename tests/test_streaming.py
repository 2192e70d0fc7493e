"""Streaming pipeline tests — the rebuild of the reference's integration net.

Mirrors ``KafkaStreamingActorSpec.scala:33-74``: feed CSV observation lines
through the stream, assert rows land in the raw table and daily-precip groups
accumulate.  Embedded Kafka is replaced by the file source (same downstream
graph); thresholds are replaced by exact equality with the batch computation.
"""

from __future__ import annotations

import gzip
import os
import pathlib

import pytest
from pyspark.sql import functions as F

from killrweather_spark.session import scoped_conf
from killrweather_spark.sources.readers import read_raw_csv
from killrweather_spark.streaming.pipeline import (
    daily_precip_updates,
    file_lines,
    parsed_observations,
    run_stream_to_batch,
    start_ingest,
)
from killrweather_spark.streaming.stateful import ROCKSDB_PROVIDER, drain_tws

REF_CSV_GZ = "/root/reference/data/load/sf-2008.csv.gz"


@pytest.fixture()
def lines_dir(tmp_path: pathlib.Path) -> str:
    """First 2000 reference observation lines as a staged text file
    (≙ the Kafka topic's backlog)."""
    with gzip.open(REF_CSV_GZ, "rt") as f:
        lines = [next(f) for _ in range(2000)]
    d = tmp_path / "incoming"
    d.mkdir()
    (d / "batch1.csv").write_text("".join(lines[:1200]))
    (d / "batch2.csv").write_text("".join(lines[1200:]))
    return str(d)


def test_ingest_pipeline_end_to_end(spark, tmp_path, lines_dir):
    raw_path = str(tmp_path / "raw")
    precip_path = str(tmp_path / "daily_precip")
    ckpt = str(tmp_path / "ckpt")

    obs = parsed_observations(file_lines(spark, lines_dir))
    raw_q, precip_q = start_ingest(
        obs, raw_path, precip_path, ckpt, trigger={"availableNow": True}
    )
    raw_q.awaitTermination(120)
    precip_q.awaitTermination(120)

    # raw sink: every line landed, typed (≙ ≥8000-rows-in-60s SLA check)
    raw = spark.read.parquet(raw_path)
    assert raw.count() == 2000
    assert raw.schema["temperature"].dataType.typeName() == "double"
    # corrected 13-field parse: sky_condition_text intentionally null
    assert raw.filter(F.col("sky_condition_text").isNotNull()).count() == 0

    # precip sink: per-key totals equal the batch answer exactly
    got = {
        (r["wsid"], r["year"], r["month"], r["day"]): r["precipitation"]
        for r in spark.read.parquet(precip_path).collect()
    }
    batch = read_raw_csv(spark, REF_CSV_GZ).limit(0)  # schema only
    expected_df = daily_precip_updates(
        parsed_observations(
            spark.read.text(lines_dir).withColumnRenamed("value", "value")
        )
    )
    expected = {
        (r["wsid"], r["year"], r["month"], r["day"]): r["precipitation"]
        for r in expected_df.collect()
    }
    assert got == expected
    assert len(got) > 50  # ≙ reference's >500-groups threshold, scaled


def test_daily_temp_rollup_matches_batch(spark, tmp_path, lines_dir):
    """The streaming daily-temperature tier must equal the batch
    daily_stats_exact answer — the write-back parity (T4)."""
    from killrweather_spark.operators.aggregates import daily_stats_exact
    from killrweather_spark.streaming.pipeline import start_daily_temp_rollup

    out = str(tmp_path / "daily_temp")
    ckpt = str(tmp_path / "ckpt")
    obs = parsed_observations(file_lines(spark, lines_dir))
    q = start_daily_temp_rollup(obs, out, ckpt, trigger={"availableNow": True})
    q.awaitTermination(120)

    batch_obs = parsed_observations(
        spark.read.text(lines_dir).withColumnRenamed("value", "value")
    )
    expected = daily_stats_exact(
        batch_obs, ["wsid", "year", "month", "day"], "temperature"
    )
    cols = ["wsid", "year", "month", "day", "high", "low", "mean", "variance", "stdev"]
    got = sorted(map(tuple, spark.read.parquet(out).select(*cols).collect()))
    want = sorted(map(tuple, expected.select(*cols).collect()))
    assert got == want


def test_console_sink_runs(spark, lines_dir):
    from killrweather_spark.streaming.pipeline import console_sink

    obs = parsed_observations(file_lines(spark, lines_dir))
    q = console_sink(obs.select("wsid", "year", "month", "day", "temperature"))
    q.awaitTermination(60)
    assert q.lastProgress is not None


def test_incremental_restart_accumulates_not_duplicates(spark, tmp_path, lines_dir):
    """T7: replays/restarts must not double-count (the reference's Cassandra
    counters DO double-count on replay — this is the documented improvement)."""
    raw_path = str(tmp_path / "raw")
    precip_path = str(tmp_path / "daily_precip")
    ckpt = str(tmp_path / "ckpt")
    obs = parsed_observations(file_lines(spark, lines_dir))

    q1, q2 = start_ingest(obs, raw_path, precip_path, ckpt, trigger={"availableNow": True})
    q1.awaitTermination(120)
    q2.awaitTermination(120)
    first = spark.read.parquet(precip_path).collect()

    # restart over the SAME directory (no new files): nothing reprocessed
    q1, q2 = start_ingest(obs, raw_path, precip_path, ckpt, trigger={"availableNow": True})
    q1.awaitTermination(120)
    q2.awaitTermination(120)
    second = spark.read.parquet(precip_path).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))
    assert spark.read.parquet(raw_path).count() == 2000


def test_cdc_apply_stream_matches_batch_merge(spark, tmp_path):
    """Changelog stream → versioned snapshot via foreachBatch merge_changes:
    the drained stream's final snapshot equals a single batch merge of the
    whole changelog, and a checkpointed restart changes nothing."""
    import json
    import pathlib

    from killrweather_spark.operators.cdc import merge_changes
    from killrweather_spark.streaming.pipeline import (
        cdc_snapshot_path,
        start_cdc_apply,
    )

    src = tmp_path / "changes"
    src.mkdir()
    # Two files => two microbatches (maxFilesPerTrigger=1), later ts later.
    batch1 = [
        {"k": 1, "payload": "a1", "is_delete": False, "ts": 10, "seq": 1},
        {"k": 2, "payload": "b1", "is_delete": False, "ts": 11, "seq": 2},
        {"k": 3, "payload": "c1", "is_delete": False, "ts": 12, "seq": 3},
    ]
    batch2 = [
        {"k": 1, "payload": "a2", "is_delete": False, "ts": 20, "seq": 4},
        {"k": 2, "payload": "b1", "is_delete": True, "ts": 21, "seq": 5},
        {"k": 4, "payload": "d1", "is_delete": False, "ts": 22, "seq": 6},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in batch1))
    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in batch2))

    schema = "k int, payload string, is_delete boolean, ts long, seq long"
    snap_dir = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = start_cdc_apply(
            stream,
            snap_dir,
            ckpt,
            keys=["k"],
            order_by=["ts", "seq"],
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)

    run()
    got = sorted(
        (r.k, r.payload)
        for r in spark.read.parquet(cdc_snapshot_path(snap_dir)).select(
            "k", "payload"
        ).collect()
    )
    # k=1 updated, k=2 deleted, k=3 untouched since b1, k=4 inserted
    assert got == [(1, "a2"), (3, "c1"), (4, "d1")]

    # equals one-shot batch merge of the full changelog over an empty snapshot
    all_changes = spark.createDataFrame(batch1 + batch2, schema)
    empty = all_changes.select("k", "payload", "ts", "seq").limit(0)
    ref = sorted(
        (r.k, r.payload)
        for r in merge_changes(
            empty, all_changes, keys=["k"], order_by=["ts", "seq"]
        ).collect()
    )
    assert got == ref

    # restart on same checkpoint: no new versions, snapshot unchanged
    before = sorted(p.name for p in pathlib.Path(snap_dir).iterdir())
    run()
    after = sorted(p.name for p in pathlib.Path(snap_dir).iterdir())
    assert before == after


def test_transform_with_state_running_totals(spark, tmp_path):
    """Spark 4 StatefulProcessor (transformWithStateInPandas): drained
    running totals equal the batch aggregate.  Requires google.protobuf
    (the API's state-server protocol) + RocksDB provider.  The conftest
    enables the Cloud SDK's vendored pure-Python protobuf runtime when no
    real install exists (killrweather_spark/streaming/protobuf_shim.py);
    skipped only when neither works, with the concrete failure."""
    from tests.conftest import PROTOBUF_STATUS

    status, detail = PROTOBUF_STATUS
    if status in ("failed", "absent"):
        pytest.skip(f"google.protobuf unavailable ({status}): {detail}")
    import json

    from killrweather_spark.streaming.stateful import running_totals_by_key

    src = tmp_path / "in"
    src.mkdir()
    rows = [{"k": i % 3, "cents": 100 + i} for i in range(30)]
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in rows[:15]))
    (src / "b.json").write_text("\n".join(json.dumps(r) for r in rows[15:]))
    stream = (
        spark.readStream.schema("k bigint, cents bigint")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    drained = drain_tws(running_totals_by_key(stream, "k", "cents"), "tws_totals")
    got = {
        r.k: (r.n, r.sum_cents)
        for r in drained
        .groupBy("k")
        .agg(F.max("n").alias("n"), F.max("sum_cents").alias("sum_cents"))
        .collect()
    }
    want = {
        k: (
            sum(1 for r in rows if r["k"] == k),
            sum(r["cents"] for r in rows if r["k"] == k),
        )
        for k in {0, 1, 2}
    }
    assert got == want


def test_stateful_agg_on_rocksdb_state_store(spark, tmp_path):
    """The scale-grade state backend: the same update-mode stateful sum
    that models the Cassandra counter runs on RocksDBStateStoreProvider
    (state spills off-heap/disk instead of growing the JVM heap — the
    backend you'd run with 100M+ keys) and drains to the identical
    batch answer.  Unlike transformWithState, plain stateful aggregation
    needs no protobuf, so this runs everywhere."""
    import json

    src = tmp_path / "in"
    src.mkdir()
    rows = [{"k": i % 5, "cents": 100 + i} for i in range(40)]
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in rows[:20]))
    (src / "b.json").write_text("\n".join(json.dumps(r) for r in rows[20:]))
    stream = (
        spark.readStream.schema("k bigint, cents bigint")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    agg = stream.groupBy("k").agg(F.sum("cents").alias("total"))
    conf = {"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER}
    with scoped_conf(spark, conf):
        drained = run_stream_to_batch(agg, "rocksdb_totals")
    got = {(r["k"], r["total"]) for r in drained.collect()}
    want = {
        (r["k"], r["total"])
        for r in spark.createDataFrame(rows)
        .groupBy("k").agg(F.sum("cents").alias("total")).collect()
    }
    assert got == want


def test_cdc_pruned_apply_merges_only_touched_partitions(spark, tmp_path):
    """Partition-pruned CDC: batch 2 touches only pb=1 and pb=2, so pb=0
    keeps its batch-0 version directory untouched (never rewritten, never
    read); the manifest carries it forward by reference.  Final snapshot
    equals a one-shot batch merge of the whole changelog, a fully-deleted
    partition vanishes, and a checkpointed restart changes zero bytes."""
    import hashlib
    import json as _json
    import pathlib

    from killrweather_spark.operators.cdc import merge_changes
    from killrweather_spark.streaming.pipeline import (
        _latest_manifest,
        cdc_pruned_snapshot,
        start_cdc_apply_pruned,
    )

    src = tmp_path / "changes"
    src.mkdir()
    batch1 = [
        {"k": 1, "pb": 0, "payload": "a1", "is_delete": False, "ts": 10, "seq": 1},
        {"k": 2, "pb": 0, "payload": "b1", "is_delete": False, "ts": 11, "seq": 2},
        {"k": 3, "pb": 1, "payload": "c1", "is_delete": False, "ts": 12, "seq": 3},
        {"k": 5, "pb": 1, "payload": "e1", "is_delete": False, "ts": 13, "seq": 4},
        {"k": 9, "pb": 2, "payload": "z1", "is_delete": False, "ts": 14, "seq": 5},
    ]
    batch2 = [
        {"k": 3, "pb": 1, "payload": "c2", "is_delete": False, "ts": 20, "seq": 6},
        {"k": 5, "pb": 1, "payload": "e1", "is_delete": True, "ts": 21, "seq": 7},
        {"k": 4, "pb": 1, "payload": "d1", "is_delete": False, "ts": 22, "seq": 8},
        {"k": 9, "pb": 2, "payload": "z1", "is_delete": True, "ts": 23, "seq": 9},
    ]
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in batch1))
    (src / "b2.json").write_text("\n".join(_json.dumps(r) for r in batch2))

    schema = "k int, pb int, payload string, is_delete boolean, ts long, seq long"
    snap_dir = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = start_cdc_apply_pruned(
            stream, snap_dir, ckpt,
            keys=["k"], order_by=["ts", "seq"], partition_col="pb",
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)

    run()
    got = sorted(
        (r.k, r.pb, r.payload)
        for r in cdc_pruned_snapshot(spark, snap_dir).select("k", "pb", "payload").collect()
    )
    assert got == [(1, 0, "a1"), (2, 0, "b1"), (3, 1, "c2"), (4, 1, "d1")]

    # equals a one-shot batch merge of the full changelog
    all_changes = spark.createDataFrame(
        [tuple(r.values()) for r in batch1 + batch2], schema
    )
    empty = all_changes.drop("is_delete").limit(0)
    ref = sorted(
        (r.k, r.pb, r.payload)
        for r in merge_changes(
            empty, all_changes, keys=["k"], order_by=["ts", "seq"]
        ).select("k", "pb", "payload").collect()
    )
    assert got == ref

    # pruning: pb=0 was only ever written by batch 0 — exactly one version
    # dir, and the manifest carries it forward while pb=1/pb=2 advance
    assert sorted(os.listdir(os.path.join(snap_dir, "pb=0"))) == ["v=0"]
    manifest = _latest_manifest(snap_dir)
    assert manifest == {"pb=0": 0, "pb=1": 1, "pb=2": 1}
    # fully-deleted partition: tombstone version dir exists and is empty
    assert os.listdir(os.path.join(snap_dir, "pb=2", "v=1")) == []

    def tree_hash() -> dict[str, str]:
        out = {}
        for p in sorted(pathlib.Path(snap_dir).rglob("*")):
            if p.is_file():
                out[str(p)] = hashlib.md5(p.read_bytes()).hexdigest()
        return out

    before = tree_hash()
    run()  # restart over the same checkpoint: nothing reprocessed
    assert tree_hash() == before
    got2 = sorted(
        (r.k, r.pb, r.payload)
        for r in cdc_pruned_snapshot(spark, snap_dir).select("k", "pb", "payload").collect()
    )
    assert got2 == got


def test_cdc_pruned_replay_after_manifest_is_noop(spark, tmp_path):
    """Crash window between manifest rename and checkpoint commit: the
    replayed batch must detect its own manifest and no-op — deleting the
    live v= dirs before rewriting them (the old behavior) breaks the
    atomic cut for concurrent readers.  Replay is driven directly through
    the batch-apply function (Spark 4's commit-log guard forbids
    simulating it by editing the checkpoint)."""
    import hashlib
    import pathlib

    from killrweather_spark.streaming.pipeline import (
        cdc_apply_pruned_batch,
        cdc_pruned_snapshot,
    )

    schema = "k int, pb int, payload string, is_delete boolean, ts long, seq long"
    snap_dir = str(tmp_path / "snapshot")
    os.makedirs(snap_dir)
    b0 = spark.createDataFrame([(1, 0, "a1", False, 10, 1)], schema)
    b1 = spark.createDataFrame([(1, 0, "a2", False, 20, 2)], schema)
    kw = dict(keys=["k"], order_by=["ts", "seq"], partition_col="pb")
    cdc_apply_pruned_batch(b0, 0, snap_dir, **kw)
    cdc_apply_pruned_batch(b1, 1, snap_dir, **kw)

    def tree_hash():
        return {
            str(p): hashlib.md5(p.read_bytes()).hexdigest()
            for p in sorted(pathlib.Path(snap_dir).rglob("*"))
            if p.is_file()
        }

    before = tree_hash()
    # batch 1's manifest is on disk; a crashed-before-checkpoint stream
    # would now replay epoch 1 — it must no-op, byte for byte
    cdc_apply_pruned_batch(b1, 1, snap_dir, **kw)
    assert tree_hash() == before
    got = [(r.k, r.payload) for r in
           cdc_pruned_snapshot(spark, snap_dir).select("k", "payload").collect()]
    assert got == [(1, "a2")]


def test_cdc_pruned_snapshot_empty_after_full_deletion(spark, tmp_path):
    """A changelog whose final batch deletes every key must leave a
    readable EMPTY snapshot (schema recovered from historical versions),
    not a None that crashes callers."""
    from killrweather_spark.streaming.pipeline import (
        cdc_apply_pruned_batch,
        cdc_pruned_snapshot,
    )

    schema = "k int, pb int, payload string, is_delete boolean, ts long, seq long"
    snap_dir = str(tmp_path / "snapshot")
    os.makedirs(snap_dir)
    kw = dict(keys=["k"], order_by=["ts", "seq"], partition_col="pb")
    cdc_apply_pruned_batch(
        spark.createDataFrame([(1, 0, "a1", False, 10, 1)], schema), 0, snap_dir, **kw)
    cdc_apply_pruned_batch(
        spark.createDataFrame([(1, 0, "a1", True, 20, 2)], schema), 1, snap_dir, **kw)
    snap = cdc_pruned_snapshot(spark, snap_dir)
    assert snap is not None
    assert snap.count() == 0
    assert set(snap.columns) >= {"k", "pb", "payload"}


def test_update_mode_upsert_preserves_unchanged_keys_across_batches(spark, tmp_path):
    """The update-mode sinks emit only CHANGED keys per microbatch; the
    partition upsert must merge them into the touched (year, month)
    partitions — a bare dynamic overwrite would silently delete every
    unchanged station sharing the partition (invisible to single-drain
    tests).  Batch 1 carries stations A+B; batch 2 only A — B's totals
    must survive, and A's must accumulate."""
    from killrweather_spark.streaming.pipeline import start_ingest

    src = tmp_path / "lines"
    src.mkdir()
    a, b = "711110:11111", "722220:22222"
    (src / "b1.csv").write_text(
        f"{a},2008,01,01,00,10.0,-0.6,1023.8,50,7.2,2,1.5,0.0\n"
        f"{b},2008,01,02,00,12.0,-0.6,1023.8,50,7.2,2,2.5,0.0\n"
    )
    (src / "b2.csv").write_text(
        f"{a},2008,01,01,06,11.0,-0.6,1023.8,50,7.2,2,0.5,0.0\n"
    )
    from killrweather_spark.streaming.pipeline import parsed_observations

    lines = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(str(src))
        .withColumnRenamed("value", "value")
    )
    raw_path = str(tmp_path / "raw")
    precip_path = str(tmp_path / "precip")
    q1, q2 = start_ingest(
        parsed_observations(lines), raw_path, precip_path,
        str(tmp_path / "ckpt"), trigger={"availableNow": True},
    )
    q1.awaitTermination(120)
    q2.awaitTermination(120)
    got = {
        (r.wsid, r.day): r.precipitation
        for r in spark.read.parquet(precip_path).collect()
    }
    assert got == {(a, 1): 2.0, (b, 2): 2.5}


def test_running_max_by_key_string_keys(spark, tmp_path):
    """The stateful max operator must take the key's output type from the
    input schema — a hardcoded bigint broke it on the engine's string
    ``wsid`` keys."""
    import json as _json

    from killrweather_spark.streaming.stateful import running_max_by_key

    src = tmp_path / "in"
    src.mkdir()
    rows = [{"wsid": "a:1", "value": 1.0}, {"wsid": "a:1", "value": 3.0},
            {"wsid": "b:2", "value": 2.0}]
    (src / "r.json").write_text("\n".join(_json.dumps(r) for r in rows))
    stream = spark.readStream.schema("wsid string, value double").json(str(src))
    out = run_stream_to_batch(
        running_max_by_key(stream, "wsid", "value"),
        "strkey_max", "update",
    )
    got = {r.wsid: r.max_value for r in out.collect()}
    assert got == {"a:1": 3.0, "b:2": 2.0}


def test_cdc_pruned_rejects_escaped_partition_values(spark, tmp_path):
    """Partition values Spark percent-escapes in directory names (':' →
    '%3A') violate the pruned layout's str(value) contract; the batch apply
    must FAIL LOUDLY instead of writing an empty tombstone over the
    partition's data (round-4 advice, medium)."""
    from killrweather_spark.streaming.pipeline import cdc_apply_pruned_batch

    schema = "k int, pb string, payload string, is_delete boolean, ts long, seq long"
    snap_dir = str(tmp_path / "snapshot")
    os.makedirs(snap_dir)
    kw = dict(keys=["k"], order_by=["ts", "seq"], partition_col="pb")
    bad = spark.createDataFrame([(1, "a:b", "x", False, 10, 1)], schema)
    with pytest.raises(ValueError, match="filesystem-simple"):
        cdc_apply_pruned_batch(bad, 0, snap_dir, **kw)
    # nothing half-applied: no manifest, no live partition dirs, no stage
    assert [n for n in os.listdir(snap_dir) if not n.startswith("_stage")] == []


def test_touched_partition_guard_fails_fast(spark, tmp_path, monkeypatch):
    """A partition column fine-grained enough to exceed the touched-partition
    cap must fail with an error naming the column — not silently collect an
    unbounded driver-side list and rewrite the whole table."""
    from killrweather_spark.streaming import pipeline

    monkeypatch.setattr(pipeline, "MAX_TOUCHED_PARTITIONS", 5)
    schema = "k int, pb int, payload string, is_delete boolean, ts long, seq long"
    wide = spark.createDataFrame(
        [(i, i, "x", False, 10, i) for i in range(10)], schema
    )
    with pytest.raises(ValueError, match="pb"):
        pipeline.cdc_apply_pruned_batch(
            wide, 0, str(tmp_path / "snap"),
            keys=["k"], order_by=["ts", "seq"], partition_col="pb",
        )
    # upsert path shares the guard once a prior table exists on disk
    tbl = str(tmp_path / "tbl")
    wide.limit(1).write.partitionBy("pb").parquet(tbl)
    with pytest.raises(ValueError, match="pb"):
        pipeline.upsert_into_partitions(
            wide, tbl, partition_cols=("pb",), key_cols=("k", "pb"),
        )


def test_update_mode_upsert_under_processing_time_trigger(spark, tmp_path):
    """The reference's sink is a continuously-running 1 s-microbatch stream
    (KillrWeatherApp.scala:89), not an availableNow drain: run the
    two-microbatch preservation scenario under a live processingTime
    trigger with concurrent tier reads, and assert untouched (year, month)
    partitions stay byte-identical while touched ones merge."""
    import hashlib
    import time as _time

    from killrweather_spark.streaming.pipeline import start_ingest

    src = tmp_path / "lines"
    src.mkdir()
    a, b = "711110:11111", "722220:22222"
    (src / "b1.csv").write_text(
        f"{a},2008,01,01,00,10.0,-0.6,1023.8,50,7.2,2,1.5,0.0\n"
        f"{b},2008,01,02,00,12.0,-0.6,1023.8,50,7.2,2,2.5,0.0\n"
    )
    lines = spark.readStream.option("maxFilesPerTrigger", 1).text(str(src))
    raw_path = str(tmp_path / "raw")
    precip_path = str(tmp_path / "precip")
    q1, q2 = start_ingest(
        parsed_observations(lines), raw_path, precip_path,
        str(tmp_path / "ckpt"), trigger={"processingTime": "500 milliseconds"},
    )

    def read_precip() -> dict:
        try:
            return {
                (r.wsid, r.month, r.day): r.precipitation
                for r in spark.read.parquet(precip_path).collect()
            }
        except Exception:  # noqa: BLE001 — sink not yet written
            return {}

    def wait_for(expect: dict, timeout: float = 90.0) -> dict:
        deadline = _time.monotonic() + timeout
        got = read_precip()
        while got != expect and _time.monotonic() < deadline:
            _time.sleep(0.5)
            got = read_precip()  # concurrent read against the live query
        return got

    try:
        expect1 = {(a, 1, 1): 1.5, (b, 1, 2): 2.5}
        assert wait_for(expect1) == expect1

        def month1_hash() -> dict[str, str]:
            root = pathlib.Path(precip_path) / "year=2008" / "month=1"
            return {
                p.name: hashlib.md5(p.read_bytes()).hexdigest()
                for p in sorted(root.rglob("*"))
                if p.is_file() and p.name.endswith(".parquet")
            }

        before = month1_hash()
        assert before  # sanity: january partition materialized

        # second microbatch touches ONLY month=2
        (src / "b2.csv").write_text(
            f"{a},2008,02,01,06,11.0,-0.6,1023.8,50,7.2,2,0.5,0.0\n"
        )
        expect2 = {**expect1, (a, 2, 1): 0.5}
        assert wait_for(expect2) == expect2
        # untouched partition: zero bytes changed under the live trigger
        assert month1_hash() == before
    finally:
        q1.stop()
        q2.stop()


def test_stream_stream_join_within_tolerance_matches_batch(spark, tmp_path):
    """Stream-stream time-bounded join (the DStream-inexpressible §2.9
    extension): two live JSON streams joined on key within ±1 hour must
    produce exactly the batch join of the same inputs, and the plan must
    be a stateful symmetric join (no broadcast — both sides unbounded)."""
    import json as _json

    from killrweather_spark.streaming.pipeline import join_streams_within

    views = tmp_path / "views"
    buys = tmp_path / "buys"
    views.mkdir()
    buys.mkdir()
    v_rows = [
        {"user_id": 1, "ts": "2024-01-01T10:00:00", "page": "a"},
        {"user_id": 1, "ts": "2024-01-01T12:00:00", "page": "b"},
        {"user_id": 2, "ts": "2024-01-01T10:30:00", "page": "c"},
        {"user_id": 3, "ts": "2024-01-01T09:00:00", "page": "d"},
    ]
    b_rows = [
        {"user_id": 1, "ts": "2024-01-01T10:45:00", "amount": 5.0},
        {"user_id": 2, "ts": "2024-01-01T13:00:00", "amount": 7.0},  # too late
        {"user_id": 3, "ts": "2024-01-01T08:30:00", "amount": 9.0},
    ]
    (views / "v.json").write_text("\n".join(_json.dumps(r) for r in v_rows))
    (buys / "b.json").write_text("\n".join(_json.dumps(r) for r in b_rows))
    v_schema = "user_id int, ts timestamp, page string"
    b_schema = "user_id int, ts timestamp, amount double"

    joined = join_streams_within(
        spark.readStream.schema(v_schema).json(str(views)),
        spark.readStream.schema(b_schema).json(str(buys)),
        key_cols=["user_id"], ts_col="ts", tolerance="1 hour",
    )
    got = run_stream_to_batch(joined, "ssj_result", "append")
    pairs = sorted((r.user_id, r.page, r.amount_r) for r in got.collect())
    # batch equivalent on the same inputs
    bv = spark.read.schema(v_schema).json(str(views))
    bb = spark.read.schema(b_schema).json(str(buys))
    ref = sorted(
        (r.user_id, r.page, r.amount)
        for r in bv.join(
            bb.withColumnRenamed("ts", "ts2").withColumnRenamed(
                "user_id", "uid2"),
            (F.col("user_id") == F.col("uid2"))
            & (F.col("ts2").between(
                F.expr("ts - INTERVAL 1 HOUR"), F.expr("ts + INTERVAL 1 HOUR"))),
        ).collect()
    )
    assert pairs == ref
    assert pairs == [(1, "a", 5.0), (3, "d", 9.0)]
    # the state-cleanup contract rides the join CONDITION: Spark only
    # hard-rejects unbounded state for OUTER stream-stream joins, so the
    # helper's baked-in time bound (rather than caller discipline) is what
    # keeps the inner join's state finite — assert the inner join carries
    # the event-time RANGE predicate (both bounds) in its analyzed plan,
    # not merely the renamed column
    az = joined._jdf.queryExecution().analyzed().toString()
    assert "Join Inner" in az, az
    assert az.count("INTERVAL") >= 2, az  # lower AND upper bound survive


def test_dedup_within_watermark_across_batches(spark, tmp_path):
    """Watermark-bounded streaming dedup: a duplicate key arriving in a
    LATER microbatch within the delay must still be deduped (state held
    across batches), and the result equals DISTINCT on the drained input —
    while the watermark bounds the state that plain dropDuplicates would
    keep forever."""
    import json as _json

    src = tmp_path / "in"
    src.mkdir()
    b1 = [
        {"k": "a", "ts": "2024-01-01T10:00:00"},
        {"k": "b", "ts": "2024-01-01T10:05:00"},
    ]
    b2 = [
        {"k": "a", "ts": "2024-01-01T10:20:00"},  # dup within the delay
        {"k": "c", "ts": "2024-01-01T10:30:00"},
    ]
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in b1))
    (src / "b2.json").write_text("\n".join(_json.dumps(r) for r in b2))
    stream = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = run_stream_to_batch(
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["k"])
        .select("k"),
        "dedup_wm", "append",
    )
    assert sorted(r.k for r in out.collect()) == ["a", "b", "c"]


def test_streaming_bigram_lm_matches_batch_across_microbatches(spark, tmp_path):
    """The trained-model streaming scorer is batch-equivalent even when
    the corpus arrives over several micro-batches: the model is trained
    once on the FULL corpus, the stream drains 3 files one per trigger,
    and every per-doc score matches the batch scorer bit-for-bit."""
    from killrweather_spark.functions.lm import (
        bigram_lm_scores,
        bigram_lm_scores_stream,
    )

    docs = [
        (1, "the cat sat on the mat"),
        (2, "the cat ran on the mat"),
        (3, "a dog sat on a log"),
        (4, "the dog ran to the log"),
        (5, "cat and dog sat together"),
        (6, "x"),  # < 2 tokens: drops out on both paths
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    src = tmp_path / "docs_src"
    src.mkdir()
    for i in range(3):
        df.filter((F.col("doc_id") % 3) == i).coalesce(1).write.parquet(
            str(src / f"part{i}.parquet")
        )
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    got = run_stream_to_batch(
        bigram_lm_scores_stream(df, stream),
        "stream_lm", "complete",
    )
    want = {
        (r.doc_id, r.n_bigrams, r.mean_p_micro)
        for r in bigram_lm_scores(df).collect()
    }
    assert {
        (r.doc_id, r.n_bigrams, r.mean_p_micro) for r in got.collect()
    } == want
    assert not any(r.doc_id == 6 for r in got.collect())


def test_streaming_passage_screen_matches_batch_across_microbatches(
    spark, tmp_path
):
    """The passage screen is batch-equivalent over multiple triggers:
    the index is built once from the reference half, the stream drains 3
    files one per trigger, and every per-doc known-ratio matches the
    batch graph bit-for-bit (a fully-known doc scores exactly 10^6)."""
    from killrweather_spark.functions.curation import (
        streaming_passage_screen,
    )

    docs = [
        (0, "aa bb cc dd ee ff"),          # reference (even)
        (2, "gg hh ii jj kk ll"),          # reference (even)
        (1, "aa bb cc xx yy zz"),          # half known
        (3, "aa bb cc dd ee ff"),          # fully known -> 10^6
        (5, "qq rr ss tt uu vv"),          # novel -> 0
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    ref = df.filter(F.col("doc_id") % 2 == 0)
    src = tmp_path / "psrc"
    src.mkdir()
    for i in range(3):
        df.filter((F.col("doc_id") % 3) == i).coalesce(1).write.parquet(
            str(src / f"p{i}.parquet")
        )
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    got = {
        r.doc_id: (r.n_segments, r.n_known, r.known_ratio_micro)
        for r in run_stream_to_batch(
            streaming_passage_screen(ref, stream),
            "stream_ps", "complete",
        ).collect()
    }
    want = {
        r.doc_id: (r.n_segments, r.n_known, r.known_ratio_micro)
        for r in streaming_passage_screen(ref, df).collect()
    }
    assert got == want
    assert got[3] == (2, 2, 1_000_000)
    assert got[5] == (2, 0, 0)
    assert got[1] == (2, 1, 500_000)


def test_streaming_image_screen_matches_batch_across_microbatches(
    spark, tmp_path
):
    """The image screen is batch-equivalent over multiple triggers: the
    aHash index is built once from the reference half, the stream drains
    3 parquet files one per trigger (decode+hash runs inside each
    micro-batch), and the per-dims known counts match the batch graph
    bit-for-bit.  doc 3 reuses doc 0's text (identical synthesized PNG,
    hence identical hash -> known); doc 5's novel text is unknown."""
    from killrweather_spark.functions.multimodal import (
        streaming_image_screen,
        synth_png_pixels,
    )

    docs = [
        (0, "reference image text alpha"),
        (2, "reference image text beta"),
        (1, "reference image text alpha x"),   # different text -> own hash
        (3, "reference image text alpha"),     # same text as 0 -> known
        (5, "totally novel arrival payload"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    ref = synth_png_pixels(df.filter(F.col("doc_id") % 2 == 0))
    src = tmp_path / "isrc"
    src.mkdir()
    for i in range(3):
        df.filter((F.col("doc_id") % 3) == i).coalesce(1).write.parquet(
            str(src / f"p{i}.parquet")
        )
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    got = {
        (r.width, r.height): (r.n_images, r.n_known, r.known_ratio_micro)
        for r in run_stream_to_batch(
            streaming_image_screen(ref, synth_png_pixels(stream)),
            "stream_is", "complete",
        ).collect()
    }
    want = {
        (r.width, r.height): (r.n_images, r.n_known, r.known_ratio_micro)
        for r in streaming_image_screen(ref, synth_png_pixels(df)).collect()
    }
    assert got == want
    assert sum(n for n, _, _ in got.values()) == len(docs)
    assert sum(k for _, k, _ in got.values()) >= 3  # docs 0, 2, 3 known


def test_streaming_lang_screen_matches_batch_across_microbatches(
    spark, tmp_path
):
    """The language gate's streaming form is batch-equivalent over
    multiple triggers: profiles train once from the full corpus, the
    stream drains 3 parquet files one per trigger (keys from different
    files land in different triggers, so the (doc, lang) state must
    survive across micro-batches), and the drained gate equals
    lang_filtered_corpus on the same docs bit-for-bit — including
    dropping the mislabeled document."""
    from killrweather_spark.functions.lang import (
        gate_drained_scores,
        lang_filtered_corpus,
        lang_scores_stream,
    )

    docs = [
        (1, "xyz zyx xzy yxz zxy xyz zyx", "aa", "s0"),
        (2, "xyz zyx xzy extra xyz zyx", "aa", "s0"),
        (3, "qrs srq qsr rqs sqr qrs", "bb", "s1"),
        (4, "qrs srq qsr other qrs srq", "bb", "s1"),
        (5, "xyz zyx xzy yxz", "bb", "s1"),   # mislabeled -> dropped
    ]
    df = spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string, source string"
    )
    src = tmp_path / "lsrc"
    src.mkdir()
    for i in range(3):
        df.filter((F.col("doc_id") % 3) == i).coalesce(1).write.parquet(
            str(src / f"p{i}.parquet")
        )
    stream = (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, source string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    drained = run_stream_to_batch(
        lang_scores_stream(df, stream, k=16),
        "stream_ls", "complete",
    )
    got = {tuple(r) for r in gate_drained_scores(df, drained).collect()}
    want = {tuple(r)
            for r in lang_filtered_corpus(df, k=16,
                                          mode="match_declared").collect()}
    assert got == want
    assert {r[0] for r in got} == {1, 2, 3, 4}  # mislabeled doc 5 dropped


def test_transform_with_state_mapstate_daily_counts(spark, tmp_path):
    """The MapState form: per-key (day -> count) accumulates ACROSS
    microbatches (maxFilesPerTrigger=1 forces two), only batch-touched
    days re-emit, and the drained max(n) per (key, day) equals the batch
    GROUP BY — the batch-equivalence contract."""
    from tests.conftest import PROTOBUF_STATUS

    status, detail = PROTOBUF_STATUS
    if status in ("failed", "absent"):
        pytest.skip(f"google.protobuf unavailable ({status}): {detail}")
    import json
    from collections import Counter

    from killrweather_spark.streaming.stateful import daily_counts_by_key

    src = tmp_path / "in"
    src.mkdir()
    rows = [
        {"k": i % 2, "day": f"2025-01-0{1 + (i % 3)}"} for i in range(24)
    ]
    # both files touch the same (key, day) cells -> the second batch MUST
    # read the first batch's MapState back, not restart from zero
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in rows[:12]))
    (src / "b.json").write_text("\n".join(json.dumps(r) for r in rows[12:]))
    stream = (
        spark.readStream.schema("k bigint, day string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    drained = drain_tws(daily_counts_by_key(stream, "k", "day"), "tws_daily")
    got = {
        (r.k, r.day): r.n
        for r in drained
        .groupBy("k", "day")
        .agg(F.max("n").alias("n"))
        .collect()
    }
    want = Counter((r["k"], r["day"]) for r in rows)
    assert got == dict(want)
    # update-mode means cumulative re-emissions exist; the raw table must
    # contain an intermediate (first-batch) value below the final count
    raw = drained.collect()
    assert any(r.n < want[(r.k, r.day)] for r in raw)


def test_transform_with_state_mapstate_bulk_read_across_batches(
    spark, tmp_path
):
    """The BULK map-read branch of daily_counts_by_key (>= 4 touched
    days per key reads prior counts via one iterator() scan instead of
    per-day getValue round-trips): with 6 days per key per batch and two
    batches touching the SAME days, batch 2 must recover batch 1's
    counts through the iterator path — the branch the 3-day test above
    (point-read path) never enters."""
    from tests.conftest import PROTOBUF_STATUS

    status, detail = PROTOBUF_STATUS
    if status in ("failed", "absent"):
        pytest.skip(f"google.protobuf unavailable ({status}): {detail}")
    import json
    from collections import Counter

    from killrweather_spark.streaming.stateful import daily_counts_by_key

    src = tmp_path / "in"
    src.mkdir()
    rows = [
        {"k": i % 2, "day": f"2025-02-0{1 + (i % 6)}"} for i in range(36)
    ]
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in rows[:18]))
    (src / "b.json").write_text("\n".join(json.dumps(r) for r in rows[18:]))
    stream = (
        spark.readStream.schema("k bigint, day string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    drained = drain_tws(
        daily_counts_by_key(stream, "k", "day"), "tws_daily_bulk"
    )
    got = {
        (r.k, r.day): r.n
        for r in drained
        .groupBy("k", "day")
        .agg(F.max("n").alias("n"))
        .collect()
    }
    want = Counter((r["k"], r["day"]) for r in rows)
    assert got == dict(want)
    # prior state was actually read back: an intermediate emission exists
    raw = drained.collect()
    assert any(r.n < want[(r.k, r.day)] for r in raw)


def test_transform_with_state_timers_flush_idle_keys(spark, tmp_path):
    """Processing-time timers (the session-flush/TTL primitive): keys
    0,1,2 appear only in batch 1 and arm immediate-expiry timers; batch
    2 carries only key 3, so batch 2 FIRES the idle keys' timers — their
    final batch-1 totals arrive flushed=true and their state is CLEARED.
    (Expired timers fire during the batch for every expired key,
    with-input or not; the test keeps idle and active keys disjoint so
    no assertion depends on intra-batch input/timer ordering.)"""
    from tests.conftest import PROTOBUF_STATUS

    status, detail = PROTOBUF_STATUS
    if status in ("failed", "absent"):
        pytest.skip(f"google.protobuf unavailable ({status}): {detail}")
    import json

    from killrweather_spark.streaming.stateful import totals_with_idle_flush

    src = tmp_path / "in"
    src.mkdir()
    b1 = [{"k": k, "cents": 100 + k} for k in (0, 1, 2) for _ in range(3)]
    b2 = [{"k": 3, "cents": 500} for _ in range(2)]
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in b1))
    (src / "b.json").write_text("\n".join(json.dumps(r) for r in b2))
    stream = (
        spark.readStream.schema("k bigint, cents bigint")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = totals_with_idle_flush(stream, "k", "cents", idle_ms=0)
    # not drain_tws: in ProcessingTime mode Spark runs a no-data batch
    # after every batch, so an availableNow query never terminates (and
    # processAllAvailable never returns); stop it once both files are in
    conf = {"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER}
    with scoped_conf(spark, conf):
        q = (
            out.writeStream.format("memory")
            .queryName("tws_timers")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
    try:
        for _ in range(600):  # at most 120 s
            if sum(p["numInputRows"] for p in q.recentProgress) >= len(b1 + b2):
                break
            q.awaitTermination(0.2)
        rows = spark.table("tws_timers").collect()
    finally:
        q.stop()
        spark.catalog.dropTempView("tws_timers")
    flushed = {r.k: (r.n, r.sum_cents) for r in rows if r.flushed}
    live = {(r.k, r.n, r.sum_cents) for r in rows if not r.flushed}
    # the three idle keys were flushed with their exact batch-1 totals
    assert flushed[0] == (3, 3 * 100)
    assert flushed[1] == (3, 3 * 101)
    assert flushed[2] == (3, 3 * 102)
    # their pre-flush running rows were emitted in batch 1
    for k in (0, 1, 2):
        assert (k, 3, 3 * (100 + k)) in live
    # the batch-2 key accumulated normally
    assert (3, 2, 1000) in live
    # a flushed key never reports twice (state was CLEARED); key 3 may
    # or may not flush depending on whether a trailing empty batch ran
    assert sorted(flushed) in ([0, 1, 2], [0, 1, 2, 3])


def test_transform_with_state_eventtime_session_close(spark, tmp_path):
    """Event-time timers (the third TWS time mode): sessions for keys
    0,1 (events at 10:00, gap 10 min) must CLOSE once the watermark —
    driven by key 9's later data, not the wall clock — passes 10:10.
    Three files force three microbatches so the watermark provably
    advances past the idle sessions' expiry."""
    from tests.conftest import PROTOBUF_STATUS

    status, detail = PROTOBUF_STATUS
    if status in ("failed", "absent"):
        pytest.skip(f"google.protobuf unavailable ({status}): {detail}")
    import json

    from killrweather_spark.streaming.stateful import eventtime_session_finalize

    src = tmp_path / "in"
    src.mkdir()
    b1 = [
        {"k": k, "ts": "2025-01-01 10:00:00", "cents": 100 + k}
        for k in (0, 1)
        for _ in range(3)
    ]
    b2 = [{"k": 9, "ts": "2025-01-01 11:00:00", "cents": 500}]
    b3 = [{"k": 9, "ts": "2025-01-01 12:00:00", "cents": 700}]
    for name, rows in (("a.json", b1), ("b.json", b2), ("c.json", b3)):
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))
    stream = (
        spark.readStream.schema("k bigint, ts timestamp, cents bigint")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withWatermark("ts", "0 seconds")
    )
    out = eventtime_session_finalize(
        stream, "k", "ts", "cents", gap_seconds=600
    )
    rows = drain_tws(out, "tws_et_sessions").collect()
    closed = {r.k: (r.n, r.sum_cents) for r in rows if r.closed}
    live = {(r.k, r.n, r.sum_cents) for r in rows if not r.closed}
    # the idle sessions closed with their exact totals once the
    # watermark passed their gap — and only once (state cleared)
    assert closed[0] == (3, 3 * 100)
    assert closed[1] == (3, 3 * 101)
    assert sum(1 for r in rows if r.closed and r.k in (0, 1)) == 2
    # their pre-close running rows exist; key 9 accumulated across
    # batches and may or may not have closed (needs a trailing batch)
    assert (0, 3, 300) in live and (1, 3, 303) in live
    assert (9, 2, 1200) in live
    assert set(closed) <= {0, 1, 9}


def test_streaming_semantic_screen_matches_batch_across_microbatches(
    spark, tmp_path
):
    """The dense-vector screen is batch-equivalent over multiple
    triggers: the IVFADC index is built once, the stream drains 3
    parquet files one per trigger (cell assignment + ADC scoring run
    as expressions inside each micro-batch), and the per-arrival rows
    match the batch graph bit-for-bit.  Four well-separated clusters of
    3 near-identical vectors each: every arrival should find its 2
    cluster-mates known."""
    from killrweather_spark.functions.ann_index import build_ivf_index
    from killrweather_spark.functions.pq import streaming_semantic_screen

    base = {
        0: [1.0, 0.9] + [0.01] * 14,
        1: [0.01] * 4 + [1.0, 0.8] + [0.01] * 10,
        2: [0.01] * 8 + [0.9, 1.0] + [0.01] * 6,
        3: [0.01] * 12 + [0.8, 1.0] + [0.01] * 2,
    }
    rows = [
        (g * 3 + j, [v + 0.001 * j for v in base[g]])
        for g in range(4)
        for j in range(3)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    idx = str(tmp_path / "ivf_idx")
    build_ivf_index(df, idx, n_centroids=4, iters=2)

    src = tmp_path / "esrc"
    src.mkdir()
    for i in range(3):
        df.filter((F.col("vec_id") % 3) == i).coalesce(1).write.parquet(
            str(src / f"p{i}.parquet")
        )
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    got = {
        r.vec_id: (r.cell, r.n_candidates, r.n_known, r.best_adot)
        for r in run_stream_to_batch(
            streaming_semantic_screen(spark, idx, stream),
            "stream_ss", "complete",
        ).collect()
    }
    want = {
        r.vec_id: (r.cell, r.n_candidates, r.n_known, r.best_adot)
        for r in streaming_semantic_screen(spark, idx, df).collect()
    }
    assert got == want
    assert len(got) == 12
    # near-identical cluster-mates score over the screen threshold
    assert sum(k for _, _, k, _ in got.values()) >= 12


def _synthetic_lines(day_rows) -> str:
    """ISD-lite-shaped CSV lines from (wsid, month, day, hour, temp, precip)."""
    return "".join(
        f"{w},2008,{m:02d},{d:02d},{h:02d},{t},-0.6,1023.8,50,7.2,2,{p},0.0\n"
        for w, m, d, h, t, p in day_rows
    )


def test_upsert_runs_the_stateful_stage_once_per_batch(spark, tmp_path):
    """Two microbatches through start_ingest's precip upsert: the state
    operator counts each (wsid, year, month, day) key once (a re-executed
    stateful stage inflates numRowsTotal), each touched (year, month)
    directory holds one parquet file (one writer per partition), and the
    tier equals the batch answer."""
    src = tmp_path / "lines"
    src.mkdir()
    a, b, c = "711110:11111", "722220:22222", "733330:33333"
    (src / "b1.csv").write_text(_synthetic_lines([
        (a, 1, 1, 0, 10.0, 1.5), (a, 1, 1, 6, 11.0, 0.5),
        (b, 1, 2, 0, 12.0, 2.5), (c, 2, 3, 0, 9.0, 0.25),
    ]))
    (src / "b2.csv").write_text(_synthetic_lines([
        (a, 1, 1, 12, 13.0, 1.0), (c, 1, 4, 0, 8.0, 3.0),
        (b, 3, 5, 0, 7.0, 0.75),
    ]))
    lines = spark.readStream.option("maxFilesPerTrigger", 1).text(str(src))
    precip_path = str(tmp_path / "precip")
    q1, q2 = start_ingest(
        parsed_observations(lines), str(tmp_path / "raw"), precip_path,
        str(tmp_path / "ckpt"), trigger={"availableNow": True},
    )
    q1.awaitTermination(120)
    q2.awaitTermination(120)

    want_df = daily_precip_updates(parsed_observations(spark.read.text(str(src))))
    want = {(r.wsid, r.month, r.day): r.precipitation for r in want_df.collect()}
    assert len(want) == 5
    assert q2.lastProgress["batchId"] == 1
    assert q2.lastProgress["stateOperators"][0]["numRowsTotal"] == len(want)
    got = {
        (r.wsid, r.month, r.day): r.precipitation
        for r in spark.read.parquet(precip_path).collect()
    }
    assert got == want
    year = pathlib.Path(precip_path) / "year=2008"
    files = {
        d.name: [f for f in os.listdir(d) if f.endswith(".parquet")]
        for d in year.iterdir()
    }
    assert sorted(files) == ["month=1", "month=2", "month=3"]
    assert all(len(f) == 1 for f in files.values()), files


_TIER = "wsid string, year int, month int, day int, precipitation double"


def test_upsert_merges_in_one_exchange_without_a_join(spark, tmp_path, monkeypatch):
    """A merge batch over an existing tier reaches the writer as ONE hash
    exchange and no join (a broadcast's hash relation pins a Tungsten page
    until a full GC): the batch's rows win per key, each key appears once,
    and the touched partitions' unchanged keys and the untouched partition
    survive."""
    from killrweather_spark.plans import checks
    from killrweather_spark.streaming import pipeline

    tbl = str(tmp_path / "tier")
    spark.createDataFrame(
        [("a", 2008, 1, 1, 1.0), ("b", 2008, 1, 2, 2.0), ("c", 2008, 2, 1, 3.0),
         ("e", 2008, 3, 1, 5.0)], _TIER,
    ).write.partitionBy("year", "month").parquet(tbl)
    seen = []
    write = pipeline._write_partitions

    def capture(frame, path, cols):
        seen.append((frame, checks.formatted_plan(frame), frame.collect()))
        write(frame, path, cols)

    monkeypatch.setattr(pipeline, "_write_partitions", capture)
    batch = spark.createDataFrame(
        [("a", 2008, 1, 1, 10.0), ("d", 2008, 1, 3, 4.0), ("c", 2008, 2, 1, 30.0)],
        _TIER,
    )
    pipeline.upsert_into_partitions(
        batch, tbl, ("year", "month"), ("wsid", "year", "month", "day"))
    ((frame, plan, rows),) = seen
    assert not checks.uses_broadcast_join(frame)
    assert "Join" not in plan
    assert checks.shuffle_count(frame) == 1
    assert "hashpartitioning(year" in plan
    keys = [(r.wsid, r.year, r.month, r.day) for r in rows]
    assert len(keys) == len(set(keys)) == 4
    got = {(r.wsid, r.month, r.day): r.precipitation
           for r in spark.read.parquet(tbl).collect()}
    assert got == {("a", 1, 1): 10.0, ("b", 1, 2): 2.0, ("d", 1, 3): 4.0,
                   ("c", 2, 1): 30.0, ("e", 3, 1): 5.0}


def test_upsert_releases_its_blocks_after_each_batch(spark, tmp_path):
    """Each merge batch unpersists the cached batch and the checkpoint of
    the touched partitions' old rows once its write has committed, instead
    of leaving them to a full GC: the driver's persistent-RDD count is back
    where it started after every batch (at most there: a GC may release an
    earlier test's blocks meanwhile)."""
    from killrweather_spark.streaming import pipeline

    tbl = str(tmp_path / "tier")
    keys = ("wsid", "year", "month", "day")
    jsc = spark.sparkContext._jsc
    start = jsc.getPersistentRDDs().size()
    for i in range(4):
        batch = spark.createDataFrame(
            [("a", 2008, 1, 1, float(i)), (f"s{i}", 2008, 1 + i % 2, 2, 1.0)], _TIER)
        pipeline.upsert_into_partitions(batch, tbl, ("year", "month"), keys)
        assert jsc.getPersistentRDDs().size() <= start, i
    got = {(r.wsid, r.month): r.precipitation for r in spark.read.parquet(tbl).collect()}
    assert got == {("a", 1): 3.0, ("s0", 1): 1.0, ("s1", 2): 1.0, ("s2", 1): 1.0,
                   ("s3", 2): 1.0}


def _jvm_field(obj, name: str):
    """A JVM object's field, private or inherited, read through reflection."""
    cls = obj.getClass()
    while cls is not None:
        for f in cls.getDeclaredFields():
            if f.getName() == name:
                f.setAccessible(True)
                return f.get(obj)
        cls = cls.getSuperclass()
    raise AttributeError(name)


def test_every_ingest_query_logs_its_source_through_the_local_manager(spark, tmp_path):
    """A query builds its file source lazily on its own thread, after
    ``start()`` returned: every query of ``start_ingest`` and
    ``start_daily_temp_rollup`` must still log that source through the
    FileSystem-based checkpoint manager (no ``readlink`` fork per rename),
    not only the query whose thread won the race against the conf
    restore."""
    from killrweather_spark.streaming.pipeline import (
        FS_CHECKPOINT_MANAGER,
        start_daily_temp_rollup,
    )

    src = tmp_path / "lines"
    src.mkdir()
    (src / "b1.csv").write_text(_synthetic_lines([("711110:11111", 1, 1, 0, 10.0, 1.5)]))
    obs = parsed_observations(spark.readStream.text(str(src)))
    ckpt = str(tmp_path / "ckpt")
    trig = {"availableNow": True}
    queries = [
        *start_ingest(obs, str(tmp_path / "raw"), str(tmp_path / "precip"), ckpt,
                      trigger=trig),
        start_daily_temp_rollup(obs, str(tmp_path / "temp"), ckpt, trigger=trig),
    ]
    managers = []
    for q in queries:
        assert q.awaitTermination(120)
        sources = _jvm_field(q._jsq.streamingQuery(), "sources")
        assert sources.size() == 1
        log = _jvm_field(sources.head(), "metadataLog")
        managers.append(_jvm_field(log, "fileManager").getClass().getName())
    assert managers == [FS_CHECKPOINT_MANAGER] * 3


def test_checkpoint_manager_choice(spark, tmp_path):
    """Local checkpoint directories get Spark's FileSystem-based manager;
    a remote scheme, or a bare path on a non-local default file system,
    keeps Spark's default (None)."""
    from killrweather_spark.streaming.pipeline import (
        FS_CHECKPOINT_MANAGER,
        checkpoint_manager_for,
    )

    assert checkpoint_manager_for(spark, str(tmp_path)) == FS_CHECKPOINT_MANAGER
    assert checkpoint_manager_for(spark, f"file://{tmp_path}") == FS_CHECKPOINT_MANAGER
    assert checkpoint_manager_for(spark, "hdfs://nn/ckpt") is None
    with scoped_conf(spark, {"fs.defaultFS": "hdfs://nn:8020"}):
        assert checkpoint_manager_for(spark, "/ckpt") is None
        assert checkpoint_manager_for(spark, f"file://{tmp_path}") == FS_CHECKPOINT_MANAGER


def test_restart_under_local_checkpoint_manager_changes_nothing(spark, tmp_path):
    """Synthetic-lines twin of the restart test: with the local checkpoint
    manager in place, a restart with no new input reprocesses nothing, and
    the session's checkpoint-manager setting is restored after each start."""
    from killrweather_spark.streaming.pipeline import CHECKPOINT_MANAGER_CONF

    src = tmp_path / "lines"
    src.mkdir()
    a, b = "711110:11111", "722220:22222"
    (src / "b1.csv").write_text(_synthetic_lines([
        (a, 1, 1, 0, 10.0, 1.5), (b, 1, 2, 0, 12.0, 2.5),
    ]))
    (src / "b2.csv").write_text(_synthetic_lines([(a, 1, 1, 6, 11.0, 0.5)]))
    raw_path = str(tmp_path / "raw")
    precip_path = str(tmp_path / "precip")
    ckpt = str(tmp_path / "ckpt")
    before_conf = spark.conf.get(CHECKPOINT_MANAGER_CONF, None)

    def run():
        lines = spark.readStream.option("maxFilesPerTrigger", 1).text(str(src))
        q1, q2 = start_ingest(
            parsed_observations(lines), raw_path, precip_path, ckpt,
            trigger={"availableNow": True},
        )
        assert spark.conf.get(CHECKPOINT_MANAGER_CONF, None) == before_conf
        q1.awaitTermination(120)
        q2.awaitTermination(120)
        return q1, q2

    run()
    first = sorted(map(tuple, spark.read.parquet(precip_path).collect()))
    offsets = sorted(os.listdir(os.path.join(ckpt, "precip", "offsets")))
    q1, q2 = run()
    assert q1.lastProgress is None or q1.lastProgress["numInputRows"] == 0
    assert q2.lastProgress is None or q2.lastProgress["numInputRows"] == 0
    assert sorted(os.listdir(os.path.join(ckpt, "precip", "offsets"))) == offsets
    assert sorted(map(tuple, spark.read.parquet(precip_path).collect())) == first
    assert first == [(a, 1, 2.0, 2008, 1), (b, 2, 2.5, 2008, 1)]
    assert spark.read.parquet(raw_path).count() == 3


def test_transform_with_state_running_totals_nulls(spark, tmp_path):
    """The map-side pre-reduce keeps a null key as its own group and counts
    rows (not non-null values) in n: the drained totals equal the batch
    COUNT(*)/SUM GROUP BY, null key and null values included."""
    from tests.conftest import PROTOBUF_STATUS

    status, detail = PROTOBUF_STATUS
    if status in ("failed", "absent"):
        pytest.skip(f"google.protobuf unavailable ({status}): {detail}")
    import json

    from killrweather_spark.streaming.stateful import running_totals_by_key

    src = tmp_path / "in"
    src.mkdir()
    rows = [
        {"k": None if i % 4 == 0 else i % 2, "cents": None if i % 5 == 0 else i}
        for i in range(20)
    ]
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in rows[:10]))
    (src / "b.json").write_text("\n".join(json.dumps(r) for r in rows[10:]))
    stream = (
        spark.readStream.schema("k bigint, cents bigint")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    drained = drain_tws(
        running_totals_by_key(stream, "k", "cents"), "tws_totals_nulls"
    )
    got = {
        r.k: (r.n, r.sum_cents)
        for r in drained
        .groupBy("k")
        .agg(F.max("n").alias("n"), F.max("sum_cents").alias("sum_cents"))
        .collect()
    }
    want = {
        k: (
            sum(1 for r in rows if r["k"] == k),
            sum(r["cents"] or 0 for r in rows if r["k"] == k),
        )
        for k in (None, 0, 1)
    }
    assert got == want


def test_scoped_conf_restores_prior_and_unsets_absent(spark):
    """scoped_conf puts a key's prior value back and unsets a key that had
    none, on a normal exit and when the body raises."""
    key, absent = "spark.sql.shuffle.partitions", "spark.kw.test.scoped_absent"
    prior = spark.conf.get(key)
    assert spark.conf.get(absent, None) is None
    conf = {key: str(int(prior) + 1), absent: "x"}
    with scoped_conf(spark, conf):
        assert spark.conf.get(key) == conf[key]
        assert spark.conf.get(absent) == "x"
    assert spark.conf.get(key) == prior
    assert spark.conf.get(absent, None) is None
    with pytest.raises(RuntimeError, match="body failed"), scoped_conf(spark, conf):
        raise RuntimeError("body failed")
    assert spark.conf.get(key) == prior
    assert spark.conf.get(absent, None) is None


def test_run_stream_to_batch_owns_its_sink_and_checkpoint(
    spark, tmp_path, monkeypatch
):
    """Two concurrent drains with one label do not collide on the sink
    name; after a drain, and after a drain whose UDF raises, no new temp
    view is left in the catalog and no checkpoint directory in TMPDIR."""
    import json
    import tempfile
    import time
    from concurrent.futures import ThreadPoolExecutor

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.json").write_text("\n".join(json.dumps({"k": k}) for k in range(6)))
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))

    def views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    def stream():
        return spark.readStream.schema("k bigint").json(str(src))

    # rows sleep, so both drains are active at once, and the first to
    # finish would read the other's sink if they shared a name
    def slow(seconds):
        return F.udf(lambda k: time.sleep(seconds) or k, "bigint")

    before = views()
    frames = [
        stream().groupBy((slow(0.2)("k") % 2).alias("p")).count(),
        stream().groupBy((slow(0.5)("k") % 3).alias("p")).count(),
    ]
    with ThreadPoolExecutor(2) as pool:
        results = list(pool.map(
            lambda f: sorted(map(tuple, run_stream_to_batch(f, "same_label").collect())),
            frames,
        ))
    assert results == [[(0, 3), (1, 3)], [(0, 2), (1, 2), (2, 2)]]
    assert views() == before
    assert os.listdir(tmp) == []

    boom = F.udf(lambda k: int(f"not a number {k}"), "bigint")
    with pytest.raises(Exception, match="not a number"):
        run_stream_to_batch(stream().select(boom("k").alias("k")), "failing", "append")
    assert views() == before
    assert os.listdir(tmp) == []


def test_tws_operator_drains_in_a_session_started_before_the_shim(tmp_path):
    """A vanilla session built before any TWS query launches its JVM
    before the protobuf shim exists, so the TWS worker gets the shim only
    through sc.environment, which a Python function captures when it is
    built: the operator itself must forward it.  Runs in a fresh
    interpreter whose PYTHONPATH lacks the shim."""
    import json
    import subprocess
    import sys

    import google.protobuf

    # <shim>/google/protobuf when the runtime is the vendored one
    shim = os.path.dirname(os.path.dirname(google.protobuf.__path__[0]))
    if not os.path.isfile(os.path.join(shim, "sitecustomize.py")):
        pytest.skip("google.protobuf is installed, no shim to withhold")
    src = tmp_path / "in"
    src.mkdir()
    rows = [{"k": i % 2, "cents": i} for i in range(6)]
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in rows))
    script = f"""
import sys
sys.path.insert(0, {str(pathlib.Path(__file__).resolve().parent.parent)!r})
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[2]").getOrCreate()
from killrweather_spark.streaming.stateful import drain_tws, running_totals_by_key
stream = spark.readStream.schema("k bigint, cents bigint").json({str(src)!r})
out = drain_tws(running_totals_by_key(stream, "k", "cents"), "vanilla")
print(sorted(tuple(r) for r in out.collect()))
"""
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(p for p in paths if p != shim)}
    done = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True,
        text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert done.stdout.strip().splitlines()[-1] == "[(0, 3, 6), (1, 3, 9)]"


def test_drain_progress_collects_a_file_stream_drain(spark, tmp_path):
    """qtime's progress listener: take() returns once the drains have
    terminated, with one record per microbatch of the drains started
    since mark() (qtime keeps a query's last run this way), whose
    numInputRows sum to the input, and forgets what it returned."""
    import json
    import sys
    import threading

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1] / "scripts"))
    from qtime import DrainProgress

    src = tmp_path / "in"
    src.mkdir()
    rows = [{"k": i % 3, "cents": i} for i in range(12)]
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in rows[:5]))
    (src / "b.json").write_text("\n".join(json.dumps(r) for r in rows[5:]))
    stream = (
        spark.readStream.schema("k bigint, cents bigint")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    listener = DrainProgress()
    spark.streams.addListener(listener)
    try:
        for _ in range(2):  # each drain reads both files afresh
            listener.mark()
            run_stream_to_batch(stream.groupBy("k").count(), "progress_probe")
        taken: list = []
        t = threading.Thread(target=lambda: taken.append(listener.take()), daemon=True)
        t.start()
        t.join(60)
        assert not t.is_alive(), "take() still waiting after the drains ended"
        assert listener.take() == []
    finally:
        spark.streams.removeListener(listener)
    records = taken[0]
    assert [r["batchId"] for r in records][:2] == [0, 1]  # one batch per file
    assert sum(r["numInputRows"] for r in records) == len(rows)
