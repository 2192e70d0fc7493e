"""Custom stateful streaming operators — ``applyInPandasWithState``.

The built-in stateful ops (windowed agg, dropDuplicates, session_window)
cover the reference's needs; this module is the extension point for
semantics Spark lacks, using the Arrow-batched state API
(SURVEY §2.10 / system brief: "applyInPandasWithState for custom stateful
operators").

Scale posture: state is per-group (keyed by the grouping columns), stored in
the state store (HDFS/RocksDB) — memory is bounded by (groups × state row),
never by stream length; Arrow batches bound the per-task Python transfer.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from killrweather_spark.session import scoped_conf
from killrweather_spark.streaming.pipeline import run_stream_to_batch
from killrweather_spark.streaming.protobuf_shim import enable_vendored_protobuf


def running_max_by_key(
    stream: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-key running maximum as a custom stateful operator.

    Equivalent batch semantics: ``SELECT key, MAX(value) GROUP BY key`` —
    but maintained incrementally across microbatches with explicit state
    (the pattern for any custom monoid the built-in aggs don't cover:
    t-digests, HLL sketches, decaying counters...).  Emits the key's new
    maximum whenever it changes (update-mode semantics).

    The key's output type is taken from the INPUT schema — hardcoding
    bigint broke the operator on string keys like the engine's ``wsid``.
    """
    key_type = stream.schema[key_col].dataType.simpleString()
    out_schema = f"{key_col} {key_type}, max_{value_col} double"
    state_schema = "mx double"

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        mx = state.get[0] if state.exists else None
        for pdf in pdfs:
            batch_max = float(pdf[value_col].max())
            if mx is None or batch_max > mx:
                mx = batch_max
        state.update((mx,))
        yield pd.DataFrame({key_col: [key[0]], f"max_{value_col}": [mx]})

    return stream.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_totals_by_key(
    stream: DataFrame,
    key_col: str = "user_id",
    cents_col: str = "cents",
) -> DataFrame:
    """Per-key running (count, sum) via ``transformWithStateInPandas`` —
    the Spark 4 arbitrary-state API (successor to applyInPandasWithState):
    explicit named state slots (ValueState/ListState/MapState), timers, and
    TTL live on a ``StatefulProcessor`` object instead of one opaque tuple.

    The API's state-server protocol needs ``google.protobuf`` and the
    RocksDB state store provider.  No protobuf is pip-installed in this
    container, but ``protobuf_shim.enable_vendored_protobuf`` surfaces the
    Cloud SDK's vendored pure-Python runtime to driver AND workers (a
    PYTHONPATH ``sitecustomize`` shim — a driver-side import alone leaves
    the spawned state-server worker crashing), so since round 8 the
    round-trip test RUNS end-to-end here instead of skipping.

    State here is one ValueState row per key — the running totals monoid.
    Each microbatch emits the key's updated totals (update-mode
    semantics); both components are monotone for positive inputs, so the
    drained stream folds to the batch ``COUNT/SUM GROUP BY`` answer with
    ``max`` regardless of how availableNow batched the files.

    Nulls follow that batch answer: a null key is one group of its own
    (as in Spark's ``groupBy``), ``n`` counts rows (``COUNT(*)``), and
    ``sum_cents`` skips null values (0 for a key whose values are all null).

    Map-side partial reduce (r14, guide §2.3 "aggregate before you
    shuffle"): a stateless ``mapInPandas`` collapses each scan task's
    rows to ONE ``(key, count, sum)`` row per key BEFORE the keyed
    shuffle into the stateful operator — a streaming aggregation cannot
    precede ``transformWithState`` in update mode, but a per-task fold of
    an order-free integer monoid can, and it shrinks both the shuffle and
    the Arrow volume crossing into the state worker from |events| to
    ≤ |keys|·|tasks| rows.  Sum of partials ≡ direct sum (int64), so
    every emitted row is value-identical.
    """
    _enable_state_server_protobuf(stream.sparkSession)
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    state_schema = StructType(
        [StructField("n", LongType()), StructField("s", LongType())]
    )
    out_schema = f"{key_col} bigint, n bigint, sum_cents bigint"

    def _prereduce(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: pd.DataFrame | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            # dropna=False: a null key is one group, as in Spark's groupBy;
            # "size" counts rows (a null cents value still counts in n)
            g = (
                pdf.groupby(key_col, sort=False, dropna=False)[cents_col]
                .agg(pre_n="size", pre_s="sum")
                .reset_index()
            )
            acc = g if acc is None else pd.concat([acc, g], ignore_index=True)
        if acc is not None:
            out = (
                acc.groupby(key_col, sort=False, dropna=False)[["pre_n", "pre_s"]]
                .sum()
                .reset_index()
            )
            out["pre_n"] = out["pre_n"].astype("int64")
            out["pre_s"] = out["pre_s"].astype("int64")
            yield out

    pre = stream.select(key_col, cents_col).mapInPandas(
        _prereduce, f"{key_col} bigint, pre_n bigint, pre_s bigint"
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            # ONE state read: get() returns None when the key has no
            # value, so the separate exists() probe is a redundant
            # state-server round-trip — at |keys| keys per batch that is
            # |keys| fewer protocol messages through the pure-Python
            # protobuf channel (guide §4.1: fewer boundary crossings).
            prior = self._totals.get()
            n, s = (int(prior[0]), int(prior[1])) if prior is not None else (0, 0)
            for pdf in rows:
                n += int(pdf["pre_n"].sum())
                s += int(pdf["pre_s"].sum())
            self._totals.update((n, s))
            yield pd.DataFrame(
                {key_col: [key[0]], "n": [n], "sum_cents": [s]}
            )

        def close(self) -> None:
            pass

    return pre.groupBy(key_col).transformWithStateInPandas(
        RunningTotals(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def daily_counts_by_key(
    stream: DataFrame,
    key_col: str = "user_id",
    day_col: str = "day",
) -> DataFrame:
    """Per-key per-day running event counts on ``MapState`` — the second
    ``transformWithStateInPandas`` form, exercising the state slot the
    running-totals operator doesn't: a keyed MAP (day → count) per
    grouping key, the shape of any per-entity sub-keyed accumulator
    (per-user per-day activity, per-device per-hour readings, per-doc
    per-shingle counts).  Only the days TOUCHED by the current
    microbatch are re-emitted (update-mode semantics), so emission
    volume tracks batch content, not state size.

    Batch equivalence: counts are monotone, so the drained stream folds
    to ``COUNT(*) GROUP BY key, day`` with ``max(n)`` per (key, day)
    regardless of how availableNow batched the files — the repo's
    batch-equivalence pattern.

    Scale posture: state lives in the RocksDB state store keyed by the
    grouping key with the day as the map's user key — per-key memory is
    bounded by active days, and the store's changelog checkpointing
    carries it across restarts.  ``day`` rides as a string inside the
    map key (the state-server encodes map keys as rows; a stable string
    beats engine-specific date encodings) and is cast back to DATE by
    the caller's fold.

    Map-side partial reduce was A/B'd and REJECTED here (r14): unlike
    the totals/distinct operators (667×/167× row reduction), the touched
    (key, day) cell count tracks the event count at this data shape
    (~0.4 cells per event at both SFs), so the extra full Arrow crossing
    through a pre-reduce worker cost more than the shuffle rows it saved
    (sf1 addBatch 13.0 s → 18.1 s with the pre-reduce).
    """
    _enable_state_server_protobuf(stream.sparkSession)
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = f"{key_col} bigint, {day_col} string, n bigint"

    class DailyCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState(
                "counts", "day string", "n bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            touched: dict[str, int] = {}
            for pdf in rows:
                for day, cnt in pdf[day_col].value_counts().items():
                    touched[str(day)] = touched.get(str(day), 0) + int(cnt)
            # Prior counts for the touched days.  Each getValue is one
            # state-server round-trip (pure-Python protobuf both ways),
            # so a batch touching many days per key pays 2·|days| trips;
            # iterator() streams the key's WHOLE map in paged fetches.
            # Pick whichever moves fewer messages: bulk scan when the
            # batch touches many days (bulk arrival/backfill — the
            # availableNow drain), point reads when it touches few
            # (steady-state triggers, where the map holds history the
            # batch doesn't need).  Same values either way.
            if len(touched) >= 4:
                prior = {
                    k[0]: int(v[0]) for k, v in self._counts.iterator()
                }
            else:
                prior = {}
                for day in touched:
                    prev = self._counts.getValue((day,))
                    if prev is not None:
                        prior[day] = int(prev[0])
            out_days, out_ns = [], []
            for day, add in sorted(touched.items()):
                n = prior.get(day, 0) + add
                self._counts.updateValue((day,), (n,))
                out_days.append(day)
                out_ns.append(n)
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(out_days),
                    day_col: out_days,
                    "n": out_ns,
                }
            )

        def close(self) -> None:
            pass

    return stream.groupBy(key_col).transformWithStateInPandas(
        DailyCounts(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def distinct_values_by_key(
    stream: DataFrame,
    key_col: str = "user_id",
    value_col: str = "event_type",
) -> DataFrame:
    """Per-key distinct-value set on ``ListState`` — the third
    ``transformWithStateInPandas`` state slot (ValueState: running
    totals; MapState: daily counts; here a LIST holding the set's
    members), the shape of any per-entity accumulated collection
    (seen event types, visited pages, contacted hosts).  Each batch
    unions the arriving values into the stored list and re-emits the
    key's full sorted set: ``(key, n_values, values)`` with ``values``
    comma-joined — the set only grows, so the drained stream folds to
    the batch ``COUNT(DISTINCT)/sorted set`` with ``max`` semantics.

    Scale posture: per-key state is bounded by the value-domain
    cardinality (event types, not events); emission re-sends a key's
    set only on batches that touch the key.  For unbounded domains the
    production variant swaps the exact list for a sketch (HLL/CMS) in
    the same ValueState slot — the operator shape is identical.

    Map-side partial reduce (r14, guide §2.3): a stateless
    ``mapInPandas`` dedups each scan task's rows to DISTINCT
    ``(key, value)`` pairs before the keyed shuffle — set union is
    idempotent, so dedup-of-dedup ≡ dedup and every emission is
    value-identical while the shuffle and Arrow volume drop from
    |events| to ≤ |key·value domain| · |tasks| rows.
    """
    _enable_state_server_protobuf(stream.sparkSession)
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = f"{key_col} bigint, n_values bigint, values string"

    def _prereduce(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: pd.DataFrame | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            g = pdf[[key_col, value_col]].drop_duplicates()
            acc = g if acc is None else pd.concat([acc, g], ignore_index=True)
        if acc is not None:
            yield acc.drop_duplicates()

    pre = stream.select(key_col, value_col).mapInPandas(
        _prereduce, f"{key_col} bigint, {value_col} string"
    )

    class DistinctValues(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._seen = handle.getListState("seen", "v string")

        def handleInputRows(self, key, rows, timerValues):
            # No exists() probe: iterating get() on an absent list ends
            # immediately (the state server signals end-of-iterator), so
            # the extra round-trip bought nothing (guide §4.1).
            seen = {t[0] for t in self._seen.get()}
            for pdf in rows:
                seen.update(str(v) for v in pdf[value_col].unique())
            ordered = sorted(seen)
            self._seen.put([(v,) for v in ordered])
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n_values": [len(ordered)],
                    "values": [",".join(ordered)],
                }
            )

        def close(self) -> None:
            pass

    return pre.groupBy(key_col).transformWithStateInPandas(
        DistinctValues(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def totals_with_idle_flush(
    stream: DataFrame,
    key_col: str = "user_id",
    cents_col: str = "cents",
    idle_ms: int = 0,
) -> DataFrame:
    """Running totals + PROCESSING-TIME TIMERS — the last
    ``transformWithStateInPandas`` capability the other operators don't
    exercise: ``handle.registerTimer`` / ``handleExpiredTimer``, the
    session-flush/TTL-eviction primitive (emit-and-forget a key that has
    gone idle, close a session on silence, expire a cache entry).

    Each batch updates the key's ValueState totals, emits the running
    row (``flushed=false``), and re-arms a processing-time timer
    ``idle_ms`` past the batch's processing time.  Spark fires EVERY
    expired timer during the next microbatch — keys with and without
    fresh input alike (measured; a production ``idle_ms`` is set well
    past the batch interval so an active key's re-arm outruns its
    expiry): ``handleExpiredTimer`` emits the key's totals marked
    ``flushed=true`` and CLEARS the state — the idle-session flush,
    pinned in tests with disjoint idle/active key sets so no assertion
    rides on intra-batch input/timer ordering.

    Scale posture: timers live in the state store next to the state row
    (one per key), fire in the batch loop without a corpus scan, and the
    flush CLEARS state — the mechanism that keeps total state bounded by
    ACTIVE keys instead of all keys ever seen.
    """
    _enable_state_server_protobuf(stream.sparkSession)
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    state_schema = StructType(
        [StructField("n", LongType()), StructField("s", LongType())]
    )
    out_schema = (
        f"{key_col} bigint, n bigint, sum_cents bigint, flushed boolean"
    )

    class IdleFlushTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._totals = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            # get() returns None when absent — no separate exists() trip
            prior = self._totals.get()
            n, s = (int(prior[0]), int(prior[1])) if prior is not None else (0, 0)
            for pdf in rows:
                n += len(pdf)
                s += int(pdf[cents_col].sum())
            self._totals.update((n, s))
            # re-arm: one live timer per key (old ones are superseded —
            # deleteTimer keeps the store to a single registration)
            for t in self._handle.listTimers():
                self._handle.deleteTimer(t)
            self._handle.registerTimer(
                timerValues.getCurrentProcessingTimeInMs() + idle_ms
            )
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n": [n],
                    "sum_cents": [s],
                    "flushed": [False],
                }
            )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            prior = self._totals.get()
            if prior is not None:
                n, s = prior
                self._totals.clear()
                yield pd.DataFrame(
                    {
                        key_col: [key[0]],
                        "n": [int(n)],
                        "sum_cents": [int(s)],
                        "flushed": [True],
                    }
                )

        def close(self) -> None:
            pass

    return stream.groupBy(key_col).transformWithStateInPandas(
        IdleFlushTotals(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="ProcessingTime",
    )


def eventtime_session_finalize(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    cents_col: str = "cents",
    gap_seconds: int = 600,
) -> DataFrame:
    """Watermark-driven session finalization — ``transformWithState`` in
    its THIRD time mode (``EventTime``; ``None`` and ``ProcessingTime``
    are covered by the totals/flush operators): per key, accumulate
    (count, sum, max event time) and keep ONE event-time timer armed at
    ``max_ts + gap``.  When the WATERMARK — driven by the data, not the
    wall clock — passes that point, the session provably cannot extend
    (later rows would be late beyond the watermark), so the timer fires:
    the final totals emit with ``closed=true`` and the state clears.
    This is the custom-logic form of ``session_window`` aggregation —
    the shape to reach for when the per-session result is not a built-in
    aggregate (model state, decayed counters, a sketch).

    The caller must put a watermark on ``ts_col`` BEFORE this operator
    (``stream.withWatermark(ts_col, ...)``); event-time timers fire on
    watermark advancement, which availableNow batching drives
    deterministically from the data's own timestamps.

    Scale posture: one ValueState row + one timer per key; timers fire
    in the batch loop without scans, and closing clears state — bounded
    by OPEN sessions, not history.
    """
    _enable_state_server_protobuf(stream.sparkSession)
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s", LongType()),
            StructField("max_ms", LongType()),
        ]
    )
    out_schema = (
        f"{key_col} bigint, n bigint, sum_cents bigint, closed boolean"
    )
    gap_ms = gap_seconds * 1000

    class SessionFinalize(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._acc = handle.getValueState("acc", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            # get() returns None when absent — no separate exists() trip
            prior = self._acc.get()
            n, s, mx = (
                (int(prior[0]), int(prior[1]), int(prior[2]))
                if prior is not None
                else (0, 0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                s += int(pdf[cents_col].sum())
                batch_mx = int(
                    pd.to_datetime(pdf[ts_col]).astype("int64").max()
                    // 1_000_000
                )
                mx = max(mx, batch_mx)
            self._acc.update((n, s, mx))
            for t in self._handle.listTimers():
                self._handle.deleteTimer(t)
            self._handle.registerTimer(mx + gap_ms)
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n": [n],
                    "sum_cents": [s],
                    "closed": [False],
                }
            )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            prior = self._acc.get()
            if prior is not None:
                n, s, _mx = prior
                self._acc.clear()
                yield pd.DataFrame(
                    {
                        key_col: [key[0]],
                        "n": [int(n)],
                        "sum_cents": [int(s)],
                        "closed": [True],
                    }
                )

        def close(self) -> None:
            pass

    return stream.groupBy(key_col).transformWithStateInPandas(
        SessionFinalize(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="EventTime",
    )


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _enable_state_server_protobuf(spark: SparkSession) -> None:
    """Make ``google.protobuf`` reachable by the workers of the
    ``transformWithStateInPandas`` operator about to be built: enable the
    vendored runtime (raising when none works) and forward its
    ``PYTHONPATH`` to ``sc.environment``.  It must run before the operator
    is built, because a Python function captures ``sc.environment`` when
    it is created."""
    status, detail = enable_vendored_protobuf()
    if status in ("failed", "absent"):
        raise RuntimeError(
            "transformWithStateInPandas needs google.protobuf:"
            f" {status} ({detail})"
        )
    if status == "vendored":
        # The state-server worker is spawned by the JVM, whose env
        # snapshot predates the shim when the session was built
        # before this query (a vanilla session built by the caller).
        # sc.environment rides the Python-function envVars into the
        # worker spawn, so set it too — verified to reach the
        # worker even on an already-running JVM.
        spark.sparkContext.environment["PYTHONPATH"] = os.environ["PYTHONPATH"]


def drain_tws(frame: DataFrame, query_name: str) -> DataFrame:
    """Drain a bounded ``transformWithStateInPandas`` stream in update mode
    on the RocksDB state store, at the stateful width below, and return the
    emitted rows as a batch DataFrame; both settings are restored
    afterwards.  The operators in this module enable the protobuf runtime
    the state-server protocol needs when they are built."""
    spark = frame.sparkSession
    # The stateful stage's cost is per-key state-server ROUND TRIPS
    # (latency-bound Python protocol), so its width must not follow
    # the session's size-derived shuffle width down on small inputs
    # (width 4 at sf0.1: 7.5 s best-of-2 vs 4.4 s at 16) — but it
    # must KEEP GROWING with data, because the trip count tracks
    # touched state cells (width 16 at sf1: the 400 k-trip
    # daily_counts drain doubled, 13.5 -> 27 s isolated).  Floor at
    # half the task slots, scale as twice the data-derived width
    # (state volume tracks input size).  Set for the stream build,
    # restored after — batch neighbors keep the size-derived width.
    part_key = "spark.sql.shuffle.partitions"
    width = max(
        2 * int(spark.conf.get(part_key, None) or 0),
        spark.sparkContext.defaultParallelism // 2,
    )
    conf = {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
        part_key: str(width),
    }
    with scoped_conf(spark, conf):
        return run_stream_to_batch(frame, query_name, "update")
