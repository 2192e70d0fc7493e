"""Changelog→snapshot merge (CDC apply) — batch upsert-with-deletes.

The reference's write path is upsert-by-primary-key into Cassandra
(``KafkaStreamingActor.scala:45`` — ``saveToCassandra`` overwrites the row
for an existing PK), so "apply the latest state per key" is the storage
engine's job there.  On a lakehouse there is no such sink: maintaining a
snapshot table from a stream of keyed changes (inserts, updates, deletes)
is an explicit MERGE, and this module is its shuffle-minimal DataFrame
form:

    new_snapshot = merge_changes(snapshot, changes, keys=..., order_by=...)

Semantics: for each key, the latest change (by ``order_by``, total order)
wins over the snapshot row; a key whose latest change is a delete
disappears; keys with no change keep their snapshot row unchanged.

Scale notes (100 TB snapshot, ~GB-scale delta batch):

- The union+rank plan below shuffles snapshot ∪ changes once on the key —
  correct at any size and ideal when the delta is a large fraction of the
  snapshot (backfills, replays).
- For small deltas the right physical strategy is partition-pruned
  rewrite: derive the distinct partition values touched by ``changes``,
  filter only those partitions of the snapshot, merge, and
  dynamic-partition-overwrite them back (see
  ``operators/incremental.py:incremental_refresh`` — the same
  watermark/overwrite contract).  ``merge_changes`` is the merge kernel
  either way; callers choose how much of the snapshot to feed it.  Both
  pruned merges of ``streaming/pipeline.py`` use it:
  ``cdc_apply_pruned_batch`` with deletes, ``upsert_into_partitions``
  without (``delete_col=None``) and clustered on its partition columns
  (``cluster_by``), so the write's one exchange serves the merge too.
- Ties are broken by the caller's ``order_by`` columns, which must form a
  total order per key (e.g. ``(ts, event_id)``) — without it, "latest"
  is nondeterministic under replay.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def merge_changes(
    snapshot: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    delete_col: str | None = "is_delete",
    cluster_by: Sequence[str] = (),
) -> DataFrame:
    """Apply a keyed changelog onto a snapshot: latest change per key wins,
    deletes drop the key, untouched keys pass through.

    ``snapshot`` must carry the key + payload columns; ``changes`` the same
    columns plus ``order_by`` ordering columns and a boolean ``delete_col``.
    The snapshot is treated as older than every change (changes are the
    delta *since* the snapshot was taken), so ordering columns on the
    snapshot side are not required to be comparable across the two inputs.
    Returns the new snapshot with the snapshot's column set.

    ``delete_col=None`` merges an upsert-only batch: ``changes`` carries no
    delete flag and every key's newest row is kept.  ``cluster_by`` (a
    subset of ``keys``) hash-partitions the union on those columns before
    ranking; that partitioning already clusters every key, so the window
    adds no exchange of its own, and the output stays clustered and sorted
    by ``cluster_by`` first, ready for a ``partitionBy(*cluster_by)`` write
    with one writer task per partition value.  The defaults leave the plan
    as it always was: one hash shuffle on the full key.
    """
    out_cols = snapshot.columns
    missing = [c for c in out_cols if c not in changes.columns]
    if missing:
        raise ValueError(f"changes is missing snapshot columns: {missing}")
    stray = [c for c in cluster_by if c not in keys]
    if stray:
        raise ValueError(f"cluster_by columns must be keys: {stray}")

    ord_types = {c: changes.schema[c].dataType for c in order_by}
    snap_flag, chg_flag = [], []
    if delete_col is not None:
        snap_flag = [F.lit(False).alias(delete_col)]
        # NULL in the delete flag means "not a delete" (an upsert), never
        # "delete": without the coalesce, ~NULL filters the rank-1 row out
        # and the key silently VANISHES as if deleted
        chg_flag = [
            F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False)).alias(
                delete_col
            )
        ]
    snap = snapshot.select(
        *out_cols,
        *snap_flag,
        F.lit(0).alias("_src"),
        *[F.lit(None).cast(ord_types[c]).alias(f"_ord_{c}") for c in order_by],
    )
    chg = changes.select(
        *out_cols,
        *chg_flag,
        F.lit(1).alias("_src"),
        *[F.col(c).alias(f"_ord_{c}") for c in order_by],
    )
    both = snap.unionByName(chg)
    if cluster_by:
        both = both.repartition(*cluster_by)
    # One hash shuffle on the key (or the cluster_by one above); rank
    # newest-first with the snapshot ranked below every change (_src ASC
    # after the DESCs puts src=0 last).
    w = Window.partitionBy(
        *cluster_by, *[k for k in keys if k not in cluster_by]
    ).orderBy(
        F.col("_src").desc(),
        *[F.col(f"_ord_{c}").desc_nulls_last() for c in order_by],
    )
    newest = F.col("_rn") == 1
    return (
        both.withColumn("_rn", F.row_number().over(w))
        .filter(newest if delete_col is None else newest & ~F.col(delete_col))
        .select(*out_cols)
    )
