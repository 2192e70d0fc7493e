"""Trained-centroid IVF ANN index: build once on disk, probe many times.

The production ANN serving shape the placeholder-centroid operators
(``similarity.py:ivf_cells`` — centroids = smallest ids) stand in for:
train real centroids with a few deterministic Lloyd iterations, persist
the index as partitioned tables, and answer queries by reading ONLY the
probed partitions.  Composes the kmeans machinery with the IVF probe —
the round-6 verdict's "natural composition".

Index layout (``build_ivf_index``), all integer, all deterministic:

- ``centroids/``  — (cell, pos, c): the trained centroid components
  (floor-mean of ×10⁶-quantized member components, the kmeans sign-safe
  form) from the FINAL M-step; n_centroids · dims rows, broadcast-sized.
- ``inverted/``   — (cell, vec_id, pos, q): every corpus vector's
  quantized components, PARTITIONED BY its trained cell — the IVF
  inverted lists.  At 100 TB this partitioning is the whole point: a
  probe reads ``n_probe / n_centroids`` of the data and Spark's
  partition pruning (literal ``cell IN (...)`` from the driver-side
  probe list) does the skipping — visible as PartitionFilters in the
  scan, pinned in tests.
- ``norms/``      — (cell, vec_id, norm2): per-vector squared norms,
  same partitioning, so the rescore never touches unprobed cells.
- ``vectors/``    — (cell, vec_id, qv, norm2): the same quantized
  components in ARRAY form, one row per vector, same partitioning — the
  pair-scan layout (SemDeDup over trained cells ships whole vectors
  through the per-cell self-join as int32 arrays instead of exploding
  per-component rows).

Training determinism: initial cells are ``vec_id % n_centroids`` (no
RNG); each Lloyd iteration is an integer M-step (floor-mean centroids)
plus an integer E-step (exact squared-L2 argmin, ties to the smallest
cell) — so a rebuild, a rerun, and the DuckDB oracle (which replays the
iterations relationally, no disk) all produce byte-identical indexes and
answers.  Assignment AND probe ranking both use squared-L2 to the
centroid (one metric end-to-end); the returned scores are exact
quantized cosines, the ANN family contract.

Probe scale shape: centroids broadcast; the query set is small by the
serving premise, so its probe list (n_queries · n_probe cells) is a
BOUNDED driver-side collect (documented — it is what makes the pruning
literal and plan-visible); the candidate (query, neighbor) aggregation
shuffles only probed-cell rows.  No corpus-sized exchange at probe time
(plan-pinned).

Reference parity note: the reference keeps no ANN surface (weather keys
are exact); this extends SURVEY §2's beyond-reference similarity family.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from killrweather_spark.functions.similarity import (
    cosine_norms,
    quantized_components,
)
from killrweather_spark.plans.caching import persist_once
from killrweather_spark.functions.sqlutil import qualify_pred

IVF_MAX_PROBE_CELLS = 1024  # probe-list collect bound: n_queries · n_probe


def _centroids_from(comp: DataFrame, labels: DataFrame) -> DataFrame:
    """M-step: (cell, pos, c) floor-mean centroids of the ×10⁶ quantized
    components, in the sign-safe floor form shared with kmeans_assign_step
    so DuckDB replays it exactly."""
    return (
        comp.join(labels, "vec_id")
        .groupBy("cell", "pos")
        .agg(
            F.sum("q").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "cell",
            "pos",
            F.expr("(s - ((s % n + n) % n)) div n").cast("bigint").alias("c"),
        )
    )


def _assign(comp: DataFrame, cents: DataFrame) -> DataFrame:
    """E-step: (vec_id, cell) — exact int64 squared-L2 argmin over the
    broadcast centroid set, ties to the smallest cell."""
    d2 = (
        comp.join(F.broadcast(cents), "pos")
        .groupBy("vec_id", "cell")
        .agg(
            F.sum((F.col("q") - F.col("c")) * (F.col("q") - F.col("c")))
            .alias("d2")
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("cell").asc())
    return (
        d2.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "cell")
    )


def build_ivf_index(
    df: DataFrame,
    index_dir: str,
    n_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train the centroids (``iters`` Lloyd steps from the vec_id % k
    init) and write the three index tables.  Build is atomic AND
    concurrent-safe: tables land in a builder-unique
    ``<index_dir>.tmp.<nonce>`` and the directory is renamed into place,
    so a killed build never leaves a half-index a probe could read, and
    two processes racing to build the same (deterministic) index never
    write into each other's staging dir — the loser discards its copy
    and uses the winner's byte-identical result (:func:`_staged`)."""
    with _staged(index_dir) as tmp:
        comp = (
            quantized_components(df, id_col, vec_col)
            .withColumnRenamed(id_col, "vec_id")
            .transform(persist_once)
        )
        labels = df.select(
            F.col(id_col).alias("vec_id"),
            (F.col(id_col) % n_centroids).cast("bigint").alias("cell"),
        )
        cents = None
        for _ in range(iters):
            # each round's labels feed one M-step and (transitively) the rest
            # of the chain — 2·dims·n_centroids-row state, checkpoint-free
            # because the chain is short (iters is small by design; raise it
            # with the kmeans_iterate checkpoint policy if that changes)
            cents = _centroids_from(comp, labels)
            labels = _assign(comp, cents)
        nrm = cosine_norms(comp, "vec_id")
        _write_cells(comp, labels, ("pos", "q"), tmp, "inverted", "overwrite")
        _write_cells(nrm, labels, ("norm2",), tmp, "norms", "overwrite")
        cents.write.mode("overwrite").parquet(os.path.join(tmp, "centroids"))
        _write_cells(
            _int_vectors(df, id_col, vec_col),
            labels,
            ("qv", "norm2"),
            tmp,
            "vectors",
            "overwrite",
        )
        # PQ side of the index (the IVFADC layout): per-subspace codebooks
        # (dim·ks rows — the broadcast artifact) and every vector's M code
        # ids PARTITIONED BY its trained IVF cell, so an ADC probe reads
        # n_probe cells of the COMPRESSED representation — at production
        # dims the codes are ~512× smaller than the vectors they stand for.
        from killrweather_spark.functions.pq import _train as _pq_train

        _, pqcents, pqcodes = _pq_train(df, id_col=id_col, vec_col=vec_col)
        # a codebook is a few hundred rows: one file, as ``centroids`` lands,
        # not one per shuffle partition for every probe to open
        pqcents.coalesce(1).write.mode("overwrite").parquet(os.path.join(tmp, "pqcents"))
        _write_cells(
            pqcodes, labels, ("sub", "code"), tmp, "pqcodes", "overwrite"
        )
        # residual-encoded PQ (classic IVFADC): codebooks trained on
        # v − m_cell so the codes describe the within-cell spread; an ADC
        # probe adds dot(q, m_cell) back as a per-(query, cell) scalar
        from killrweather_spark.functions.pq import (
            _train_residual as _pq_train_residual,
        )

        pqrcents, pqrcodes = _pq_train_residual(
            df, labels, cents, id_col=id_col, vec_col=vec_col
        )
        pqrcents.coalesce(1).write.mode("overwrite").parquet(os.path.join(tmp, "pqrcents"))
        _write_cells(
            pqrcodes, labels, ("sub", "code"), tmp, "pqrcodes", "overwrite"
        )
        with open(os.path.join(tmp, "_meta.json"), "w") as f:
            json.dump(_index_params(n_centroids, iters), f)


def _int_vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vec_id, qv, norm2): the array-form member table for pair scans
    (SemDeDup over trained cells) — same ×10⁶ quantization as
    ``inverted``, one row per vector, norm2 inline (0 rows kept —
    readers filter), int32 components (|q| ≤ ~10⁶) so the per-cell
    pair shuffle carries half the bytes."""
    qv = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * 1_000_000).cast("int"),
    )
    return df.select(F.col(id_col).alias("vec_id"), qv.alias("qv")).withColumn(
        "norm2",
        F.aggregate(
            F.col("qv"),
            F.lit(0).cast("bigint"),
            lambda s, x: s + x.cast("bigint") * x,
        ),
    )


def _write_cells(
    rows: DataFrame, labels: DataFrame, cols, root: str, table: str, mode: str
) -> None:
    """Write ``rows`` (keyed by ``vec_id``) tagged with their trained
    cell from ``labels`` as the cell-partitioned ``table`` under
    ``root``: columns cell, vec_id, then ``cols``."""
    rows.join(labels, "vec_id").select("cell", "vec_id", *cols).write.mode(
        mode
    ).partitionBy("cell").parquet(os.path.join(root, table))


@contextlib.contextmanager
def _staged(out_dir: str, copy_of: str | None = None):
    """Atomic, concurrent-safe publish of an index directory: yields a
    writer-unique staging dir ``<out_dir>.tmp.<nonce>`` (a copy of
    ``copy_of`` when given) and renames it into place when the block
    completes, so a reader never sees a half-written ``out_dir``.  A
    block that raises removes its staging dir (retries must not stack
    one full-index copy per attempt).  Every output is deterministic,
    so a writer that loses the rename to a concurrent one drops its
    copy and uses the winner's byte-identical result."""
    tmp = f"{out_dir}.tmp.{uuid.uuid4().hex[:12]}"
    if copy_of is not None:
        shutil.copytree(copy_of, tmp)
    try:
        yield tmp
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, out_dir)
    except OSError:
        if os.path.isdir(out_dir):
            shutil.rmtree(tmp)
        else:
            raise


def _ensure_fresh(out_dir: str, marker: str, fresh, build) -> str:
    """Build-once gate of a derived index: ``out_dir`` is kept when its
    completion ``marker`` and its ``_meta.json`` both read back and
    ``fresh(marker_json, meta_json)`` holds; otherwise whatever is there
    is removed and ``build()`` runs.  A half-written dir never carries
    the marker, because every output is published by :func:`_staged`."""
    try:
        with open(os.path.join(out_dir, marker)) as f:
            mark = json.load(f)
        with open(os.path.join(out_dir, "_meta.json")) as f:
            ok = fresh(mark, json.load(f))
    except (OSError, ValueError):
        ok = False  # absent, half-written, or pre-params layout
    if not ok:
        if os.path.isdir(out_dir):
            shutil.rmtree(out_dir)
        build()
    return out_dir


# Version of the index's on-disk layout: bump it with any change to what
# build_ivf_index writes (tables, columns, file layout), so an index
# written by older code is rebuilt instead of read.
# 2: the PQ codebooks are one parquet file each.
INDEX_LAYOUT = 2


def _index_params(n_centroids: int, iters: int) -> dict:
    """The build parameters baked into an index's tables.  Stored as
    ``_meta.json`` and compared by :func:`ensure_ivf_index`: the corpus
    fingerprint in the path catches DATA drift, this catches PARAMETER
    drift — e.g. a PQ geometry bump would otherwise leave every existing
    index silently serving stale codebooks — and LAYOUT drift
    (``INDEX_LAYOUT``): an index directory outlives the code that wrote
    it."""
    from killrweather_spark.functions.pq import PQ_ITERS, PQ_KS, PQ_M

    return {
        "layout": INDEX_LAYOUT,
        "n_centroids": n_centroids,
        "iters": iters,
        "pq_m": PQ_M,
        "pq_ks": PQ_KS,
        "pq_iters": PQ_ITERS,
    }


def ensure_ivf_index(
    df: DataFrame,
    index_dir: str,
    n_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Build-once gate: train + write only when the index directory is
    absent.  Presence is a valid staleness signal ONLY when the caller
    keys ``index_dir`` by corpus identity — pass a path that embeds a
    corpus fingerprint/snapshot id (the registry's ``_ivf_index_dir``
    hashes the embeddings parquet's file sizes + mtimes into the path),
    so a regenerated or renamed corpus rebuilds instead of probing a
    stale index.  Completeness-checked per table: an index built by an
    older layout (missing a newer table, e.g. ``vectors``) rebuilds
    whole rather than failing the first reader."""
    required = (
        "inverted",
        "norms",
        "centroids",
        "vectors",
        "pqcents",
        "pqcodes",
        "pqrcents",
        "pqrcodes",
    )
    complete = all(
        os.path.isdir(os.path.join(index_dir, t)) for t in required
    )
    if complete:
        try:
            with open(os.path.join(index_dir, "_meta.json")) as f:
                complete = json.load(f) == _index_params(n_centroids, iters)
        except (OSError, ValueError):
            complete = False  # pre-meta layout — rebuild
    if not complete:
        if os.path.isdir(index_dir):
            shutil.rmtree(index_dir)
        build_ivf_index(df, index_dir, n_centroids, iters, id_col, vec_col)
    return index_dir


def upsert_ivf_index(
    base_index_dir: str,
    new_df: DataFrame,
    out_index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Grow a trained index WITHOUT retraining — the production
    ingestion path a build-once/probe-many deployment actually runs
    when the corpus grows: centroids and PQ/residual codebooks are
    FROZEN (retraining would invalidate every stored code and force a
    full re-encode of 100 TB of codes for a 1% corpus delta); the new
    batch is assigned to its nearest trained cells (the same exact
    int64 E-step as the build), encoded against the existing codebooks,
    and appended to the cell-partitioned tables.

    Copy-on-write for replayability: the upserted index lands at
    ``out_index_dir`` (base tables copied, new rows appended into the
    same cell partitions) and the base index is never touched — at
    production scale the copy is a metadata operation (hard links /
    snapshot) or the append lands in place; the toy-scale copytree
    keeps the registry query idempotent under re-runs
    (:func:`ensure_upserted_index` gates on ``_upsert_meta.json``).
    Appends are cell-partitioned parquet writes: each new file joins
    its cell's directory, so probe-side partition pruning is unchanged
    and nothing existing is rewritten.

    Drift caveat, stated: frozen centroids mean new vectors land in
    the nearest EXISTING cell even if the corpus distribution moved;
    the deployment-side answer is monitoring cell-size skew and
    scheduling a retrain+re-encode when it degrades (the curve
    ``ivf_probe_depth_curve`` measures), not silently retraining here.
    """
    with _staged(out_index_dir, copy_of=base_index_dir) as tmp:
        _upsert_into(
            new_df.sparkSession, base_index_dir, tmp, new_df, id_col, vec_col
        )
    return out_index_dir


def _upsert_into(
    spark: SparkSession,
    base_index_dir: str,
    tmp: str,
    new_df: DataFrame,
    id_col: str,
    vec_col: str,
) -> None:
    """Append ``new_df``'s assignments/codes into the staged copy at
    ``tmp`` (all-or-nothing: the caller renames ``tmp`` into place on
    success and removes it on any failure)."""
    cents = spark.read.parquet(os.path.join(base_index_dir, "centroids"))
    comp = (
        quantized_components(new_df, id_col, vec_col)
        .withColumnRenamed(id_col, "vec_id")
        .transform(persist_once)
    )
    labels = _assign(comp, cents).transform(persist_once)
    nrm = cosine_norms(comp, "vec_id")
    _write_cells(comp, labels, ("pos", "q"), tmp, "inverted", "append")
    _write_cells(nrm, labels, ("norm2",), tmp, "norms", "append")
    _write_cells(
        _int_vectors(new_df, id_col, vec_col),
        labels,
        ("qv", "norm2"),
        tmp,
        "vectors",
        "append",
    )
    # PQ codes for the new batch under the FROZEN codebooks: the plain
    # E-step (exact int64 argmin, ties smallest code) — no M-step runs
    from killrweather_spark.functions.pq import (
        _pq_estep,
        _sub_components,
    )

    pqcents = spark.read.parquet(os.path.join(base_index_dir, "pqcents"))
    scomp = persist_once(_sub_components(new_df, id_col, vec_col))
    _write_cells(
        _pq_estep(scomp, pqcents), labels, ("sub", "code"), tmp, "pqcodes",
        "append",
    )
    # residual codes: r = v − m_cell against the frozen residual books
    pqrcents = spark.read.parquet(os.path.join(base_index_dir, "pqrcents"))
    rcomp = (
        scomp.join(labels, "vec_id")
        .join(F.broadcast(cents), ["cell", "pos"])
        .select("vec_id", "sub", "pos", (F.col("q") - F.col("c")).alias("q"))
    )
    _write_cells(
        _pq_estep(rcomp, pqrcents), labels, ("sub", "code"), tmp,
        "pqrcodes", "append",
    )
    # Record WHICH geometry this upsert was encoded under (the copied
    # base _meta.json), so the gate can detect a PQ/centroid-geometry
    # bump that rebuilt the base but left a stale upserted index at the
    # same fingerprint-keyed path.
    base_params = None
    try:
        with open(os.path.join(base_index_dir, "_meta.json")) as f:
            base_params = json.load(f)
    except (OSError, ValueError):
        pass
    with open(os.path.join(tmp, "_upsert_meta.json"), "w") as f:
        json.dump(
            {
                "base": os.path.basename(base_index_dir),
                "base_params": base_params,
            },
            f,
        )


def ensure_upserted_index(
    base_index_dir: str,
    new_df: DataFrame,
    out_index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    iters: int = 2,
) -> str:
    """Build-once gate for :func:`upsert_ivf_index`: the upserted index
    is derived deterministically from (base index, new batch), so —
    like :func:`ensure_ivf_index` — presence of a complete output at a
    content-keyed path means byte-equivalent tables and the upsert is
    skipped.  Callers key ``out_index_dir`` by the same corpus
    fingerprint discipline as the base (`_ivf_index_dir` + a batch
    suffix); ``_upsert_meta.json`` marks a COMPLETED upsert — a
    half-written directory never carries it because the staging dir is
    renamed into place atomically.

    Staleness mirrors :func:`ensure_ivf_index`: presence alone is not
    enough — the copied ``_meta.json`` AND the recorded base params in
    ``_upsert_meta.json`` must both match the CURRENT geometry
    (``n_centroids``/``iters`` + module PQ constants).  Without this, a
    PQ-geometry bump rebuilds the base index but keeps serving a stale
    upserted index (codes under the old codebooks) at the same
    fingerprint-keyed path."""
    want = _index_params(n_centroids, iters)
    return _ensure_fresh(
        out_index_dir,
        "_upsert_meta.json",
        lambda mark, meta: meta == want and mark.get("base_params") == want,
        lambda: upsert_ivf_index(
            base_index_dir, new_df, out_index_dir, id_col, vec_col
        ),
    )


#: The index tables partitioned by trained cell — the tables delete and
#: upsert touch; the frozen training artifacts (centroids, pqcents,
#: pqrcents) are never rewritten by lifecycle operations.
CELL_TABLES = ("inverted", "norms", "vectors", "pqcodes", "pqrcodes")


def delete_from_ivf_index(
    base_index_dir: str,
    delete_ids: DataFrame,
    out_index_dir: str,
    id_col: str = "vec_id",
) -> str:
    """Remove vector ids from a trained index WITHOUT retraining — the
    third leg of the index lifecycle (build / upsert / delete).  The
    natural producer of the tombstone set is deduplication
    (``semdedup_keep``'s drop set): the curation pipeline decides a
    vector is redundant, and the serving index must stop surfacing it.

    Compaction discipline (the ``start_cdc_apply_pruned`` rule applied
    to the index artifact): ONLY the cell partitions that actually
    contain a tombstoned id are rewritten — survivors of a touched cell
    are compacted into a single file per cell (an upserted cell holds
    base + appended files; the rewrite folds them) — and every untouched
    cell's files are byte-identical to the base copy (pinned by test).
    Centroids and PQ codebooks are frozen: deletion never changes the
    trained geometry, only membership, so stored codes stay valid and
    probe-side partition pruning is unchanged.

    Copy-on-write + atomic like :func:`upsert_ivf_index`: the output
    lands in a staging dir renamed into place; a failure mid-rewrite
    removes the staging copy.  The touched-cell list is a bounded
    driver-side collect (≤ n_centroids rows — same discipline as the
    probe-list collect).

    At 100 TB the copy is a snapshot/hardlink metadata operation and the
    rewrite cost is proportional to the TOUCHED cells only — a delete of
    0.1% of ids scattered across all cells rewrites everything (that is
    inherent to tombstone-free physical deletion; a production variant
    would batch tombstones per cell and compact on a threshold), but the
    dedup-driven case deletes clustered near-duplicates, which land in
    few cells by construction."""
    spark = delete_ids.sparkSession
    dels = persist_once(
        delete_ids.select(F.col(id_col).alias("vec_id")).distinct()
    )
    # membership table with one row per vector — the cheapest way to map
    # tombstones to their cells
    vecs = spark.read.parquet(os.path.join(base_index_dir, "vectors"))
    cells = sorted(
        r["cell"]
        for r in vecs.join(dels, "vec_id")
        .select("cell")
        .distinct()
        .collect()
    )
    with _staged(out_index_dir, copy_of=base_index_dir) as tmp:
        for tbl in CELL_TABLES:
            src = spark.read.parquet(
                os.path.join(base_index_dir, tbl)
            ).filter(F.col("cell").isin([int(c) for c in cells]))
            kept = src.join(dels, "vec_id", "left_anti")
            for c in cells:
                d = os.path.join(tmp, tbl, f"cell={c}")
                if os.path.isdir(d):
                    shutil.rmtree(d)
            if cells:
                kept.repartition(len(cells), "cell").write.mode(
                    "append"
                ).partitionBy("cell").parquet(os.path.join(tmp, tbl))
        base_params = None
        try:
            with open(os.path.join(base_index_dir, "_meta.json")) as f:
                base_params = json.load(f)
        except (OSError, ValueError):
            pass
        with open(os.path.join(tmp, "_delete_meta.json"), "w") as f:
            json.dump(
                {
                    "base": os.path.basename(base_index_dir),
                    "base_params": base_params,
                    "cells_rewritten": [int(c) for c in cells],
                },
                f,
            )
    return out_index_dir


def ensure_deleted_index(
    base_index_dir: str,
    delete_ids: DataFrame,
    out_index_dir: str,
    id_col: str = "vec_id",
    n_centroids: int = 8,
    iters: int = 2,
) -> str:
    """Build-once gate for :func:`delete_from_ivf_index`, mirroring
    :func:`ensure_upserted_index`: the deleted index is a deterministic
    function of (base index, tombstone set), so a COMPLETED output at a
    content-keyed path is reused — and presence alone is not enough: the
    copied ``_meta.json`` AND the recorded base params must match the
    current geometry, so a PQ/centroid bump rebuilds instead of serving
    stale codes."""
    want = _index_params(n_centroids, iters)
    return _ensure_fresh(
        out_index_dir,
        "_delete_meta.json",
        lambda mark, meta: meta == want and mark.get("base_params") == want,
        lambda: delete_from_ivf_index(
            base_index_dir, delete_ids, out_index_dir, id_col
        ),
    )


def bootstrap_stream_index(
    base_index_dir: str,
    out_index_dir: str,
    n_centroids: int | None = None,
    iters: int | None = None,
) -> str:
    """Copy-on-write bootstrap of a LIVE index a stream upserts into:
    the base tables are copied once (atomic staging + rename, same as
    every lifecycle op) and ``_stream_meta.json`` marks a completed
    bootstrap — a half-copied dir never carries it and is rebuilt.

    Staleness mirrors :func:`ensure_upserted_index` /
    :func:`ensure_deleted_index`: a completed bootstrap is served only if
    its recorded ``base_params`` still equal the CURRENT base index's
    ``_meta.json`` (so a retrained/geometry-bumped base re-bootstraps
    instead of the live stream index keeping codes under stale
    codebooks), and — when the caller passes ``n_centroids``/``iters`` —
    also equal ``_index_params`` for that geometry (the explicit-geometry
    form the other lifecycle gates use)."""
    cur_base = None
    try:
        with open(os.path.join(base_index_dir, "_meta.json")) as f:
            cur_base = json.load(f)
    except (OSError, ValueError):
        pass
    try:
        with open(os.path.join(out_index_dir, "_stream_meta.json")) as f:
            smeta = json.load(f)
        fresh = smeta.get("base_params") == cur_base
        if n_centroids is not None and iters is not None:
            fresh = fresh and (
                smeta.get("base_params")
                == _index_params(n_centroids, iters)
            )
    except (OSError, ValueError):
        fresh = False  # absent, half-copied, or pre-params layout
    if fresh:
        return out_index_dir
    if os.path.isdir(out_index_dir):
        shutil.rmtree(out_index_dir)
    with _staged(out_index_dir, copy_of=base_index_dir) as tmp:
        with open(os.path.join(tmp, "_stream_meta.json"), "w") as f:
            json.dump(
                {
                    "base": os.path.basename(base_index_dir),
                    "base_params": cur_base,
                },
                f,
            )
    return out_index_dir


def apply_index_upsert_batch(
    batch_df: DataFrame,
    batch_id: int,
    base_index_dir: str,
    out_index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """``foreachBatch`` body of the ONLINE index upsert — the streaming
    form of :func:`upsert_ivf_index`, i.e. the reference's keyed-upsert
    stream-sink semantics (KafkaStreamingActor.scala:45, each arrival
    upserted into the keyed store) applied to the index artifact: every
    micro-batch is E-step-assigned against the FROZEN centroids, encoded
    against the frozen codebooks, and appended into the live index's
    cell partitions — arrivals become probe-visible at batch commit.

    Exactly-once across restarts, the engine's replay discipline
    (streaming/pipeline.py T7): a batch is committed by its marker file
    (``_stream_batches/b<id>.json``, written LAST via atomic replace);
    a replayed batch with a marker is skipped outright, and a replay of
    a CRASHED batch (files moved, no marker) first scrubs every live
    file carrying this batch's name prefix, then re-applies — appends
    are therefore idempotent per batch id, never doubled.

    The batch's rows are staged by :func:`_upsert_into` into a hidden
    delta dir and MOVED into the cell partitions file-by-file (rename,
    not rewrite): per-batch cost is proportional to the batch, existing
    files are never touched, and probe-side partition pruning is
    unchanged.  Cache note: the per-batch staging persists two
    batch-sized intermediates; bounded drains are fine, a long-lived
    production stream would unpersist per batch or cap the cache."""
    import glob

    spark = batch_df.sparkSession
    bootstrap_stream_index(base_index_dir, out_index_dir)
    marker_dir = os.path.join(out_index_dir, "_stream_batches")
    os.makedirs(marker_dir, exist_ok=True)
    marker = os.path.join(marker_dir, f"b{batch_id}.json")
    if os.path.isfile(marker):
        return  # restart replay of a committed batch
    prefix = f"b{batch_id}-"
    delta = os.path.join(
        out_index_dir, f".delta.b{batch_id}.{uuid.uuid4().hex[:8]}"
    )
    try:
        if not batch_df.isEmpty():
            _upsert_into(
                spark, base_index_dir, delta, batch_df, id_col, vec_col
            )
            for tbl in CELL_TABLES:
                live_tbl = os.path.join(out_index_dir, tbl)
                # scrub a crashed previous attempt of THIS batch
                for p in glob.glob(
                    os.path.join(live_tbl, "cell=*", f"{prefix}*")
                ):
                    os.remove(p)
                dtbl = os.path.join(delta, tbl)
                if not os.path.isdir(dtbl):
                    continue
                for cell_dir in sorted(os.listdir(dtbl)):
                    if not cell_dir.startswith("cell="):
                        continue
                    dst = os.path.join(live_tbl, cell_dir)
                    os.makedirs(dst, exist_ok=True)
                    for fn in sorted(os.listdir(os.path.join(dtbl, cell_dir))):
                        if not fn.endswith(".parquet"):
                            continue
                        os.rename(
                            os.path.join(dtbl, cell_dir, fn),
                            os.path.join(dst, f"{prefix}{fn}"),
                        )
        tmp_marker = f"{marker}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp_marker, "w") as f:
            json.dump({"batch_id": int(batch_id)}, f)
        os.replace(tmp_marker, marker)
    finally:
        shutil.rmtree(delta, ignore_errors=True)


def start_index_upsert_stream(
    stream_df: DataFrame,
    base_index_dir: str,
    out_index_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
):
    """Run the online index upsert as a Structured Streaming sink:
    ``foreachBatch(apply_index_upsert_batch)`` with a checkpoint, so
    Kafka offsets / file-source progress + the per-batch markers give
    end-to-end exactly-once.  ``available_now`` drains the currently
    available input and stops (the bounded test/bench regime); pass
    False for a continuously running ingestion."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_index_upsert_batch(
            batch_df, batch_id, base_index_dir, out_index_dir,
            id_col, vec_col,
        )

    writer = stream_df.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_ivf_index(
    spark: SparkSession,
    base_index_dir: str,
    out_index_dir: str,
) -> str:
    """Fold multi-file cell partitions back to one file per cell — the
    maintenance pass a stream-upserted index needs: every committed
    micro-batch appends one file per touched cell
    (:func:`apply_index_upsert_batch`), so a long-running ingestion
    accumulates batch-count files per cell and probe-side scan cost
    grows with file COUNT even though row count is unchanged (task
    per file, footer per file — the classic small-file tax).

    Copy-on-write like every lifecycle op: cells already at one file are
    copied byte-identically (pinned by test); only multi-file cells are
    rewritten, each to a single file, row-content preserved exactly
    (same rows, no recompute — the index is never re-derived here).
    Frozen artifacts (centroids, codebooks) and the lifecycle metadata
    are copied untouched.  Atomic staging + rename + failure cleanup.

    At 100 TB this is the index's OPTIMIZE/compaction job: cost
    proportional to the multi-file cells' data, schedulable per cell,
    and probe-invisible (same partition layout, same rows)."""
    # cells needing a rewrite, per table: >1 data file in the cell dir
    to_fold: dict[str, list[int]] = {}
    for tbl in CELL_TABLES:
        troot = os.path.join(base_index_dir, tbl)
        cells = []
        for d in sorted(os.listdir(troot)):
            if not d.startswith("cell="):
                continue
            files = [
                f
                for f in os.listdir(os.path.join(troot, d))
                if f.endswith(".parquet")
            ]
            if len(files) > 1:
                cells.append(int(d.split("=", 1)[1]))
        if cells:
            to_fold[tbl] = cells
    with _staged(out_index_dir, copy_of=base_index_dir) as tmp:
        for tbl, cells in to_fold.items():
            src = spark.read.parquet(
                os.path.join(base_index_dir, tbl)
            ).filter(F.col("cell").isin(cells))
            for c in cells:
                shutil.rmtree(os.path.join(tmp, tbl, f"cell={c}"))
            src.repartition(len(cells), "cell").write.mode(
                "append"
            ).partitionBy("cell").parquet(os.path.join(tmp, tbl))
        with open(os.path.join(tmp, "_compact_meta.json"), "w") as f:
            json.dump(
                {
                    "base": os.path.basename(base_index_dir),
                    "folded": {t: c for t, c in sorted(to_fold.items())},
                },
                f,
            )
    return out_index_dir


def ensure_compacted_index(
    spark: SparkSession,
    base_index_dir: str,
    out_index_dir: str,
    n_centroids: int = 8,
    iters: int = 2,
) -> str:
    """Build-once gate for :func:`compact_ivf_index` with the same
    geometry-staleness discipline as the other lifecycle gates (the
    geometry only: a compaction records no base params)."""
    want = _index_params(n_centroids, iters)
    return _ensure_fresh(
        out_index_dir,
        "_compact_meta.json",
        lambda mark, meta: meta == want,
        lambda: compact_ivf_index(spark, base_index_dir, out_index_dir),
    )


def ivf_upsert_skew_report(
    spark: SparkSession,
    base_index_dir: str,
    upserted_index_dir: str,
) -> DataFrame:
    """The retrain trigger the upsert docstring promises: per-cell
    membership BEFORE and AFTER an upsert, read from the on-disk index
    artifacts themselves (the ``norms`` tables — one row per live
    vector), one row per cell.

    Frozen centroids mean upserted vectors land in the nearest EXISTING
    cell even when the corpus distribution moved; the operational signal
    is this report drifting — one cell absorbing most arrivals
    (``growth_micro`` spiking, ``share_after_micro`` diverging from
    ``share_before_micro``) says the trained partition no longer fits
    the corpus and a retrain+re-encode should be scheduled.  Paired with
    :func:`ivf_probe_depth_curve` (recall before vs after), this is the
    monitoring loop a production deployment runs after every ingestion
    batch.

    All columns integer-exact (micro-unit divisions are single integer
    ``div`` ops), so the DuckDB oracle replays the report value-exactly.
    Scale: two partition-pruned column scans + an 8-row join — the
    report costs metadata, not data."""
    b = (
        spark.read.parquet(os.path.join(base_index_dir, "norms"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_base"))
    )
    u = (
        spark.read.parquet(os.path.join(upserted_index_dir, "norms"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    )
    j = (
        u.join(b, "cell", "full_outer")
        .select(
            F.col("cell").cast("bigint").alias("cell"),
            F.coalesce(F.col("n_base"), F.lit(0)).alias("n_base"),
            F.coalesce(F.col("n_total"), F.lit(0)).alias("n_total"),
        )
        .withColumn("n_new", F.col("n_total") - F.col("n_base"))
    )
    tot = j.agg(
        F.sum("n_base").alias("__tb"), F.sum("n_total").alias("__tt")
    )
    return (
        j.crossJoin(F.broadcast(tot))
        .select(
            "cell",
            "n_base",
            "n_new",
            "n_total",
            F.expr("(1000000 * n_new) div greatest(n_base, 1)")
            .cast("bigint")
            .alias("growth_micro"),
            F.expr("(1000000 * n_base) div greatest(__tb, 1)")
            .cast("bigint")
            .alias("share_before_micro"),
            F.expr("(1000000 * n_total) div greatest(__tt, 1)")
            .cast("bigint")
            .alias("share_after_micro"),
        )
    )


def ivf_probe_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    labels: DataFrame | None = None,
    label_col: str = "label",
) -> DataFrame:
    """Answer top-k cosine queries from the PREBUILT index: rank the
    trained centroids per query by squared-L2 (ties smallest cell), read
    ONLY the ``n_probe`` probed cells' inverted lists (literal partition
    filter from a bounded driver-side probe collect), exact-rescore the
    candidates, return (query_id, neighbor_id, cosine).

    The query DataFrame is the serving input (vectors arrive with the
    request); everything corpus-sized is read from the index.

    HARD-NEGATIVE mode: pass ``labels`` (an (id, label) frame) and the
    probe becomes a hard-negative miner — same-label candidates are
    excluded BEFORE the rank (they are positives, not negatives) and the
    output widens to (query_id, query_label, negative_id,
    negative_label, cosine).  Labels join only the probed candidates; a
    production index would store the label inline in the inverted lists
    and skip the join entirely.

    Labels contract: ``labels`` must carry AT MOST one row per id —
    duplicate ids would duplicate sims rows, letting one negative occupy
    several of the k rank slots (the query side is defensively deduped
    below; the corpus side joins post-rescore candidates and relies on
    the contract).  A query id MISSING from labels drops that query from
    the output — the inner join is deliberate: an unlabeled query has no
    defined notion of "different-label negative".

    Query ids should be unique.  Rows that repeat an id with the same
    vector probe the same cells; rows that repeat an id with DIFFERENT
    vectors are ranked independently, so that id probes the union of each
    row's top ``n_probe`` cells rather than one shared set."""
    cents = spark.read.parquet(os.path.join(index_dir, "centroids"))
    # One query-side pass: the ×10⁶-quantized ARRAY form (plus its norm)
    # is the serving payload; the component form the centroid ranking
    # needs is a posexplode of the same persisted frame.  Values are
    # identical to quantized_components (same round → bigint).
    qarr = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double") * 1_000_000).cast(
                    "bigint"
                ),
            ).alias("qq"),
        )
        .withColumn(
            "qnorm2",
            F.aggregate(
                F.col("qq"),
                F.lit(0).cast("bigint"),
                lambda s, x: s + x * x,
            ),
        )
        .transform(persist_once)
    )
    # Probe ranking on the DRIVER (r14): the query side is serving-sized
    # by contract (the probe-cell cap below) and the trained centroid
    # table is n_centroids × dim rows, so ranking cells per query is
    # metadata-sized Python — the former chain (posexplode ⋈
    # broadcast(cents) → groupBy(query_id, cell) → row_number window →
    # collect) spent two Exchanges, a window sort and a broadcast build
    # per probe direction on a ≤ |queries| × n_centroids-row frame.
    # Replicated semantics, value-exact: a (query, cell) d2 row existed
    # iff ≥ 1 position overlapped (posexplode emits null components, the
    # inner join on pos keeps them); d2 = SUM's null-skip over (q−c)²
    # terms, NULL when every term is null — and the window ranked NULL
    # d2 FIRST (asc nulls-first) with ties on the smaller cell; a query
    # with a NULL/EMPTY vector had no component rows and probes nothing.
    # Duplicate query ids keep the documented uniqueness contract (the
    # old groupBy summed duplicates' d2 — identical ranking for the
    # identical-vector case, and the pair set dedupes either way).
    cellmaps: dict[int, dict[int, int]] = {}
    for r in cents.collect():
        cellmaps.setdefault(r.cell, {})[r.pos] = r.c
    # bounded collect: the cap is on query·probe pairs, so cap+1 query
    # rows is already provably over it — a mis-sized query set never
    # pulls a corpus to the driver
    q_rows = (
        qarr.select("query_id", "qq")
        .limit(IVF_MAX_PROBE_CELLS + 1)
        .collect()
    )
    pairs_list: list[tuple[int, int]] = []
    for r in q_rows:
        if not r.qq:  # NULL or empty vector: no component rows → no probe
            continue
        ranked: list[tuple[int, int, int]] = []
        for cell, cm in cellmaps.items():
            overlap = False
            d2 = None
            for pos, c in cm.items():
                if 1 <= pos <= len(r.qq):
                    overlap = True
                    q = r.qq[pos - 1]
                    if q is not None and c is not None:
                        t = (q - c) * (q - c)
                        d2 = t if d2 is None else d2 + t
            if overlap:
                # (nulls-first flag, d2, cell) ≡ the window's
                # (d2 asc nulls first, cell asc) order
                ranked.append((0 if d2 is None else 1, d2 or 0, cell))
        ranked.sort()
        pairs_list.extend(
            (int(r.query_id), int(cell)) for _, _, cell in ranked[:n_probe]
        )
    if (
        len(q_rows) > IVF_MAX_PROBE_CELLS
        or len(pairs_list) > IVF_MAX_PROBE_CELLS
    ):
        raise ValueError(
            f"probe list has {len(pairs_list)} entries"
            f" (> {IVF_MAX_PROBE_CELLS}): the query set is not"
            " serving-sized — batch it"
        )
    cells = sorted({c for _, c in pairs_list})
    pairs = set(pairs_list)

    probes_df = F.broadcast(
        spark.createDataFrame(
            [(int(q), int(c)) for q, c in sorted(pairs)],
            "query_id bigint, cell bigint",
        )
    )
    # Exact rescore from the index's ARRAY-form member table (one row
    # per vector, norm2 inline, same ×10⁶ quantization as `inverted`):
    # the dot product is a per-row zip_with/aggregate fold instead of a
    # per-component join + corpus-candidate (query, neighbor) groupBy —
    # no Exchange between the pruned scan and the top-k window.  The
    # coalesce-to-0 mirrors the component path's inner join on pos
    # (positions absent on either side contributed no product); the
    # norm2 > 0 filters mirror the cosine_norms exclusion the `norms`
    # table bakes in and the qn fold applied.
    vecs = (
        spark.read.parquet(os.path.join(index_dir, "vectors"))
        .filter(F.col("cell").isin(cells))
        .filter(F.col("norm2") > 0)
    )
    sims = (
        vecs.join(probes_df, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(qarr.filter(F.col("qnorm2") > 0)), "query_id")
        .withColumn(
            "dot",
            F.aggregate(
                F.zip_with(
                    F.col("qv"),
                    F.col("qq"),
                    lambda a, b: F.coalesce(
                        a.cast("bigint"), F.lit(0).cast("bigint")
                    )
                    * F.coalesce(b, F.lit(0).cast("bigint")),
                ),
                F.lit(0).cast("bigint"),
                lambda s, x: s + x,
            ),
        )
        .withColumn(
            "cosine",
            F.col("dot") / (F.sqrt(F.col("qnorm2")) * F.sqrt(F.col("norm2"))),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cosine",
        )
    )
    out_cols = ["query_id", "neighbor_id", "cosine"]
    if labels is not None:
        lab = labels.select(
            F.col(id_col).alias("__lid"), F.col(label_col).alias("__lab")
        )
        # bound the broadcast-hinted query-label frame to the query ids:
        # callers pass the corpus-wide labels frame, and hinting it
        # whole would ship every (id, label) row to every executor.  The
        # bound comes from the serving-input frame itself (ids unique by
        # the serving contract, same as qd2/probes assume) via a
        # broadcast semi — map-side over the labels scan, no shuffle
        ql = (
            lab.select(
                F.col("__lid").alias("query_id"),
                F.col("__lab").alias("query_label"),
            )
            .join(
                F.broadcast(queries.select(F.col(id_col).alias("query_id"))),
                "query_id",
            )
            # defensive: the bounded frame is tiny, so enforcing the
            # one-label-per-id contract here is free (see docstring)
            .dropDuplicates(["query_id"])
        )
        nl = lab.select(
            F.col("__lid").alias("neighbor_id"),
            F.col("__lab").alias("negative_label"),
        )
        sims = (
            sims.join(F.broadcast(ql), "query_id")
            .join(nl, "neighbor_id")
            .filter(F.col("query_label") != F.col("negative_label"))
        )
        out_cols = [
            "query_id", "query_label", "neighbor_id", "negative_label",
            "cosine",
        ]
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    ranked = (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(*out_cols)
    )
    if labels is not None:
        ranked = ranked.withColumnRenamed("neighbor_id", "negative_id")
    return ranked


def ivf_probe_depth_curve(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    query_ids_filter,
    k: int = 3,
    max_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The recall-vs-probe-depth CURVE of the trained index, in one pass —
    the dial a production ANN deployment tunes before fixing n_probe.

    For every exact brute-force top-k pair (query, neighbor), the minimal
    probe depth that catches it is the RANK of the neighbor's trained
    cell within the query's centroid ranking (squared-L2, ties smallest
    cell — the probe's own ordering).  Grouping those minimal depths and
    cumulating yields recall at EVERY depth from one computation, instead
    of re-running the probe per candidate n_probe.

    The exact top-k truth side is corpus-quadratic by nature, so the
    caller passes a bounded ``corpus`` premise (the recall contract every
    screen-recall row uses).  Index reads: the centroids (broadcast) and
    the stored cell assignments — never the inverted-list payloads, so
    the curve costs one bounded exact pass + tiny joins.

    Output: ``(n_probe, n_caught, recall_micro)`` for depths
    1..``max_probe`` — non-decreasing by construction (pinned in tests);
    the denominator is the exact pair count (a 1-row broadcast, no
    driver-side count).
    """
    from killrweather_spark.functions.similarity import cosine_topk

    cents = spark.read.parquet(os.path.join(index_dir, "centroids"))
    inv_cells = (
        spark.read.parquet(os.path.join(index_dir, "norms"))
        .select("vec_id", "cell")
    )
    queries = corpus.filter(query_ids_filter(F.col(id_col)))
    qcomp = quantized_components(queries, id_col, vec_col).withColumnRenamed(
        id_col, "query_id"
    )
    qd2 = (
        qcomp.join(F.broadcast(cents), "pos")
        .groupBy("query_id", "cell")
        .agg(
            F.sum((F.col("q") - F.col("c")) * (F.col("q") - F.col("c")))
            .alias("d2")
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("cell").asc()
    )
    ranks = qd2.withColumn("rk", F.row_number().over(wq)).select(
        "query_id", "cell", "rk"
    )
    exact = cosine_topk(corpus, query_ids_filter, k=k).transform(persist_once)
    ntrue = exact.agg(
        F.count(F.lit(1)).cast("bigint").alias("__ntrue")
    )
    # the exact-pair side is |queries|·k rows — broadcast IT, never the
    # corpus-sized cell-assignment table
    depth = (
        inv_cells.select(F.col("vec_id").alias("neighbor_id"), "cell")
        .join(F.broadcast(exact.select("query_id", "neighbor_id")),
              "neighbor_id")
        .join(F.broadcast(ranks), ["query_id", "cell"])
        .select(F.col("rk").alias("min_probe"))
    )
    counts = depth.groupBy("min_probe").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_at")
    )
    probes = spark.range(1, max_probe + 1).select(
        F.col("id").cast("bigint").alias("n_probe")
    )
    return (
        probes.join(counts, counts["min_probe"] <= probes["n_probe"], "left")
        .groupBy("n_probe")
        .agg(
            F.coalesce(F.sum("n_at"), F.lit(0))
            .cast("bigint")
            .alias("n_caught")
        )
        .crossJoin(F.broadcast(ntrue))
        .select(
            "n_probe",
            "n_caught",
            F.expr("(1000000 * n_caught) div greatest(__ntrue, 1)")
            .cast("bigint")
            .alias("recall_micro"),
        )
    )


def ivf_trained_parts_sql(
    n_centroids: int = 8,
    iters: int = 2,
    n_probe: int = 2,
    query_pred: str = "vec_id < 5",
    probe_tail: bool = True,
    train_pred: str | None = None,
    member_pred: str | None = None,
) -> list[str]:
    """CTE parts replaying build + probe relationally (no disk) over the
    registry's shared comp/nrm CTEs: the ``iters`` Lloyd rounds
    (floor-mean M-step, squared-L2 argmin E-step, ties to the smallest
    cell), the per-query d2 cell ranking (``qd``), and — when
    ``probe_tail`` — shared-probed-cell candidates and their dot products
    (``dots``); callers append their own tail (top-k, the recall
    aggregation, or the probe-depth curve over ``qd`` + ``l{iters}``).

    ``train_pred`` restricts the TRAINING population (the upsert
    replay: centroids trained on the base corpus only); membership —
    the cell assignment the probe candidates come from — still covers
    every vector, via a final all-vector E-step against the trained
    centroids (``lall``), which is exactly what
    :func:`upsert_ivf_index` does with its frozen centroids.  With
    ``train_pred=None`` the parts are unchanged (training == corpus,
    the final training E-step doubles as membership).

    ``member_pred`` filters the candidate MEMBERSHIP only (the delete
    replay: centroids stay trained on the full population, tombstoned
    ids simply stop being candidates) — exactly what
    :func:`delete_from_ivf_index` does by rewriting the touched cell
    partitions."""
    tp = f" WHERE {train_pred}" if train_pred else ""
    parts = [
        f"l0 AS (SELECT vec_id, CAST(vec_id % {n_centroids} AS BIGINT)"
        f" AS cell FROM embeddings{tp})",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"cent{t} AS MATERIALIZED (\n"
            "      SELECT cell, pos, (s - ((s % n + n) % n)) // n AS c\n"
            "      FROM (SELECT l.cell, c.pos, CAST(SUM(c.q) AS BIGINT) AS s,\n"
            "                   CAST(COUNT(*) AS BIGINT) AS n\n"
            f"            FROM comp c JOIN l{t - 1} l USING (vec_id)\n"
            "            GROUP BY 1, 2))"
        )
        tpc = (
            f" WHERE {qualify_pred(train_pred, 'c')}" if train_pred else ""
        )
        parts.append(
            f"d{t} AS (SELECT c.vec_id, ct.cell,\n"
            "             CAST(SUM((c.q - ct.c) * (c.q - ct.c)) AS BIGINT)"
            " AS d2\n"
            f"      FROM comp c JOIN cent{t} ct USING (pos){tpc}"
            " GROUP BY 1, 2)"
        )
        parts.append(
            f"l{t} AS MATERIALIZED (SELECT vec_id, cell FROM d{t}\n"
            "      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id"
            " ORDER BY d2, cell) = 1)"
        )
    member = f"l{iters}"
    if train_pred:
        member = "lall"
        parts.append(
            "dall AS (SELECT c.vec_id, ct.cell,\n"
            "             CAST(SUM((c.q - ct.c) * (c.q - ct.c)) AS BIGINT)"
            " AS d2\n"
            f"      FROM comp c JOIN cent{iters} ct USING (pos)"
            " GROUP BY 1, 2)"
        )
        parts.append(
            "lall AS MATERIALIZED (SELECT vec_id, cell FROM dall\n"
            "      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id"
            " ORDER BY d2, cell) = 1)"
        )
    parts.append(
        f"qd AS MATERIALIZED (SELECT c.vec_id AS query_id, ct.cell,\n"
        "             CAST(SUM((c.q - ct.c) * (c.q - ct.c)) AS BIGINT) AS d2\n"
        f"      FROM comp c JOIN cent{iters} ct USING (pos)\n"
        f"      WHERE {qualify_pred(query_pred, 'c')}"
        " GROUP BY 1, 2)"
    )
    if probe_tail:
        mp = (
            f" AND ({qualify_pred(member_pred, 'l')})"
            if member_pred
            else ""
        )
        parts += [
            f"probes AS (SELECT query_id, cell FROM qd\n"
            "      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id"
            f" ORDER BY d2, cell) <= {n_probe})",
            f"cand AS (SELECT p.query_id, l.vec_id AS neighbor_id\n"
            f"      FROM probes p JOIN {member} l ON l.cell = p.cell\n"
            f"      WHERE l.vec_id != p.query_id{mp})",
            "dots AS (SELECT c.query_id, c.neighbor_id, SUM(a.q * b.q) AS dot\n"
            "      FROM cand c\n"
            "      JOIN comp a ON a.vec_id = c.query_id\n"
            "      JOIN comp b ON b.vec_id = c.neighbor_id AND b.pos = a.pos\n"
            "      GROUP BY 1, 2)",
        ]
    return parts


def ivf_probe_curve_sql(
    comp_nrm_sql: str,
    n_centroids: int = 8,
    iters: int = 2,
    k: int = 3,
    max_probe: int = 4,
    query_pred: str = "vec_id >= 100 AND vec_id < 110",
    train_pred: str | None = None,
) -> str:
    """DuckDB oracle for :func:`ivf_probe_depth_curve` — the trained
    build replayed relationally, full query cell ranks, exact top-k truth
    pairs, each pair's minimal catching depth (rank of its neighbor's
    cell), cumulated over depths 1..max_probe.  ``train_pred`` replays
    the curve of an UPSERTED index: centroids trained on the base
    population, membership (the catching cells) covering everyone."""
    parts = ivf_trained_parts_sql(
        n_centroids, iters, n_probe=0, query_pred=query_pred,
        probe_tail=False, train_pred=train_pred,
    )
    member = "lall" if train_pred else f"l{iters}"
    qp_a = qualify_pred(query_pred, "a")
    parts += [
        "qranks AS MATERIALIZED (SELECT query_id, cell,\n"
        "      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, cell)"
        " AS rk FROM qd)",
        f"""ex3 AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               dot / (SQRT(qn.norm2) * SQRT(cn.norm2)) AS cosine
        FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                     SUM(a.q * b.q) AS dot
              FROM comp a
              JOIN comp b ON a.pos = b.pos AND ({qp_a})
                         AND a.vec_id != b.vec_id
              GROUP BY 1, 2)
        JOIN nrm qn ON qn.vec_id = query_id
        JOIN nrm cn ON cn.vec_id = neighbor_id)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) <= {k})""",
        "ntrue AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ex3)",
        f"depth AS (SELECT r.rk AS min_probe\n"
        f"      FROM ex3 e JOIN {member} l ON l.vec_id = e.neighbor_id\n"
        "      JOIN qranks r ON r.query_id = e.query_id"
        " AND r.cell = l.cell)",
    ]
    return (
        f"WITH {comp_nrm_sql},\n    "
        + ",\n    ".join(parts)
        + f"""
    SELECT CAST(p.p AS BIGINT) AS n_probe,
           CAST(COUNT(d.min_probe) AS BIGINT) AS n_caught,
           CAST((1000000 * COUNT(d.min_probe)) // GREATEST(ANY_VALUE(t.n), 1)
                AS BIGINT) AS recall_micro
    FROM unnest(generate_series(1, {max_probe})) AS p(p)
    CROSS JOIN ntrue t
    LEFT JOIN depth d ON d.min_probe <= p.p
    GROUP BY p.p
    """
    )


def ivf_trained_sql(
    comp_nrm_sql: str,
    n_centroids: int = 8,
    iters: int = 2,
    n_probe: int = 2,
    k: int = 3,
    query_pred: str = "vec_id < 5",
    train_pred: str | None = None,
    member_pred: str | None = None,
) -> str:
    """Full DuckDB oracle for the trained-IVF probe query:
    :func:`ivf_trained_parts_sql` plus the exact-cosine top-k tail.
    ``comp_nrm_sql`` is the registry's shared comp/nrm CTE text (passed
    in to keep this module import-independent of the registry).
    ``train_pred`` selects the upsert replay (train on the base
    population, assign everyone); ``member_pred`` the delete replay
    (full training, tombstoned candidates excluded) — see the parts
    builder."""
    parts = ivf_trained_parts_sql(
        n_centroids, iters, n_probe, query_pred,
        train_pred=train_pred, member_pred=member_pred,
    )
    return (
        f"WITH {comp_nrm_sql},\n    "
        + ",\n    ".join(parts)
        + """
    SELECT query_id, neighbor_id,
           dot / (SQRT(qn.norm2) * SQRT(cn.norm2)) AS cosine
    FROM dots
    JOIN nrm qn ON qn.vec_id = query_id
    JOIN nrm cn ON cn.vec_id = neighbor_id
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) <= """
        + str(k)
    )
