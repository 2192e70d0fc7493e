"""Product quantization (PQ) for embedding compression + ADC ANN search.

Completes the similarity family's compression ladder next to int8
coarse-quantization (``similarity.py``) and the trained IVF index
(``ann_index.py``): PQ [Jégou et al. 2011, "Product Quantization for
Nearest Neighbor Search"] splits the embedding into :data:`PQ_M`
contiguous subspaces, trains an independent :data:`PQ_KS`-code k-means
codebook per subspace, and stores each vector as M small code ids — at
production dims (1024-d float32 → M=16 4-bit codes, 8 bytes/vector) a
512× memory compression, which is why a 100 TB embedding corpus fits a
PQ code table in cluster RAM.

Search is ADC (asymmetric distance computation): the query stays
unquantized; per query a LookUp Table of partial dot products against
every (subspace, code) centroid is built (M·ks rows — broadcast-sized by
construction), and a candidate's approximate dot is the SUM of M LUT
hits keyed by its stored codes — a codes-table scan + broadcast join +
map-side aggregable SUM, never a corpus-width vector read.  The top
:data:`PQ_SHORTLIST` per query by approximate dot are then EXACT-rescored
(quantized-integer cosine), so returned scores are exact and only the
candidate set is approximate — the ANN-family contract shared with
``ann_int8_rescored`` and ``ann_ivf_trained``.

Training determinism (the oracle-replay contract inherited from
``ann_index.py``): initial code = ``vec_id % ks`` in every subspace (no
RNG); each Lloyd iteration is an integer floor-mean M-step and an exact
int64 squared-L2 argmin E-step with ties to the smallest code, all on
×10⁶-quantized components — so Spark and the DuckDB oracle produce
byte-identical codebooks, codes, and rankings.

Scale shape at 100 TB: codebooks are M·ks·(dim/M) = dim·ks rows
(broadcast always); encoding is one corpus pass (broadcast join +
per-(vec,subspace) argmin); the ADC scan touches M·|corpus| code rows —
the compressed representation — and composes with the IVF partitioning
(probe cells first, ADC within probed partitions) exactly like
``ann_ivf_trained``'s literal partition filters when a corpus-sized
deployment needs sub-scan latency.

Reference parity note: the reference keeps no ANN surface; this extends
SURVEY §2's beyond-reference similarity family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from killrweather_spark.functions.similarity import (
    cosine_norms,
    quantized_components,
)
from killrweather_spark.plans.caching import persist_once
from killrweather_spark.functions.sqlutil import qualify_pred

# Default geometry: 4 dims per subspace on the 64-d corpus (the classic
# production split is 4-8 dims/subspace), 16 codes each → 64 bits per
# vector vs 2048 bits of float32 — 32× compression here, ~512× at
# 1024-d/uint8-code production settings.  Measured on the sf0.01
# corpus: this recalls 12/15 of the exact top-3 at shortlist 32 where
# the coarser 4×8 split managed 3/15 — subspace width, not code count,
# is the fidelity lever (ann_pq_recall is the registry's measurement).
PQ_M = 16  # subspaces
PQ_KS = 16  # codes per subspace codebook
PQ_ITERS = 2  # Lloyd iterations
PQ_SHORTLIST = 32  # ADC shortlist per query before exact rescore


def _sub_components(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vec_id, sub, pos, q): quantized components tagged with their
    subspace ``sub = (pos-1)·M div dim`` — dim read from the data (a
    1-row broadcast scalar), so the split adapts to any embedding
    width."""
    comp = quantized_components(df, id_col, vec_col).withColumnRenamed(
        id_col, "vec_id"
    )
    dim = comp.agg(F.max("pos").alias("__d"))
    return comp.crossJoin(F.broadcast(dim)).select(
        "vec_id",
        F.expr(f"((pos - 1) * {PQ_M}) div __d").cast("bigint").alias("sub"),
        "pos",
        "q",
    )


def _pq_mstep(scomp: DataFrame, labels: DataFrame) -> DataFrame:
    """(sub, code, pos, c): floor-mean centroids per subspace codebook
    (the kmeans sign-safe integer form)."""
    return (
        scomp.join(labels, ["vec_id", "sub"])
        .groupBy("sub", "code", "pos")
        .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "sub",
            "code",
            "pos",
            F.expr("(s - ((s % n + n) % n)) div n").cast("bigint").alias("c"),
        )
    )


def _pq_estep(
    scomp: DataFrame, cents: DataFrame, ks: int = PQ_KS
) -> DataFrame:
    """(vec_id, sub, code): exact int64 squared-L2 argmin per subspace
    over the broadcast codebooks, ties to the smallest code.

    PIVOTED single-aggregation form (r13 optimization): the codebook is
    first pivoted to one ks-wide centroid array per (sub, pos) —
    vocabulary-sized driver-free work — so the component join stays 1:1
    instead of exploding every (vec_id, pos, q) row ×ks codes, and ONE
    ``groupBy(vec_id, sub)`` with ks partial-aggregable SUMs replaces
    the former two-level aggregate (guide §2.3 "shuffle fewer bytes" /
    §2.4 "remove shuffles outright": one Exchange of |corpus|·M rows
    instead of an Exchange of the |corpus|·M·ks distance frame plus a
    second one).  The argmin stays ``array_min`` over (d2, code)
    structs — ordering (d2 asc, code asc), identical to the previous
    ``min(struct(d2, code))`` rule; codes absent from a subspace's
    codebook (all their members moved away in the previous round) yield
    NULL sums and are filtered before the argmin, exactly as they were
    absent from the joined distance frame before."""
    ks_codes = ks
    cents_p = cents.groupBy("sub", "pos").agg(
        F.array(
            *[
                F.max(F.when(F.col("code") == k, F.col("c")))
                for k in range(ks_codes)
            ]
        ).alias("cs")
    )
    j = scomp.join(F.broadcast(cents_p), ["sub", "pos"])
    sums = j.groupBy("vec_id", "sub").agg(
        *[
            F.sum(
                (F.col("q") - F.col("cs")[k]) * (F.col("q") - F.col("cs")[k])
            ).alias(f"__d{k}")
            for k in range(ks_codes)
        ]
    )
    best = F.array_min(
        F.filter(
            F.array(
                *[
                    F.struct(
                        F.col(f"__d{k}").alias("d2"),
                        F.lit(k).cast("bigint").alias("code"),
                    )
                    for k in range(ks_codes)
                ]
            ),
            lambda s: s["d2"].isNotNull(),
        )
    )
    return sums.select("vec_id", "sub", best["code"].alias("code"))


def _lloyd(
    df: DataFrame, comp: DataFrame, iters: int, ks: int, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Deterministic PQ Lloyd over the tagged components ``comp``: code
    ``vec_id % ks`` in every subspace of every ``df`` vector, then
    ``iters`` floor-mean M-steps and argmin E-steps.  Returns the final
    (codebooks, codes)."""
    labels = (
        df.select(F.col(id_col).alias("vec_id"))
        .crossJoin(
            F.broadcast(
                comp.sparkSession.range(PQ_M).select(
                    F.col("id").cast("bigint").alias("sub")
                )
            )
        )
        .select(
            "vec_id", "sub", (F.col("vec_id") % ks).cast("bigint").alias("code")
        )
    )
    cents = None
    for _ in range(iters):
        cents = _pq_mstep(comp, labels)
        labels = _pq_estep(comp, cents, ks)
    # Persist the training ENDPOINTS, not the iterations: every caller
    # references cents (ks·dim rows) and labels (|corpus|·M narrow ints)
    # several times — broadcast LUT build, code scan, recall join — and
    # each reference otherwise replays the whole Lloyd chain above the
    # comp cache (the before-plans show 35–41 embedding scans / 78–101
    # Exchanges per ADC query).  Caching the two final frames runs
    # training once per process and turns every reference into an
    # InMemoryRelation read (guide §1.2 "don't compute things you throw
    # away", §2.4 "remove shuffles outright").  The per-ITERATION
    # localization A/B'd slower (it duplicates E-step work the
    # exchange-reuse otherwise shares) — endpoints only.
    return persist_once(cents), persist_once(labels)


def _train(
    df: DataFrame,
    iters: int = PQ_ITERS,
    ks: int = PQ_KS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (scomp, codebooks, codes) — the tagged components, the
    final M-step codebooks, and the corpus codes under them."""
    scomp = persist_once(_sub_components(df, id_col, vec_col))
    return (scomp, *_lloyd(df, scomp, iters, ks, id_col))


def _train_residual(
    df: DataFrame,
    cells: DataFrame,
    cents: DataFrame,
    iters: int = PQ_ITERS,
    ks: int = PQ_KS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """PQ training over IVF RESIDUALS — the classic IVFADC refinement
    [Jégou et al. 2011 §III]: each vector is encoded as its offset from
    its trained cell centroid, ``r = v − m_cell``, so the codebooks
    spend their 16 codes on the WITHIN-cell spread instead of
    re-describing the coarse structure the IVF already captured.
    Returns (codebooks, codes) over the residual components; the Lloyd
    rounds are :func:`_train`'s, so the oracle replay contract carries
    over unchanged."""
    scomp = _sub_components(df, id_col, vec_col)
    rcomp = persist_once(
        scomp.join(cells, "vec_id")
        .join(F.broadcast(cents), ["cell", "pos"])
        .select(
            "vec_id", "sub", "pos", (F.col("q") - F.col("c")).alias("q")
        )
    )
    return _lloyd(df, rcomp, iters, ks, id_col)


def pq_codebooks(
    df: DataFrame,
    iters: int = PQ_ITERS,
    ks: int = PQ_KS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The trained per-subspace codebooks: ``(subspace, code, pos, c)``.
    dim·ks rows regardless of corpus size — the artifact a deployment
    broadcasts to every encoder."""
    _, cents, _ = _train(df, iters, ks, id_col, vec_col)
    return cents.select(
        F.col("sub").alias("subspace"),
        "code",
        F.col("pos").cast("bigint").alias("pos"),
        "c",
    )


def _adc_lut(qscomp: DataFrame, books: DataFrame) -> DataFrame:
    """(query_id, sub, code, pdot): the ADC LookUp Table — each query's
    partial dot against every (subspace, code) centroid of the
    broadcast codebooks ``books``."""
    return (
        qscomp.join(F.broadcast(books), ["sub", "pos"])
        .groupBy("query_id", "sub", "code")
        .agg(F.sum(F.col("q") * F.col("c")).cast("bigint").alias("pdot"))
    )


def _top_n(frame: DataFrame, score: str, n: int, *cols: str) -> DataFrame:
    """The ``n`` best rows per query by ``score`` descending, ties to the
    smaller ``neighbor_id``, projected to ``cols`` — the ADC shortlist
    (by ``adot``) and the exact-rescore top-k (by ``cosine``)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id").asc()
    )
    return (
        frame.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= n)
        .select(*cols)
    )


def _quantized(vec_col: str) -> Column:
    """The ×10⁶-quantized int64 components of a float-array column."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * 1_000_000).cast("bigint"),
    )


def _norm2(col: str) -> Column:
    """The squared L2 norm of an int64-array column."""
    return F.aggregate(
        F.col(col), F.lit(0).cast("bigint"), lambda s, x: s + x * x
    )


def _rescore_top_k(pairs: DataFrame, norm2: str, k: int) -> DataFrame:
    """Exact top-``k`` of shortlisted (query, candidate) ``pairs`` by
    quantized cosine between the candidate's int array ``qv`` (squared
    norm ``norm2``) and the query's ``qq`` (``qnorm2``); the dot is a
    per-row int64 zip_with/aggregate fold, a component missing on
    either side counting 0."""
    dot = F.aggregate(
        F.zip_with(
            F.col("qv"),
            F.col("qq"),
            lambda a, b: F.coalesce(a.cast("bigint"), F.lit(0).cast("bigint"))
            * F.coalesce(b, F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda s, x: s + x,
    )
    sims = pairs.withColumn("dot", dot).withColumn(
        "cosine",
        F.col("dot") / (F.sqrt(F.col("qnorm2")) * F.sqrt(F.col(norm2))),
    )
    return _top_n(sims, "cosine", k, "query_id", "neighbor_id", "cosine")


def ann_pq_adc(
    df: DataFrame,
    query_pred,
    k: int = 3,
    shortlist: int = PQ_SHORTLIST,
    iters: int = PQ_ITERS,
    ks: int = PQ_KS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine ANN via PQ codes + ADC: per query, a broadcast LUT of
    partial dots against every (subspace, code) centroid; a candidate's
    approximate dot is the sum of its M LUT hits (a scan of the
    COMPRESSED code table, map-side aggregable); the ``shortlist`` best
    per query are exact-rescored to quantized cosine.  Returns
    ``(query_id, neighbor_id, cosine)`` with exact scores over the
    PQ-shortlisted candidate set."""
    scomp, cents, codes = _train(df, iters, ks, id_col, vec_col)
    qcomp = scomp.filter(query_pred(F.col("vec_id"))).withColumnRenamed(
        "vec_id", "query_id"
    )
    lut = _adc_lut(qcomp, cents)
    # ADC scan: broadcast the per-query LUT onto the compressed code
    # table and sum the M hits per (query, candidate) — the partial
    # (map-side) aggregation of the groupBy keeps the Exchange at
    # |queries|·|corpus| combined rows.  (An r13 per-row map-fold
    # variant — pivot codes to arrays, fold a 1-row LUT broadcast — was
    # A/B'd 15% SLOWER two legs running at sf0.1: the per-row
    # element_at lambda loses to the codegen'd hash join + partial agg.)
    approx = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("pdot").alias("adot"))
    )
    short = _top_n(approx, "adot", shortlist, "query_id", "neighbor_id")
    # exact rescore over the raw frame's int64 arrays — the same
    # zip_with/aggregate fold as _shortlist_rescore_arrays, built from
    # df directly (no persisted index here)
    quant = _quantized(vec_col)
    norm2 = _norm2("qv")
    carr = (
        df.select(F.col(id_col).alias("neighbor_id"), quant.alias("qv"))
        .withColumn("nnorm2", norm2)
        .filter(F.col("nnorm2") > 0)
    )
    qarr = (
        df.filter(query_pred(F.col(id_col)))
        .select(F.col(id_col).alias("query_id"), quant.alias("qv"))
        .withColumn("qnorm2", norm2)
        .filter(F.col("qnorm2") > 0)
        .select("query_id", F.col("qv").alias("qq"), "qnorm2")
    )
    pairs = carr.join(F.broadcast(short), "neighbor_id").join(
        F.broadcast(qarr), "query_id"
    )
    return _rescore_top_k(pairs, "nnorm2", k)


def ann_recall(
    got: DataFrame, df: DataFrame, query_pred, k: int = 3
) -> DataFrame:
    """Recall of an ANN answer ``got`` (``query_id``, ``neighbor_id``
    rows, e.g. from :func:`ann_pq_adc`, :func:`ann_ivfpq` or
    :func:`ann_ivfpq_residual`) against the exact brute-force top-``k``
    of the same ``query_pred`` queries over ``df``: one
    ``(n_true, n_caught, recall_micro)`` row — the one-number cost of
    the approximation; a query set that matches nothing reads
    (0, 0, 0).  The exact side is corpus-quadratic by nature, so the
    caller bounds the query set (the recall contract every
    screen-recall row uses)."""
    from killrweather_spark.functions.similarity import cosine_topk

    got = got.select("query_id", "neighbor_id")
    truth = cosine_topk(df, query_pred, k=k).select(
        "query_id", "neighbor_id"
    )
    caught = truth.join(got, ["query_id", "neighbor_id"], "left_semi")
    n_true = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    n_caught = caught.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_caught")
    )
    return n_true.crossJoin(n_caught).select(
        "n_true",
        "n_caught",
        F.expr("(1000000 * n_caught) div greatest(n_true, 1)")
        .cast("bigint")
        .alias("recall_micro"),
    )


def _shortlist_rescore_arrays(
    spark,
    index_dir: str,
    cell_list,
    approx: DataFrame,
    shortlist: int,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Exact-rescore the ``shortlist`` best ``approx`` candidates per
    query (by ``adot``) from the index's ARRAY-form ``vectors`` table
    (one row per vector, norm2 inline, same ×10⁶ quantization as
    ``inverted``): the dot is a per-row
    zip_with/aggregate fold instead of a per-component join + a
    (query, neighbor) groupBy Exchange — value-identical to the
    component path (coalesce-to-0 ≡ the inner join on pos; the
    norm2 > 0 filters ≡ the cosine_norms exclusion baked into ``norms``
    and the query-side fold's ``qnorm2 > 0``)."""
    import os

    qarr = (
        queries.select(
            F.col(id_col).alias("query_id"), _quantized(vec_col).alias("qq")
        )
        .withColumn("qnorm2", _norm2("qq"))
        .filter(F.col("qnorm2") > 0)
    )
    vecs = (
        spark.read.parquet(os.path.join(index_dir, "vectors"))
        .filter(F.col("cell").isin(cell_list))
        .filter(F.col("norm2") > 0)
        .select("vec_id", "qv", "norm2")
    )
    short = _top_n(approx, "adot", shortlist, "query_id", "neighbor_id")
    pairs = vecs.join(
        F.broadcast(short), F.col("vec_id") == F.col("neighbor_id")
    ).join(F.broadcast(qarr), "query_id")
    return _rescore_top_k(pairs, "norm2", k)


def _ivf_probe(
    spark,
    index_dir: str,
    queries: DataFrame,
    n_probe: int,
    id_col: str,
    vec_col: str,
):
    """The probe stage of both IVFADC forms: rank the trained centroids
    per query by squared L2 and keep ``n_probe`` cells, through a
    BOUNDED driver collect (the serving move shared with
    ``ivf_probe_topk``, same guard).  Returns (the queries' tagged
    components, the centroid table, the sorted probed cell list for
    literal partition filters, the broadcast (query_id, cell) probe
    frame)."""
    import os

    from killrweather_spark.functions.ann_index import IVF_MAX_PROBE_CELLS

    qscomp = persist_once(
        _sub_components(queries, id_col, vec_col).withColumnRenamed(
            "vec_id", "query_id"
        )
    )
    cents = spark.read.parquet(os.path.join(index_dir, "centroids"))
    qd2 = (
        qscomp.select("query_id", "pos", "q")
        .join(F.broadcast(cents), "pos")
        .groupBy("query_id", "cell")
        .agg(
            F.sum((F.col("q") - F.col("c")) * (F.col("q") - F.col("c")))
            .alias("d2")
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("cell").asc()
    )
    probe_rows = (
        qd2.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= n_probe)
        .select("query_id", "cell")
        .collect()
    )
    if len(probe_rows) > IVF_MAX_PROBE_CELLS:
        raise ValueError(
            f"probe list has {len(probe_rows)} entries"
            f" (> {IVF_MAX_PROBE_CELLS}): the query set is not"
            " serving-sized — batch it"
        )
    probes_df = F.broadcast(
        spark.createDataFrame(
            sorted({(int(r.query_id), int(r.cell)) for r in probe_rows}),
            "query_id bigint, cell bigint",
        )
    )
    return qscomp, cents, sorted({r.cell for r in probe_rows}), probes_df


def _adc_hits(
    spark,
    index_dir: str,
    books: str,
    codes: str,
    qscomp: DataFrame,
    cell_list: list,
    probes: DataFrame,
) -> DataFrame:
    """(query_id, cell, vec_id, sub, code, pdot): every probed-cell
    candidate's LUT hits — the per-query LUT over the index's codebooks
    table ``books``, joined to the PERSISTED ``codes`` rows of the probed
    cells (partition-pruned, compressed)."""
    import os

    lut = _adc_lut(qscomp, spark.read.parquet(os.path.join(index_dir, books)))
    return (
        spark.read.parquet(os.path.join(index_dir, codes))
        .filter(F.col("cell").isin(cell_list))
        .join(probes, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(lut), ["query_id", "sub", "code"])
    )


def ann_ivfpq(
    spark,
    index_dir: str,
    df: DataFrame,
    query_pred,
    k: int = 3,
    n_probe: int = 2,
    shortlist: int = PQ_SHORTLIST,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production ANN composition — IVF candidate pruning × PQ-ADC
    scoring [Jégou et al. 2011's IVFADC, on raw vectors]: the trained
    IVF index bounds WHICH vectors are considered (read only the
    ``n_probe`` probed cells — partition-pruned, the
    ``ivf_probe_topk`` move), PQ codes bound WHAT is read per candidate
    (M code ids instead of the vector), and the ADC LUT turns scoring
    into a broadcast join + SUM.  Shortlist exact-rescored as always:
    scores exact, candidates doubly approximate.  (Classic IVFADC
    encodes residuals x−centroid for tighter codes; raw-vector PQ keeps
    the oracle replay independent of the IVF training and is a
    deployed variant — the residual form is
    :func:`ann_ivfpq_residual`, the same probe over codes
    :func:`_train_residual` trains on ``x − m_cell``.)

    At 100 TB: EVERY corpus-sized read is partition-pruned to the
    probed cells via literal cell filters from a bounded driver-side
    probe collect (the ``ivf_probe_topk`` contract) — the ADC scan
    reads the index's cell-partitioned ``pqcodes`` table (the
    compressed representation, persisted at build time), the rescore
    reads only the probed cells' inverted lists and norms; the query
    side is serving-sized by premise.  Nothing corpus-sized shuffles
    at probe time."""
    queries = df.filter(query_pred(F.col(id_col)))
    qscomp, _, cells, probes = _ivf_probe(
        spark, index_dir, queries, n_probe, id_col, vec_col
    )
    hits = _adc_hits(
        spark, index_dir, "pqcents", "pqcodes", qscomp, cells, probes
    )
    approx = hits.groupBy(
        "query_id", F.col("vec_id").alias("neighbor_id")
    ).agg(F.sum("pdot").alias("adot"))
    # exact rescore: probed cells' array-form member table only
    return _shortlist_rescore_arrays(
        spark, index_dir, cells, approx, shortlist, queries, id_col, vec_col, k
    )


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

def _with_sql(comp_nrm_sql: str, parts: list[str]) -> str:
    """``WITH`` over the registry's shared comp/nrm CTEs and ``parts``;
    callers append the final SELECT."""
    return f"WITH {comp_nrm_sql},\n    " + ",\n    ".join(parts)


def _lloyd_parts_sql(
    prefix: str, src: str, iters: int, ks: int, m: int
) -> list[str]:
    """The PQ Lloyd replay over the tagged component CTE ``src``: the
    ``vec_id % ks`` init ``{prefix}pl0``, then per iteration the
    floor-mean M-step ``{prefix}pcent{t}``, the squared-L2 distances
    ``{prefix}pd{t}`` and the argmin E-step ``{prefix}pl{t}`` (ties
    smallest code)."""
    p = prefix
    parts = [
        f"{p}pl0 AS (SELECT DISTINCT vec_id, s.s AS sub,"
        f" CAST(vec_id % {ks} AS BIGINT) AS code\n"
        f"      FROM comp, unnest(generate_series(0, {m - 1})) AS s(s))",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"{p}pcent{t} AS MATERIALIZED (\n"
            "      SELECT sub, code, pos, (s - ((s % n + n) % n)) // n AS c\n"
            "      FROM (SELECT sc.sub, l.code, sc.pos,\n"
            "                   CAST(SUM(sc.q) AS BIGINT) AS s,\n"
            "                   CAST(COUNT(*) AS BIGINT) AS n\n"
            f"            FROM {src} sc JOIN {p}pl{t - 1} l\n"
            "              ON l.vec_id = sc.vec_id AND l.sub = sc.sub\n"
            "            GROUP BY 1, 2, 3))"
        )
        parts.append(
            f"{p}pd{t} AS (SELECT sc.vec_id, sc.sub, ct.code,\n"
            "             CAST(SUM((sc.q - ct.c) * (sc.q - ct.c)) AS BIGINT)"
            " AS d2\n"
            f"      FROM {src} sc JOIN {p}pcent{t} ct\n"
            "        ON ct.sub = sc.sub AND ct.pos = sc.pos\n"
            "      GROUP BY 1, 2, 3)"
        )
        parts.append(
            f"{p}pl{t} AS MATERIALIZED (SELECT vec_id, sub, code"
            f" FROM {p}pd{t}\n"
            "      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub"
            " ORDER BY d2, code) = 1)"
        )
    return parts


def pq_parts_sql(
    iters: int = PQ_ITERS,
    ks: int = PQ_KS,
    m: int = PQ_M,
) -> list[str]:
    """CTE parts replaying the PQ training relationally over the
    registry's shared ``comp`` CTE: subspace tagging, the ``vec_id % ks``
    init, and per-iteration floor-mean M-step + squared-L2 argmin E-step
    (ties smallest code).  Callers append the ADC / codebook tail."""
    return [
        "pdim AS (SELECT MAX(pos) AS d FROM comp)",
        f"scomp AS MATERIALIZED (SELECT c.vec_id, "
        f"((c.pos - 1) * {m}) // d AS sub, c.pos, c.q\n"
        "      FROM comp c CROSS JOIN pdim)",
    ] + _lloyd_parts_sql("", "scomp", iters, ks, m)


def pq_codebooks_sql(
    comp_nrm_sql: str,
    iters: int = PQ_ITERS,
    ks: int = PQ_KS,
    m: int = PQ_M,
) -> str:
    return _with_sql(comp_nrm_sql, pq_parts_sql(iters, ks, m)) + f"""
    SELECT sub AS subspace, code, pos, c FROM pcent{iters}
    """


def _lut_part_sql(iters: int, where: str = "") -> str:
    """``plut``: the ADC LookUp Table, each query's partial dots against
    the final codebooks ``pcent{iters}``; ``where`` (over ``sc``)
    restricts the queries."""
    return (
        "plut AS MATERIALIZED (\n"
        "      SELECT sc.vec_id AS query_id, ct.sub, ct.code,\n"
        "             CAST(SUM(sc.q * ct.c) AS BIGINT) AS pdot\n"
        f"      FROM scomp sc JOIN pcent{iters} ct\n"
        "        ON ct.sub = sc.sub AND ct.pos = sc.pos"
        + (f"\n      WHERE {where} " if where else " ")
        + "GROUP BY 1, 2, 3)"
    )


def _rescore_parts_sql(p: str, shortlist: int) -> list[str]:
    """``{p}short``: the ``shortlist`` best candidates per query of
    ``{p}approx`` by approximate dot; ``{p}dots``: their exact dot
    products."""
    return [
        f"{p}short AS MATERIALIZED (SELECT query_id, neighbor_id"
        f" FROM {p}approx\n"
        "      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id"
        f" ORDER BY adot DESC, neighbor_id) <= {shortlist})",
        f"{p}dots AS (SELECT s.query_id, s.neighbor_id,"
        " SUM(a.q * b.q) AS dot\n"
        f"      FROM {p}short s\n"
        "      JOIN comp a ON a.vec_id = s.query_id\n"
        "      JOIN comp b ON b.vec_id = s.neighbor_id AND b.pos = a.pos\n"
        "      GROUP BY 1, 2)",
    ]


def _topk_sql(dots: str, k: int) -> str:
    """The final SELECT of an ANN oracle: top-``k`` exact cosine per
    query over the exact dot products ``dots``."""
    return f"""
    SELECT query_id, neighbor_id,
           dot / (SQRT(qn.norm2) * SQRT(cn.norm2)) AS cosine
    FROM {dots}
    JOIN nrm qn ON qn.vec_id = query_id
    JOIN nrm cn ON cn.vec_id = neighbor_id
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) <= {k}
    """


def _recall_sql(
    comp_nrm_sql: str,
    parts: list[str],
    prefix: str,
    dots: str,
    query_pred: str,
    k: int,
) -> str:
    """Exact brute-force top-k truth (``{prefix}truth``) LEFT-joined
    against the ANN answer (``{prefix}got``, top-k over ``dots``), one
    (n_true, n_caught, recall_micro) row — the ``ann_recall_ivf_trained``
    shape, the oracle of :func:`ann_recall`."""
    qp_a = qualify_pred(query_pred, "a")
    parts = parts + [
        f"""{prefix}got AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               dot / (SQRT(qn.norm2) * SQRT(cn.norm2)) AS cosine
        FROM {dots}
        JOIN nrm qn ON qn.vec_id = query_id
        JOIN nrm cn ON cn.vec_id = neighbor_id)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) <= {k})""",
        f"""{prefix}truth AS MATERIALIZED (
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
    ]
    pad = " " * len(prefix)
    return _with_sql(comp_nrm_sql, parts) + f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN g.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_caught,
           CAST((1000000 * SUM(CASE WHEN g.neighbor_id IS NOT NULL
                                    THEN 1 ELSE 0 END))
                // GREATEST(COUNT(*), 1) AS BIGINT) AS recall_micro
    FROM {prefix}truth t
    LEFT JOIN {prefix}got g ON g.query_id = t.query_id
                   {pad}AND g.neighbor_id = t.neighbor_id
    """


def _adc_parts_sql(
    query_pred: str,
    shortlist: int,
    iters: int,
    ks: int,
    m: int,
) -> list[str]:
    """PQ training parts + the ADC tail through ``pdots`` (exact dot
    products of the shortlisted candidates)."""
    return pq_parts_sql(iters, ks, m) + [
        _lut_part_sql(iters, qualify_pred(query_pred, "sc")),
        f"papprox AS (SELECT l.query_id, cd.vec_id AS neighbor_id,\n"
        "             SUM(l.pdot) AS adot\n"
        f"      FROM pl{iters} cd JOIN plut l\n"
        "        ON l.sub = cd.sub AND l.code = cd.code\n"
        "      WHERE cd.vec_id != l.query_id GROUP BY 1, 2)",
    ] + _rescore_parts_sql("p", shortlist)


def ann_pq_adc_sql(
    comp_nrm_sql: str,
    query_pred: str = "vec_id < 5",
    k: int = 3,
    shortlist: int = PQ_SHORTLIST,
    iters: int = PQ_ITERS,
    ks: int = PQ_KS,
    m: int = PQ_M,
) -> str:
    parts = _adc_parts_sql(query_pred, shortlist, iters, ks, m)
    return _with_sql(comp_nrm_sql, parts) + _topk_sql("pdots", k)


def ann_pq_recall_sql(
    comp_nrm_sql: str,
    query_pred: str = "vec_id < 5",
    k: int = 3,
    shortlist: int = PQ_SHORTLIST,
    iters: int = PQ_ITERS,
    ks: int = PQ_KS,
    m: int = PQ_M,
) -> str:
    """Exact brute-force top-k truth LEFT-joined against the PQ-ADC
    answer set, one summary row."""
    parts = _adc_parts_sql(query_pred, shortlist, iters, ks, m)
    return _recall_sql(comp_nrm_sql, parts, "", "pdots", query_pred, k)


def _ivf_parts_sql(
    query_pred: str, n_centroids: int, ivf_iters: int
) -> list[str]:
    """The IVF training replay and per-query cell distances ``qd``
    (``ivf_trained_parts_sql`` without its probe tail)."""
    from killrweather_spark.functions.ann_index import ivf_trained_parts_sql

    return ivf_trained_parts_sql(
        n_centroids, ivf_iters, n_probe=0, query_pred=query_pred,
        probe_tail=False,
    )


def _ivfpq_parts_sql(
    query_pred: str,
    n_probe: int,
    shortlist: int,
    n_centroids: int,
    ivf_iters: int,
    iters: int,
    ks: int,
    m: int,
) -> list[str]:
    """The IVFADC oracle chain through ``idots``: the IVF training replay
    (cells + query cell ranking) composed with the PQ training replay
    (codes + LUT), candidates restricted to probed cells, ADC ranking,
    exact dots of the shortlist."""
    return (
        _ivf_parts_sql(query_pred, n_centroids, ivf_iters)
        + pq_parts_sql(iters, ks, m)
        + [
            f"iprobes AS (SELECT query_id, cell FROM qd\n"
            "      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id"
            f" ORDER BY d2, cell) <= {n_probe})",
            f"icand AS (SELECT p.query_id, l.vec_id\n"
            f"      FROM iprobes p JOIN l{ivf_iters} l ON l.cell = p.cell\n"
            "      WHERE l.vec_id != p.query_id)",
            _lut_part_sql(iters, qualify_pred(query_pred, "sc")),
            f"iapprox AS (SELECT c.query_id, c.vec_id AS neighbor_id,\n"
            "             SUM(l.pdot) AS adot\n"
            f"      FROM icand c JOIN pl{iters} cd ON cd.vec_id = c.vec_id\n"
            "      JOIN plut l ON l.query_id = c.query_id\n"
            "        AND l.sub = cd.sub AND l.code = cd.code\n"
            "      GROUP BY 1, 2)",
        ]
        + _rescore_parts_sql("i", shortlist)
    )


def ann_ivfpq_sql(
    comp_nrm_sql: str,
    query_pred: str = "vec_id < 5",
    k: int = 3,
    n_probe: int = 2,
    shortlist: int = PQ_SHORTLIST,
    n_centroids: int = 8,
    ivf_iters: int = 2,
    iters: int = PQ_ITERS,
    ks: int = PQ_KS,
    m: int = PQ_M,
) -> str:
    """DuckDB oracle for :func:`ann_ivfpq` — the IVF training replay
    (cells + query cell ranking) composed with the PQ training replay
    (codes + LUT), candidates restricted to probed cells, ADC ranking,
    exact rescore tail."""
    parts = _ivfpq_parts_sql(
        query_pred, n_probe, shortlist, n_centroids, ivf_iters, iters, ks, m
    )
    return _with_sql(comp_nrm_sql, parts) + _topk_sql("idots", k)


def ann_ivfpq_recall_sql(
    comp_nrm_sql: str,
    query_pred: str = "vec_id < 5",
    k: int = 3,
    n_probe: int = 2,
    shortlist: int = PQ_SHORTLIST,
    n_centroids: int = 8,
    ivf_iters: int = 2,
    iters: int = PQ_ITERS,
    ks: int = PQ_KS,
    m: int = PQ_M,
) -> str:
    """Exact truth LEFT-joined against the IVFADC answer, one row."""
    parts = _ivfpq_parts_sql(
        query_pred, n_probe, shortlist, n_centroids, ivf_iters, iters, ks, m
    )
    return _recall_sql(comp_nrm_sql, parts, "", "idots", query_pred, k)


# --------------------------------------------------------------------------
# Streaming semantic screen over the persisted IVFADC index
# --------------------------------------------------------------------------

# Build-time collect guard: the model tables pulled to the driver at
# query-build time (centroids: n_centroids·dim rows; pqcents: dim·ks
# rows) are broadcast-sized BY CONSTRUCTION — this cap turns a
# mis-built index into a loud error instead of a driver OOM.
SCREEN_MODEL_MAX_ROWS = 100_000


# Static screen state per (session, index, build stamp): the collected
# centroid/codebook literals and the packed candidate table are
# immutable once an index is built (the dir is corpus-fingerprint-keyed
# and _meta.json changes on any rebuild), so repeated screen queries —
# every micro-batch replan, every bench run — reuse one persisted
# packed table and identical literal trees instead of re-collecting and
# re-persisting per call.
_SCREEN_STATE: dict = {}


def _screen_static_state(spark, index_dir: str):
    import os

    stamp = os.path.getmtime(os.path.join(index_dir, "_meta.json"))
    key = (id(spark), index_dir, stamp)
    hit = _SCREEN_STATE.get(key)
    if hit is not None:
        return hit

    cents_rows = (
        spark.read.parquet(os.path.join(index_dir, "centroids")).collect()
    )
    pqc_rows = (
        spark.read.parquet(os.path.join(index_dir, "pqcents")).collect()
    )
    if max(len(cents_rows), len(pqc_rows)) > SCREEN_MODEL_MAX_ROWS:
        raise ValueError(
            f"index model tables too large to inline "
            f"(centroids={len(cents_rows)}, pqcents={len(pqc_rows)} rows"
            f" > {SCREEN_MODEL_MAX_ROWS}): not a broadcast-shaped index"
        )

    by_cell: dict[int, dict[int, int]] = {}
    for r in cents_rows:
        by_cell.setdefault(int(r.cell), {})[int(r.pos)] = int(r.c)
    # raw centroid table — the screen's Arrow cell-assignment kernel
    # closes over it (r13 session 5; formerly a parsed literal array fed
    # an interpreted array_min/zip_with fold per arrival)
    cent_tbl = sorted(
        (cell, [d[p] for p in sorted(d)]) for cell, d in by_cell.items()
    )
    # Positional code tables per subspace, zero-filled at code-id gaps
    # (a missing code id is never referenced: stored codes are argmins
    # over EXISTING codebook rows).  Raw Python tables — the screen
    # compiles them into the per-ARRIVAL ADC distance table below.
    by_sub: dict[int, dict[int, list[tuple[int, int]]]] = {}
    for r in pqc_rows:
        by_sub.setdefault(int(r.sub), {}).setdefault(int(r.code), []).append(
            (int(r.pos), int(r.c))
        )
    sub_tables: list[tuple[list[int], list[list[int]]]] = []
    for sub in sorted(by_sub):
        codes_d = by_sub[sub]
        poss = sorted({p for pcs in codes_d.values() for p, _ in pcs})
        table = [
            [int(dict(codes_d.get(code, ())).get(p, 0)) for p in poss]
            for code in range(max(codes_d) + 1)
        ]
        sub_tables.append((poss, table))

    codes_tbl = spark.read.parquet(os.path.join(index_dir, "pqcodes"))
    norms_tbl = spark.read.parquet(os.path.join(index_dir, "norms"))
    packed = (
        codes_tbl.groupBy("cell", "vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "code"))),
                lambda x: x["code"].cast("bigint"),
            ).alias("codes")
        )
        # inner join: zero-norm vectors have no defined cosine and are
        # not candidates (mirrors cosine_norms / the oracle's nrm CTE)
        .join(norms_tbl.select("vec_id", "norm2"), "vec_id")
        .select(
            F.col("cell").alias("cand_cell"),
            F.col("vec_id").alias("cand_id"),
            "codes",
            F.col("norm2").alias("cand_norm2"),
        )
        .transform(persist_once)
    )
    state = (cent_tbl, sub_tables, packed)
    _SCREEN_STATE[key] = state
    return state


def streaming_semantic_screen(
    spark,
    index_dir: str,
    stream_vecs: DataFrame,
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental EMBEDDING ingestion as a STREAM — the dense-vector
    mirror of ``curation.py:streaming_passage_screen`` /
    ``multimodal.py:streaming_image_screen``, closing the screen family
    over the similarity modality: arriving vectors probe the persisted
    IVFADC index (:func:`killrweather_spark.functions.ann_index.
    build_ivf_index`) and roll up, per arrival, how many indexed
    same-cell vectors already look semantically equivalent
    (``n_known`` at PQ-approximate cosine ≥ ``threshold`` — the
    dedup-drop signal ``ann_ivfpq`` refines in batch).

    The streaming constraint shapes the plan: Structured Streaming
    allows ONE stateful aggregation, so everything before the final
    per-arrival rollup must be stateless.  That is exactly what the
    IVFADC artifacts enable —

    - **cell assignment** is STATELESS: the trained centroids
      (n_centroids·dim rows, the broadcast artifact) are collected at
      query-build time and each arrival's probe cell is an exact-int64
      squared-L2 argmin over them in an Arrow kernel (ties to the
      smallest cell, same rule as training);
    - **candidate fetch** is a stream-static equi-join on that cell
      against the index's COMPRESSED ``pqcodes`` table, pre-packed in
      batch to one (cell, cand_id, codes[M], norm2) row per vector —
      the stream never touches raw corpus vectors;
    - **ADC scoring** is a pure expression too: the PQ codebooks
      (dim·ks rows) are compiled, per arrival, into the classic ADC
      distance table (one flattened M·ks array of per-code partial
      dots — Jégou et al. 2011 §V.A), and the approximate dot per
      candidate is M ``element_at`` gathers of that table by the
      candidate's stored codes — integer arithmetic end-to-end, so
      batch replay of the same arrivals is bit-identical and the batch
      SQL is the oracle.

    Scale: per-arrival work is |cell| candidate rows × one dim-length
    fold; the static side is the persisted compressed index (~512×
    smaller than the vectors at production dims), partitioned by cell;
    state is one row per arrival in the rollup.  Returns
    (vec_id, cell, n_candidates, n_known, best_adot).
    """
    cent_tbl, sub_tables, packed = _screen_static_state(spark, index_dir)

    q_expr = F.expr(
        f"transform({vec_col}, x ->"
        " cast(round(cast(x as double) * 1000000) as bigint))"
    )
    # Cell assignment + norm as ONE Arrow kernel (r13 session 5, guide
    # §4.2): the former array_min/zip_with literal fold is
    # CodegenFallback — n_centroids·dims interpreted lambda calls per
    # arrival (3.8 s of the sf1 batch in the session's bisect).  Exact
    # replication of the expression semantics, probed and pinned by the
    # kmeans-kernel test for the same ordering rule: a null component
    # nullifies qnorm2 (row filtered), an empty vector has qnorm2 0
    # (filtered), and a clean row whose width differs from the centroid
    # width nullifies every d2 — array_min sorts NULL first, so it
    # lands on the SMALLEST cell id.
    import numpy as np

    cent_cells = np.array([c for c, _ in cent_tbl], dtype=np.int64)
    cent_mat = np.array([v for _, v in cent_tbl], dtype=np.int64)
    cd = cent_mat.shape[1] if cent_mat.ndim == 2 else -1

    @F.pandas_udf("qnorm2 bigint, cell bigint")
    def assign_cell(q_s):
        import numpy as _np
        import pandas as _pd

        rows = q_s.to_list()
        norms: list = []
        cells: list = []
        try:
            mat = _np.stack(rows)
            full = (
                mat.ndim == 2
                and mat.shape[1] == cd
                and mat.dtype.kind in "iu"
            )
        except (TypeError, ValueError):
            full = False
        if full:
            q = mat.astype(_np.int64)
            norms = [int(x) for x in (q * q).sum(axis=1)]
            best_d = None
            best_c = None
            for ci in range(len(cent_cells)):
                diff = q - cent_mat[ci]
                d2 = (diff * diff).sum(axis=1)
                if best_d is None:
                    best_d = d2.copy()
                    best_c = _np.full(len(q), cent_cells[ci])
                else:
                    better = d2 < best_d
                    best_d[better] = d2[better]
                    best_c[better] = cent_cells[ci]
            cells = [int(x) for x in best_c]
        else:
            min_cell = int(cent_cells[0]) if len(cent_cells) else None
            for r in rows:
                if r is None:
                    norms.append(None)
                    cells.append(None)
                    continue
                clean = True
                acc = 0
                vals = []
                for x in r:
                    if x is None or x != x:
                        clean = False
                        break
                    xi = int(x)
                    acc += xi * xi
                    vals.append(xi)
                if not clean:
                    norms.append(None)
                    cells.append(None)
                    continue
                norms.append(acc)
                if len(vals) == cd:
                    qv = _np.array(vals, dtype=_np.int64)
                    diffs = cent_mat - qv
                    d2s = (diffs * diffs).sum(axis=1)
                    cells.append(int(cent_cells[int(_np.argmin(d2s))]))
                else:
                    cells.append(min_cell)
        return _pd.DataFrame({"qnorm2": norms, "cell": cells})

    # guide §4.4: the qnorm2 > 0 filter below references the kernel's
    # output, and the optimizer otherwise DUPLICATES the ArrowEvalPython
    # (one copy under the pushed filter, one in the projection — plan-
    # verified: 2 nodes, each evaluating the whole batch).  Marking the
    # kernel non-deterministic pins a single evaluation; values are
    # unchanged (the kernel is in fact deterministic).
    assign_cell = assign_cell.asNondeterministic()

    arr = (
        stream_vecs.select(F.col(id_col).alias("vec_id"), q_expr.alias("q"))
        .withColumn("__a", assign_cell("q"))
        .select(
            "vec_id",
            "q",
            F.col("__a.qnorm2").alias("qnorm2"),
            F.col("__a.cell").alias("cell"),
        )
        .filter(F.col("qnorm2") > 0)
    )
    # Arrivals usually come off a NARROW source (a file-stream
    # micro-batch is often one scan partition); the per-candidate ADC
    # fold below is the CPU stage and higher-order functions are
    # interpreted, so spread the (tiny) arrival rows across every task
    # slot first — a |batch|-row round-robin exchange per trigger buys
    # full-width scoring (measured 13.7 s -> ~2 s at sf0.1 where one
    # core otherwise folds all 500k candidate rows).
    arr = arr.repartition(
        stream_vecs.sparkSession.sparkContext.defaultParallelism
    )
    # broadcast the packed candidate side: the join key has only
    # n_centroids distinct values, so a shuffle join would collapse the
    # fold onto n_centroids tasks (measured: 8 of 32 busy); broadcast
    # keeps the scoring in the arrivals' round-robin partitions.  The
    # packed table is the COMPRESSED index (M bytes + norm per vector)
    # — broadcast-sized far beyond bench SFs; a corpus too big for that
    # switches this join to the cell-partitioned shuffle form.
    # ADC distance TABLE per arrival (r13 session 5 — the IVFADC LUT
    # trick, Jégou et al. 2011 §V.A): the former form evaluated the
    # dim-wide unrolled sum ``Σ element_at(q, p) · element_at(__r_si,
    # j)`` PER CANDIDATE PAIR — 50.8 M pairs × 64 products measured
    # 146 s of the 169 s sf1 addBatch (bisect in OPTIMIZATION_r13
    # session 5; the generated projection ran far off compiled speed).
    # But the q·codebook products depend only on the ARRIVAL, not the
    # candidate: precompute, per arrival, one flattened array holding
    # every subspace's per-code partial dot (M·ks entries — the
    # classic per-query distance table), and per pair the approximate
    # dot is M element_at GATHERS + adds.  Same int64 products,
    # regrouped per subspace — int64 addition is associative and
    # commutative (wrap included), so every adot is bit-identical.
    # The table is built BEFORE the candidate join (|batch| rows, not
    # |batch|·|cell|), as one parsed expression string (the session-3
    # plan-build rule: one py4j round-trip, no per-term Column calls).
    offs: list[int] = []
    _off = 0
    for _, table in sub_tables:
        offs.append(_off)
        _off += len(table)
    pd_rows = ", ".join(
        " + ".join(
            f"element_at(q, {p}) * {int(c)}L"
            for p, c in zip(poss, code_row)
        )
        or "0L"
        for poss, table in sub_tables
        for code_row in table
    )
    arr = arr.withColumn("__pd", F.expr(f"array({pd_rows})"))
    probed = arr.join(
        F.broadcast(packed),
        (arr["cell"] == packed["cand_cell"])
        & (arr["vec_id"] != packed["cand_id"]),
        "left",
    )
    adot = F.expr(
        " + ".join(
            f"element_at(__pd, cast(element_at(codes, {si + 1})"
            f" + {offs[si] + 1} as int))"
            for si in range(len(sub_tables))
        )
    )
    scored = probed.withColumn("adot", adot).drop("__pd").withColumn(
        "known",
        F.when(
            F.col("adot")
            / (F.sqrt(F.col("cand_norm2")) * F.sqrt(F.col("qnorm2")))
            >= threshold,
            1,
        ).otherwise(0),
    )
    return scored.groupBy("vec_id", "cell").agg(
        F.count("cand_id").cast("bigint").alias("n_candidates"),
        F.sum("known").cast("bigint").alias("n_known"),
        F.max("adot").cast("bigint").alias("best_adot"),
    )


def streaming_semantic_screen_sql(
    comp_nrm_sql: str,
    threshold: float = 0.25,
    n_centroids: int = 8,
    ivf_iters: int = 2,
    iters: int = PQ_ITERS,
    ks: int = PQ_KS,
    m: int = PQ_M,
    arrival_pred: str = "TRUE",
) -> str:
    """DuckDB oracle for :func:`streaming_semantic_screen` — IVF + PQ
    training replayed relationally (the arrivals ARE the indexed
    corpus), every arrival assigned its single nearest trained cell,
    same-cell candidates ADC-scored through the replayed codebooks,
    per-arrival rollup."""
    parts = _ivf_parts_sql(arrival_pred, n_centroids, ivf_iters)
    parts += pq_parts_sql(iters, ks, m)
    parts += [
        "acell AS MATERIALIZED (SELECT query_id, cell FROM qd\n"
        "      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id"
        " ORDER BY d2, cell) = 1)",
        _lut_part_sql(iters),
        f"scand AS (SELECT a.query_id, a.cell, l.vec_id AS cand_id\n"
        f"      FROM acell a JOIN l{ivf_iters} l ON l.cell = a.cell\n"
        "        AND l.vec_id != a.query_id\n"
        "      JOIN nrm cn ON cn.vec_id = l.vec_id)",
        f"adots AS (SELECT c.query_id, c.cell, c.cand_id,\n"
        "             CAST(SUM(l.pdot) AS BIGINT) AS adot\n"
        f"      FROM scand c JOIN pl{iters} cd ON cd.vec_id = c.cand_id\n"
        "      JOIN plut l ON l.query_id = c.query_id\n"
        "        AND l.sub = cd.sub AND l.code = cd.code GROUP BY 1, 2, 3)",
        "sscored AS (SELECT a.query_id, a.cell, a.cand_id, a.adot,\n"
        "             CASE WHEN a.adot / (SQRT(qn.norm2) * SQRT(cn.norm2))"
        f" >= {threshold} THEN 1 ELSE 0 END AS k\n"
        "      FROM adots a JOIN nrm qn ON qn.vec_id = a.query_id\n"
        "      JOIN nrm cn ON cn.vec_id = a.cand_id)",
    ]
    return _with_sql(comp_nrm_sql, parts) + """
    SELECT a.query_id AS vec_id, CAST(a.cell AS BIGINT) AS cell,
           CAST(COUNT(s.cand_id) AS BIGINT) AS n_candidates,
           CAST(COALESCE(SUM(s.k), 0) AS BIGINT) AS n_known,
           CAST(MAX(s.adot) AS BIGINT) AS best_adot
    FROM acell a
    JOIN nrm qn ON qn.vec_id = a.query_id
    LEFT JOIN sscored s ON s.query_id = a.query_id
    GROUP BY 1, 2
    """


# --------------------------------------------------------------------------
# Residual-encoded IVFADC (the classic Jégou et al. 2011 composition)
# --------------------------------------------------------------------------

def ann_ivfpq_residual(
    spark,
    index_dir: str,
    df: DataFrame,
    query_pred,
    k: int = 3,
    n_probe: int = 2,
    shortlist: int = PQ_SHORTLIST,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`ann_ivfpq` with RESIDUAL-encoded codes — the classic
    IVFADC form [Jégou et al. 2011 §III]: the index stores PQ codes of
    ``r = v − m_cell`` (trained by :func:`_train_residual`, persisted as
    ``pqrcents``/``pqrcodes``), so the codebooks describe the
    within-cell spread instead of re-describing the coarse structure
    the IVF already captured, and the approximate dot decomposes as
    ``dot(q, v) ≈ dot(q, m_cell) + Σ_s LUT_res[s, code_s]`` — the
    centroid term is ONE scalar per (query, probed cell), computed from
    the broadcast centroid table, never a corpus-sized read.

    Same probe contract as :func:`ann_ivfpq`: bounded driver-side probe
    collect → literal cell partition filters; ADC scan over the probed
    cells' COMPRESSED residual codes; exact rescore of the shortlist
    from the probed inverted lists.  Scores exact, candidates doubly
    approximate — only the candidate RANKING differs from the
    raw-vector variant.  Residuals are smaller than vectors, so the
    codebooks' 16 codes cover a tighter range — the production
    rationale; measured honestly by the ``ann_ivfpq_residual_recall``
    registry row (:func:`ann_recall` of this answer).
    At the registry's small-sf geometry the two variants land within
    one caught pair of each other (11 vs 12 of 15) because recall loss
    there is dominated by CELL pruning, which both share.  The round-11
    geometry study (scripts/residual_recall_study.py; table in
    SCALE.md) removes that confound by sweeping n_probe to n_centroids
    — zero cell loss — at sf0.1/sf1 with 50 queries x k=10: residual
    wins 11 of 12 cells, by +1.4 to +4.8 recall points at sf0.1 and
    +0.4 to +2.2 at sf1, the gap widening with a tighter shortlist —
    i.e. residual encoding measurably improves the ADC candidate
    RANKING at equal bytes, and stays the recommended production
    default (raw codes remain the oracle baseline)."""
    queries = df.filter(query_pred(F.col(id_col)))
    qscomp, cents, cells, probes = _ivf_probe(
        spark, index_dir, queries, n_probe, id_col, vec_col
    )
    # the coarse term: dot(q, m_cell) per PROBED (query, cell) — one
    # scalar each, from the broadcast centroid table
    mdot = (
        qscomp.select("query_id", "pos", "q")
        .join(F.broadcast(cents.filter(F.col("cell").isin(cells))), "pos")
        .groupBy("query_id", "cell")
        .agg(F.sum(F.col("q") * F.col("c")).cast("bigint").alias("mdot"))
        .join(probes, ["query_id", "cell"])
    )
    # the residual term: LUT over the RESIDUAL codebooks (query stays raw)
    hits = _adc_hits(
        spark, index_dir, "pqrcents", "pqrcodes", qscomp, cells, probes
    )
    approx = (
        hits.groupBy("query_id", "cell", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("pdot").alias("rdot"))
        .join(F.broadcast(mdot), ["query_id", "cell"])
        .select(
            "query_id",
            "neighbor_id",
            (F.col("mdot") + F.col("rdot")).alias("adot"),
        )
    )
    return _shortlist_rescore_arrays(
        spark, index_dir, cells, approx, shortlist, queries, id_col, vec_col, k
    )


def residual_pq_parts_sql(
    ivf_iters: int = 2,
    iters: int = PQ_ITERS,
    ks: int = PQ_KS,
    m: int = PQ_M,
) -> list[str]:
    """CTE parts replaying :func:`_train_residual` relationally over the
    shared comp CTE + the IVF training CTEs (``cent{ivf_iters}`` /
    ``l{ivf_iters}`` from ``ivf_trained_parts_sql``): residual
    components, the vec_id % ks init, floor-mean M-step + squared-L2
    argmin E-step per iteration.  CTE names prefixed ``r`` so they
    compose with the raw-vector parts in one statement."""
    return [
        "rpdim AS (SELECT MAX(pos) AS d FROM comp)",
        f"rres AS MATERIALIZED (\n"
        f"      SELECT c.vec_id, ((c.pos - 1) * {m}) // d AS sub,"
        " c.pos, c.q - ct.c AS q\n"
        f"      FROM comp c JOIN l{ivf_iters} l USING (vec_id)\n"
        f"      JOIN cent{ivf_iters} ct ON ct.cell = l.cell"
        " AND ct.pos = c.pos\n"
        "      CROSS JOIN rpdim)",
    ] + _lloyd_parts_sql("r", "rres", iters, ks, m)


def _ivfpq_residual_core_parts(
    query_pred: str,
    n_probe: int,
    shortlist: int,
    n_centroids: int,
    ivf_iters: int,
    iters: int,
    ks: int,
    m: int,
) -> list[str]:
    """Shared CTE chain for the residual-IVFADC oracle: IVF + residual-PQ
    training replays, probes, coarse term, residual LUT, approximate
    ranking, exact-rescore dots."""
    parts = _ivf_parts_sql(query_pred, n_centroids, ivf_iters)
    parts += residual_pq_parts_sql(ivf_iters, iters, ks, m)
    qp_c = qualify_pred(query_pred, "c")
    parts += [
        f"riprobes AS (SELECT query_id, cell FROM qd\n"
        "      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id"
        f" ORDER BY d2, cell) <= {n_probe})",
        f"rqsc AS (SELECT c.vec_id AS query_id,"
        f" ((c.pos - 1) * {m}) // d AS sub, c.pos, c.q\n"
        f"      FROM comp c CROSS JOIN rpdim WHERE {qp_c})",
        f"rmdot AS (SELECT c.vec_id AS query_id, ct.cell,\n"
        "             CAST(SUM(c.q * ct.c) AS BIGINT) AS mdot\n"
        f"      FROM comp c JOIN cent{ivf_iters} ct USING (pos)\n"
        f"      WHERE {qp_c} GROUP BY 1, 2)",
        f"rplut AS MATERIALIZED (\n"
        "      SELECT x.query_id, ct.sub, ct.code,\n"
        "             CAST(SUM(x.q * ct.c) AS BIGINT) AS pdot\n"
        f"      FROM rqsc x JOIN rpcent{iters} ct\n"
        "        ON ct.sub = x.sub AND ct.pos = x.pos GROUP BY 1, 2, 3)",
        f"ricand AS (SELECT p.query_id, p.cell, l.vec_id\n"
        f"      FROM riprobes p JOIN l{ivf_iters} l ON l.cell = p.cell\n"
        "      WHERE l.vec_id != p.query_id)",
        f"riapprox AS (SELECT c.query_id, c.vec_id AS neighbor_id,\n"
        "             md.mdot + SUM(l.pdot) AS adot\n"
        f"      FROM ricand c JOIN rpl{iters} cd ON cd.vec_id = c.vec_id\n"
        "      JOIN rplut l ON l.query_id = c.query_id\n"
        "        AND l.sub = cd.sub AND l.code = cd.code\n"
        "      JOIN rmdot md ON md.query_id = c.query_id"
        " AND md.cell = c.cell\n"
        "      GROUP BY c.query_id, c.vec_id, md.mdot)",
    ]
    return parts + _rescore_parts_sql("ri", shortlist)


def ann_ivfpq_residual_sql(
    comp_nrm_sql: str,
    query_pred: str = "vec_id < 5",
    k: int = 3,
    n_probe: int = 2,
    shortlist: int = PQ_SHORTLIST,
    n_centroids: int = 8,
    ivf_iters: int = 2,
    iters: int = PQ_ITERS,
    ks: int = PQ_KS,
    m: int = PQ_M,
) -> str:
    """DuckDB oracle for :func:`ann_ivfpq_residual`."""
    parts = _ivfpq_residual_core_parts(
        query_pred, n_probe, shortlist, n_centroids, ivf_iters, iters,
        ks, m,
    )
    return _with_sql(comp_nrm_sql, parts) + _topk_sql("ridots", k)


def ann_ivfpq_residual_recall_sql(
    comp_nrm_sql: str,
    query_pred: str = "vec_id < 5",
    k: int = 3,
    n_probe: int = 2,
    shortlist: int = PQ_SHORTLIST,
    n_centroids: int = 8,
    ivf_iters: int = 2,
    iters: int = PQ_ITERS,
    ks: int = PQ_KS,
    m: int = PQ_M,
) -> str:
    """Exact truth LEFT-joined against the residual-IVFADC answer."""
    parts = _ivfpq_residual_core_parts(
        query_pred, n_probe, shortlist, n_centroids, ivf_iters, iters,
        ks, m,
    )
    return _recall_sql(comp_nrm_sql, parts, "r", "ridots", query_pred, k)
