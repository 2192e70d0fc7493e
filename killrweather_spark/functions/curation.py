"""Corpus-curation operators for large-scale training-data pipelines.

Beyond-reference surface (BASELINE.json north star), complementing
``functions/dedup.py`` (pair finding) and ``functions/text.py`` (per-doc
metrics) with the *corpus-level* decisions a 100 TB pipeline makes after
those stages: cluster the duplicate pairs into groups, split the corpus
into train/val/test, sample per stratum, pick signature vocabulary, and
filter by per-stratum quantile.

Determinism is the design constraint throughout — at 100 TB a curation
decision must be reproducible across reruns, cluster sizes, and engines:

- all pseudo-randomness is ``md5`` of a stable id (content-addressed;
  identical in any engine, no seed, no ``rand()`` — task retries and
  partition count changes cannot flip an assignment);
- all scores that feed a comparison are integers or single IEEE divisions
  of integers (exactly-rounded, engine-independent) — never ``ln``/``exp``
  whose libm implementations differ in the last ulp;
- every ranking carries a total tiebreak order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from killrweather_spark.functions.text import TOKEN_RE, token_count, tokens
from killrweather_spark.plans.caching import persist_once


def hash_key(id_col: Column) -> Column:
    """Content-addressed pseudo-random key: md5 hex of the id's decimal
    string. Uniform over [0, 16^32), reproducible everywhere."""
    return F.md5(id_col.cast("string").cast("binary"))


# --------------------------------------------------------------------------
# deterministic train/val/test split
# --------------------------------------------------------------------------

def deterministic_split(
    df: DataFrame,
    id_col: str = "doc_id",
    boundaries: tuple[tuple[str, float], ...] = (("train", 0.8), ("val", 0.9)),
    last_label: str = "test",
    out: str = "split",
) -> DataFrame:
    """Assign each row to a split by thresholding the first 16 bits of its
    md5 key — e.g. 0.8 → hex prefix < 'cccc' (52428/65536 ≈ 0.79999).

    Per-row hash thresholds (not a global sort/count) mean assignments are
    stable as the corpus grows: adding documents never moves an existing
    document between splits — the property that keeps eval sets
    uncontaminated across pipeline reruns at 100 TB. Narrow projection,
    no shuffle, whole-stage codegen.
    """
    prefix = F.substring(hash_key(F.col(id_col)), 1, 4)
    expr = None
    for label, frac in boundaries:
        # frac >= 1.0 means "everything remaining": int(1.0·65536) formats
        # to the 5-char '10000', which LEXICOGRAPHICALLY compares below
        # most 4-char prefixes and would silently misassign — catch-all
        # instead (same guard weighted_corpus_mix's keep_for applies)
        cond = (
            F.lit(True)
            if frac >= 1.0
            else prefix < F.lit(format(int(frac * 65536), "04x"))
        )
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    return df.withColumn(out, expr.otherwise(F.lit(last_label)))


# --------------------------------------------------------------------------
# stratified deterministic sampling
# --------------------------------------------------------------------------

def stratified_sample(
    df: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    fraction: float = 0.2,
) -> DataFrame:
    """Exact-fraction per-stratum sample: rank rows within each stratum by
    their md5 key (a deterministic shuffle) and keep the first
    ``ceil(fraction * stratum_size)``.

    One shuffle on the stratum key; rank + windowed count stream within
    partitions. Unlike ``df.sample(fraction)`` this hits the target size
    *exactly* per stratum and is reproducible (no RNG state, no partition
    dependence). Skewed strata split fine: the window is per-stratum but
    AQE skew handling applies to the exchange.
    """
    w = Window.partitionBy(strata_col).orderBy(hash_key(F.col(id_col)), id_col)
    wc = Window.partitionBy(strata_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wc))
        .filter(F.col("__rn") <= F.ceil(F.col("__n") * fraction))
        .drop("__rn", "__n")
    )


def training_order(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 8,
    salt: str = "epoch0",
) -> DataFrame:
    """Deterministic global training order for corpus sharding: every doc
    gets a ``(shard, pos)`` such that reading shards round-robin by ``pos``
    replays one fixed pseudo-random permutation of the corpus.

    - ``shard`` = md5(salt ‖ id) bucket — uniform, so shards are balanced
      and any worker count divides the corpus evenly;
    - ``pos``   = md5-rank WITHIN the shard — a per-shard window, never a
      global sort (a global ``row_number`` would be one task; this is one
      shuffle on the shard key and streams within partitions);
    - ``salt``  reshuffles between epochs with zero state: a new salt is a
      new independent permutation, reproducible on any cluster size.

    Writers partition output by ``shard`` sorted by ``pos``; the training
    loader streams shard files round-robin.  This is the content-addressed
    replacement for ``orderBy(rand())`` — which is both a full sort and
    unreproducible under retry.
    """
    key = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    shard = (
        F.conv(F.substring(key, 1, 15), 16, 10).cast("bigint")
        % F.lit(n_shards)
    ).cast("int")
    w = Window.partitionBy("shard").orderBy(F.col("__key"), id_col)
    return (
        df.withColumn("__key", key)
        .withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .drop("__key")
    )


# --------------------------------------------------------------------------
# per-stratum quantile filter
# --------------------------------------------------------------------------

def quantile_filter(
    df: DataFrame,
    strata_col: str = "source",
    order_col: str = "n_chars",
    id_col: str = "doc_id",
    min_quantile: float = 0.5,
) -> DataFrame:
    """Keep rows at or above the ``min_quantile`` of ``order_col`` within
    their stratum (e.g. drop the shortest half of each source).

    ``percent_rank`` = (rank-1)/(n-1): a single IEEE division of integers,
    so the kept *set* is engine- and partitioning-independent. The total
    order (order_col, id) makes ranks unique. One shuffle on the stratum.
    """
    w = Window.partitionBy(strata_col).orderBy(order_col, id_col)
    return (
        df.withColumn("q_rank", F.percent_rank().over(w))
        .filter(F.col("q_rank") >= min_quantile)
    )


# --------------------------------------------------------------------------
# per-stratum signature vocabulary (df-filtered top terms)
# --------------------------------------------------------------------------

def top_terms_per_stratum(
    df: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    max_df_ratio: float = 0.5,
) -> DataFrame:
    """Per-stratum signature terms: token frequency within the stratum,
    excluding corpus-wide stopwords (terms in > ``max_df_ratio`` of all
    docs — the document-frequency filter of tf-idf without the float log).

    Plan shape: tokenize+explode (narrow) → two hash aggregations with
    map-side partials (per-doc-term, then per-term / per-stratum-term) →
    broadcast of the small global-df table back onto the stratum counts →
    per-stratum top-k via row_number (bounded, streaming rank). Integer
    counts only — no libm, bit-identical across engines.
    """
    toks = df.select(
        F.col(strata_col).alias("stratum"),
        F.col(id_col).alias("__doc"),
        F.explode(F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0)).alias("term"),
    )
    # per-document distinct terms -> global document frequency
    doc_terms = toks.select("__doc", "term").distinct()
    n_docs = df.select(F.col(id_col)).distinct().count()
    global_df = doc_terms.groupBy("term").agg(F.count(F.lit(1)).alias("term_df"))
    keep_terms = global_df.filter(F.col("term_df") <= int(max_df_ratio * n_docs))

    stratum_tf = toks.groupBy("stratum", "term").agg(F.count(F.lit(1)).alias("tf"))
    ranked = (
        stratum_tf.join(F.broadcast(keep_terms), "term")
        .withColumn(
            "rank",
            # bigint: SQL window ranks are 64-bit — keeps the dtype
            # identical across engines for the value compare
            F.row_number().over(
                Window.partitionBy("stratum").orderBy(F.desc("tf"), F.asc("term"))
            ).cast("bigint"),
        )
        .filter(F.col("rank") <= k)
    )
    return ranked.select("stratum", "term", "tf", "term_df", "rank")


# --------------------------------------------------------------------------
# connected components (duplicate-pair clustering)
# --------------------------------------------------------------------------

# Edge count below which the contraction loop cuts over to a driver-side
# union-find finish: ≤ this many (int64, int64) rows collect (~3 MB),
# replacing O(log diameter) further ~0.5s distributed rounds with one
# local pass.  The distributed contraction is what gets an arbitrarily
# large pair set DOWN to this size.
CC_LOCAL_EDGE_CAP = 200_000


def _local_min_labels(edge_rows) -> dict[int, int]:
    """Driver union-find over collected supernode edges → {node: min id
    reachable}.  Min-label semantics make the result independent of edge
    order (components are sets; the label is their minimum)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        ra, rb = find(r.a), find(r.b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = set()
    for r in edge_rows:
        nodes.add(r.a)
        nodes.add(r.b)
    return {n: find(n) for n in nodes}


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 50,
    state_dir: str | None = None,
) -> DataFrame:
    """Cluster near-duplicate *pairs* into groups: each node gets
    ``component`` = the minimum node id reachable from it. The canonical
    keep-one-per-group dedup decision is then "keep node == component".

    Algorithm: STAR CONTRACTION WITH POINTER-JUMPED RELABELING — per
    round, every supernode takes ``min(self, neighbors)`` as a tentative
    label, that label map is then SHORTCUT TO ITS ROOTS by composing it
    with itself until fixpoint (pointer jumping: hop distance doubles
    per jump, so a depth-d label chain resolves in ⌈log₂ d⌉ cheap
    map-self-joins), the full node→label mapping composes through the
    jumped relabeling, and the edge set CONTRACTS to distinct
    (label(a), label(b)) pairs with self-loops dropped.  The jump step
    matters: min(self, neighbors) alone moves a label ONE id-hop per
    round, which on a MONOTONE-ID chain (ids ascending along the path —
    the advisor's counterexample) contracts only ~1 edge per round,
    O(n) rounds; with the jump, every supernode lands on a label-tree
    root each round and two adjacent roots cannot both survive (the
    larger one has a smaller neighbor), so the contraction is geometric
    for ANY id ordering.  Labels only ever decrease, so the fixpoint is
    order- and partitioning-independent: deterministic output at any
    cluster size.  Once the shrinking edge set fits under
    :data:`CC_LOCAL_EDGE_CAP`, a bounded driver union-find finishes the
    residue in one pass (the GraphX-style hybrid cutover — min-label
    DSU, so the answer is identical to running contraction to the end).
    Convergence is detected (edge set empty) and non-convergence within
    ``max_iter`` raises rather than returning silently-wrong groups.

    Round state (the mapping and the shrinking edge set) is truncated
    through a PARQUET ROUND-TRIP each round, not ``localCheckpoint``:
    measured in Spark 4.1.2, an iterative self-join chain re-checkpointed
    per round keeps a CONSTANT logical/physical plan yet its task time
    grows ~5× per round past round ~10 (0.6s → 255s by round 14, same
    curve under reliable ``checkpoint()``) — some RDD-layer recompute
    survives both checkpoint forms.  A fresh FileScan per round is the
    one truncation the engine cannot see through.

    ``state_dir`` is where that round state lands.  Default: a
    ``cc_state_<uuid>`` subtree of the session's checkpoint dir when one
    is set (``sc.setCheckpointDir`` points at HDFS/object storage on a
    real cluster, so EXECUTORS can read and write it — a driver-local
    ``mkdtemp`` path cannot work multi-node), else a driver-local
    tempdir with an explicit ``file://`` scheme (correct for local mode,
    loudly wrong-scheme rather than silently-HDFS on a cluster).  The
    tree is removed through the Hadoop FileSystem API, so cleanup works
    for any scheme.

    Returns (node, component) for every node that appears in a pair.
    """
    import tempfile
    import uuid

    spark = pairs.sparkSession
    if state_dir is None:
        ckpt = spark.sparkContext.getCheckpointDir()
        if ckpt:
            state_dir = ckpt.rstrip("/") + "/cc_state_" + uuid.uuid4().hex
        else:
            state_dir = "file://" + tempfile.mkdtemp(prefix="cc_state_")

    def _trunc(df: DataFrame, tag: str, approx_rows: int | None = None) -> DataFrame:
        path = state_dir.rstrip("/") + "/" + tag
        if approx_rows is not None:
            # size the state files to the (geometrically shrinking) data:
            # a 1k-row round written as 32 parquet files spends its whole
            # round budget on file overhead — ~50k rows per file keeps
            # both the write and the next round's scan proportionate
            df = df.repartition(max(1, min(32, approx_rows // 50_000 + 1)))
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    try:
        edges = _trunc(
            pairs.select(
                F.least(F.col(a_col), F.col(b_col)).alias("a"),
                F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct(),
            "e0",
        )
        comp = _trunc(
            edges.select(F.col("a").alias("node"))
            .union(edges.select(F.col("b").alias("node")))
            .distinct()
            .withColumn("component", F.col("node")),
            "c0",
        )
        n_edges = edges.count()
        # comp holds ALL original nodes forever — size its state files by
        # that (constant) count, not by the shrinking edge count, which
        # by late rounds would funnel the full node map into 1 partition.
        n_nodes = comp.count()
        for rnd in range(1, max_iter + 1):
            if n_edges == 0:
                break
            if n_edges <= CC_LOCAL_EDGE_CAP:
                # LOCAL FINISH: once contraction has shrunk the supernode
                # graph under the cap, a driver union-find resolves it in
                # one pass instead of log(diameter) more ~0.5s rounds —
                # the GraphX/Kiveris hybrid cutover.  BOUNDED collect by
                # construction (≤ cap edges of two int64s, ~3 MB at the
                # default cap); at 100 TB the distributed rounds above
                # are what shrink an arbitrarily large pair set to this.
                local = _local_min_labels(edges.collect())
                if local:
                    lmap = F.broadcast(
                        spark.createDataFrame(
                            sorted(local.items()),
                            "component bigint, __new bigint",
                        )
                    )
                    comp = comp.join(lmap, "component", "left").select(
                        "node",
                        F.coalesce(F.col("__new"), F.col("component")).alias(
                            "component"
                        ),
                    )
                n_edges = 0
                break
            sym = edges.select("a", "b").union(
                edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
            )
            relabel = _trunc(
                sym.groupBy("a").agg(F.min("b").alias("__m")).select(
                    "a", F.least(F.col("a"), F.col("__m")).alias("l")
                ),
                f"r{rnd}_0",
                approx_rows=2 * n_edges,
            )
            # POINTER-JUMP the label map to its roots: l ← l∘l until
            # fixpoint.  Hop distance doubles per jump, so a label chain
            # of depth d (monotone-id paths build depth ~d=|chain|)
            # resolves in ⌈log₂ d⌉ self-joins; most graphs need 0-1.
            # Without this, min(self, neighbors) moves labels one id-hop
            # per ROUND and ascending-id chains contract O(1) edges per
            # round (the O(n)-rounds failure mode).  Labels only
            # decrease under composition, so correctness is unchanged —
            # a label is always a node known-connected to its owner.
            # Chain depth is bounded by n_nodes, so ⌈log₂ n_nodes⌉ jumps
            # always suffice; the convergence probe (a __moved flag
            # computed IN the jump pass, then a limit-1 scan of the
            # just-written state file) exits the common 0-1-jump case
            # without the join+full-count job a diff of two label maps
            # would cost.
            max_jumps = max(1, (max(n_nodes, 2) - 1).bit_length())
            for jump in range(1, max_jumps + 1):
                nxt = _trunc(
                    relabel.alias("r1")
                    .join(
                        relabel.alias("r2"),
                        F.col("r1.l") == F.col("r2.a"),
                        "left",
                    )
                    .select(
                        F.col("r1.a").alias("a"),
                        F.coalesce(F.col("r2.l"), F.col("r1.l")).alias("l"),
                        (
                            F.col("r2.l").isNotNull()
                            & (F.col("r2.l") != F.col("r1.l"))
                        ).alias("__moved"),
                    ),
                    f"r{rnd}_{jump}",
                    approx_rows=2 * n_edges,
                )
                moved = nxt.filter("__moved").limit(1).count()
                relabel = nxt.select("a", "l")
                if moved == 0:
                    break
            comp = _trunc(
                comp.join(
                    relabel.select(
                        F.col("a").alias("component"), F.col("l").alias("__new")
                    ),
                    "component",
                    "left",
                ).select(
                    "node",
                    F.coalesce(F.col("__new"), F.col("component")).alias(
                        "component"
                    ),
                ),
                f"c{rnd}",
                approx_rows=n_nodes,
            )
            la = relabel.select(F.col("a").alias("a"), F.col("l").alias("__la"))
            lb = relabel.select(F.col("a").alias("b"), F.col("l").alias("__lb"))
            edges = _trunc(
                edges.join(la, "a")
                .join(lb, "b")
                .select(
                    F.least(F.col("__la"), F.col("__lb")).alias("a"),
                    F.greatest(F.col("__la"), F.col("__lb")).alias("b"),
                )
                .filter(F.col("a") != F.col("b"))
                .distinct(),
                f"e{rnd}",
                approx_rows=n_edges,
            )
            n_edges = edges.count()
        if n_edges != 0:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                "rounds. With pointer-jumped relabeling each round merges "
                "every supernode that has a smaller neighbor, so this "
                "should not happen on any ordinary graph — raise max_iter "
                "(and please report the graph shape)"
            )
        # Detach the result from the scratch files (ONE terminal
        # localCheckpoint — the per-round pathology above needs repeated
        # re-checkpointing to manifest) so the directory can be removed
        # now instead of leaking one tree per call (bench/sweep call this
        # repeatedly; same leak-free contract as run_stream_to_batch).
        return comp.select("node", "component").localCheckpoint(eager=True)
    finally:
        # Scheme-aware cleanup: the state tree may live on HDFS/object
        # storage (checkpoint-dir default on a cluster) or local disk —
        # the Hadoop FileSystem API deletes either.
        try:
            jpath = spark._jvm.org.apache.hadoop.fs.Path(state_dir)
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
            fs.delete(jpath, True)
        except Exception:
            pass


# --------------------------------------------------------------------------
# sequence packing (concat-and-chunk for training-sequence assembly)
# --------------------------------------------------------------------------

def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget_tokens: int = 512,
    n_shards: int = 16,
) -> DataFrame:
    """Assign every document to a fixed-token-budget training sequence using
    concat-and-chunk semantics: documents are laid out in a deterministic
    pseudo-random order, and each doc belongs to the sequence containing its
    *start* offset in the concatenated token stream
    (``seq_id = floor(start_offset / budget)``).

    Scale design: a single global ordering would collapse the window into
    one partition, so the corpus is first sharded by ``pmod(id, n_shards)``
    and packed *within* shards — each shard's cumulative sum is an
    independent window partition, so the op parallelizes to ``n_shards``
    tasks (set n_shards ≈ cluster parallelism at 100 TB; sequences are
    identified by (shard, seq_id)). The order within a shard is the md5 key
    — a content-addressed shuffle, reproducible across engines and reruns.

    One shuffle (by shard), streaming cumulative sum within partitions,
    token counting via built-in regex — no Python in the row path.
    """
    ntok = token_count(F.col(text_col))
    shard = F.pmod(F.col(id_col), F.lit(n_shards)).cast("int")
    w = (
        Window.partitionBy("shard")
        .orderBy(hash_key(F.col(id_col)), id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.select(F.col(id_col), shard.alias("shard"), ntok.alias("n_tokens"))
        .withColumn("start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .withColumn(
            "seq_id", F.floor(F.col("start_offset") / F.lit(budget_tokens))
        )
    )


# --------------------------------------------------------------------------
# document chunking (sliding character windows for embedding pipelines)
# --------------------------------------------------------------------------

def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_chars: int = 200,
    overlap_chars: int = 50,
) -> DataFrame:
    """Split each document into overlapping fixed-width character chunks
    (the standard pre-embedding chunker): chunk *i* covers
    ``[i·stride, i·stride + chunk_chars)`` with ``stride = chunk_chars −
    overlap_chars``.

    Generated JVM-side via ``sequence`` + ``transform`` + ``posexplode`` —
    per-row bounded work (≤ ``len/stride`` chunks), a narrow op that fuses
    into the scan: no shuffle, no Python. At 100 TB the chunker is a
    map-only stage between the scan and the embedding UDF.
    """
    stride = chunk_chars - overlap_chars
    if stride <= 0:
        raise ValueError("chunk_chars must exceed overlap_chars")
    chunks = F.expr(
        f"transform(sequence(0, greatest(cast(ceil((length({text_col}) - "
        f"{overlap_chars}) / {stride}) as int) - 1, 0)), "
        f"i -> substr({text_col}, i * {stride} + 1, {chunk_chars}))"
    )
    return df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "chunk_text"),
    ).withColumn("chunk_chars", F.length("chunk_text"))


# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

# Patterns restricted to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): character classes, bounded quantifiers, \b.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
)


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / phone numbers / IPv4 addresses, appending per-type
    match counts (for corpus PII-rate reporting) and the redacted text.

    Patterns apply in a fixed order (email, phone, ipv4) so overlapping
    matches resolve identically in every engine. Pure ``regexp_replace`` /
    ``regexp_extract_all`` chain — whole-stage codegen, no shuffle; at
    100 TB this is a map-only pass fused into whatever scan feeds it.
    """
    t = F.col(text_col)
    out = df
    redacted = t
    for name, pat, repl in PII_PATTERNS:
        out = out.withColumn(
            f"n_{name}", F.size(F.regexp_extract_all(t, F.lit(pat), 0))
        )
        redacted = F.regexp_replace(redacted, pat, repl)
    return out.withColumn("redacted_text", redacted)


def redact_pii_sql(text_expr: str = "text") -> tuple[str, str]:
    """(count-columns, redacted-expression) SQL fragments mirroring
    :func:`redact_pii` for the DuckDB oracle ('g' = replace-all, which is
    Spark's default)."""
    counts = ", ".join(
        f"CAST(len(regexp_extract_all({text_expr}, '{pat}')) AS INTEGER) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    expr = text_expr
    for _, pat, repl in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return counts, f"{expr} AS redacted_text"


# --------------------------------------------------------------------------
# repetition metrics (boilerplate / degenerate-text scoring)
# --------------------------------------------------------------------------

def boilerplate_prefixes(
    df: DataFrame,
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 3,
    source_col: str = "source",
) -> DataFrame:
    """Shared ``k``-token document prefixes — the cheap screen for
    templated headers ("subscribe to our newsletter …", license banners)
    that near-dup scoring misses because the documents diverge after the
    boilerplate opening.

    Plan: map-side prefix extraction (token array → first-``k`` join),
    then ONE count shuffle keyed by the prefix string.  Prefix strings are
    short and high-cardinality, so the shuffle is small and unskewed; at
    100 TB this runs at scan speed.
    """
    toks = tokens(F.col(text_col))
    prefix = F.array_join(F.slice(toks, 1, k), " ")
    return (
        df.filter(F.size(toks) >= k)
        .select(prefix.alias("prefix"), F.col(source_col))
        .groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(source_col).alias("n_sources"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def repetition_metrics(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document repetition signals: total/distinct token counts, the
    most-frequent token's share, and the most-frequent word-bigram's share
    — the standard "is this boilerplate / a degenerate generation" filters.

    Plan: every stat here is a function of ONE document, so nothing needs
    to leave the row: sort the token (and bigram) array and the mode's
    frequency is the longest run, found with a linear ``aggregate`` fold.
    The whole query is a map-only projection — one scan, zero shuffles,
    zero joins — versus the naive explode → two doc-keyed aggregations →
    join shape, which ships every (doc, term) pair through the exchange.
    All counts are integers; the ratios are single int/int divisions, so
    results are bit-identical across engines and partitionings.
    """

    from killrweather_spark.sources.readers import fan_out

    # map-only projection: with a single-split scan EVERY fold below runs
    # on one core — spread first (r13 session 5: 6.6 -> 2.4 s at sf1)
    df = fan_out(df)

    def max_run(sorted_arr: Column) -> Column:
        # Longest run of equal adjacent values in a sorted array == max
        # per-value frequency.  JVM-side fold; state is (prev, run, best).
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.lit(0).cast("bigint").alias("best"),
        )

        def step(acc: Column, x: Column) -> Column:
            run = (
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
            ).cast("bigint")
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
            )

        return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])

    # Bigrams come from DOCUMENT order; sorting happens after, and only so
    # the run-length fold can read off each value's frequency.
    bigrams = F.array_sort(
        F.expr(
            "transform(sequence(1, size(__toks) - 1),"
            " i -> concat(__toks[i - 1], ' ', __toks[i]))"
        )
    )
    n_tokens = F.size("__toks").cast("bigint")
    n_bigrams = F.size("__bigrams").cast("bigint")
    return (
        df.withColumn("__toks", tokens(F.col(text_col)))
        # empty docs drop out, matching the explode/aggregate formulation
        # (a doc with no tokens contributes no (doc, term) rows there)
        .filter(F.size("__toks") >= 1)
        .withColumn("__bigrams", F.when(F.size("__toks") >= 2, bigrams))
        .select(
            F.col(id_col),
            n_tokens.alias("n_tokens"),
            F.size(F.array_distinct("__toks")).cast("bigint")
            .alias("n_distinct_tokens"),
            (
                F.size(F.array_distinct("__toks")).cast("bigint") / n_tokens
            ).alias("distinct_ratio"),
            (max_run(F.array_sort(F.col("__toks"))) / n_tokens)
            .alias("top_token_ratio"),
            (max_run(F.col("__bigrams")) / n_bigrams).alias("top_bigram_ratio"),
        )
    )


# --------------------------------------------------------------------------
# weighted corpus mixing
# --------------------------------------------------------------------------

def weighted_corpus_mix(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    default_weight: float = 1.0,
) -> DataFrame:
    """Downsample each source to its mixture weight (keep-fraction) using
    the same content-addressed md5 threshold as :func:`deterministic_split`
    — e.g. ``{"web": 0.25, "wiki": 1.0}`` keeps a quarter of web and all of
    wiki. Per-row hash thresholds mean membership is stable as the corpus
    grows and independent of partitioning; no RNG, no shuffle, map-only.
    """
    prefix = F.substring(hash_key(F.col(id_col)), 1, 4)

    def keep_for(frac: float) -> Column:
        if frac >= 1.0:
            return F.lit(True)
        return prefix < F.lit(format(int(frac * 65536), "04x"))

    expr = None
    for src, frac in sorted(weights.items()):
        cond = F.col(source_col) == src
        branch = keep_for(frac)
        expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
    keep = (
        expr.otherwise(keep_for(default_weight))
        if expr is not None
        else keep_for(default_weight)
    )
    return df.filter(keep)


def corpus_mix_sql(
    weights: dict[str, float],
    source_col: str = "source",
    id_expr: str = "doc_id",
    default_weight: float = 1.0,
) -> str:
    """WHERE-clause predicate mirroring :func:`weighted_corpus_mix`."""
    prefix = f"substr(md5(CAST({id_expr} AS VARCHAR)), 1, 4)"
    whens = " ".join(
        f"WHEN {source_col} = '{src}' THEN "
        + ("TRUE" if frac >= 1.0 else f"{prefix} < '{format(int(frac * 65536), '04x')}'")
        for src, frac in sorted(weights.items())
    )
    default = (
        "TRUE" if default_weight >= 1.0
        else f"{prefix} < '{format(int(default_weight * 65536), '04x')}'"
    )
    return f"CASE {whens} ELSE {default} END"


def dedup_keep_list(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a component assignment as a dedup decision: every document
    keeps its component's representative (min id); docs never seen in a
    pair are their own representative. Left join against the (small,
    pair-nodes-only) component table — broadcastable in practice since
    the dup-graph is a tiny fraction of the corpus."""
    return df.join(
        F.broadcast(components).withColumnRenamed("node", id_col), id_col, "left"
    ).withColumn("representative", F.coalesce(F.col("component"), F.col(id_col)))


PIPELINE_STAGES = [
    "eval_holdout",   # 1 — held-out eval slice (doc_id % 10 = 0)
    "lang_gate",      # 2 — out-of-scope language
    "quality_gate",   # 3 — too short (chars or whitespace tokens)
    "exact_dup",      # 4 — exact-text duplicate (md5, keep min doc_id)
    "prefix_dup",     # 5 — shared 120-char prefix (boilerplate near-dup)
    "contaminated",   # 6 — word-8-gram overlap with the eval slice
    "kept",           # 7 — survives the whole pipeline
]


def curation_pipeline_report(docs: DataFrame) -> DataFrame:
    """The end-to-end curation funnel report: every document is
    attributed to the FIRST pipeline stage that drops it — holdout →
    language → quality → exact dedup → prefix near-dup →
    decontamination — and the report rows carry ``(stage, stage_name,
    docs_in, docs_dropped)`` with ``docs_in`` telescoping (stage s's
    input is stage s-1's survivors; the ``kept`` row drops nothing).
    This is the per-stage datasheet a production 100 TB curation run
    publishes next to :func:`filter_funnel`'s row-local gates — here the
    stages include the NON-row-local ones (dedup ranks among survivors,
    eval-gram contamination).

    Determinism: dedup representatives are min-doc_id within an md5
    digest group (row_number over a unique orderBy), contamination
    reuses :func:`killrweather_spark.functions.dedup.decontaminate`'s
    exact gram semantics — every stage oracle-replays.

    Scale: one corpus pass computes the row-local stages; the two dedup
    stages are digest-keyed window shuffles over shrinking survivor
    sets; contamination is the decontaminate broadcast-vocabulary probe;
    the final attribution joins are all doc_id-keyed.  Nothing holds
    more than survivor-set state; the report itself is 7 rows.
    """
    from killrweather_spark.functions.dedup import decontaminate
    from killrweather_spark.plans.caching import persist_once

    base = docs.select(
        "doc_id",
        "text",
        F.when(F.col("doc_id") % 10 == 0, 1)
        .when(F.col("lang") == "zh", 2)
        .when(
            (F.col("n_chars") < 100)
            | (F.size(F.split(F.col("text"), " ")) < 20),
            3,
        )
        .alias("row_fail"),
    ).transform(persist_once)
    surv3 = base.filter(F.col("row_fail").isNull())
    w1 = Window.partitionBy(F.md5(F.lower(F.col("text")))).orderBy("doc_id")
    r1 = surv3.withColumn("rn1", F.row_number().over(w1)).transform(
        persist_once
    )
    surv4 = r1.filter(F.col("rn1") == 1)
    w2 = Window.partitionBy(
        F.md5(F.substring(F.lower(F.col("text")), 1, 120))
    ).orderBy("doc_id")
    r2 = surv4.withColumn("rn2", F.row_number().over(w2)).transform(
        persist_once
    )
    surv5 = r2.filter(F.col("rn2") == 1)
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    contam_ids = decontaminate(surv5, ev, "text", "doc_id", n=8).select(
        "doc_id", F.lit(1).alias("contam")
    )
    lab = (
        base.join(r1.select("doc_id", "rn1"), "doc_id", "left")
        .join(r2.select("doc_id", "rn2"), "doc_id", "left")
        .join(contam_ids, "doc_id", "left")
        .select(
            F.coalesce(
                F.col("row_fail"),
                F.when(F.col("rn1") > 1, 4),
                F.when(F.col("rn2") > 1, 5),
                F.when(F.col("contam") == 1, 6),
                F.lit(7),
            ).alias("stage")
        )
    )
    hist = lab.groupBy("stage").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    names = F.array(*[F.lit(s) for s in PIPELINE_STAGES])
    stages = (
        docs.sparkSession.range(1, len(PIPELINE_STAGES) + 1)
        .select(F.col("id").cast("bigint").alias("stage"))
        .withColumn("stage_name", F.element_at(names, F.col("stage").cast("int")))
    )
    # 7 rows, but its lineage is the ENTIRE funnel — and it is
    # referenced twice below (report rows + the `total` scalar).  base/
    # r1/r2 are cached, yet the attribution joins, the stage histogram
    # and the UNCACHED decontaminate gram probe would still replay per
    # reference; persisting the stage-histogram frame runs the funnel
    # exactly once (guide §1.2: don't compute things you throw away).
    j = persist_once(
        stages.join(hist, "stage", "left").select(
            "stage", "stage_name", F.coalesce(F.col("n"), F.lit(0)).alias("n")
        )
    )
    wcum = (
        Window.orderBy("stage")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    total = j.agg(F.sum("n").alias("total"))
    return (
        j.withColumn(
            "dropped_before", F.coalesce(F.sum("n").over(wcum), F.lit(0))
        )
        .crossJoin(F.broadcast(total))
        .select(
            "stage",
            "stage_name",
            (F.col("total") - F.col("dropped_before"))
            .cast("bigint")
            .alias("docs_in"),
            F.when(F.col("stage") == len(PIPELINE_STAGES), F.lit(0))
            .otherwise(F.col("n"))
            .cast("bigint")
            .alias("docs_dropped"),
        )
    )


# --------------------------------------------------------------------------
# corpus-mix design: temperature weights + greedy coverage ordering
# --------------------------------------------------------------------------

MIX_SQRT_SCALE = 1_000_000  # milli-sqrt: floor(1000·sqrt(t)) = floor(sqrt(t·10⁶))


def source_mixture_weights(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """α = 1/2 temperature-sampling mixture weights per source —
    ``w_i ∝ tokens_i^α`` — the standard move (mBERT/XLM-style, α∈[0.3,0.7])
    that upsamples small domains relative to proportional sampling so one
    giant web crawl doesn't drown everything else.  The weights are what
    :func:`weighted_corpus_mix` consumes.

    Exact cross-engine arithmetic for an irrational power: ``sqrt_milli =
    floor(sqrt(t · 10⁶)) = floor(1000·√t)``.  ``t·10⁶`` stays under 2⁵³
    through ~10⁹ tokens per source, so the double holds it exactly; IEEE
    sqrt is correctly rounded and the nearest integer boundary sits
    ~1/(2√x) away — 5 orders of magnitude beyond the 0.5-ulp error — so
    the floor is the true integer sqrt on BOTH engines (perfect squares
    are exact by IEEE).  Past 10⁹ tokens drop to centi-sqrt.  The final
    normalization is one integer floor division against the 1-row
    broadcast total.

    Scale: one tokenize pass rolled up to a SOURCES-sized table; every
    later step is arithmetic on that tiny frame.  Returns
    ``(source, n_tokens, sqrt_milli, weight_micro)``; weights floor-sum
    to ≤ 10⁶.
    """
    per_src = (
        docs.select(F.col(source_col).alias("source"),
                    F.size(tokens(F.col(text_col))).alias("__n"))
        .groupBy("source")
        .agg(F.sum("__n").cast("bigint").alias("n_tokens"))
        .withColumn(
            "sqrt_milli",
            F.floor(F.sqrt(F.col("n_tokens") * F.lit(MIX_SQRT_SCALE)))
            .cast("bigint"),
        )
    )
    tot = per_src.agg(F.sum("sqrt_milli").cast("bigint").alias("__tot"))
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            "sqrt_milli",
            F.expr("(1000000 * sqrt_milli) div __tot")
            .cast("bigint")
            .alias("weight_micro"),
        )
    )


def source_mixture_weights_sql() -> str:
    """DuckDB oracle for :func:`source_mixture_weights` — identical
    milli-sqrt + floor-normalization arithmetic."""
    return f"""
    WITH per_src AS (
      SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens,
             CAST(FLOOR(SQRT(CAST(SUM(n) AS BIGINT) * {MIX_SQRT_SCALE}))
                  AS BIGINT) AS sqrt_milli
      FROM (SELECT source,
                   len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS n
            FROM documents)
      GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(sqrt_milli) AS BIGINT) AS t FROM per_src)
    SELECT source, n_tokens, sqrt_milli,
           CAST((1000000 * sqrt_milli) // t AS BIGINT) AS weight_micro
    FROM per_src CROSS JOIN tot
    """


def greedy_source_coverage(docs: DataFrame, k: int = 4,
                           source_col: str = "source",
                           text_col: str = "text") -> DataFrame:
    """Greedy max-coverage ordering of sources by MARGINAL vocabulary
    gain — facility-location-style submodular selection (the corpus-mix
    design question "which source do I add next, and what does it still
    buy me?").  Round r picks the unpicked source contributing the most
    distinct terms not yet covered by earlier picks (ties to the
    lexicographically smallest source, zero-gain sources still pickable),
    then folds its vocabulary into the covered set.

    Deterministic and oracle-replayable: gains are exact distinct counts,
    tiebreaks total.  Scale shape: ONE tokenize pass reduces the corpus
    to the distinct ``(source, term)`` table (vocabulary-sized — this is
    the only corpus-sized work); each of the k rounds is one anti-join +
    count over that table and a 1-row argmax, with the covered-term set
    (≤ vocabulary) checkpointed per round (the kcenter lineage rule — it
    feeds both the next gain pass and the next union).

    Returns ``(sel_rank, source, marginal_terms)`` — ``marginal_terms``
    is non-increasing in rank (submodularity), pinned in tests.
    """
    srcs = [
        r[0]
        for r in docs.select(F.col(source_col).alias("source"))
        .distinct().collect()
    ]
    if k > len(srcs):
        raise ValueError(
            f"greedy_source_coverage: k={k} exceeds {len(srcs)} sources"
        )
    sv = (
        docs.select(
            F.col(source_col).alias("source"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .distinct()
        .transform(persist_once)
    )
    # r13 round loop: each round is ONE job — the per-source uncovered
    # counts collect to the driver (|sources| rows, metadata-sized: the
    # source list was already collected above) and the argmax/tiebreak
    # runs in Python with the same (−gain, source) total order.  The
    # covered set is re-derived per round from the PERSISTED sv
    # (distinct terms of the picked sources) instead of an accumulated
    # chain of checkpointed unions — 3 eager localCheckpoints per round
    # → 0.  Values identical: integer counts collected exactly, and the
    # ASCII source tiebreak compares the same bytes either side.
    # the candidate pool matches the original all_sources frame (sources
    # PRESENT in sv — a source whose docs tokenize to nothing was never
    # pickable)
    pool = sorted(
        r[0] for r in sv.select("source").distinct().collect()
    )
    picked: list[str] = []
    out_rows: list[tuple[int, str, int]] = []
    for r in range(1, k + 1):
        if picked:
            cov_terms = (
                sv.filter(F.col("source").isin(picked))
                .select("term")
                .distinct()
            )
            uncovered = sv.join(cov_terms, "term", "left_anti")
        else:
            uncovered = sv
        gains = {
            row["source"]: int(row["g"])
            for row in uncovered.filter(~F.col("source").isin(picked))
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("g"))
            .collect()
        }
        remaining = [s for s in pool if s not in picked]
        best = min(remaining, key=lambda s: (-gains.get(s, 0), s))
        out_rows.append((r, best, gains.get(best, 0)))
        picked.append(best)
    return docs.sparkSession.createDataFrame(
        out_rows, "sel_rank bigint, source string, marginal_terms bigint"
    )


def greedy_source_coverage_sql(k: int = 4) -> str:
    """DuckDB oracle for :func:`greedy_source_coverage` — the k rounds
    unrolled (distinct (source, term) base, per-round LEFT-join gains
    over unpicked sources, argmax with the (−gain, source) struct-MIN so
    an all-zero-gain round still yields exactly one row)."""
    parts = [
        "sv AS MATERIALIZED (\n"
        "      SELECT DISTINCT source, term\n"
        "      FROM (SELECT source,"
        f" unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term\n"
        "            FROM documents))",
        "asrc AS MATERIALIZED (SELECT DISTINCT source FROM sv)",
    ]
    for r in range(1, k + 1):
        picked_pred = (
            "TRUE"
            if r == 1
            else "s.source NOT IN ("
            + " UNION ALL ".join(f"SELECT source FROM p{i}"
                                 for i in range(1, r))
            + ")"
        )
        cov_pred = (
            "TRUE"
            if r == 1
            else f"v.term NOT IN (SELECT term FROM cov{r - 1})"
        )
        parts.append(
            f"g{r} AS (\n"
            "      SELECT s.source, CAST(COALESCE(u.g, 0) AS BIGINT) AS g\n"
            f"      FROM asrc s\n"
            "      LEFT JOIN (SELECT v.source, COUNT(*) AS g FROM sv v\n"
            f"                 WHERE {cov_pred} GROUP BY 1) u"
            " ON u.source = s.source\n"
            f"      WHERE {picked_pred})"
        )
        parts.append(
            f"p{r} AS MATERIALIZED (\n"
            "      SELECT s['source'] AS source,"
            " CAST(-s['ng'] AS BIGINT) AS marginal_terms\n"
            f"      FROM (SELECT MIN({{'ng': -g, 'source': source}}) AS s"
            f" FROM g{r}))"
        )
        if r < k:
            prev = f" UNION SELECT term FROM cov{r - 1}" if r > 1 else ""
            parts.append(
                f"cov{r} AS MATERIALIZED (\n"
                "      SELECT DISTINCT term FROM (\n"
                f"        SELECT v.term FROM sv v JOIN p{r} p"
                " ON v.source = p.source"
                f"{prev}))"
            )
    selects = [
        f"SELECT CAST({r} AS BIGINT) AS sel_rank, source, marginal_terms"
        f" FROM p{r}"
        for r in range(1, k + 1)
    ]
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    "
        + "\n    UNION ALL ".join(selects)
    )


# --------------------------------------------------------------------------
# cross-document passage dedup (CCNet-style line dedup, rewrite form)
# --------------------------------------------------------------------------

# Passage segmentation: consecutive PASSAGE_LEN-token windows, non-
# overlapping, last partial window kept.  3 tokens over the synthetic
# 31-word vocabulary duplicates ~1/3 of segments across documents at
# sf0.01 — the interesting regime (production corpora hit similar rates
# at line granularity: CCNet reports ~30% of crawl text is duplicated
# lines).  Shared by the query, the oracle, and the tests.
PASSAGE_LEN = 3
PASSAGE_MIN_DOCS = 2


def passage_dedup_rewrite(
    df: DataFrame,
    seg_len: int = PASSAGE_LEN,
    min_docs: int = PASSAGE_MIN_DOCS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style cross-document passage dedup that REWRITES documents:
    segment every document into consecutive ``seg_len``-token passages,
    count each passage's distinct-document frequency corpus-wide, and
    drop every occurrence that is (a) duplicated across ≥ ``min_docs``
    documents and (b) not in the passage's canonical owner (the min
    doc_id) — the first occurrence survives, exactly CCNet's keep-one
    rule.  Returns per document ``(doc_id, n_segments, n_dropped,
    chars_clean, clean_digest)`` — the digest pins the rewritten text
    byte-for-byte, so the gate proves the REASSEMBLY (order included),
    not just the drop counts.

    Plan: one scan → segment explode (corpus-sized, ~tokens/seg_len
    narrow rows) → ONE digest-keyed count shuffle (uniform md5 keys, no
    skew) → digest-keyed join back → ONE doc_id-keyed reassembly
    aggregation.  No driver state, no cartesian; at 100 TB both
    exchanges move (digest, int) pairs, a small fraction of corpus
    bytes.  Reassembly is order-exact via an in-group array_sort over
    (pos, seg) structs — no window function, no second sort pass.
    """
    if seg_len < 1 or min_docs < 1:
        raise ValueError(f"seg_len/min_docs must be >= 1: {seg_len}, {min_docs}")
    from killrweather_spark.functions.text import tokens
    from killrweather_spark.sources.readers import fan_out

    # tokenize + segment build run at scan parallelism — spread the
    # bench-narrow scan first (r13 session 5: 9.3 -> 3.3 s at sf1)
    df = fan_out(df)
    base = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks")
    ).filter(F.size("__toks") >= 1)
    seg_arr = F.expr(
        f"transform(sequence(1, size(__toks), {seg_len}),"
        f" s -> array_join(slice(__toks, s, {seg_len}), ' '))"
    )
    segs = base.select(
        "doc_id", F.posexplode(seg_arr).alias("pos", "seg")
    ).withColumn("dig", F.md5("seg"))
    stats = segs.groupBy("dig").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.min("doc_id").alias("owner"),
    )
    joined = segs.join(stats, "dig")
    keep = (F.col("n_docs") < min_docs) | (F.col("doc_id") == F.col("owner"))
    kept_struct = F.when(
        keep, F.struct(F.col("pos").alias("pos"), F.col("seg").alias("seg"))
    )
    clean = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(kept_struct)), lambda x: x["seg"]
        ),
        " ",
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum(F.when(keep, 0).otherwise(1)).cast("bigint").alias("n_dropped"),
        F.length(clean).cast("bigint").alias("chars_clean"),
        F.md5(clean).alias("clean_digest"),
    )


def passage_dedup_rewrite_sql(
    seg_len: int = PASSAGE_LEN, min_docs: int = PASSAGE_MIN_DOCS
) -> str:
    """DuckDB oracle: identical segmentation (1-based starts stepping by
    ``seg_len``; DuckDB list slices are inclusive so ``w[s:s+len-1]`` ≡
    Spark ``slice(w, s, len)``), identical keep rule, order-exact
    reassembly via ``string_agg(... ORDER BY pos) FILTER (WHERE keep)``
    — COALESCE'd to '' so an all-dropped document hashes the empty
    string on both engines (Spark's collect_list skips the null
    structs)."""
    return f"""
    WITH base AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
      WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 1
    ),
    segs AS (
      SELECT doc_id, (s - 1) // {seg_len} AS pos,
             array_to_string(w[s:s+{seg_len - 1}], ' ') AS seg
      FROM base, UNNEST(generate_series(1, len(w), {seg_len})) AS t(s)
    ),
    stats AS (
      SELECT md5(seg) AS dig, COUNT(DISTINCT doc_id) AS n_docs,
             MIN(doc_id) AS owner
      FROM segs GROUP BY 1
    ),
    j AS (
      SELECT s.*, st.n_docs, st.owner,
             (st.n_docs < {min_docs} OR s.doc_id = st.owner) AS keep
      FROM segs s JOIN stats st ON md5(s.seg) = st.dig
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(COUNT(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_dropped,
           CAST(length(COALESCE(
               string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE keep), ''))
               AS BIGINT) AS chars_clean,
           md5(COALESCE(
               string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE keep), ''))
               AS clean_digest
    FROM j GROUP BY doc_id
    """


# --------------------------------------------------------------------------
# vocabulary-growth (Heaps' law) datasheet curve
# --------------------------------------------------------------------------


def heaps_law_curve(df: DataFrame, points: int = 8) -> DataFrame:
    """Vocabulary growth across corpus prefixes — the Heaps'-law curve a
    dataset datasheet reports (V ≈ K·nᵝ; sublinear growth is healthy,
    near-linear growth means heavy unique noise — OCR junk, random ids).
    The corpus is prefixed by doc_id at ``points`` evenly-spaced id
    checkpoints; each row is ``(ck_idx, id_below, n_docs, n_tokens,
    n_terms)`` — documents, running token count, and DISTINCT 3-gram
    types in the prefix.  The vocabulary unit is the word TRIGRAM, not
    the unigram: the shipped synthetic corpus has a closed ~31-word
    vocabulary that saturates in the first octile (a flat, useless
    curve), while its trigram space (~31³) keeps growing — and on real
    corpora the n-gram-type curve is the same datasheet statistic at a
    finer grain.  Raw integer curve, no float fit — the fit is a
    driver-side afterthought; the expensive part (the distinct-type
    scan) is what the engine owns.

    Scale: ONE tokenize pass reduces the corpus to (a) the
    vocabulary-sized ``(term, first_doc_id)`` table (min-agg, shuffled
    on the gram) and (b) the docs-sized ``(doc_id, n_toks)`` projection;
    each checkpoint is then a broadcast-8-row theta-join + count — no
    re-tokenization per point, no corpus × points blow-up past the two
    small tables.
    """
    if points < 1:
        raise ValueError(f"points must be >= 1: {points}")
    from killrweather_spark.functions.text import tokens
    from killrweather_spark.sources.readers import fan_out

    # the one tokenize pass runs at scan parallelism — spread the
    # bench-narrow scan first (r13 session 5: 4.5 -> 1.6 s at sf1)
    toks = (
        fan_out(df).withColumn("__t", tokens(F.col("text")))
        .filter(F.size("__t") >= 3)
        .select(
            F.col("doc_id"),
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__t) - 2),"
                    " i -> concat_ws(' ', __t[i - 1], __t[i], __t[i + 1]))"
                )
            ).alias("term"),
        )
    )
    term_first = toks.groupBy("term").agg(
        F.min("doc_id").alias("first_id")
    )
    doc_toks = df.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("bigint").alias("n_toks")
    )
    bounds = df.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    cks = (
        bounds.select(
            F.explode(F.sequence(F.lit(1), F.lit(points))).alias("ck_idx"),
            "lo",
            "hi",
        )
        .select(
            F.col("ck_idx").cast("bigint"),
            (
                # integer div, not float `/` + cast: float is exact only
                # when `points` is a power of two — the oracle floors
                F.col("lo")
                + F.expr(
                    f"((hi - lo + 1) * ck_idx) div {points}"
                )
            )
            .cast("bigint")
            .alias("id_below"),
        )
    )
    terms_per = (
        term_first.join(
            F.broadcast(cks), F.col("first_id") < F.col("id_below")
        )
        .groupBy("ck_idx", "id_below")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_terms"))
    )
    docs_per = (
        doc_toks.join(F.broadcast(cks), F.col("doc_id") < F.col("id_below"))
        .groupBy("ck_idx", "id_below")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
    )
    return docs_per.join(terms_per, ["ck_idx", "id_below"]).select(
        "ck_idx", "id_below", "n_docs", "n_tokens", "n_terms"
    )


def heaps_law_curve_sql(points: int = 8) -> str:
    """DuckDB oracle for :func:`heaps_law_curve` — identical prefix
    checkpoints (integer floor arithmetic on the id range) and the same
    two reduced tables."""
    return f"""
    WITH tl AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ),
    tok AS (
      SELECT doc_id, array_to_string(t[i.i:i.i+2], ' ') AS term
      FROM tl, unnest(generate_series(1, len(t) - 2)) AS i(i)
      WHERE len(t) >= 3
    ),
    term_first AS (
      SELECT term, MIN(doc_id) AS first_id FROM tok GROUP BY term
    ),
    doc_toks AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                  AS BIGINT) AS n_toks
      FROM documents
    ),
    bounds AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
    cks AS (
      SELECT CAST(j.j AS BIGINT) AS ck_idx,
             CAST(lo + ((hi - lo + 1) * j.j) // {points} AS BIGINT)
               AS id_below
      FROM bounds, unnest(generate_series(1, {points})) AS j(j)
    ),
    terms_per AS (
      SELECT ck_idx, id_below, CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM term_first JOIN cks ON first_id < id_below
      GROUP BY 1, 2
    ),
    docs_per AS (
      SELECT ck_idx, id_below, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS n_tokens
      FROM doc_toks JOIN cks ON doc_id < id_below
      GROUP BY 1, 2
    )
    SELECT d.ck_idx, d.id_below, d.n_docs, d.n_tokens, t.n_terms
    FROM docs_per d JOIN terms_per t USING (ck_idx, id_below)
    """


def passage_ref_digests(ref_docs: DataFrame, seg_len: int = PASSAGE_LEN) -> DataFrame:
    """The reference corpus's distinct passage digests — the batch-built
    index :func:`streaming_passage_screen` probes (build once per crawl
    snapshot, digest-sized, not corpus-sized)."""
    from killrweather_spark.functions.text import tokens

    base = ref_docs.select(
        F.col("doc_id"), tokens(F.col("text")).alias("__toks")
    ).filter(F.size("__toks") >= 1)
    seg_arr = F.expr(
        f"transform(sequence(1, size(__toks), {seg_len}),"
        f" s -> array_join(slice(__toks, s, {seg_len}), ' '))"
    )
    return (
        base.select(F.explode(seg_arr).alias("seg"))
        .select(F.md5("seg").alias("dig"))
        .distinct()
    )


def streaming_passage_screen(
    ref_docs: DataFrame,
    stream_docs: DataFrame,
    seg_len: int = PASSAGE_LEN,
) -> DataFrame:
    """Incremental crawl ingestion as a STREAM: arriving documents are
    scored against yesterday's passage index — per document, how many of
    its passages the reference corpus already contains
    (``known_ratio_micro = 10⁶·n_known div n_segments``; high ratio =
    re-crawl/mirror, the drop signal `new_batch_dup_screen` applies in
    batch).  The index (:func:`passage_ref_digests`) is built ONCE in
    batch and persisted; each micro-batch explodes its passages, probes
    the index with a stream-static LEFT join on the digest, and rolls up
    per document — ONE stateful aggregation, within Structured
    Streaming's limit.  Integer arithmetic end-to-end, so the batch
    replay of the same documents is bit-identical and the batch SQL is
    the oracle.
    """
    from killrweather_spark.functions.text import tokens
    from killrweather_spark.plans.caching import persist_once

    ref = passage_ref_digests(ref_docs, seg_len).withColumnRenamed(
        "dig", "ref_dig"
    ).transform(persist_once)
    # Spread the narrow micro-batch across every task slot before the
    # tokenize/segment explode (the streaming_semantic_screen fan-out
    # rule, pq.py): a |batch|-row round-robin exchange per trigger buys
    # full-width probing; the per-doc rollup is keyed, so placement
    # cannot change any value.
    stream_docs = stream_docs.repartition(
        stream_docs.sparkSession.sparkContext.defaultParallelism
    )
    base = stream_docs.select(
        F.col("doc_id"), tokens(F.col("text")).alias("__toks")
    ).filter(F.size("__toks") >= 1)
    seg_arr = F.expr(
        f"transform(sequence(1, size(__toks), {seg_len}),"
        f" s -> array_join(slice(__toks, s, {seg_len}), ' '))"
    )
    segs = base.select(
        "doc_id", F.explode(seg_arr).alias("__seg")
    ).select("doc_id", F.md5("__seg").alias("dig"))
    probed = segs.join(ref, segs["dig"] == ref["ref_dig"], "left")
    return probed.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum(
            F.when(F.col("ref_dig").isNotNull(), 1).otherwise(0)
        ).cast("bigint").alias("n_known"),
        F.expr(
            "cast((1000000 * sum(CASE WHEN ref_dig IS NOT NULL THEN 1"
            " ELSE 0 END)) div count(*) AS BIGINT)"
        ).alias("known_ratio_micro"),
    )


def streaming_passage_screen_sql(seg_len: int = PASSAGE_LEN) -> str:
    """DuckDB oracle: the reference index is the even-doc_id half (the
    registered query's 'yesterday's crawl' split), arrivals are the full
    corpus — even docs score 10⁶ exactly, odd docs partial."""
    return f"""
    WITH base AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
      WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 1
    ),
    segs AS (
      SELECT doc_id,
             md5(array_to_string(w[s:s+{seg_len - 1}], ' ')) AS dig
      FROM base, UNNEST(generate_series(1, len(w), {seg_len})) AS t(s)
    ),
    ref AS (SELECT DISTINCT dig FROM segs WHERE doc_id % 2 = 0),
    j AS (
      SELECT s.doc_id,
             CASE WHEN r.dig IS NOT NULL THEN 1 ELSE 0 END AS k
      FROM segs s LEFT JOIN ref r ON s.dig = r.dig
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(k) AS BIGINT) AS n_known,
           CAST((1000000 * SUM(k)) // COUNT(*) AS BIGINT)
             AS known_ratio_micro
    FROM j GROUP BY doc_id
    """
