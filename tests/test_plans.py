"""Plan-shape regression tests: pushdown, pruning, broadcast, partial agg.

These encode the 100 TB design contract (SURVEY §4): the declared queries
must compile to plans that scale, not merely return correct rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from killrweather_spark.api.inventory import REGISTRY
from killrweather_spark.plans import checks
from killrweather_spark.session import (
    CODEGEN_CACHE_MAX_ENTRIES,
    codegen_compiles,
    scoped_conf,
)
from killrweather_spark.sources.readers import load_table
from tests.conftest import SF001, SF01


def test_point_lookup_pushes_filters_and_prunes_columns(spark):
    df = REGISTRY["projection_filter"].fn(spark, SF01)
    # value < 0.5 must reach the parquet scan…
    assert checks.has_pushed_filters(df, "LessThan(value"), checks.formatted_plan(df)
    # …and the scan must read only the two projected columns
    assert set(checks.scan_read_schema(df)) <= {"event_id", "value"}


def test_dimension_join_broadcasts(spark):
    df = REGISTRY["join_dim_broadcast"].fn(spark, SF01)
    assert checks.uses_broadcast_join(df)


def test_star_join_broadcasts_all_dims(spark):
    df = REGISTRY["star_join_revenue"].fn(spark, SF01)
    assert checks.node_count(df, "BroadcastHashJoin") >= 3, checks.formatted_plan(df)


def test_daily_stats_is_single_shuffle_partial_agg(spark):
    df = REGISTRY["daily_stats"].fn(spark, SF01)
    assert checks.has_partial_aggregation(df)
    # one exchange for the groupBy — no stray repartitions
    assert checks.shuffle_count(df) <= 1, checks.formatted_plan(df)


def test_tiered_rollup_reuses_daily_shuffle(spark):
    # monthly tier groups by a prefix of the daily keys: Catalyst should not
    # need more than the two aggregation exchanges end-to-end.
    df = REGISTRY["monthly_hilow"].fn(spark, SF01)
    assert checks.shuffle_count(df) <= 2, checks.formatted_plan(df)


def test_topk_global_uses_bounded_heap_not_full_sort(spark):
    df = REGISTRY["topk_global"].fn(spark, SF01)
    plan = checks.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_queries_stay_in_codegen(spark):
    # JVM expressions only — a Python UDF in the hot path would show up as
    # BatchEvalPython and break whole-stage codegen.  Codegen ids only print
    # on non-adaptive plans, so toggle AQE off for the assertion.
    with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        for name in ["daily_stats", "star_join_revenue", "value_filter", "text_quality"]:
            df = REGISTRY[name].fn(spark, SF01)
            plan = checks.formatted_plan(df)
            assert "BatchEvalPython" not in plan, f"{name} fell out of codegen"
            assert checks.wholestage_codegen_spans(df) >= 1, name


def test_semi_and_anti_joins_stay_semi(spark):
    # left-semi/left-anti must appear as native join types (no row
    # multiplication, probe side streams) — not EXISTS rewritten to an
    # inner join + distinct.
    semi = REGISTRY["semi_join_returned_orders"].fn(spark, SF01)
    assert "LeftSemi" in checks.formatted_plan(semi)
    anti = REGISTRY["anti_join_customers_no_orders"].fn(spark, SF01)
    plan = checks.formatted_plan(anti)
    assert "LeftAnti" in plan
    # the filtered big-ticket orders side is small → broadcast
    assert "BroadcastHashJoin" in plan, plan


def test_range_join_keeps_equi_key(spark):
    # the equi key must drive the join strategy (hash/sort-merge join with
    # the interval as a post-join condition) — a pure range predicate would
    # degrade to BroadcastNestedLoopJoin
    df = REGISTRY["range_join_ship_window"].fn(spark, SF01)
    plan = checks.formatted_plan(df)
    assert "NestedLoop" not in plan, plan


def test_calendar_filter_prunes_year_partition(spark, tmp_path):
    # Write a partitioned raw table the way the engine lays it out, then
    # check a calendar-key query scans only the matching partition.
    ev = load_table(spark, SF01, "events").withColumn("year", F.year("ts"))
    path = str(tmp_path / "raw_partitioned")
    ev.write.partitionBy("year").parquet(path)
    back = spark.read.parquet(path).filter(F.col("year") == 2024)
    plan = checks.formatted_plan(back)
    assert "PartitionFilters: [isnotnull(year" in plan.replace("#", " #"), plan


def test_curation_plans(spark):
    """Physical properties of the curation family: the global-df term filter
    broadcasts onto the stratum counts (no shuffle of the big side for a
    small filter table), and no curation path drops into Python."""
    for name in ["train_test_split", "stratified_sample", "quantile_filter_docs",
                 "top_terms_per_source"]:
        df = REGISTRY[name].fn(spark, SF01)
        plan = checks.formatted_plan(df)
        assert "BatchEvalPython" not in plan, f"{name} fell out of codegen"
    top = REGISTRY["top_terms_per_source"].fn(spark, SF01)
    assert checks.uses_broadcast_join(top), "term-df filter should broadcast"
    # split is a pure projection: no shuffle at all
    split = REGISTRY["train_test_split"].fn(spark, SF01)
    assert checks.shuffle_count(split) == 0, "hash split must not shuffle"


def test_assembly_plans(spark):
    """Physical properties of the assembly family: PII redaction and corpus
    mixing are map-only (zero shuffle — they fuse into whatever scan feeds
    them); sequence packing shuffles exactly once (by shard for the window);
    nothing drops into Python."""
    for name in ["pack_sequences", "redact_pii_docs", "repetition_metrics",
                 "corpus_mix"]:
        df = REGISTRY[name].fn(spark, SF01)
        plan = checks.formatted_plan(df)
        assert "BatchEvalPython" not in plan, f"{name} fell out of codegen"
    assert checks.shuffle_count(REGISTRY["redact_pii_docs"].fn(spark, SF01)) == 0
    assert checks.shuffle_count(REGISTRY["corpus_mix"].fn(spark, SF01)) == 0
    assert checks.shuffle_count(REGISTRY["pack_sequences"].fn(spark, SF01)) == 1


def test_ingest_audit_and_range_window_plans(spark):
    """csv_malformed_audit is one codegen pass + a tiny aggregate (the audit
    rides along with ingest — no second scan, no Python); the RANGE-frame
    window shuffles exactly once (by the partition key) and stays JVM-side."""
    audit = REGISTRY["csv_malformed_audit"].fn(spark, SF01)
    plan = checks.formatted_plan(audit)
    assert "BatchEvalPython" not in plan
    assert checks.has_partial_aggregation(audit)
    # one shuffle for the 4-row final aggregate; the classify pass is map-only
    assert checks.shuffle_count(audit) == 1

    win = REGISTRY["trailing_range_window"].fn(spark, SF01)
    plan = checks.formatted_plan(win)
    assert "BatchEvalPython" not in plan
    assert checks.shuffle_count(win) == 1, "one shuffle on the window key"


def test_widening_batch_plans(spark):
    # pricing summary: one scan, partial agg, single exchange
    df = REGISTRY["tpch_pricing_summary"].fn(spark, SF01)
    assert checks.has_partial_aggregation(df)
    assert checks.shuffle_count(df) <= 1, checks.formatted_plan(df)
    # shipdate filter must reach the scan
    assert checks.has_pushed_filters(df, "l_shipdate"), checks.formatted_plan(df)

    # decontamination: eval vocabulary broadcast — the train side must NOT
    # shuffle for the probe join (only the per-doc groupBys shuffle)
    df = REGISTRY["decontaminate_ngrams"].fn(spark, SF01)
    plan = checks.formatted_plan(df)
    assert checks.uses_broadcast_join(df), plan
    assert "BatchEvalPython" not in plan, plan

    # scalar-subquery filter: 1-row aggregate broadcast, not collected
    df = REGISTRY["above_avg_docs"].fn(spark, SF01)
    assert checks.uses_broadcast_join(df) or "BroadcastNestedLoop" in checks.formatted_plan(df)


def test_cdc_and_audit_plans(spark):
    # SCD2: the lag-detect and lead-close windows share one (user_id)
    # partitioning — Catalyst must not add a second exchange for the
    # second window pass
    df = REGISTRY["scd2_intervals"].fn(spark, SF01)
    assert checks.shuffle_count(df) <= 1, checks.formatted_plan(df)

    # FK audit: every dimension side broadcasts; the only exchanges are the
    # three 1-row SinglePartition gathers of the global aggregates — the
    # facts themselves never hash-shuffle
    df = REGISTRY["fk_integrity_audit"].fn(spark, SF01)
    plan = checks.formatted_plan(df)
    assert checks.node_count(df, "BroadcastHashJoin") >= 3, plan
    assert checks.shuffle_count(df) <= 3, plan
    assert "hashpartitioning" not in plan, plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """SURVEY §4: a fact table partitioned on the join key is pruned at
    RUNTIME by a selective dimension filter (dynamic partition pruning) —
    at 100 TB this is what turns a star join over a year of partitions
    into a read of the qualifying days only."""
    ev = load_table(spark, SF01, "events").select(
        "event_id", "user_id", "value",
        F.dayofmonth("ts").alias("day"),
    )
    fact_path = str(tmp_path / "fact_by_day")
    ev.write.partitionBy("day").mode("overwrite").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = (
        load_table(spark, SF01, "events")
        .select(F.dayofmonth("ts").alias("day"), "event_type")
        .distinct()
        .filter(F.col("event_type") == "signup")
        .filter(F.col("day") <= 3)
    )
    joined = fact.join(dim, "day")
    plan = checks.formatted_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan


def test_decontaminate_probe_is_broadcast_only(spark):
    """The decontamination pass must never shuffle the train corpus for a
    join: the eval vocabulary and the contaminated-docs aggregate both
    broadcast.  Static exchanges: the three fan-out repartitions (train
    map pass ×2 + the eval-side gram pass added in r13; ReuseExchange
    merges the train pair at runtime), the vocab distinct, and the
    hits-only per-doc aggregate — nothing proportional to the corpus
    crosses the network for a join."""
    df = REGISTRY["decontaminate_ngrams"].fn(spark, SF01)
    plan = checks.formatted_plan(df)
    assert checks.node_count(df, "BroadcastHashJoin") >= 2, plan
    assert checks.node_count(df, "SortMergeJoin") == 0, plan
    assert checks.shuffle_count(df) <= 5, plan


def test_pagerank_iterations_broadcast_rank_over_cached_topology(spark):
    """Power iterations run over the persisted edge relation (no
    re-execution of the edge-build lineage) and probe the per-node rank
    table via broadcast — the edge set is never sort-merge-shuffled for
    a join in any iteration."""
    df = REGISTRY["pagerank_copurchase"].fn(spark, SF01)
    plan = checks.formatted_plan(df)
    assert "InMemoryTableScan" in plan, plan
    assert checks.node_count(df, "BroadcastHashJoin") >= 1, plan
    assert checks.node_count(df, "SortMergeJoin") == 0, plan


def test_batch2_decision_support_plans(spark):
    # Q3 shape: bounded top-k, both date filters pushed to their scans
    q3 = REGISTRY["unshipped_revenue_topk"].fn(spark, SF01)
    p3 = checks.formatted_plan(q3)
    assert "TakeOrderedAndProject" in p3, p3
    assert checks.has_pushed_filters(q3, "GreaterThan(l_shipdate"), p3
    assert checks.has_pushed_filters(q3, "LessThan(o_orderdate"), p3
    # Q4 shape: EXISTS stays a semi join (never an inner + distinct)
    q4 = REGISTRY["late_shipment_priorities"].fn(spark, SF01)
    p4 = checks.formatted_plan(q4)
    assert "LeftSemi" in p4, p4
    # Q22 shape: NOT EXISTS stays anti, the scalar average broadcasts
    q22 = REGISTRY["idle_rich_customers"].fn(spark, SF01)
    p22 = checks.formatted_plan(q22)
    assert "LeftAnti" in p22, p22
    assert checks.uses_broadcast_join(q22), p22
    # Q13 shape: zero-order customers require an outer join
    q13 = REGISTRY["orders_per_customer_histogram"].fn(spark, SF01)
    assert "LeftOuter" in checks.formatted_plan(q13)


def test_incremental_and_chunk_dedup_plans(spark):
    # incremental screen: the digest probe is a semi join
    scr = REGISTRY["new_batch_dup_screen"].fn(spark, SF01)
    assert "LeftSemi" in checks.formatted_plan(scr)
    # chunk-dup: the digest-count aggregation partial-aggregates map-side
    cds = REGISTRY["chunk_dup_share"].fn(spark, SF01)
    assert checks.has_partial_aggregation(cds)


def test_semantic_dedup_joins_on_cluster_key_without_explode(spark):
    # the pair scan must key on label (hash join), with no posexplode
    # fan-out feeding it — cosines are per-row array expressions
    df = REGISTRY["semantic_dup_candidates"].fn(spark, SF01)
    plan = checks.formatted_plan(df)
    assert "Generate" not in plan, plan
    assert checks.shuffle_count(df) <= 2, plan


def test_kmeans_estep_is_shuffle_free_after_centroid_agg(spark):
    # r13 #24 shape: the centroid table (labels × dims — the operator's
    # own broadcast-sized premise) is collected once on the driver and
    # the E-step assignment is ONE vectorized Arrow kernel over the scan
    # — no window, no join, no shuffle at all in the assignment plan
    # (the former broadcast-argmin form carried a BroadcastExchange and
    # up to 3 vocabulary-sized exchanges).
    df = REGISTRY["kmeans_assign_step"].fn(spark, SF01)
    plan = checks.formatted_plan(df)
    assert "Window" not in plan, plan
    assert checks.shuffle_count(df) == 0, plan
    # exactly one kernel evaluation: the d2/argmin kernel must not be
    # duplicated by filter pushdown (guide §4.4)
    assert checks.node_count(df, "ArrowEvalPython") == 1, plan


def test_simhash_is_map_only(spark):
    # fingerprint = scan → (fan-out) → projections; no explode, no aggregate
    df = REGISTRY["simhash"].fn(spark, SF01)
    plan = checks.formatted_plan(df)
    assert "Generate" not in plan, plan
    assert "HashAggregate" not in plan, plan


def test_lag_features_shares_one_window(spark):
    # lag1/lag7/trailing-mean share the identical window spec → exactly one
    # Window operator, and only the daily-agg + window exchanges
    df = REGISTRY["lag_features"].fn(spark, SF01)
    assert checks.node_count(df, "Window") == 1, checks.formatted_plan(df)
    assert checks.shuffle_count(df) <= 2, checks.formatted_plan(df)


def test_cross_source_dup_matrix_is_generate_free(spark):
    # fingerprint = per-row min-gram fold (transform/aggregate expressions,
    # no explode); the matrix join keys on the 128-bit fingerprint
    df = REGISTRY["cross_source_dup_matrix"].fn(spark, SF01)
    plan = checks.formatted_plan(df)
    assert "Generate" not in plan, plan


def test_minhash_estimate_never_touches_text_after_signatures(spark):
    # the estimator joins candidates back to the 16-int signature table —
    # the document text column must not appear above the signature aggregate
    df = REGISTRY["minhash_similarity_estimate"].fn(spark, SF01)
    plan = checks.formatted_plan(df)
    ests = [ln for ln in plan.splitlines() if "jaccard_est_micro" in ln]
    assert ests and all("text" not in ln for ln in ests), plan


def test_entire_registry_stays_out_of_row_python(built_query):
    """No row-at-a-time Python UDF in ANY registered query — one test per
    REGISTRY entry (``built_query``), so new queries
    are gated automatically.  For batch queries only the plan is built
    (driver-side, cheap); the streaming-family ops' ``spec.fn`` drains a
    bounded availableNow stream to produce their result DataFrame, so those
    entries execute rather than merely plan — the gate still holds because
    the drained result's plan would surface any BatchEvalPython.  The
    sanctioned Python paths (mapInPandas / applyInPandas / WithState) plan
    as Arrow nodes (MapInPandas, FlatMapGroupsInPandas*), never
    BatchEvalPython."""
    assert "BatchEvalPython" not in built_query.plan, (
        f"{built_query.name}: BatchEvalPython in plan"
    )


def test_disjunctive_predicate_pushes_to_both_scans(spark):
    # TPC-H Q19's defining plan property: Catalyst extracts the per-side
    # parts of the OR-of-ANDs and pushes them below the join — the
    # lineitem scan must carry the quantity-range disjunction and the part
    # scan the brand/size disjunction
    df = REGISTRY["disjunctive_predicate_revenue"].fn(spark, SF01)
    plan = checks.formatted_plan(df)
    import re

    pushed = " ".join(re.findall(r"PushedFilters: \[(.*?)\]", plan))
    assert "l_quantity" in pushed, plan
    assert "p_brand" in pushed and "p_size" in pushed, plan


def test_q17_decorrelates_to_shared_partkey_exchange(spark):
    # the correlated per-part average must plan as aggregate + join-back,
    # not a per-row subquery; no NestedLoop anywhere
    df = REGISTRY["small_quantity_revenue"].fn(spark, SF01)
    plan = checks.formatted_plan(df)
    assert "NestedLoop" not in plan.replace("BroadcastNestedLoopJoin", ""), plan
    assert "HashAggregate" in plan


def test_q6_canary_pushes_every_predicate(spark):
    # promo_discount_revenue exists to measure scan throughput; all three
    # predicates (shipdate range, discount band, quantity cap) must reach
    # the parquet reader as PushedFilters
    df = REGISTRY["promo_discount_revenue"].fn(spark, SF01)
    assert checks.has_pushed_filters(df, "l_shipdate", "l_discount", "l_quantity"), (
        checks.formatted_plan(df)
    )


def test_q7_q8_dimension_broadcasts_are_size_gated(spark, monkeypatch):
    """maybe_broadcast applies the customer/supplier(/part) hints only under
    a size estimate: at bench SF they broadcast; with the gate spoofed to 0
    (simulating the 100 TB tier, auto-broadcast disabled to stand in for
    dims that exceed Catalyst's own threshold) the hint must vanish and the
    dim joins become keyed shuffle joins — the same query code plans both
    tiers correctly (round-4 verdict fix)."""
    from killrweather_spark.plans import hints

    q7 = REGISTRY["nation_trade_volume"].fn(spark, SF01)
    q8 = REGISTRY["nation_market_share"].fn(spark, SF01)
    # bench SF: the gated dims fit — customer+supplier(+part) broadcast on
    # top of the always-hinted nation copies
    assert checks.node_count(q7, "BroadcastHashJoin") >= 4, checks.formatted_plan(q7)
    assert checks.node_count(q8, "BroadcastHashJoin") >= 6, checks.formatted_plan(q8)

    monkeypatch.setattr(hints, "BROADCAST_BYTES_THRESHOLD", 0)
    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        q7_big = REGISTRY["nation_trade_volume"].fn(spark, SF01)
        q8_big = REGISTRY["nation_market_share"].fn(spark, SF01)
        # only the two unconditional nation hints survive on each
        assert checks.node_count(q7_big, "BroadcastHashJoin") == 2, (
            checks.formatted_plan(q7_big)
        )
        assert checks.node_count(q8_big, "BroadcastHashJoin") == 3, (
            checks.formatted_plan(q8_big)
        )
        # the de-hinted dims joined with a keyed shuffle strategy
        plan7 = checks.formatted_plan(q7_big)
        assert ("SortMergeJoin" in plan7) or ("ShuffledHashJoin" in plan7), plan7


def test_maybe_broadcast_estimates_file_backed_sizes(spark):
    from killrweather_spark.plans import hints

    nation = load_table(spark, SF01, "nation")
    est = hints.estimated_plan_bytes(nation)
    assert 0 < est < (1 << 20)  # 25-row dim: a few KiB of parquet
    hinted = hints.maybe_broadcast(nation)
    joined = load_table(spark, SF01, "customer").join(
        hinted, F.col("c_nationkey") == F.col("n_nationkey")
    )
    assert checks.uses_broadcast_join(joined)
    unhinted = hints.maybe_broadcast(nation, threshold_bytes=0)
    assert unhinted is nation
    # the py4j surface must yield a Python int on DERIVED (non-scan) plans
    # too — a type change here would silently de-hint every size-gated
    # dimension join (round-5 advice)
    derived = nation.groupBy("n_regionkey").count()
    assert isinstance(hints.estimated_plan_bytes(derived), int)


def test_lsh_screens_have_no_cartesian_and_broadcast_eval_side(spark):
    """The screen family's plan contract: candidate generation is a keyed
    join (never a cartesian pair product — the dense screen's hazard), the
    eval-sided tables broadcast, and the train-side candidate join is left
    to size-based planning (no unconditional hint forcing a broadcast that
    cannot exist at 100 TB)."""
    for name in ("semantic_eval_screen_lsh", "semantic_eval_screen_banded",
                 "semantic_eval_screen_ivf"):
        df = REGISTRY[name].fn(spark, SF01)
        plan = checks.formatted_plan(df)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert checks.node_count(df, "BroadcastHashJoin") >= 2, (name, plan)


def test_components_join_is_keyed_not_broadcast(spark):
    """canonical_docs joins per-doc connected-components labels back onto
    docs: the components table grows with the corpus AND its iterative
    lineage defeats size estimation, so maybe_broadcast must decline the
    hint and the plan must be a keyed join — broadcasting an iterative
    result is exactly the plan that cannot exist at 100 TB."""
    from killrweather_spark.functions.dedup import word_bigram_jaccard_pairs
    from killrweather_spark.functions.curation import connected_components
    from killrweather_spark.plans import hints

    docs = load_table(spark, SF01, "documents")
    pairs = word_bigram_jaccard_pairs(docs, block_col="source", threshold=0.08)
    comp = connected_components(pairs.select("doc_a", "doc_b"))
    # the gate itself must DECLINE the hint for the iterative-lineage table
    assert hints.maybe_broadcast(comp) is comp
    df = REGISTRY["canonical_docs"].fn(spark, SF01)
    plan = checks.formatted_plan(df)
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan


def test_jaccard_pair_finder_expands_per_gram_not_self_join(spark):
    """The exact-Jaccard / containment verifiers count shared grams by
    per-gram ordered pair EXPANSION (collect the ≤ df-cap doc list once,
    expand row-locally), not by a gram-keyed self-join — Σ df²
    incidences must never cross a join operator (r13 session 6; sf1
    193 M incidences, join form 84 s vs 53 s).  The only joins left in
    the pair plan are the size decorations, which broadcast at bench SF."""
    for name in ("ngram_jaccard_pairs", "shingle_containment_pairs"):
        df = REGISTRY[name].fn(spark, SF01)
        plan = checks.formatted_plan(df)
        assert checks.node_count(df, "SortMergeJoin") == 0, (name, plan)
        # the expansion is a Generate over the per-gram doc-list rollup
        assert "Generate" in plan, (name, plan)
        assert checks.node_count(df, "BroadcastHashJoin") >= 2, (name, plan)


def test_tfidf_pair_finder_expands_per_term_not_self_join(spark):
    """tfidf_cosine_pairs builds candidates AND the rare-term dot share
    from ONE per-term ordered pair expansion (r14: the #30 jaccard
    pattern with (doc, w) structs) — the capped Σ df² incidences expand
    row-locally instead of crossing a posting self-join, and the former
    |cand|·|terms(a)| re-explosion of every pair against doc_a's full
    vector (7.6 M rows at sf0.1 to keep 243 k) is gone; only the df>cap
    slice of the weight table still flows through a (pair, term) join."""
    df = REGISTRY["tfidf_cosine_pairs"].fn(spark, SF01)
    plan = checks.formatted_plan(df)
    # the row-local expansion over the per-term (doc, w) list rollup
    assert "flatten(transform(__ds" in plan, plan
    # the fused aggregation carries shared-count AND the rare-term dot
    assert "__shared" in plan and "__dot_r" in plan, plan


def test_int8_ann_coarse_scan_is_keyed_and_broadcast_sided(spark):
    """The two-stage int8 ANN's plan contract: the coarse scan joins the
    corpus against a BROADCAST query side (never a cartesian/nested-loop
    pair product), the shortlist drives the rescore as a broadcast, and
    no row-Python appears anywhere — the coarse stage's whole point is a
    codes-only columnar scan."""
    df = REGISTRY["ann_int8_rescored"].fn(spark, SF01)
    plan = checks.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert checks.node_count(df, "BroadcastHashJoin") >= 3, plan


def test_power_iteration_has_no_corpus_keyed_exchange(spark):
    """The top-PC iteration's scale contract: no corpus-keyed shuffle —
    every iteration is a 1-row broadcast, a per-row fold, and a
    dim-keyed partial-sum fold whose exchange carries ≤ dim×partitions
    rows.  With checkpointing off the whole 4-iteration composed plan
    must show hashpartitioning ONLY on the pos key (never the corpus
    id), no key join, and no row-Python."""
    import re

    from killrweather_spark.functions.similarity import power_iteration_top_pc

    emb = load_table(spark, SF01, "embeddings")
    df = power_iteration_top_pc(emb, dim=64, iters=4, checkpoint=False)
    plan = checks.formatted_plan(df)
    keys = re.findall(r"hashpartitioning\((\w+)#", plan)
    assert keys and set(keys) == {"pos"}, keys
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_lm_model_joins_are_keyed_not_nested_loop(spark):
    """The bigram-LM and DSIR model joins must stay keyed equi-joins
    (gram/term keys) — no cartesian/nested-loop pair products, no
    row-Python — whatever Catalyst picks for broadcast vs shuffle at
    this SF.  r14: dsir's raw/tgt rollups fused into ONE conditional
    vocabulary aggregation, so its only remaining keyed join is the
    scoring join (doc_ug ⋈ rtable); bigram keeps cbg ⋈ cug + scoring."""
    for name, min_joins in (
        ("bigram_lm_quality", 2),
        ("dsir_importance_weights", 1),
    ):
        df = REGISTRY[name].fn(spark, SF01)
        plan = checks.formatted_plan(df)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        joins = (
            checks.node_count(df, "BroadcastHashJoin")
            + checks.node_count(df, "SortMergeJoin")
            + checks.node_count(df, "ShuffledHashJoin")
        )
        assert joins >= min_joins, (name, plan)


def test_exact_screen_is_map_only_over_train(spark):
    """The round-4 verdict's #1 hazard, eliminated at the plan level: the
    EXACT semantic screen must never shuffle on a KEY — no
    hashpartitioning exchange may appear anywhere (a pair-product groupBy
    reappearing here is the 10^13-row outage plan at 1B x 10k).  The only
    allowed exchanges are the tiny eval-side SinglePartition fold and the
    round-robin fan_out that spreads the narrow bench-SF scan (a no-op on
    wide production scans — data-linear either way, never pair-product)."""
    for name in ("semantic_eval_screen", "semantic_eval_screen_vectorized"):
        df = REGISTRY[name].fn(spark, SF01)
        plan = checks.formatted_plan(df)
        assert "hashpartitioning" not in plan, (name, plan)
        assert checks.shuffle_count(df) <= 2, (name, plan)
    # the JVM form keeps the 1-row broadcast fold; the vectorized form is
    # the sanctioned Arrow path, never row-Python
    jvm = checks.formatted_plan(REGISTRY["semantic_eval_screen"].fn(spark, SF01))
    assert "BroadcastNestedLoopJoin" in jvm
    vec = checks.formatted_plan(
        REGISTRY["semantic_eval_screen_vectorized"].fn(spark, SF01)
    )
    assert "MapInPandas" in vec
    assert "BatchEvalPython" not in vec


def test_ivf_trained_probe_prunes_partitions_and_stays_index_sized(spark):
    """The trained-IVF probe must read ONLY the probed cells: the
    inverted-list parquet scan carries a literal cell PartitionFilter
    (build-once/probe-many means probe-time partition pruning IS the
    n_probe/n_centroids read fraction), and no exchange in the probe plan
    is corpus-keyed — the only aggregations are the candidate
    (query, neighbor) rescore and broadcast-sided query folds."""
    import re

    df = REGISTRY["ann_ivf_trained"].fn(spark, SF01)
    plan = checks.formatted_plan(df)
    m = re.findall(r"PartitionFilters: \[cell#\d+ IN \(([^)]*)\)", plan)
    assert m, plan[:4000]
    # the probe never re-derives the corpus: the only embeddings scan is
    # the query-side point read (vec_id pushdown present)
    assert checks.has_pushed_filters(df, "GreaterThanOrEqual(vec_id,100"), plan[:2000]

    # a single query probes exactly n_probe cells — the IN list is the
    # read fraction, not the whole cell range
    from killrweather_spark.api.inventory import _ivf_index_dir
    from killrweather_spark.functions.ann_index import ivf_probe_topk
    from killrweather_spark.sources.readers import load_table

    one = load_table(spark, SF01, "embeddings").filter(F.col("vec_id") == 100)
    df1 = ivf_probe_topk(spark, _ivf_index_dir(SF01), one, k=3, n_probe=2)
    plan1 = checks.formatted_plan(df1)
    lists = re.findall(r"PartitionFilters: \[cell#\d+ IN \(([^)]*)\)", plan1)
    assert lists and all(len(x.split(",")) == 2 for x in lists), plan1[:4000]


def test_ivfpq_probe_prunes_partitions_on_codes_and_rescore(spark):
    """The IVFADC probe must read ONLY the probed cells of EVERY
    index table it touches: the compressed pqcodes scan (ADC), the
    array-form vectors scan (exact rescore, norm2 inline) both carry
    literal cell PartitionFilters — nothing corpus-sized is scanned or
    shuffled at probe time."""
    import re

    df = REGISTRY["ann_ivfpq"].fn(spark, SF01)
    plan = checks.formatted_plan(df)
    pruned = re.findall(r"PartitionFilters: \[cell#\d+ IN \([^)]*\)", plan)
    # pqcodes + vectors = two cell-pruned index scans (the rescore reads
    # the one-row-per-vector table; norms ride inline)
    assert len(pruned) >= 2, plan[:4000]
    # the only embeddings read is the query side (vec_id pushdown)
    assert checks.has_pushed_filters(df, "LessThan(vec_id,5"), plan[:2000]


# Queries whose (sole) unpartitioned Window runs over an input that is
# BOUNDED BY CONSTRUCTION — a global sort of ≤depth/≤k/≤|stages| rows is a
# driver-sized operation, not a scale hazard.  Every entry names its bounded
# site; anything NOT listed here must keep its windows partitioned (or use
# operators/windows.py:global_row_number / global_ntile, the exact
# distributed formulations).
_BOUNDED_GLOBAL_WINDOW_WHITELIST = {
    # search.py:154 ranks the ≤depth-row BM25 TakeOrdered list;
    # search.py:186 ranks the ≤depth-row semantic list (limit(depth) is
    # applied BEFORE the row_number).
    "hybrid_rrf_search": 2,
    # curation.py:896 cumulates over the |PIPELINE_STAGES| = 7-row stage
    # histogram (built from spark.range(1, 8)).
    "curation_pipeline_report": 1,
    # kcenter_pp_coreset left the list in r13: the per-round candidate
    # cap became a TakeOrdered limit and the final rank a driver-side
    # sort of ≤ k + oversample·rounds held tuples — zero Window nodes.
}


def test_unpartitioned_window_count_layout_fixtures(spark):
    """Pin the four Window Arguments layouts the counter classifies (the
    r12 ADVICE: the parse depends on Spark's Window.toString layout —
    this fixture fails loudly on a Spark-upgrade drift instead of letting
    the guard silently miscount).  Includes the adversarial shapes the
    windowspecdefinition-based parse exists for: a partition COLUMN NAME
    containing ' ASC' and a partition expression built from string
    literals containing ' ASC'/' DESC'."""
    from pyspark.sql import Window

    df = spark.range(20).select(
        F.col("id"), (F.col("id") % 3).alias("k"),
        (F.col("id") * 7 % 11).alias("v"),
    )
    cases = [
        # (expected unpartitioned count, frame)
        (0, df.withColumn("r", F.row_number().over(
            Window.partitionBy("k").orderBy("v")))),
        (0, df.withColumn("s", F.sum("v").over(Window.partitionBy("k")))),
        (1, df.withColumn("r", F.row_number().over(Window.orderBy("v")))),
        (1, df.withColumn("s", F.sum("v").over(Window.partitionBy()))),
        # partition column literally named 'x ASC' — the trailing-group
        # heuristic would see [x ASC#n] and misread it as an order spec
        (0, df.withColumnRenamed("k", "x ASC").withColumn(
            "s", F.sum("v").over(Window.partitionBy("x ASC")))),
        # partition expression whose literals carry direction markers
        (0, df.withColumn("r", F.row_number().over(
            Window.partitionBy(
                F.when(F.col("k").cast("string") == "x ASC",
                       F.lit("a ASC")).otherwise(F.lit("b DESC"))
            ).orderBy("v")))),
    ]
    got = [checks.unpartitioned_window_count(d) for _, d in cases]
    assert got == [want for want, _ in cases], got
    # and the layout itself still prints a parseable windowspecdefinition
    # (if Spark ever drops it, the counter falls back to the bracket
    # heuristic — this assert makes that drift visible)
    plan = checks.formatted_plan(cases[0][1])
    assert "windowspecdefinition(" in plan, plan
    # after an action the adaptive plan prints its final plan beside the
    # initial one; every counter still reads what it read before
    def counts(d):
        return (
            checks.unpartitioned_window_count(d),
            checks.node_count(d, "Window"),
            checks.shuffle_count(d),
        )

    for _, d in cases:
        before = counts(d)
        d.collect()
        assert "== Final Plan ==" in checks.formatted_plan(d)
        assert counts(d) == before, (before, counts(d))


def test_entire_registry_has_no_unpartitioned_window(built_query):
    """No Window over an unbounded input anywhere in the REGISTRY (one
    test per entry) — the class guard for the r11 rfm_segments finding (a
    bare ``ntile OVER (ORDER BY …)`` compiles to Exchange SinglePartition +
    a single task holding every row: correct at sf0.01, dead at 100 TB).
    Whitelisted queries may keep EXACTLY their declared count of bounded
    global windows — a new unpartitioned window in a whitelisted query
    still fails."""
    cnt = checks.unpartitioned_window_count(built_query.plan)
    allowed = _BOUNDED_GLOBAL_WINDOW_WHITELIST.get(built_query.name, 0)
    assert cnt <= allowed, (
        f"{built_query.name}: {cnt} unpartitioned Window nodes "
        f"(whitelisted: {allowed})"
    )


def test_rfm_segments_quintiles_are_distributed(spark):
    """The r11 finding itself, pinned: rfm_segments' three quintiles use
    the range-rank formulation — zero unpartitioned windows, and the local
    row_numbers are partitioned by the range-partition id.  The range
    exchanges themselves execute eagerly inside the checkpointed stamp
    (r13: global_row_number localCheckpoints instead of persisting, so
    storage is released when the frame is GC'd) — the returned plan shows
    the post-checkpoint segment: the pid-partitioned Window + the
    broadcast offsets join."""
    df = REGISTRY["rfm_segments"].fn(spark, SF01)
    plan = checks.formatted_plan(df)
    assert checks.unpartitioned_window_count(df) == 0, plan
    assert "__pid" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_global_row_number_releases_storage(spark):
    """The stamped frame must not pin executor storage for the session:
    after the ranked result is collected and the frames dropped, the
    JVM-side GC + ContextCleaner release the checkpoint blocks — and
    nothing is registered in the SQL CacheManager at all (the r12 ADVICE
    leak: persist_once-cached stamps stacked across chained ntiles)."""
    from killrweather_spark.operators.windows import global_row_number

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()  # noqa: SLF001
    was_empty = cache_mgr.isEmpty()
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") * 7 % 97).alias("v")
    )
    ranked, total = global_row_number(df, [F.col("v"), F.col("id")], "rn")
    assert total == 1000
    assert ranked.count() == 1000
    # the fix's contract: no CacheManager entry was ever created (other
    # tests in the session may legitimately hold caches — only assert
    # when this test observes a clean manager)
    if was_empty:
        assert cache_mgr.isEmpty()


def test_global_ntile_matches_sql_ntile(spark):
    """global_ntile == ntile(n) OVER (ORDER BY …) bit-for-bit on a frame
    whose size is NOT a multiple of n (exercises the ceil/floor split),
    including a desc order and an N < n edge."""
    from killrweather_spark.operators.windows import global_ntile

    df = spark.range(103).select(
        F.col("id"), (F.col("id") * 37 % 103).alias("v")
    )
    got = global_ntile(df, [F.col("v").desc(), F.col("id")], 5, "b")
    df.createOrReplaceTempView("gnt_probe")
    want = spark.sql(
        "SELECT id, v, CAST(ntile(5) OVER (ORDER BY v DESC, id) AS INT)"
        " AS b FROM gnt_probe"
    )
    assert sorted(got.collect()) == sorted(want.collect())
    tiny = spark.range(3).select(F.col("id"))
    got_t = global_ntile(tiny, [F.col("id")], 5, "b")
    assert sorted((r["id"], r["b"]) for r in got_t.collect()) == [
        (0, 1), (1, 2), (2, 3)
    ]


def test_global_ntile_edge_frames(spark):
    """Edge pins for the distributed ntile: an EMPTY frame yields an
    empty result (the offsets probe must not die on zero partitions),
    and a single-row frame lands in bucket 1."""
    from killrweather_spark.operators.windows import global_ntile

    empty = spark.range(0).select(F.col("id"))
    assert global_ntile(empty, [F.col("id")], 5, "b").count() == 0
    one = spark.range(1).select(F.col("id"))
    assert [(r["id"], r["b"]) for r in
            global_ntile(one, [F.col("id")], 5, "b").collect()] == [(0, 1)]


def test_url_curation_stays_in_codegen_single_shuffle(spark):
    """URL synthesis + normalization are pure JVM expressions: the dedup
    query plans zero Python nodes and exactly one shuffle exchange (the
    hash agg on the normalized key).  Since r13 the static-PSL
    registered-domain rule is a pure per-depth isin expression, so the
    plans carry NO join at all; the domain report adds only the second
    keyed agg; the cap enforcer adds exactly the two partitioned-window
    exchanges of the salted two-phase top-N (both windows partitioned —
    guard-compliant)."""
    dedup = REGISTRY["url_dedup_groups"].fn(spark, SF01)
    plan = checks.formatted_plan(dedup)
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert checks.shuffle_count(dedup) == 1, plan
    assert checks.has_partial_aggregation(dedup), plan
    assert "Join" not in plan, plan  # PSL is an expression since r13
    report = REGISTRY["domain_quality_report"].fn(spark, SF01)
    plan2 = checks.formatted_plan(report)
    assert "BatchEvalPython" not in plan2 and "MapInPandas" not in plan2
    assert "Join" not in plan2, plan2
    cap = REGISTRY["domain_cap_enforce"].fn(spark, SF01)
    plan3 = checks.formatted_plan(cap)
    assert "BatchEvalPython" not in plan3 and "MapInPandas" not in plan3
    assert checks.unpartitioned_window_count(cap) == 0, plan3
    assert checks.shuffle_count(cap) == 2, plan3


def test_repeated_queries_compile_no_new_classes(spark):
    """The session compiles each whole-stage-codegen class once: a second
    sweep over the bench's registry queries, with its count/collect action,
    finds every generated class in the cache.  Either the stage-id suffix
    in class names (AQE numbers the stages in planning order) or a cache
    smaller than the working set makes it compile again."""
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES)
    from bench import run_action

    names = ("tfidf_cosine_pairs", "incremental_daily_stats", "star_join_revenue")

    def sweep() -> int:
        before = codegen_compiles(spark)[0]
        for name in names:
            run_action(REGISTRY[name].fn(spark, SF001))
        return codegen_compiles(spark)[0] - before

    sweep()  # compiles whatever earlier tests did not leave in the cache
    assert sweep() == 0
