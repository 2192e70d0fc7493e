"""URL normalization + domain-level curation — the crawl-side curation
stage every web-scale training pipeline runs before text-side dedup
(RefinedWeb/C4-style): canonicalize each document's source URL, collapse
exact URL duplicates, aggregate quality per registered domain, and
ENFORCE a per-domain document cap (the action the domain report's
signals feed).

The synthetic corpus carries no URL column, so — the ``synth_png``
pattern applied to provenance — :func:`synth_urls` derives a
deterministic raw URL per document from ``md5(text)``, with doc_id-keyed
VARIANT noise (uppercase host + explicit default port, fragment,
duplicate path slash, tracking parameter) so normalization has real work
to do and all four raw variants of one canonical identity genuinely
collapse to one canonical URL.

Registered domains use a real PUBLIC SUFFIX LIST excerpt as a broadcast
dimension (:data:`PUBLIC_SUFFIXES`): the registrable domain is the
public suffix plus one label, resolved by longest-suffix match — one
tiny left BroadcastHashJoin per suffix depth (map-side, no shuffle), the
``sky_condition_lookup`` dimension-join pattern (reference
create-timeseries.cql:55-58's lookup-table analog).  ``co.uk``-style
multi-label suffixes group correctly (``news.example3.co.uk`` and
``www.example3.co.uk`` both register as ``example3.co.uk``) — the naive
"strip www." rule cannot do that.

Everything else is pure JVM-side column expressions — concat / lower /
replace / anchored regexp — inside whole-stage codegen: per-row
normalization costs no shuffle and no Python, URL-level dedup is ONE
hash aggregate on the normalized key (map-side partial combine), and the
domain report is one more keyed aggregate.  At 100 TB that is the
cheapest possible shape for this stage; hot domains skew the SECOND agg's
keys, but count/sum partials combine map-side so the skewed reduce moves
only one row per (partition, domain).  The cap enforcer's windows are
SALTED two-phase (per-(domain, salt) top-cap, then per-domain top-cap
over ≤ salt·cap survivors), so one viral domain never lands a
corpus-sized partition on one task.

Cross-engine exactness rules (the DuckDB oracle replays every step):
regex patterns are anchored so DuckDB's first-match ``regexp_replace``
and Spark's replace-all agree; replacements that could repeat use plain
``replace`` (non-regex, identical semantics); group extraction uses
``regexp_extract(expr, pat, 1)`` which both engines define identically;
last-``k``-label suffixes are ``substring_index(host, '.', -k)`` on the
Spark side and the anchored ``([^.]+(?:\\.[^.]+){k-1})$`` extract on the
DuckDB side — identical for every host with ≥ k labels, and a host with
fewer labels cannot match a k-label suffix on either engine.

Reference parity note: the reference has no URL surface (weather keys);
this extends SURVEY §2's beyond-reference curation family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Keyspace moduli for the synthesized URLs — sized so the bench corpora
#: produce real cross-document collisions after normalization (≈ n²/2/2880
#: expected duplicate pairs over n docs).
URL_SITES = 10
URL_PATHS = 16
#: TLD keyspace includes MULTI-LABEL public suffixes so the PSL join has
#: real work to do: a naive last-label (or strip-www) rule would register
#: ``example3.co.uk`` as ``co.uk``/``uk`` and merge ten sites into one.
URL_TLDS = ("com", "org", "net", "co.uk", "com.au", "gov.uk")
#: Subdomain keyspace — ``news.`` is NOT stripped by normalization (it is
#: a distinct canonical URL) but IS collapsed by registered-domain
#: grouping, which is exactly the PSL semantic being exercised.
URL_SUBS = ("www.", "", "news.")

#: Static excerpt of the Public Suffix List (publicsuffix.org — public
#: data): every suffix the synthesis can emit plus common 1-3 label
#: entries so the longest-match logic is exercised at every depth.  A
#: production pipeline swaps in the full list file; the plan shape (one
#: broadcast dimension, one left join per depth) is unchanged — the full
#: PSL is ~10k rows, still trivially broadcastable.
PUBLIC_SUFFIXES = (
    "com", "org", "net", "edu", "gov", "io", "ai", "de", "fr", "us",
    "ca", "jp", "co.jp", "ne.jp", "uk", "co.uk", "org.uk", "gov.uk",
    "ac.uk", "au", "com.au", "net.au", "org.au", "edu.au",
    "act.edu.au", "nsw.edu.au",
)
PSL_MAX_LABELS = max(s.count(".") + 1 for s in PUBLIC_SUFFIXES)

#: Salt fan-out for the cap enforcer's first window pass.
DOMAIN_CAP_SALTS = 16

#: Static domain blocklist (registered_domain -> reason) — the decision
#: artifact a curation pass maintains from the domain report's signals;
#: shipped as a broadcast dimension exactly like the PSL.  Entries cover
#: single- and multi-label-suffix domains so the audit exercises the PSL
#: grouping end-to-end.
DOMAIN_BLOCKLIST = (
    ("example0.com", "spam-farm"),
    ("example7.co.uk", "spam-farm"),
    ("example3.gov.uk", "takedown"),
    ("example5.net", "low-quality"),
    ("example2.com.au", "low-quality"),
)


def _hx(text: Column, start: int, length: int) -> Column:
    """Integer value of an md5(text) hex substring (1-based start) — the
    registry's standard deterministic-derivation idiom."""
    return F.conv(
        F.substring(F.md5(text), start, length), 16, 10
    ).cast("bigint")


def synth_urls(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Attach a deterministic raw ``url`` per document.

    Canonical identity (what normalization should recover):
    ``site = md5[1:4] % URL_SITES``, ``tld = md5[5] % 6``,
    ``sub = md5[6] % 3`` (www. / bare / news.), ``path id = md5[7:8] %
    URL_PATHS``.  Variant noise by ``doc_id % 4``: 0 = UPPERCASE host +
    explicit ``:443`` + trailing ``utm_source`` tracking param; 1 =
    ``#frag`` fragment; 2 = duplicated path slash; 3 = clean.  Every
    variant carries the query, so all four collapse to ONE canonical
    URL after normalization."""
    text = F.col(text_col)
    site = _hx(text, 1, 4) % URL_SITES
    tld = F.element_at(
        F.array(*[F.lit(t) for t in URL_TLDS]),
        (_hx(text, 5, 1) % len(URL_TLDS) + 1).cast("int"),
    )
    sub = F.element_at(
        F.array(*[F.lit(s) for s in URL_SUBS]),
        (_hx(text, 6, 1) % len(URL_SUBS) + 1).cast("int"),
    )
    pid = _hx(text, 7, 2) % URL_PATHS
    host = F.concat(sub, F.lit("example"), site, F.lit("."), tld)
    path = F.concat(F.lit("/p/"), pid)
    qid = F.concat(F.lit("?id="), pid)
    variant = F.col(id_col) % 4
    url = (
        F.when(
            variant == 0,
            F.concat(F.lit("https://"), F.upper(host), F.lit(":443"),
                     path, qid, F.lit("&utm_source=feed")),
        )
        .when(
            variant == 1,
            F.concat(F.lit("https://"), host, path, qid, F.lit("#frag")),
        )
        .when(
            variant == 2,
            F.concat(F.lit("https://"), host, F.lit("/"), path, qid),
        )
        .otherwise(F.concat(F.lit("https://"), host, path, qid))
    )
    return df.withColumn("url", url)


def normalize_url(url: Column) -> Column:
    """Canonicalize a raw URL: drop the fragment, lowercase scheme+host
    (path/query case is preserved — hosts are case-insensitive, paths are
    not), strip the default :443 port, drop a terminal ``utm_*`` tracking
    parameter, and collapse the duplicated path slash.  Anchored /
    non-regex steps only (see module docstring for why that makes the
    DuckDB replay exact)."""
    n0 = F.regexp_replace(url, r"#.*$", "")
    head = F.regexp_extract(n0, r"^(https?://[^/]+)", 1)
    tail = F.substr(n0, F.length(head) + F.lit(1))
    n1 = F.concat(F.lower(head), tail)
    n2 = F.replace(n1, F.lit(":443/"), F.lit("/"))
    n3 = F.regexp_replace(n2, r"[?&]utm_[a-z]+=[a-z0-9]*$", "")
    return F.replace(n3, F.lit("//p/"), F.lit("/p/"))


def host_of(url_norm: Column) -> Column:
    """The (already lowercased) host of a normalized URL."""
    return F.regexp_extract(url_norm, r"^https?://([^/:?#]+)", 1)


def attach_registered_domain(
    df: DataFrame,
    host_col: str,
    out_col: str = "registered_domain",
) -> DataFrame:
    """Resolve each row's registrable domain against the public suffix list:
    public suffix by LONGEST match over the host's last-1..last-N label
    suffixes, registered domain = that suffix plus one label (the whole
    host when the host has no extra label, itself when nothing matches).

    Plan shape (r13): the PSL is a STATIC module constant, so the
    longest-match rule compiles to a pure per-depth ``isin`` expression
    over literal suffix sets — zero joins, zero BroadcastExchanges,
    map-side row-local work over a 100 TB scan.  (The previous shape —
    one left BroadcastHashJoin per suffix depth — computed the same
    values but paid three broadcast builds PER QUERY; A/B'd −0.7 s at
    sf0.1 across the domain family.  A deployment whose PSL is a
    runtime-refreshed TABLE would switch back to the broadcast-dim
    join; the expression is faithful exactly because the list here is a
    versioned constant.)"""
    h = F.col(host_col)
    reg = None
    for k in range(PSL_MAX_LABELS, 0, -1):
        lits = [s for s in PUBLIC_SUFFIXES if s.count(".") + 1 == k]
        cond = F.substring_index(h, ".", -k).isin(lits)
        val = F.substring_index(h, ".", -(k + 1))
        reg = F.when(cond, val) if reg is None else reg.when(cond, val)
    reg = reg.otherwise(h)
    return df.withColumn(out_col, reg)


def url_dedup_groups(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """URL-level exact dedup after normalization: distinct raw forms
    (tracking params, default port, case, fragments, slash noise) that
    canonicalize to the same URL form one group; the min-doc_id member is
    the keeper (the registry's canonical-keeper convention).  One hash
    aggregate on the normalized key — map-side combinable; the PSL joins
    run on the GROUPED frame (metadata-sized), not the corpus."""
    u = synth_urls(df, id_col, text_col).withColumn(
        "url_norm", normalize_url(F.col("url"))
    )
    grouped = (
        u.groupBy("url_norm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min(id_col).cast("bigint").alias("canonical_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .withColumn("__host", host_of(F.col("url_norm")))
    )
    return attach_registered_domain(grouped, "__host").select(
        "url_norm", "registered_domain", "n_docs", "canonical_doc"
    )


def domain_quality_report(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          chars_col: str = "n_chars") -> DataFrame:
    """Per-registered-domain curation report: document count, distinct
    canonical URLs, mean document length, and the URL-duplication share
    ``(n_docs − n_urls) / n_docs`` — the signals a per-domain cap or
    blocklist decision reads.  Integer micro-unit divisions, so the
    oracle replays the report value-exactly.  The PSL joins run before
    the aggregate (the group key needs them) — still map-side."""
    u = synth_urls(df, id_col, text_col).withColumn(
        "url_norm", normalize_url(F.col("url"))
    ).withColumn("__host", host_of(F.col("url_norm")))
    return (
        attach_registered_domain(u, "__host", "dom")
        .groupBy("dom")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("url_norm").cast("bigint").alias("n_urls"),
            F.sum(chars_col).cast("bigint").alias("__chars"),
        )
        .select(
            F.col("dom").alias("registered_domain"),
            "n_docs",
            "n_urls",
            F.expr("(1000000 * __chars) div n_docs")
            .cast("bigint")
            .alias("mean_chars_micro"),
            F.expr("(1000000 * (n_docs - n_urls)) div n_docs")
            .cast("bigint")
            .alias("dup_share_micro"),
        )
    )


def domain_blocklist_audit(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Per-registered-domain blocklist audit — the enforcement decision
    record a curation run emits before dropping documents: every domain
    with its document count, the action (``block``/``keep``), and the
    blocklist reason (null for kept domains).  One corpus-side keyed
    aggregate, then a broadcast left join against the
    :data:`DOMAIN_BLOCKLIST` dimension on the METADATA-sized domain
    frame — the same shape at 100 TB."""
    spark = df.sparkSession
    u = synth_urls(df, id_col, text_col).withColumn(
        "url_norm", normalize_url(F.col("url"))
    ).withColumn("__host", host_of(F.col("url_norm")))
    per_dom = (
        attach_registered_domain(u, "__host")
        .groupBy("registered_domain")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    block = spark.createDataFrame(
        list(DOMAIN_BLOCKLIST),
        "registered_domain string, block_reason string",
    )
    return (
        per_dom.join(F.broadcast(block), "registered_domain", "left")
        .select(
            "registered_domain",
            "n_docs",
            F.when(F.col("block_reason").isNotNull(), F.lit("block"))
            .otherwise(F.lit("keep"))
            .alias("action"),
            "block_reason",
        )
    )


def domain_token_budget(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Per-registered-domain training-token budget — the statistic a
    corpus-mix planner prices domains with: document count, whitespace
    token total, each domain's share of the corpus budget (integer
    micro-units), and the domain's budget rank (1 = most tokens,
    registered_domain ASC tiebreak).

    Scale shape: token counting is a JVM-side map expression, the
    per-domain aggregate combines map-side, the corpus total is a
    broadcast 1-row crossJoin over the DOMAIN frame (metadata-sized),
    and the rank uses :func:`global_row_number` — the exact distributed
    range-rank, never an unpartitioned window."""
    from killrweather_spark.functions.text import token_count
    from killrweather_spark.operators.windows import global_row_number

    u = synth_urls(df, id_col, text_col).withColumn(
        "url_norm", normalize_url(F.col("url"))
    ).withColumn("__host", host_of(F.col("url_norm")))
    per_dom = (
        attach_registered_domain(u, "__host")
        .withColumn("__ws", token_count(F.col(text_col)).cast("bigint"))
        .groupBy("registered_domain")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("__ws").cast("bigint").alias("tokens"),
        )
    )
    total = per_dom.agg(
        F.sum("tokens").cast("bigint").alias("__total")
    )
    ranked, _ = global_row_number(
        per_dom.crossJoin(F.broadcast(total)),
        [F.col("tokens").desc(), F.col("registered_domain").asc()],
        "token_rank",
    )
    return ranked.select(
        "registered_domain",
        "n_docs",
        "tokens",
        F.expr("(1000000 * tokens) div __total")
        .cast("bigint")
        .alias("share_micro"),
        F.col("token_rank").cast("bigint").alias("token_rank"),
    )


def domain_cap_enforce(df: DataFrame, cap: int = 8,
                       id_col: str = "doc_id", text_col: str = "text",
                       chars_col: str = "n_chars") -> DataFrame:
    """ENFORCE a per-registered-domain document cap — the action
    :func:`domain_quality_report`'s signals feed (RefinedWeb-style
    domain capping): keep at most ``cap`` documents per registered
    domain, deterministic keeper order (longest document first, doc_id
    ascending as the total-order tiebreak), with each keeper's rank.

    Exact two-phase SALTED top-cap: pass 1 ranks within ``(domain,
    doc_id % DOMAIN_CAP_SALTS)`` and keeps ``cap`` per salt bucket — a
    viral domain's rows split across salts, so no task ever holds a
    corpus-sized partition; pass 2 ranks the ≤ salts·cap survivors per
    domain.  Identical to the direct single-window QUALIFY (every global
    top-``cap`` member is in its salt bucket's top-``cap``), which is
    exactly how the oracle replays it — both windows are partitioned, so
    the registry-wide unpartitioned-window guard holds."""
    from pyspark.sql import Window

    u = synth_urls(df, id_col, text_col).withColumn(
        "url_norm", normalize_url(F.col("url"))
    ).withColumn("__host", host_of(F.col("url_norm")))
    u = attach_registered_domain(u, "__host")
    order = [F.col(chars_col).desc(), F.col(id_col).asc()]
    w1 = Window.partitionBy(
        "registered_domain", F.col(id_col) % DOMAIN_CAP_SALTS
    ).orderBy(*order)
    w2 = Window.partitionBy("registered_domain").orderBy(*order)
    return (
        u.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= cap)
        .withColumn("keep_rank", F.row_number().over(w2))
        .filter(F.col("keep_rank") <= cap)
        .select(
            "registered_domain",
            F.col("keep_rank").cast("int").alias("keep_rank"),
            F.col(id_col).cast("bigint").alias("doc_id"),
            F.col(chars_col).cast("bigint").alias("n_chars"),
        )
    )
