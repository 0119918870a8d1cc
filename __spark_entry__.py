"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 +
training-data pipeline family); each callable takes (spark, sf_dir)
and returns a DataFrame.
``oracle_sql()`` — matching ANSI SQL for DuckDB over the same parquet
tables. EVERY entry has an oracle. Operators DuckDB cannot recompute
from scratch (xxhash64-based LSH/Bloom, mapInPandas parsers, the
iterative crawl loop) pin their non-SQL step to committed parquet
snapshots (wos_crawler_spark/fixtures/data/, tools/make_snapshots.py)
and the oracle recomputes all downstream joins/aggregations/rankings
independently in SQL; drift guard in tests/test_snapshots.py.

Column-name contract: every computed column is aliased identically on
both sides (the driver's compare sorts columns by name before
hashing). Float-valued outputs either mirror the exact IEEE expression
order on both sides or are rounded/avoided (ranks instead of scores).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# =====================================================================
# entry — flagship pipeline (smoke check, sf0.001)
# =====================================================================


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: text-quality + language-ID + exact dedup over the
    documents corpus, rolled up per (lang, lang_pred)."""
    from wos_crawler_spark.operators.textdedup import exact_dedup_keep
    from wos_crawler_spark.operators.textquality import lang_id, quality_features

    docs = _t(spark, SF_DEFAULT, "documents")
    kept = exact_dedup_keep(docs, id_col="doc_id", text_col="text")
    scored = quality_features(kept).withColumn("lang_pred", lang_id(F.col("text")))
    return (
        scored.groupBy("lang", "lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("q_score"), 4).alias("avg_quality"),
            F.sum("q_n_words").alias("total_words"),
        )
        .orderBy("lang", "lang_pred")
    )


# =====================================================================
# shared URL synthesis (both engines build identical strings from
# doc_id, so the canonicalizer is oracle-checkable without xxhash64)
# =====================================================================


def _messy_url_expr() -> F.Column:
    """Deterministically messy URL per doc_id: mixed-case scheme/host,
    default port, unsorted query params, fragment."""
    i = F.col("doc_id")
    scheme = F.when(i % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https"))
    host = F.concat(F.lit("Host"), (i % 7).cast("string"), F.lit(".Example.COM"))
    port = F.when(i % 5 == 0, F.lit(":443")).otherwise(F.lit(""))
    path = F.concat(F.lit("/Docs/"), i.cast("string"))
    query = (
        F.when(i % 3 == 0, F.lit("?b=2&a=1"))
        .when(i % 3 == 1, F.lit("?a=1&b=2"))
        .otherwise(F.lit(""))
    )
    frag = F.when(i % 2 == 0, F.lit("#frag")).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, port, path, query, frag)


#: DuckDB twin of the expected CANONICAL form (independent statement of
#: the contract, not a re-run of the engine).
_CANON_SQL = (
    "'https://host' || (doc_id % 7) || '.example.com/Docs/' || doc_id || "
    "CASE WHEN doc_id % 3 IN (0, 1) THEN '?a=1&b=2' ELSE '' END"
)
_HOST_SQL = "'host' || (doc_id % 7) || '.example.com'"


# =====================================================================
# queries
# =====================================================================


def q_f2_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: canonicalization as a pure Catalyst expression
    (wos_crawler_spark.functions.urlnorm; ref behavior:
    dep:w3lib.url::canonicalize_url used by Scrapy fingerprints)."""
    from wos_crawler_spark.functions.urlnorm import canonicalize_url, url_host

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    raw = docs.withColumn("url_raw", _messy_url_expr())
    return raw.select(
        "doc_id",
        canonicalize_url(F.col("url_raw")).alias("url_canon"),
        url_host(F.col("url_raw")).alias("host"),
    )


def q_f1_frontier_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/J1/U3: exact URL-seen dedup (left_anti on canonical hash).
    The seen side holds *differently-messy* spellings of the same URLs
    — canonical-equivalence classes must dedup to one fetch."""
    from wos_crawler_spark.functions.urlnorm import with_url_canon

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    frontier = with_url_canon(
        docs.withColumn("url", _messy_url_expr())
    )
    # seen: every 4th doc, spelled differently (no fragment, lowercase
    # scheme, same canonical form)
    seen_raw = docs.filter(F.col("doc_id") % 4 == 0).withColumn(
        "url",
        F.concat(
            F.lit("https://HOST"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com"),
            F.lit("/Docs/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("?a=1&b=2"))
            .when(F.col("doc_id") % 3 == 1, F.lit("?b=2&a=1"))
            .otherwise(F.lit("")),
        ),
    )
    seen = with_url_canon(seen_raw).select("url_hash")
    return frontier.join(seen, "url_hash", "left_anti").select("doc_id")


def q_f1_frontier_dedup_cuckoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 via the cuckoo seen-sketch flavor (north_rule: "Bloom/cuckoo
    URL-seen filter"): distributed sharded build over the seen side,
    executor-side prefilter probe, exact anti-join rescue — output is
    exactly candidates ∖ seen, so the oracle is f1's."""
    from wos_crawler_spark.functions.urlnorm import with_url_canon
    from wos_crawler_spark.operators.cuckoo import build_sharded_cuckoo
    from wos_crawler_spark.operators.dedup import dedup_frontier

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    frontier = with_url_canon(docs.withColumn("url", _messy_url_expr()))
    seen_raw = docs.filter(F.col("doc_id") % 4 == 0).withColumn(
        "url",
        F.concat(
            F.lit("https://HOST"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com"),
            F.lit("/Docs/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("?a=1&b=2"))
            .when(F.col("doc_id") % 3 == 1, F.lit("?b=2&a=1"))
            .otherwise(F.lit("")),
        ),
    )
    seen = with_url_canon(seen_raw).select("url_hash")
    ck = build_sharded_cuckoo(seen, "url_hash", capacity=100_000, n_shards=2)
    return dedup_frontier(frontier, seen, ck, intra=False).select("doc_id")


def q_recrawl_readmit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl eviction (plans/recrawl.py; the cuckoo flavor's DELETE):
    every 8th doc's URL expires out of the seen set — the sketch drops
    it via the distributed sharded delete, the exact seen side via
    anti-join — so frontier dedup re-admits exactly those for
    re-fetching alongside the never-seen URLs."""
    from wos_crawler_spark.functions.urlnorm import with_url_canon
    from wos_crawler_spark.operators.cuckoo import (
        build_sharded_cuckoo,
        evict_sharded_cuckoo,
    )
    from wos_crawler_spark.operators.dedup import dedup_frontier

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    frontier = with_url_canon(docs.withColumn("url", _messy_url_expr()))
    seen_raw = docs.filter(F.col("doc_id") % 4 == 0).withColumn(
        "url",
        F.concat(
            F.lit("https://HOST"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com"),
            F.lit("/Docs/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("?a=1&b=2"))
            .when(F.col("doc_id") % 3 == 1, F.lit("?b=2&a=1"))
            .otherwise(F.lit("")),
        ),
    )
    seen_all = with_url_canon(seen_raw).select("doc_id", "url_hash")
    ck = build_sharded_cuckoo(
        seen_all, "url_hash", capacity=100_000, n_shards=2
    )
    expired = seen_all.filter(F.col("doc_id") % 8 == 0).select("url_hash")
    ck2 = evict_sharded_cuckoo(ck, expired)
    seen = seen_all.join(expired, "url_hash", "left_anti").select("url_hash")
    return dedup_frontier(frontier, seen, ck2, intra=False).select("doc_id")


def q_f3_robots_lpm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/J2: robots.txt longest-prefix-match as a broadcast join +
    higher-order array exprs (wos_crawler_spark.operators.robots)."""
    from wos_crawler_spark.operators.robots import robots_filter

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    host = F.concat(F.lit("h"), (i % 4).cast("string"), F.lit(".com"))
    path = (
        F.when(i % 4 == 0, F.concat(F.lit("/private/p"), i.cast("string")))
        .when(i % 4 == 1, F.concat(F.lit("/private/pub/p"), i.cast("string")))
        .when(i % 4 == 2, F.concat(F.lit("/p"), i.cast("string")))
        .otherwise(F.concat(F.lit("/private/x/p"), i.cast("string")))
    )
    frontier = docs.select(
        "doc_id",
        host.alias("host"),
        F.concat(F.lit("https://"), host, path).alias("url_canon"),
    )
    rules = [
        (f"h{k}.com", p, a, len(p))
        for k in range(4)
        for (p, a) in [("/private", False), ("/private/pub", True), ("/", True)]
    ]
    robots = spark.createDataFrame(
        rules, "host string, rule_prefix string, allow boolean, rule_len int"
    )
    return robots_filter(frontier, robots).select("doc_id", "host")


def _synthetic_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier rows for the scheduler oracles: url_hash := doc_id so
    the deterministic ordering key is SQL-visible on both sides."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(F.lit("h"), (i % 5).cast("string")).alias("host"),
        i.alias("url_hash"),
        (i % 3).cast("int").alias("priority"),
        F.lit(0).alias("discovered_wave"),
    )


def q_f4_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: salted token-bucket politeness schedule. At this scale each
    host fits one bucket, so scheduled_ts == (host_rank-1) * delay —
    exactly the per-host 1 req/s contract."""
    from wos_crawler_spark.operators.politeness import schedule_wave

    f = _synthetic_frontier(spark, sf_dir)
    sched = schedule_wave(f, delay_s=1.0, wave_start=0.0)
    return sched.select("doc_id", "host", "scheduled_ts")


def q_f4_crawl_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3→F4: per-host robots.txt Crawl-delay driving the token bucket
    (wos_crawler_spark.operators.robots.parse_robots_delays →
    politeness.schedule_wave(host_delays=...)). The raw-body parse runs
    here too (mapInPandas); the oracle re-derives the same delays from
    the host id — the bodies are synthesized so host h1 declares
    Crawl-delay 2, h3 declares 0.5, everyone else none (default 1.0).
    All delays are exactly binary-representable, so scheduled_ts is
    exact on both engines."""
    from wos_crawler_spark.operators.politeness import schedule_wave
    from wos_crawler_spark.operators.robots import parse_robots_delays

    bodies = spark.createDataFrame(
        [
            ("h0", "User-agent: *\nDisallow: /none\n"),
            ("h1", "User-agent: *\nCrawl-delay: 2\nDisallow: /none\n"),
            ("h2", "User-agent: *\nCrawl-delay: oops\n"),
            ("h3", "User-agent: wcsbot\nCrawl-delay: 0.5\nUser-agent: *\nCrawl-delay: 99\n"),
            ("h4", "Sitemap: https://h4/s.xml\n"),
        ],
        "host string, body string",
    )
    delays = parse_robots_delays(bodies, user_agent="wcsbot")
    f = _synthetic_frontier(spark, sf_dir)
    sched = schedule_wave(f, delay_s=1.0, wave_start=0.0, host_delays=delays)
    return sched.select("doc_id", "host", "scheduled_ts")


def q_w1_priority_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: per-host priority top-k (two-phase skew-free quota)."""
    from wos_crawler_spark.operators.politeness import schedule_wave

    f = _synthetic_frontier(spark, sf_dir)
    sched = schedule_wave(f, delay_s=1.0, wave_start=0.0, quota=7)
    return sched.select("doc_id", "host", "scheduled_ts")


def q_w2_pagination_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/S5: the reference's sequential 500-record pagination,
    parallelized as a window batch-id (batch size 50 here)."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        docs.withColumn(
            "batch_id", F.floor((F.row_number().over(w) - 1) / 50).cast("long")
        )
        .groupBy("source", "batch_id")
        .agg(F.count(F.lit(1)).alias("n_recs"), F.min("doc_id").alias("first_doc"))
    )


def q_a1_docs_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/S4: result-count probe per corpus slice."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))


def q_j4_seed_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/S3: advanced-query seed evaluation — broadcast theta join on
    contains(text, term) (the AdvancedSearch POST analog)."""
    seeds = spark.createDataFrame(
        [("spark", 0), ("window", 1), ("vector", 2), ("zzznomatch", 3)],
        "term string, query_id int",
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    j = F.broadcast(seeds).join(
        docs, F.col("text").contains(F.col("term")), "left"
    )
    return j.groupBy("query_id").agg(F.count("doc_id").alias("n_matches"))


def q_j1_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: anti-join shape (frontier ∖ seen) on the TPC-H-ish tables."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


def q_j2_dim_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: broadcast dim joins (customer ⋈ nation ⋈ region) + rollup."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def q_tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shape aggregation (partial+final hash agg, no UDF)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_tpch_q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shape join + agg + top-k."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup over the events stream table (batch twin
    of streaming.windowed_ingest_stats)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def q_a_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-class: multi-level ROLLUP aggregation (subtotals + grand
    total — the hierarchical report shape; one shuffle, grouping-set
    expansion map-side)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def q_a_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-class: pivot (lang columns per source) — explicit value list
    so the plan is a single pass, no distinct-values pre-query."""
    docs = _t(spark, sf_dir, "documents")
    p = docs.groupBy("source").pivot("lang", ["en", "zh", "de", "es"]).count()
    return p.select(
        "source",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("en", "zh", "de", "es")],
    )


def q_u_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U2/U3: wave union + seen accumulation + frontier-minus-seen."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    evens = docs.filter(F.col("doc_id") % 2 == 0)
    threes = docs.filter(F.col("doc_id") % 3 == 0)
    fives = docs.filter(F.col("doc_id") % 5 == 0)
    return evens.unionByName(threes).dropDuplicates(["doc_id"]).exceptAll(
        fives
    ).select("doc_id")


def q_p6_word_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6-shape multi-value split + explode + count."""
    from wos_crawler_spark.operators.textdedup import words_of

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(words_of(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )


# ------------------------------------------------ training-data family


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: digest → (keep_id, n_dups)."""
    from wos_crawler_spark.operators.textdedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, id_col="doc_id", text_col="text")


def q_dedup_exact_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup survivors (min doc_id per normalized-text digest)."""
    from wos_crawler_spark.operators.textdedup import exact_dedup_keep

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup_keep(docs, id_col="doc_id", text_col="text").select("doc_id")


def _combo_successor_docs(docs: DataFrame, sep: str) -> DataFrame:
    """Fixture: pair each doc with its doc_id-successor's text as
    ``text<sep>text_next`` — plants every interior text as a duplicate
    unit across two combo docs. The fixture ids are dense 0..n-1
    (asserted by the driver's generator), so the successor is a plain
    equi-join on doc_id+1 — fully parallel, no single-partition
    Window.orderBy (which at sf0.1 funneled 200k rows through one
    partition inside the timed bench entries)."""
    nxt = docs.select(
        (F.col("doc_id") - F.lit(1)).alias("doc_id"),
        F.col("text").alias("_nxt"),
    )
    return docs.join(nxt, "doc_id").select(
        "doc_id", F.concat_ws(sep, "text", "_nxt").alias("text")
    )


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global paragraph dedup (C4/Dolma-style keep-first).
    The synthetic documents carry no newlines, so the fixture builds
    paragraph structure deterministically: each doc is paired with its
    doc_id successor as ``text\\n\\ntext_next``, which plants every
    interior text as a duplicate paragraph across two combo docs."""
    from wos_crawler_spark.operators.textdedup import paragraph_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    combo = _combo_successor_docs(docs, "\n\n")
    return paragraph_dedup(combo)


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span dedup (Lee et al. 2022 ExactSubstr as
    hash-rank-merge; operators/textdedup.py). Same combo fixture as
    dedup_paragraphs (doc ++ successor doc) so every interior text's
    15-token windows appear in two combo docs; the manifest removes
    each later occurrence and merges windows into maximal intervals.
    Runs the Arrow window-hash twin (test-pinned bit-equal to the
    expr flavor the oracle recomputes from scratch)."""
    from wos_crawler_spark.operators.textdedup import span_dedup_manifest

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    combo = _combo_successor_docs(docs, " ")
    return span_dedup_manifest(combo, span_len=15, use_arrow=True).select(
        "doc_id",
        F.col("span_start").cast("int").alias("span_start"),
        F.col("span_end").cast("int").alias("span_end"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
    )


def q_dedup_spans_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reassembly half of ExactSubstr: documents rebuilt with
    manifest intervals deleted (canonical single-space token form).
    Same combo fixture as dedup_spans; the oracle recomputes the
    manifest AND the surviving-token reassembly from scratch."""
    from wos_crawler_spark.operators.textdedup import (
        span_dedup_apply,
        span_dedup_manifest,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    combo = _combo_successor_docs(docs, " ")
    m = span_dedup_manifest(combo, span_len=15, use_arrow=True)
    return span_dedup_apply(combo, m).select(
        "doc_id",
        "dedup_text",
        F.col("n_tokens_kept").cast("int").alias("n_tokens_kept"),
    )


def q_text_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean-AND retrieval (bm25.containment_join): docs whose
    distinct token set contains EVERY token of the query — the
    strict form of benchmark-leak forensics next to BM25's ranked
    OR. Queries are the first-5-token prefixes of docs 0-2 (each
    guaranteed at least its self-match). The oracle restates
    containment independently via list_has_all over the same
    normalized token sets."""
    from wos_crawler_spark.operators.bm25 import containment_join
    from wos_crawler_spark.operators.textdedup import words_of

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    queries = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("q_id"),
        F.concat_ws(" ", F.slice(words_of(F.col("text")), 1, 5)).alias(
            "q_text"
        ),
    )
    return containment_join(docs, queries)


def q_dedup_jaccard_exact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join via prefix filtering
    (textdedup.prefix_jaccard_pairs — Vernica/Carey/Li 2010): every
    word-trigram-shingle pair with Jaccard ≥ 1/2, found exactly (the
    engine runs df-ordered prefix candidates + integer verification;
    the oracle is a brute-force all-pairs recomputation that never
    sees a prefix — a genuinely independent completeness check)."""
    from wos_crawler_spark.operators.textdedup import prefix_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return prefix_jaccard_pairs(docs, shingle_n=3, t_num=1, t_den=2)


def q_dedup_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted MinHash dedup index (operators/dedupindex.py): the
    standing corpus (even doc_ids) is banded ONCE; the increment (odd
    doc_ids) probes the stored band table — broadcast, so the index
    never shuffles — and verification is exact hashed-shingle Jaccard
    with an integer threshold. Same banding params as the pinned LSH
    snapshot, so the oracle reuses minhash_bands_sf001 with a parity
    filter and recomputes the verification from the live documents."""
    from wos_crawler_spark.operators.dedupindex import (
        dedup_index_build,
        dedup_index_query,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    idx = dedup_index_build(
        docs.filter(F.col("doc_id") % 2 == 0),
        shingle_n=1, k=32, n_bands=8,
    )
    return dedup_index_query(
        idx, docs.filter(F.col("doc_id") % 2 == 1), t_num=1, t_den=2
    )


def q_dedup_jaccard_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus exact set-similarity join
    (textdedup.prefix_jaccard_join): 'which of today's crawl docs are
    near-duplicates of anything already in the training set' — A×B,
    never (A∪B)², with both sides' prefixes under ONE shared
    (union-df, token) total order. Fixture splits documents on doc_id
    parity so the planted near-dup pairs straddle the split (12 cross
    pairs at sf0.01); the oracle is a brute-force A×B recomputation
    that never sees a prefix."""
    from wos_crawler_spark.operators.textdedup import prefix_jaccard_join

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return prefix_jaccard_join(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        shingle_n=3, t_num=1, t_den=2,
    )


def q_f_resolve_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution (operators/redirects.py, path
    doubling — ceil(log2(max_hops)) self-joins instead of per-chain
    iteration). Deterministic fixture from documents: doc_id not
    divisible by 7 redirects to doc_id−1 (chains up to 6 links,
    roots at multiples of 7), plus a planted 2-cycle. The contract
    projection nulls final/hops for unresolved walks (cycle rows);
    the oracle re-walks every chain with a recursive CTE."""
    from wos_crawler_spark.operators.redirects import resolve_redirects

    u = lambda c: F.concat(F.lit("https://ex.com/r/"), c.cast("string"))
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.filter(F.col("doc_id") % 7 != 0).select(
        u(F.col("doc_id")).alias("src"),
        u(F.col("doc_id") - 1).alias("dst"),
    )
    cyc = spark.createDataFrame(
        [
            ("https://ex.com/loop/a", "https://ex.com/loop/b"),
            ("https://ex.com/loop/b", "https://ex.com/loop/a"),
        ],
        "src string, dst string",
    )
    r = resolve_redirects(edges.union(cyc), max_hops=8)
    return r.select(
        "src",
        F.when(F.col("resolved"), F.col("final")).alias("final_url"),
        F.col("hops").cast("long").alias("hops"),
        "resolved",
    )


def q_s_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET source round trip (sources/wet.py): documents → one WET
    blob per source (warcinfo + Content-Length-framed conversion
    records) → parsed back through the real reader path (mapInPandas
    + try_to_timestamp). The oracle is the identity the round trip
    must equal — byte-exact text, octet length, epoch timestamp —
    so any framing/encoding defect in EITHER direction hash-fails."""
    from wos_crawler_spark.sources.wet import (
        parse_wet,
        serialize_wet,
        with_warc_ts,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://ex.com/wet/"), F.col("doc_id").cast("string")
        ).alias("url"),
        F.date_format(
            F.timestamp_seconds(F.col("doc_id") * 3600),
            "yyyy-MM-dd'T'HH:mm:ss'Z'",
        ).alias("warc_date"),
        "text",
        "source",
    )
    parsed = with_warc_ts(parse_wet(serialize_wet(docs, "source"), "wet"))
    return parsed.select(
        "url",
        F.col("warc_ts").cast("long").alias("warc_epoch"),
        "text",
        "n_bytes",
    )


def q_s_cdx_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDXJ index → frontier seeds (sources/cdx.py): two captures per
    url serialized to real CDXJ lines, parsed back (split-by-position
    so spaces inside the JSON can't shear it, F.get so short lines
    degrade to NULLs), then latest-capture dedup with 404s and
    non-html mimes gated out. Timestamps round-trip through the same
    session timezone (date_format ∘ try_to_timestamp cancels), so
    the oracle states seeds purely from doc_id arithmetic."""
    from wos_crawler_spark.sources.cdx import (
        cdx_frontier_seeds,
        parse_cdxj_lines,
        serialize_cdxj,
    )

    d = F.col("doc_id")
    s = d.cast("string")
    docs = _t(spark, sf_dir, "documents")

    def capture(ts_sec, tag: str):
        c = docs.select(
            F.concat(F.lit("com,ex)/"), s).alias("urlkey"),
            F.concat(F.lit("https://ex.com/cdx/"), s).alias("url"),
            F.when(d % 10 == 0, 404).otherwise(200).cast("int").alias(
                "status"
            ),
            F.when(d % 7 == 0, "image/png").otherwise("text/html").alias(
                "mime"
            ),
            F.concat(F.lit("D"), s, F.lit(tag)).alias("digest"),
            F.lit("f.warc.gz").alias("filename"),
            d.alias("offset"),
            F.lit(100).cast("long").alias("length"),
            F.timestamp_seconds(ts_sec).alias("fetch_ts"),
        )
        return c.select(serialize_cdxj(c).alias("value"))

    lines = capture(d * 7200, "-old").unionAll(
        capture(d * 7200 + 31536000, "-new")
    )
    seeds = cdx_frontier_seeds(parse_cdxj_lines(lines))
    return seeds.select(
        "url",
        F.col("fetch_ts").cast("long").alias("fetch_epoch"),
        "digest",
    )


def q_s_sitemap_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap XML → frontier seeds (sources/sitemaps.py): every doc
    is listed in one of 16 urlset shards (lastmod = doc_id·3600,
    changefreq/priority from doc_id arithmetic, every 5th loc carrying
    ``?a=1&b=2`` so the entity escape/unescape path is on the line);
    every 3rd doc is listed AGAIN in a dup shard with a year-newer
    lastmod and no optional fields. The serialize→parse round trip
    (XML entity escaping, W3C datetime, optional-field omission) and
    the latest-lastmod seed dedup are entirely the engine's to get
    right; lastmod round-trips through the session timezone
    (to_utc_timestamp ∘ date_format ∘ try_to_timestamp cancels), so
    the oracle states seeds purely from doc_id arithmetic."""
    from wos_crawler_spark.sources.sitemaps import (
        parse_sitemap_xml,
        serialize_urlset,
        sitemap_frontier_seeds,
    )

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents")
    loc = F.concat(
        F.lit("https://ex.com/rec/"),
        d.cast("string"),
        F.when(d % 5 == 0, F.lit("?a=1&b=2")).otherwise(F.lit("")),
    )
    old = docs.select(
        F.concat(
            F.lit("https://ex.com/sm/"), (d % 16).cast("string"),
            F.lit(".xml"),
        ).alias("sitemap_url"),
        loc.alias("loc"),
        F.timestamp_seconds(d * 3600).alias("lastmod"),
        F.element_at(
            F.array(F.lit("daily"), F.lit("weekly"), F.lit("monthly")),
            (d % 3 + 1).cast("int"),
        ).alias("changefreq"),
        ((d % 10) / 10.0).alias("priority"),
    )
    fresh = docs.filter(d % 3 == 0).select(
        F.concat(
            F.lit("https://ex.com/dup/"), (d % 4).cast("string"),
            F.lit(".xml"),
        ).alias("sitemap_url"),
        loc.alias("loc"),
        F.timestamp_seconds(d * 3600 + 31536000).alias("lastmod"),
        F.lit(None).cast("string").alias("changefreq"),
        F.lit(None).cast("double").alias("priority"),
    )
    pages = serialize_urlset(old.unionByName(fresh))
    seeds = sitemap_frontier_seeds(parse_sitemap_xml(pages))
    return seeds.select(
        "url",
        F.col("lastmod").cast("long").alias("lastmod_epoch"),
        "priority",
        "changefreq",
    )


def q_s_sitemap_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemapindex → child shard fetch list (sources/sitemaps.py):
    the 16 shard urls of s_sitemap_seeds serialized into one index
    document, parsed back, deduped. The index↔urlset kind split and
    the index round trip are the engine's to get right."""
    from wos_crawler_spark.sources.sitemaps import (
        parse_sitemap_xml,
        serialize_sitemapindex,
        sitemap_children,
    )

    d = F.col("doc_id")
    kids = (
        _t(spark, sf_dir, "documents")
        .select(
            F.concat(
                F.lit("https://ex.com/sm/"), (d % 16).cast("string"),
                F.lit(".xml"),
            ).alias("sitemap_url")
        )
        .distinct()
    )
    idx = serialize_sitemapindex(kids, index_url="https://ex.com/root.xml")
    return sitemap_children(parse_sitemap_xml(idx)).select("sitemap_url")


def q_s_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC response-record round trip (sources/wet.py): documents →
    synthesized html bytes wrapped in full HTTP envelopes → one WARC
    blob per source → parsed back through the real reader path. The
    raw sibling of s_wet_roundtrip: this is how the input_hint's
    html:binary column actually arrives from a crawl. Oracle is the
    identity — status, content-type, byte-exact body (md5), octet
    length, epoch ts — so a framing defect in either direction
    hash-fails."""
    from wos_crawler_spark.sources.wet import (
        parse_warc,
        serialize_warc,
        with_warc_ts,
    )

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://ex.com/warc/"), d.cast("string")).alias(
            "url"
        ),
        F.date_format(
            F.timestamp_seconds(d * 3600), "yyyy-MM-dd'T'HH:mm:ss'Z'"
        ).alias("warc_date"),
        F.when(d % 10 == 0, 404).otherwise(200).cast("int").alias("status"),
        F.when(d % 7 == 0, "text/plain").otherwise("text/html").alias(
            "content_type"
        ),
        F.encode(
            F.concat(
                F.lit("<html><body>"),
                F.coalesce(F.col("text"), F.lit("")),
                F.lit("</body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
        "source",
    )
    parsed = with_warc_ts(parse_warc(serialize_warc(docs, "source"), "warc"))
    return parsed.select(
        "url",
        F.col("warc_ts").cast("long").alias("warc_epoch"),
        "status",
        "content_type",
        F.md5(F.col("html")).alias("html_md5"),
        "n_bytes",
    )


def q_a_hll_host_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host distinct-URL cardinality by HyperLogLog
    (operators/sketches.py): the crawl-analytics sketch that replaces
    exact per-host distinct counting at 10^10 urls. Fixture plants
    duplicate urls (doc_id % 50 under a % 7 host — lcm 350 < 500,
    so repeats genuinely occur) and distinct ≠ count; p=4 puts every
    host in the raw harmonic branch (n ≈ 70 ≫ 2.5·m = 40). The
    harmonic sum is a sum of dyadic rationals — exactly
    order-independent in float64 — so the oracle recomputes buckets,
    rhos (via bin-length, no float log), registers and the identical
    estimate tree from scratch."""
    from wos_crawler_spark.operators.sketches import hll_count_distinct

    d = F.col("doc_id")
    k = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), (d % 7).cast("string")).alias("host"),
        F.concat(
            F.lit("https://h"), (d % 7).cast("string"),
            F.lit(".ex/p/"), (d % 50).cast("string"),
        ).alias("url"),
    )
    return hll_count_distinct(k, "url", p=4, group_cols=["host"])


def q_a_cms_url_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL frequency estimation by count-min sketch
    (operators/sketches.py): the never-undercounting counter table
    that replaces exact per-key counting at 10^10 urls. Same
    duplicate-url fixture as the HLL entry (doc_id % 50 under a % 7
    host); width 64 « the ~350 distinct keys forces real collisions,
    so the entry exercises genuine over-counts — identical in both
    engines because everything is exact integer arithmetic."""
    from wos_crawler_spark.operators.sketches import cms_lookup, cms_table

    d = F.col("doc_id")
    k = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://h"), (d % 7).cast("string"),
            F.lit(".ex/p/"), (d % 50).cast("string"),
        ).alias("url")
    )
    t = cms_table(k, "url", depth=3, width=64)
    return cms_lookup(t, k.distinct(), "url", depth=3, width=64)


def q_pipeline_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3 composition — the session's new operators as ONE
    pipeline, in published-recipe order: CCNet LM gate (hashed
    trigram LM trained on the target slice; drop the tail tertile,
    docs under 3 tokens unscored→dropped) → ExactSubstr span dedup
    over the survivors (L=8 — the synthetic corpus carries ~1k
    organic duplicate 8-grams, so the manifest genuinely bites) →
    reassembly → token floor (≥ 10 kept). Output carries the LM
    label and the rebuilt text; the oracle recomputes every stage
    from scratch in one SQL chain."""
    from wos_crawler_spark.operators.lmscore import (
        lm_bucket,
        lm_score_arrow,
        lm_train,
    )
    from wos_crawler_spark.operators.textdedup import (
        span_dedup_apply,
        span_dedup_manifest,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 19 == 3)
    c3, c2 = lm_train(ref, n_buckets=4096)
    scored = lm_score_arrow(docs, c3, c2, n_buckets=4096)
    head_cut, tail_cut = scored.agg(
        F.floor(F.expr(f"percentile(avg_nano, {2 / 3!r})")).cast("long"),
        F.floor(F.expr(f"percentile(avg_nano, {1 / 3!r})")).cast("long"),
    ).first()
    lab = (
        lm_bucket(scored, int(head_cut), int(tail_cut))
        .filter(F.col("ppl_bucket") != "tail")
        .select("doc_id", "avg_nano", "ppl_bucket")
    )
    kept = docs.join(lab, "doc_id")
    body = kept.select("doc_id", "text")
    manifest = span_dedup_manifest(body, span_len=8, use_arrow=True)
    rebuilt = span_dedup_apply(body, manifest)
    return (
        rebuilt.join(lab, "doc_id")
        .filter(F.col("n_tokens_kept") >= 10)
        .select(
            "doc_id",
            "ppl_bucket",
            "avg_nano",
            F.col("n_tokens_kept").cast("int").alias("n_tokens_kept"),
            "dedup_text",
        )
    )


def q_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF/LSH's memory-bounded sibling: product quantization ANN
    (operators/pq.py, Jégou et al. 2011). Codebooks train
    deterministically on the hash sample (pinned as the
    pq_codebooks_sf001 snapshot — the one non-SQL step); encoding,
    per-query ADC lookup tables, BIGINT score sums and ranking are
    all recomputed from scratch by the oracle over the live
    embeddings using the identical left-associative distance
    chains."""
    from wos_crawler_spark.operators.pq import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    # project BEFORE the Arrow passes: mapInPandas consumes whole
    # rows, so pruning must happen upstream of it or the scan reads
    # the unused label column
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    books = pq_train(emb, m_sub=8, k=16, n_iter=5, sample=500)
    codes = pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id") < 3)
    return pq_topk(queries, codes, books, k_top=10)


def q_sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition (FAISS's IVFADC minus residuals): the IVF
    coarse quantizer proposes candidates (same deterministic train as
    sim_ivf_topk — pinned as ivf_cand_sf001), PQ's ADC scores ONLY
    those pairs. The oracle re-derives encoding, LUTs, integer score
    sums and ranking from scratch over the pinned candidate set and
    codebooks."""
    from wos_crawler_spark.operators.pq import (
        pq_encode,
        pq_score_candidates,
        pq_train,
    )
    from wos_crawler_spark.operators.similarity import ivf_candidates

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cand = ivf_candidates(
        emb, queries, n_centroids=16, n_probe=4, n_iter=3
    )
    books = pq_train(emb, m_sub=8, k=16, n_iter=5, sample=500)
    codes = pq_encode(emb, books)
    return pq_score_candidates(cand, codes, books, queries, k_top=10)


def q_text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM gate (operators/lmscore.py): hashed trigram
    Laplace LM trained on the target slice (doc_id % 19 == 3, the
    engine's decontam/DSIR slice convention), every doc scored by
    nano-quantized mean log-prob, head/middle/tail on exact corpus
    tertiles. Scoring runs the Arrow twin (test-pinned bit-equal to
    the expr flavor the oracle mirrors); the two tertile cutoffs are
    a driver-scale collect of one aggregate row. The oracle
    recomputes counts, contributions, quantile_cont tertiles and
    labels from scratch in DuckDB."""
    from wos_crawler_spark.operators.lmscore import (
        lm_bucket,
        lm_score_arrow,
        lm_train,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 19 == 3)
    c3, c2 = lm_train(ref, n_buckets=4096)
    scored = lm_score_arrow(docs, c3, c2, n_buckets=4096)
    head_cut, tail_cut = scored.agg(
        F.floor(F.expr(f"percentile(avg_nano, {2 / 3!r})")).cast("long"),
        F.floor(F.expr(f"percentile(avg_nano, {1 / 3!r})")).cast("long"),
    ).first()
    return lm_bucket(scored, int(head_cut), int(tail_cut)).select(
        "doc_id", "n_tri", "lp_nano", "avg_nano", "ppl_bucket"
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-unigram Jaccard near-dup pairs within one source:
    the prefix-filtered self-join (textdedup.prefix_jaccard_pairs)
    on the id ``(source, doc_id)``. Catalyst pushes the same-source
    filter into the prefix-token join, which is then keyed by
    ``(source, token)``: no cross-source pair is generated."""
    from wos_crawler_spark.operators.textdedup import prefix_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select(F.struct("source", "doc_id").alias("_key"), "text")
    return (
        prefix_jaccard_pairs(keyed, id_col="_key", shingle_n=1, t_num=1, t_den=2)
        .filter(F.col("id_a.source") == F.col("id_b.source"))
        .select(
            F.col("id_a.doc_id").alias("id_a"),
            F.col("id_b.doc_id").alias("id_b"),
            F.round(F.col("n_inter") / F.col("n_union"), 6).alias("jaccard_r"),
        )
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (xxhash64 signatures — rows-only;
    exact-Jaccard verification is pinned in tests/test_textops.py)."""
    from wos_crawler_spark.operators.textdedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, id_col="doc_id", text_col="text", shingle_n=1,
        k=32, bands=8, t_num=1, t_den=2,
    ).select("id_a", "id_b", (F.col("n_inter") / F.col("n_union")).alias("jaccard"))


def q_dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup CLUSTERS — the linear-in-bucket-size scale
    path (star edges + min-label propagation; rows-only: iterative,
    not SQL-expressible)."""
    from wos_crawler_spark.operators.textdedup import minhash_lsh_dedup

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_dedup(
        docs, id_col="doc_id", text_col="text", shingle_n=1, k=32, bands=8
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures + EXACT near pairs via banded multi-table
    blocking (pigeonhole: max_hamming+1 bands — every pair within the
    radius shares ≥1 intact band). Signatures are a vectorized Arrow
    UDF — rows-only at the driver; exactness vs Python brute force is
    pinned in tests/test_textops.py."""
    from wos_crawler_spark.operators.textdedup import simhash, simhash_near_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_near_pairs(
        simhash(docs, id_col="doc_id", text_col="text"), max_hamming=8
    )


def q_sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (JVM zip_with/aggregate dot products).
    Output is rank-only — float scores stay out of the hash compare."""
    from wos_crawler_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    topk = brute_force_topk(emb, queries, k=10, id_col="vec_id",
                            vec_col="embedding")
    return topk.select("q_id", "vec_id", "rank")


def q_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via multi-probe multi-table hyperplane LSH (rows-only;
    recall ≥0.9 vs brute force is pinned in tests/test_similarity.py;
    n_candidates surfaces bucket starvation to callers)."""
    from wos_crawler_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return lsh_topk(
        emb, queries, dim=64, k=10, n_planes=6, n_tables=2, probe_hamming=1
    ).select("q_id", "vec_id", "rank", "n_candidates")


def q_sim_index_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k through the PERSISTED-INDEX surface (build → stored
    key-table join → candidate re-rank; operators/annindex.py). Same
    params as sim_lsh_topk, so the oracle is the same SQL over the
    pinned candidate set — the index path must reproduce the one-shot
    operator exactly (also pinned in tests/test_annindex.py, including
    the no-corpus-rescan plan assertion)."""
    from wos_crawler_spark.operators.annindex import (
        lsh_build_index,
        lsh_query_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    idx = lsh_build_index(emb, dim=64, n_planes=6, n_tables=2)
    return lsh_query_index(idx, queries, k=10, probe_hamming=1).select(
        "q_id", "vec_id", "rank", "n_candidates"
    )


def q_sim_index_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k through the PERSISTED-INDEX surface (train+assign
    paid once at build; query time = probe → cells hash join →
    re-rank, zero corpus scans). Same params as sim_ivf_topk, so the
    oracle is the same SQL over the pinned candidate set — the index
    path must reproduce the one-shot operator exactly."""
    from wos_crawler_spark.operators.annindex import (
        ivf_build_index,
        ivf_query_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    idx = ivf_build_index(emb, n_centroids=16, n_iter=3)
    return ivf_query_index(idx, queries, k=10, n_probe=4).select(
        "q_id", "vec_id", "rank", "n_candidates"
    )


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k (the inverted-file scale path next to LSH):
    deterministic spherical k-means cells, n_probe nearest cells per
    query, exact cosine re-rank. Oracle: SQL ranking over the pinned
    candidate ids."""
    from wos_crawler_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return ivf_topk(
        emb, queries, k=10, n_centroids=16, n_probe=4, n_iter=3
    ).select("q_id", "vec_id", "rank", "n_candidates")


def q_sim_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-blocked (rows-only)."""
    from wos_crawler_spark.operators.similarity import cosine_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, threshold=0.3, dim=64, n_planes=3).select(
        "id_a", "id_b"
    )


def q_sim_cosine_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup CLUSTERS: connected components of the
    LSH-blocked cosine pair graph (keep-one-per-family curation for
    the embedding modality). Components via min-label propagation —
    the oracle recomputes transitive closure with a recursive CTE over
    the pinned pair snapshot."""
    from wos_crawler_spark.operators.similarity import cosine_near_dup_clusters

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_near_dup_clusters(emb, threshold=0.3, dim=64, n_planes=3)


def q_sim_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023; operators/semdedup.py): k-means
    cells block the pair search, groups = components of the
    within-cell cosine graph, survivor = lowest centroid-cosine
    member. Oracle: pinned assignment + pairs → recursive-CTE
    components + an independent window re-derivation of the keeper."""
    from wos_crawler_spark.operators.semdedup import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    out = semdedup(emb, threshold=0.3, n_centroids=16, n_iter=2)
    return out.select("vec_id", "cluster", "group_id", "semdedup_keep")


def q_sim_cosine_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs embedding-cosine ≥ threshold (the oracle-checked
    baseline the LSH-blocked variant approximates)."""
    from wos_crawler_spark.operators.similarity import cosine

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine(F.col("v_a"), F.col("v_b")) >= 0.35)
        .select("id_a", "id_b")
    )


def q_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data curation: deterministic hash-keyed sampling —
    same selected set on any cluster/partitioning/day, monotone in
    rate (operators/sampling.py). md5-keyed so DuckDB recomputes it
    exactly."""
    from wos_crawler_spark.operators.sampling import deterministic_sample

    docs = _t(spark, sf_dir, "documents")
    return deterministic_sample(docs, "doc_id", 0.3, salt="r2").select(
        "doc_id"
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic rates (corpus re-balancing: heavy en
    down-sampling etc.) — inline CASE rate lookup, no join."""
    from wos_crawler_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "doc_id", "lang",
        rates={"en": 0.5, "zh": 0.2, "de": 0.4}, default_rate=0.05,
    ).select("doc_id", "lang")


def q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (the Pile/LLaMA α-recipe):
    kept shares ∝ p_source^0.5 realized by maximal thinning — the
    rarest source binds at rate 1, every rate derives from exact
    integer counts by a fixed expression tree, selection is the
    md5 draw. The parquet sources are deliberately uniform, so the
    fixture derives an 80/15/4/1 skewed stratum from doc_id — the
    regime temperature mixing exists for. Oracle recomputes counts,
    rates and draws from scratch."""
    from wos_crawler_spark.operators.sampling import mixture_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 100 < 80, "web")
        .when(F.col("doc_id") % 100 < 95, "news")
        .when(F.col("doc_id") % 100 < 99, "books")
        .otherwise("wiki")
        .alias("stratum"),
    )
    return mixture_sample(docs, "stratum", "doc_id", alpha=0.5)


def q_f_registrable_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eTLD+1 extraction (blocklist.registrable_domain) — the unit
    per-site policy should key on: subdomain farms collapse to one
    registrant for caps/budgets/mirror detection. Five host shapes
    cycle the PSL algorithm's branches: plain TLD, multi-label
    suffix, site suffix (github.io), unknown-TLD implicit rule, and
    a bare public suffix (NULL — nothing is registered). The oracle
    states every expected domain independently from doc_id
    arithmetic — no list logic is re-run."""
    from wos_crawler_spark.operators.blocklist import registrable_domain

    d = F.col("doc_id")
    s = d.cast("string")
    host = (
        F.when(d % 5 == 0, F.concat(F.lit("a"), s, F.lit(".b.example.com")))
        .when(d % 5 == 1,
              F.concat(F.lit("shop"), (d % 3).cast("string"),
                       F.lit(".example"), s, F.lit(".co.uk")))
        .when(d % 5 == 2, F.concat(F.lit("u"), s, F.lit(".github.io")))
        .when(d % 5 == 3,
              F.concat(F.lit("weird"), s, F.lit(".host"), s, F.lit(".zz")))
        .otherwise(F.lit("co.uk"))
    )
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", host.alias("host"))
        .withColumn("rd", registrable_domain(F.col("host")))
    )


def q_f_registrable_domain_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-PSL eTLD+1 (round 5 — blocklist.registrable_domain_psl):
    wildcard (``*.ck``, ``*.wfarm.org``) and exception (``!www.ck``)
    rules honored through the zero-shuffle Arrow path. Six host
    shapes cycle every branch of the PSL algorithm: exact rule,
    exception-beats-wildcard, wildcard match, host-IS-public-suffix
    (NULL), deep wildcard suffix, and the implicit last-label rule.
    The oracle states every expected domain independently from
    doc_id arithmetic — no rule logic is re-run."""
    from wos_crawler_spark.operators.blocklist import registrable_domain_psl

    rules = ("com", "co.uk", "zz", "*.ck", "!www.ck", "*.wfarm.org")
    d = F.col("doc_id")
    s = d.cast("string")
    host = (
        F.when(d % 6 == 0, F.concat(F.lit("a"), s, F.lit(".b.example.com")))
        .when(d % 6 == 1, F.concat(F.lit("x"), s, F.lit(".shop.www.ck")))
        .when(d % 6 == 2, F.concat(F.lit("a"), s, F.lit(".b"), s, F.lit(".ck")))
        .when(d % 6 == 3, F.concat(F.lit("b"), s, F.lit(".ck")))
        .when(d % 6 == 4,
              F.concat(F.lit("h"), s, F.lit(".w.wfarm.org")))
        .otherwise(F.concat(F.lit("only"), s, F.lit(".unknowntld")))
    )
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", host.alias("host"))
        .withColumn("rd", registrable_domain_psl(F.col("host"), rules))
    )


def q_f_url_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level quality gate (operators/urlgate.py) — the pre-fetch
    filter (RefinedWeb runs it FIRST: every URL dropped here saves a
    network round trip). Fixture cycles six URL shapes through the
    rules: good, too-deep, query-heavy, asset extension
    (case-insensitive), digit-saturated path, banned word — plus an
    over-length tail on every 5th good URL. The oracle re-runs the
    entire feature extraction (shared RE2-safe path regex, splits,
    digit strip, substring counts) from scratch in DuckDB."""
    from wos_crawler_spark.operators.urlgate import url_quality_gate

    d = F.col("doc_id")
    s = d.cast("string")
    tail = (
        F.when(d % 5 == 0, F.concat(F.lit("a"), F.repeat(F.lit("x"), 2100)))
        .otherwise(F.lit("a.html"))
    )
    path = (
        F.when(d % 6 == 0, F.concat(F.lit("/articles/"), s, F.lit("/"), tail))
        .when(d % 6 == 1,
              F.concat(F.lit("/a/b/c/d/e/f/g/h/i/j/k/l/m/"), s))
        .when(d % 6 == 2,
              F.concat(F.lit("/p"), s,
                       F.lit("?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8&i=9")))
        .when(d % 6 == 3, F.concat(F.lit("/img/"), s, F.lit(".PNG")))
        .when(d % 6 == 4, F.concat(F.lit("/"), s, F.lit("0123456789012345")))
        .otherwise(F.concat(F.lit("/casino/"), s))
    )
    urls = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://h"), (d % 7).cast("string"),
            F.lit(".example.com"), path,
        ).alias("url"),
    )
    return url_quality_gate(urls, banned_words=["casino", "poker"])


def q_f_mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-host detection (operators/mirrors.py): content-set
    CONTAINMENT ≥ 1/2 (not Jaccard — a small full mirror of a big
    site IS a mirror), integer cross-multiplied, md5 digests so the
    oracle recomputes from scratch. Fixture: h0..h4 hold the corpus
    by doc_id%5; m0..m4 mirror the doc_id%3==0 slice (m_k ⊂ h_k →
    containment 1); a banner page on all 10 hosts exercises the
    boilerplate cut (10 > cap 5 → dropped before pairing, but
    denominators stay uncut)."""
    from wos_crawler_spark.operators.mirrors import mirror_host_pairs

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    base = docs.select(
        F.concat(F.lit("h"), (d % 5).cast("string")).alias("host"), "text"
    )
    mirr = docs.filter(d % 3 == 0).select(
        F.concat(F.lit("m"), (d % 5).cast("string")).alias("host"), "text"
    )
    banner = spark.createDataFrame(
        [(f"{p}{i}", "banner") for p in ("h", "m") for i in range(5)],
        "host string, text string",
    )
    pages = base.unionAll(mirr).unionAll(banner)
    return mirror_host_pairs(
        pages, t_num=1, t_den=2, max_hosts_per_digest=5
    )


def q_text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc TF-IDF top-3 keywords (bm25.tfidf_topk_terms) with the
    boilerplate cut at df/N ≤ 1/2 — the corpus-statistics text-
    analysis op next to BM25 retrieval. Single per-(doc,term) product
    of exact integers floor-quantized to nanos (no sum exists — not
    even ordering can flap); the one inherent vocabulary-keyed
    exchange is documented in the operator. Oracle recomputes
    postings, df, N, idf and the ranking from scratch."""
    from wos_crawler_spark.operators.bm25 import tfidf_topk_terms

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_topk_terms(docs, k=3, max_df_num=1, max_df_den=2)


def q_stats_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length quantiles (operators/stats.py) by
    VALUE COUNTING — the scale-correct exact algorithm: the ordering
    window runs over per-stratum distinct values, never corpus rows,
    and the target rank is all-integer ceil division (percentile_disc
    semantics). percentile_approx would be sketch-dependent and
    unverifiable; this is recomputed from scratch by the oracle."""
    from wos_crawler_spark.operators.stats import value_quantiles

    docs = _t(spark, sf_dir, "documents")
    return value_quantiles(
        docs, "lang", "n_chars",
        [(1, 10), (1, 4), (1, 2), (3, 4), (9, 10), (1, 1)],
    )


def q_sample_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fractional UPsampling — the other half of the
    mixing recipe (sample_mixture can only thin): high-value sources
    repeat (wiki ×3, books ×2.5) per the Pile/LLaMA epoch tables,
    each copy stamped with a 0-based epoch, the fractional extra copy
    decided by the md5 draw. One map-side explode — the corpus never
    shuffles, output multiplicity is exact floor(rate)+Bernoulli(frac)
    per key, reproducible under any partitioning. Oracle recomputes
    copy counts and unrolls them with generate_series."""
    from wos_crawler_spark.operators.sampling import stratified_upsample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 100 < 80, "web")
        .when(F.col("doc_id") % 100 < 95, "news")
        .when(F.col("doc_id") % 100 < 99, "books")
        .otherwise("wiki")
        .alias("stratum"),
    )
    return stratified_upsample(
        docs, "doc_id", "stratum",
        rates={"wiki": 3.0, "books": 2.5, "news": 1.0, "web": 0.25},
        default_rate=1.0,
    )


def q_sample_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (the RefinedWeb rule: one SEO farm must
    not dominate the corpus): at most k=10 docs per host under a
    deterministic total order (longest first, doc_id tie-break). Runs
    the SALTED two-phase path — the hot-host sort splits across 4 hash
    buckets before the global top-k — which is provably identical to
    the plain window the oracle recomputes."""
    from wos_crawler_spark.operators.sampling import cap_per_group

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string")).alias(
            "host"
        ),
        "n_chars",
    )
    return cap_per_group(
        docs, "host", 10,
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        salt_key="doc_id", salt_buckets=4,
    )


def q_chunk_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document sliding-window chunk manifest (packing.
    chunk_manifest, window 256 / stride 192 — 25% overlap): the
    RAG/context-split complement to pack_sequences. Zero shuffles —
    a map-side projection + explode; chunking stops once a chunk
    reaches the doc end (no redundant contained tails). Oracle
    recomputes the count formula + unrolls with unnest(range())."""
    from wos_crawler_spark.operators.packing import chunk_manifest

    docs = _t(spark, sf_dir, "documents")
    return chunk_manifest(docs, 256, 192, tokens_col="n_chars")


def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced training-shard assignment: serpentine rank over
    (size DESC, doc_id) — the distributed stand-in for sequential LPT
    bin-packing. Global rank via the two-phase prefix pattern (range
    repartition + broadcast counts), never a one-task global window;
    the oracle recomputes the plain single-node rank + snake
    arithmetic, which the distributed rank must equal exactly."""
    from wos_crawler_spark.operators.packing import assign_shards

    docs = _t(spark, sf_dir, "documents")
    return assign_shards(docs, 8, tokens_col="n_chars")


def q_pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation pipeline — the LLM-corpus
    composition the individual operators exist for, as ONE lazy plan
    (single pass over documents, one agg shuffle for the dedup, the
    split is a map-side filter):
    lang-ID gate → quality gate (C4-style integer thresholds) →
    exact dedup (min-id survivor per normalized digest) →
    deterministic train/holdout split."""
    from wos_crawler_spark.operators.sampling import split_train_holdout
    from wos_crawler_spark.operators.textdedup import exact_dedup_keep
    from wos_crawler_spark.operators.textquality import (
        lang_id,
        quality_features,
    )

    docs = _t(spark, sf_dir, "documents")
    d = docs.withColumn("lang_pred", lang_id(F.col("text"))).filter(
        F.col("lang_pred").isin("en", "de")
    )
    d = quality_features(d).filter(
        (F.col("q_n_words") >= 5) & (F.col("q_n_chars") >= 30)
    )
    kept = exact_dedup_keep(d, id_col="doc_id", text_col="text")
    train, hold = split_train_holdout(
        kept, "doc_id", holdout_rate=0.2, salt="cur"
    )
    return (
        train.withColumn("split", F.lit("train"))
        .unionByName(hold.withColumn("split", F.lit("holdout")))
        .select("doc_id", "lang_pred", "split")
    )


def q_pipeline_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3 full corpus-gate chain as ONE lazy plan — what a
    production pretraining-data pipeline actually runs, in order:
    domain blocklist (map-side suffix gate) → benchmark
    decontamination (broadcast n-gram set) → lang-ID + quality gates
    (codegen'd exprs) → PII redaction (map-side regex) → exact dedup
    on the REDACTED text (one agg shuffle) → deterministic split
    (map-side filter). Only the dedup aggregation and the tiny
    decontam hit-count exchange shuffle anything."""
    from wos_crawler_spark.operators.blocklist import blocklist_filter
    from wos_crawler_spark.operators.decontam import decontaminate_keep
    from wos_crawler_spark.operators.pii import redact_documents
    from wos_crawler_spark.operators.sampling import split_train_holdout
    from wos_crawler_spark.operators.textdedup import exact_dedup_keep, words_of
    from wos_crawler_spark.operators.textquality import (
        lang_id,
        quality_features,
    )

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    hosted = docs.select(
        "doc_id", "text",
        F.concat(
            F.lit("sub"), (d % 3).cast("string"),
            F.lit(".dom"), (d % 11).cast("string"), F.lit(".com"),
        ).alias("host"),
    )
    blocked = spark.createDataFrame(
        [("dom3.com",), ("sub1.dom5.com",), ("dom7.com",)], "domain string"
    )
    g1 = blocklist_filter(hosted, blocked, id_col="doc_id").drop("host")
    bench = docs.filter(d % 19 == 3).select(
        F.concat_ws(" ", F.slice(words_of(F.col("text")), 1, 12)).alias("text")
    )
    g2 = decontaminate_keep(g1, bench, n=8)
    g3 = g2.withColumn("lang_pred", lang_id(F.col("text"))).filter(
        F.col("lang_pred").isin("en", "de")
    )
    g3 = quality_features(g3).filter(
        (F.col("q_n_words") >= 5) & (F.col("q_n_chars") >= 30)
    )
    red = redact_documents(g3)
    red = red.withColumn(
        "n_pii",
        (
            F.coalesce("n_email", F.lit(0))
            + F.coalesce("n_ipv4", F.lit(0))
            + F.coalesce("n_phone", F.lit(0))
        ).cast("long"),
    )
    kept = exact_dedup_keep(red, id_col="doc_id", text_col="text")
    train, hold = split_train_holdout(
        kept, "doc_id", holdout_rate=0.2, salt="cur2"
    )
    return (
        train.withColumn("split", F.lit("train"))
        .unionByName(hold.withColumn("split", F.lit("holdout")))
        .select("doc_id", "lang_pred", "n_pii", "split")
    )


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID (stopword-hit argmax, pure exprs)."""
    from wos_crawler_spark.operators.textquality import lang_id

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex pieces."""
    from wos_crawler_spark.operators.textquality import (
        token_count_bpe,
        token_count_ws,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_ws(F.col("text")).cast("long").alias("n_tokens_ws"),
        token_count_bpe(F.col("text")).cast("long").alias("n_tokens_bpe"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring features (length/punct/stopword ratios)."""
    from wos_crawler_spark.operators.textquality import quality_features

    docs = _t(spark, sf_dir, "documents")
    return quality_features(docs).select(
        "doc_id",
        F.col("q_n_chars").cast("long").alias("q_n_chars"),
        F.col("q_n_words").cast("long").alias("q_n_words"),
        "q_avg_word_len", "q_punct_ratio", "q_stopword_ratio", "q_score",
    )


def q_text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021) over documents: per-rule
    booleans + conjunctive keep, all integer-exact comparisons so the
    DuckDB oracle recomputes identical booleans. Word-count bounds
    relaxed to the synthetic corpus's 10-99-word range."""
    from wos_crawler_spark.operators.textquality import gopher_rules

    docs = _t(spark, sf_dir, "documents")
    cols = [
        "r_word_count", "r_mean_word_len", "r_symbol_ratio",
        "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words",
        "r_stopwords", "gopher_keep",
    ]
    return gopher_rules(
        docs, min_words=30, max_words=80, min_required_stop=1
    ).select("doc_id", *(F.col(c).cast("int").alias(c) for c in cols))


def q_text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rules (Rae et al. 2021 §A1.2) over documents:
    raw integer counts (duplicate line/paragraph occurrences and their
    character mass, top-2/3/4-gram character mass, duplicated
    5..10-gram character mass) + per-rule booleans + conjunctive
    rep_keep. Every threshold is an integer cross-multiplication; the
    DuckDB oracle recomputes the n-gram statistics from scratch with a
    lead-window n-gram construction."""
    from wos_crawler_spark.operators.textquality import (
        gopher_repetition_rules,
    )

    docs = _t(spark, sf_dir, "documents")
    out = gopher_repetition_rules(docs)
    rule_cols = [c for c in out.columns if c.startswith("r_")] + ["rep_keep"]
    count_cols = [
        "total_chars", "norm_chars", "n_lines", "dup_lines",
        "dup_line_chars", "n_paras", "dup_paras", "dup_para_chars",
        "top2gram_chars", "top3gram_chars", "top4gram_chars",
        "dup5gram_chars", "dup6gram_chars", "dup7gram_chars",
        "dup8gram_chars", "dup9gram_chars", "dup10gram_chars",
    ]
    return out.select(
        "doc_id",
        *count_cols,
        *(F.col(c).cast("int").alias(c) for c in rule_cols),
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (md5 of normalized text)."""
    from wos_crawler_spark.operators.textquality import doc_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fp"))


# ------------------------------------------- rows-only engine surfaces


def _parsed_flat(parsed: DataFrame) -> DataFrame:
    """Flat scalar projection of the parse output — the field-level
    contract pinned by the committed snapshot (fixtures/data/
    parsed_docs.parquet; tools/make_snapshots.py). All numeric columns
    cast to long so Spark and the DuckDB snapshot agree byte-for-byte."""
    return parsed.select(
        "url",
        "unique_id",
        "journal",
        F.col("pub_year").cast("long").alias("pub_year"),
        "document_type",
        "doi",
        F.size("authors").cast("long").alias("n_authors"),
        F.size("references").cast("long").alias("n_refs"),
        F.length("extracted_text").cast("long").alias("extracted_len"),
    )


def q_parse_wos_plaintext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1–P15: vectorized WoS field-tag parser over synthetic export
    pages. Byte-identity of extracted_text is pinned by tests/fixtures
    goldens; the field-level output is oracle-checked against the
    committed parse snapshot (deterministic fixture corpus)."""
    from wos_crawler_spark.fixtures.synth import pages_table
    from wos_crawler_spark.operators.parse_plaintext import parse_pages

    pages = pages_table(spark, 200, partitions=8)
    return _parsed_flat(parse_pages(pages))


def q_parse_tab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P14 (tab flavor): the WoS tab-delimited export parser. Same
    urls + logical records as the plaintext fixture corpus, so it
    shares parse_wos_plaintext's snapshot oracle — the two parsers
    must produce identical normalized rows (incl. extracted_text
    bytes; pinned in tests/test_parser.py)."""
    from wos_crawler_spark.fixtures.synth import tab_pages_table
    from wos_crawler_spark.operators.parse_tab import parse_tab_pages

    pages = tab_pages_table(spark, 200, partitions=8)
    return _parsed_flat(parse_tab_pages(pages))


def q_parse_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P14 (XML flavor): same urls + logical records as the plaintext
    fixture corpus — shares the parse snapshot oracle (identical
    normalized rows across all export serializations)."""
    from wos_crawler_spark.fixtures.synth import xml_pages_table
    from wos_crawler_spark.operators.parse_xml import parse_xml_pages

    pages = xml_pages_table(spark, 200, partitions=8)
    return _parsed_flat(parse_xml_pages(pages))


def q_parse_bibtex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P14: BibTeX parser (LaTeX de-escape + field mapping)."""
    from wos_crawler_spark.fixtures import wosgen
    from wos_crawler_spark.operators.parse_bibtex import parse_bib_pages

    try:
        bib_payload = wosgen.bibtex_payload  # optional generator
        texts = [(wosgen.url_of(i), bib_payload(i, 100)) for i in range(100)]
    except AttributeError:
        import pandas as pd
        from wos_crawler_spark.operators.parse_bibtex import parse_bib_text  # noqa: F401

        texts = [
            (
                f"https://x.org/bib/{i}",
                "@article{ rec%d,\nauthor = {Smith, John and Wu, Li},\n"
                "title = {{Entry %d \\'{e}tude}},\nyear = {%d},\n"
                "unique-id = {WOS:%09d}}" % (i, i, 2000 + i % 20, i),
            )
            for i in range(100)
        ]
    pages = spark.createDataFrame(texts, "url string, text string")
    parsed = parse_bib_pages(pages)
    return parsed.select(
        "url", "unique_id", "title",
        F.col("pub_year").cast("long").alias("pub_year"),
        F.size("authors").cast("long").alias("n_authors"),
    )


def q_crawl_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1/EP2: the full checkpointable wave loop (robots → Bloom+anti
    dedup → quota → token bucket → fetch join → parse → expand) on a
    synthetic frontier. Ordering/seen-set equality vs the
    single-threaded simulator oracle is pinned in tests/test_frontier.py."""
    from wos_crawler_spark.fixtures.synth import (
        links_table,
        pages_table,
        robots_table,
        seeds_table,
    )
    from wos_crawler_spark.plans.crawl import CrawlConfig, run_crawl

    n = 300
    pages = pages_table(spark, n, partitions=8)
    res = run_crawl(
        spark,
        pages=pages,
        seeds=seeds_table(spark),
        links=links_table(spark, n, partitions=8),
        robots=robots_table(spark),
        cfg=CrawlConfig(delay_s=0.1, max_waves=3, parse=False),
    )
    return (
        res.fetch_log.groupBy(
            F.col("wave").cast("long").alias("wave"), F.col("host")
        )
        .agg(
            F.count(F.lit(1)).alias("n_fetched"),
            F.round(F.min("scheduled_ts"), 3).alias("first_ts"),
            F.round(F.max("scheduled_ts"), 3).alias("last_ts"),
        )
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column + typed metadata +
    Arrow-batched feature extraction (decode stubbed — rows-only)."""
    from wos_crawler_spark.operators.multimodal import extract_features, synth_media

    media = synth_media(spark, 200, kind="image")
    feats = extract_features(media, deterministic_fake=True)
    return feats.select(
        "asset_id",
        F.size("features").cast("long").alias("feat_dim"),
        # first feature component — pins the fake featurizer's values,
        # not just the batch shape (snapshot-oracle-checked)
        F.round(F.element_at("features", 1).cast("double"), 5).alias("f0"),
    )


def q_multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the Arrow multimodal path: valid
    binary PPM (P6) payloads (synth_ppm_media — closed-form pixels)
    → pure-numpy netpbm decoder → integer grayscale 4×4 grid-mean
    features (multimodal.netpbm_grid_features), one row per (asset,
    cell). Because the fixture's pixels are pure arithmetic on
    (asset_id, x, y, channel), the oracle recomputes every cell mean
    from the formula WITHOUT parsing PPM — a value-level check with
    the decoder as the only component in between (no snapshot pin)."""
    from wos_crawler_spark.operators.multimodal import (
        extract_features,
        netpbm_grid_features,
        synth_ppm_media,
    )

    media = synth_ppm_media(spark, 200)
    feats = extract_features(media, decode_fn=netpbm_grid_features)
    return feats.select(
        "asset_id", F.posexplode("features").alias("cell", "_g")
    ).select(
        "asset_id",
        F.col("cell").cast("long").alias("cell"),
        F.col("_g").cast("long").alias("gray_mean"),
    )


def q_multimodal_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection — the multimodal member of the
    dedup family: real PPM decode → integer dHash (9×8 grid-mean
    difference hash, 8 row-byte bands) → banded candidate join
    (pigeonhole-exact for Hamming ≤ 7) → exact Hamming verify. The
    fixture plants 50 byte-identical duplicates (seed_mod=150 → assets
    150..199 copy 0..49 under new ids). The oracle recomputes the
    hash from closed-form pixels and brute-forces ALL pairs — so it
    checks the decoder, the hash, AND the banding's recall at once."""
    from wos_crawler_spark.operators.multimodal import (
        image_near_dup,
        synth_ppm_media,
    )

    media = synth_ppm_media(spark, 200, seed_mod=150)
    return image_near_dup(media, max_hamming=4).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def q_multimodal_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize (round 5 — multimodal.resize_netpbm_bytes):
    closed-form P6 payloads are box-downsampled to 3×2 (integer cell
    floor-means over the min-width-1 interval grid), RE-SERIALIZED as
    valid PPM, then decoded AGAIN by a second Arrow pass that emits
    every resized pixel channel. The oracle recomputes each resized
    value from the pixel formula — so the check covers decode →
    resize arithmetic → serialize → re-decode, round trip included."""
    import pandas as pd

    from wos_crawler_spark.operators.multimodal import (
        decode_netpbm,
        resize_images_real,
        synth_ppm_media,
    )

    media = synth_ppm_media(spark, 200)
    resized = resize_images_real(media, 3, 2)

    def _pixels(batches):
        for pdf in batches:
            rows = []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                img = decode_netpbm(p)
                h, w, _ = img.shape
                for y in range(h):
                    for x in range(w):
                        for c in range(3):
                            rows.append(
                                {
                                    "asset_id": aid,
                                    "y": y,
                                    "x": x,
                                    "c": c,
                                    "v": int(img[y, x, c]),
                                }
                            )
            yield pd.DataFrame(rows)

    return resized.select("asset_id", "payload").mapInPandas(
        _pixels, "asset_id long, y long, x long, c long, v long"
    )


def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode + frame sampling (round 5 — the third
    modality done the multimodal_decode_real way): valid YUV4MPEG2
    mono streams (synth_y4m_media — closed-form luma, 5 fps) →
    pure-numpy y4m decoder → one row per 100 ms sample instant
    carrying the on-screen frame as a valid P5 payload
    (multimodal.sample_frames_real), then a second Arrow pass
    re-decodes each sampled frame and emits its exact luma sum. The
    oracle recomputes every (ts, frame, sum) from the pixel formula
    WITHOUT parsing y4m or PGM — covering decode → sample → P5
    serialization → re-decode."""
    import pandas as pd

    from wos_crawler_spark.operators.multimodal import (
        decode_netpbm,
        sample_frames_real,
        synth_y4m_media,
    )

    media = synth_y4m_media(spark, 200)
    frames = sample_frames_real(media, every_ms=100)

    def _sums(batches):
        for pdf in batches:
            rows = []
            for aid, ts, k, p in zip(
                pdf["asset_id"], pdf["frame_ts_ms"], pdf["frame_idx"],
                pdf["frame_payload"],
            ):
                img = decode_netpbm(p)
                rows.append(
                    {
                        "asset_id": aid,
                        "frame_ts_ms": ts,
                        "frame_idx": k,
                        "y_sum": int(img.astype("int64").sum()),
                    }
                )
            yield pd.DataFrame(rows)

    return frames.mapInPandas(
        _sums,
        "asset_id long, frame_ts_ms long, frame_idx long, y_sum long",
    )


def q_multimodal_decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode through the Arrow multimodal path (round 5 —
    the second modality done the multimodal_decode_real way): valid
    RIFF/WAVE PCM payloads (synth_wav_media — closed-form 16-bit
    samples) → pure-numpy WAV decoder → unsigned mono mix → 4
    segment floor-means (multimodal.wav_segment_features), one row
    per (asset, segment). The oracle recomputes every segment mean
    from the sample formula WITHOUT parsing WAV — value-level, the
    decoder is the only component in between."""
    from wos_crawler_spark.operators.multimodal import (
        extract_features,
        synth_wav_media,
        wav_segment_features,
    )

    media = synth_wav_media(spark, 200)
    feats = extract_features(media, decode_fn=wav_segment_features)
    return feats.select(
        "asset_id", F.posexplode("features").alias("seg", "_m")
    ).select(
        "asset_id",
        F.col("seg").cast("long").alias("seg"),
        F.col("_m").cast("long").alias("seg_mean"),
    )


def q_multimodal_image_neardup16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit-band variant of the image near-dup (the 10^8-asset
    scale path): adjacent dHash row bytes pair into 4 bands of 16
    bits — a 65536-value keyspace per band instead of 256, killing
    the 8-bit variant's ~all-pairs collision rate — at the price of a
    tighter exact-recall bound (pigeonhole over 4 bands → Hamming ≤
    3). The oracle brute-forces ALL pairs at threshold 3, so recall
    exactness of the wider bands is value-level verified."""
    from wos_crawler_spark.operators.multimodal import (
        image_near_dup,
        synth_ppm_media,
    )

    media = synth_ppm_media(spark, 200, seed_mod=150)
    return image_near_dup(media, max_hamming=3, band_bits=16).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def q_multimodal_image_neardup_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Banded image near-dup under the ``bucket_cap`` guardrail, on a
    fixture with degenerate skew: 60 of 240 assets are solid black
    (solid_mod=4 — the web's placeholder/blank-scan case), whose
    all-zero bands pile into one bucket per band_id; 60 planted exact
    duplicates (seed_mod=180). With cap=20 the solid buckets (60
    members) are dropped from candidate generation — solid×solid
    pairs are NOT emitted (the documented recall trade) while every
    planted non-solid duplicate pair survives via its own small
    buckets. The oracle mirrors the cap IN SQL (band counts → bucket
    filter → candidates → exact Hamming over the uncapped bands), so
    the capped semantics are value-level verified, not just
    'completes'."""
    from wos_crawler_spark.operators.multimodal import (
        image_near_dup,
        synth_ppm_media,
    )

    media = synth_ppm_media(spark, 240, seed_mod=180, solid_mod=4)
    return image_near_dup(
        media, max_hamming=3, band_bits=16, bucket_cap=20
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling plumbing: resize metadata restamp +
    per-video frame timestamps (sequence explode — decode stubbed, the
    row structure is the contract). Fully SQL-recomputable oracle (the
    synthetic media table derives from pure arithmetic on the id)."""
    from wos_crawler_spark.operators.multimodal import (
        resize_images,
        sample_frames,
        synth_media,
    )

    media = resize_images(synth_media(spark, 200, kind="video"), 224, 224)
    frames = sample_frames(media, every_ms=1000)
    return frames.select(
        "asset_id",
        F.col("frame_ts_ms").cast("long").alias("frame_ts_ms"),
    )


def q_w_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/W-class: lag-window sessionization over the events stream's
    batch twin — new session when the per-user gap exceeds 30 min.
    Timestamps handled as truncated epoch seconds on both sides."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        # tz-free epoch surrogate: whole seconds since a fixed NTZ
        # anchor (ts is TIMESTAMP_NTZ; session-timezone casts would
        # make the result depend on the harness's TZ)
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"
        ).alias("s"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    gap = F.col("s") - F.lag("s").over(w)
    new_s = (gap.isNull() | (gap > 1800)).cast("long")
    sess = ev.withColumn(
        "session_id",
        F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("s").alias("session_start_s"),
    )


def q_j7_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: as-of join — each purchase matched to the user's most recent
    click at-or-before it (union-and-fill window plan, ONE shuffle, no
    range explosion; operators/asof.py). Oracle: DuckDB native ASOF
    LEFT JOIN. Timestamps as epoch seconds (tz-free, like
    w_events_sessionize)."""
    from wos_crawler_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"
        ).alias("s"),
        "event_type",
        "value",
    )
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "s"
    )
    right = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "s")
        .agg(
            F.max("value").alias("value"),
            F.max("event_id").alias("click_id"),
        )
    )
    return asof_join(
        left, right, ts_col="s", by=["user_id"],
        value_cols=["value", "click_id"],
    )


def q_a_event_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-class: exact interpolated percentiles per event_type (the
    engine's quantile surface; approx_percentile is the 100 TB variant
    — same call shape, sketch-mergeable)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.count(F.lit(1)).alias("n"),
    )


# ----------------------------------------- parse-derived (rows-only)


def _parsed(spark: SparkSession, n: int = 200):
    from wos_crawler_spark.fixtures.synth import pages_table
    from wos_crawler_spark.operators.parse_plaintext import parse_pages

    return parse_pages(pages_table(spark, n, partitions=8))


def q_j5_author_affiliations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/W3: author rank (posexplode order) joined to C1 bracket-parsed
    affiliations per (unique_id, rank) — the reference's per-record
    author→address dict, normalized. Oracle: the same join recomputed
    in DuckDB over the committed author/affiliation snapshots."""
    from wos_crawler_spark.operators import normalize

    parsed = _parsed(spark)
    authors = normalize.authors_table(parsed)
    affs = normalize.affiliations_table(parsed)
    return (
        authors.join(
            affs,
            (authors.unique_id == affs.unique_id)
            & (authors.rank == affs.author_rank),
            "inner",
        )
        .select(
            authors.unique_id,
            F.col("rank").cast("long").alias("rank"),
            "full_name",
            "address",
        )
    )


def q_j6_citation_doi_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: references_ ⋈ documents citation linking on DOI
    (rows-only: parse-derived)."""
    from wos_crawler_spark.operators.normalize import citation_links

    return citation_links(_parsed(spark))


def q_a5_distinct_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: document dedup by unique_id (parser skip-existing semantics)
    + per-journal rollup (rows-only: parse-derived)."""
    parsed = _parsed(spark)
    return (
        parsed.dropDuplicates(["unique_id"])
        .groupBy("journal")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("pub_year").cast("long").alias("max_year"),
        )
    )


def q_f5_doctype_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: document-type predicate on parsed docs (the export form's
    document_type restriction; rows-only: parse-derived)."""
    parsed = _parsed(spark)
    return (
        parsed.filter(F.col("document_type") == "Article")
        .groupBy(F.col("pub_year").cast("long").alias("pub_year"))
        .agg(F.count(F.lit(1)).alias("n_articles"))
    )


def q_f_content_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload content sniffing (operators/sniff.py): BOM detection +
    aligned-hex null-byte binary heuristic over synthesized binary
    payloads (BOM-prefixed / NUL-stuffed / plain, derived from each
    doc's text identically in both engines). Everything is hex-string
    math, so the oracle recomputes verdicts from scratch."""
    from wos_crawler_spark.operators.sniff import sniff_payloads

    d = F.col("doc_id")
    body = F.encode(F.col("text"), "UTF-8")
    payload = (
        F.when(d % 5 == 0, F.concat(F.lit(bytearray(b"\xef\xbb\xbf")), body))
        .when(d % 5 == 1, F.concat(F.lit(bytearray(b"\x00" * 40)), body))
        .when(d % 5 == 2, F.concat(F.lit(bytearray(b"\xff\xfe")), body))
        .otherwise(body)
    )
    pages = _t(spark, sf_dir, "documents").select(
        "doc_id", payload.alias("html")
    )
    return sniff_payloads(pages).select(
        "doc_id", "bom_encoding", "n_null_prefix", "payload_binary"
    )


def _linkful_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pages-shaped fixture for the outlink-extraction entries: html
    built from doc_id with one anchor per contract branch (abs dq /
    protocol-relative sq / root-relative unquoted / relative+fragment
    dq / uppercase tag+scheme) plus the three junk anchors that must
    drop (fragment-only, mailto:, javascript:). Both engines derive
    the expected links from doc_id arithmetic alone."""
    d = F.col("doc_id")
    s = d.cast("string")
    src = F.concat(
        F.lit("https://host"), (d % 7).cast("string"),
        F.lit(".example.com/dir/page"), s, F.lit(".html"),
    )
    html = F.concat(
        F.lit('<html><body><a href="https://ext'), (d % 5).cast("string"),
        F.lit('.example.org/p/'), s, F.lit('">x</a>'),
        F.lit("<a href='//cdn"), (d % 3).cast("string"),
        F.lit(".example.net/lib'>y</a>"),
        F.lit("<a id=q href=/r/"), (d % 11).cast("string"), F.lit(">z</a>"),
        F.lit('<a href="next'), s, F.lit('.html#f">n</a>'),
        F.lit('<A HREF="HTTP://Up.example.org/U'), (d % 2).cast("string"),
        F.lit('">u</A>'),
        F.lit('<a href="#top">t</a><a href="mailto:x@e.org">m</a>'),
        F.lit("<a href='javascript:void(0)'>j</a></body></html>"),
    )
    return _t(spark, sf_dir, "documents").select(
        src.alias("url"), F.encode(html, "UTF-8").alias("html")
    )


def q_f_extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction from html:binary (operators/htmllinks.py):
    href recognition across quote styles + RFC-subset resolution
    against the page URL; dst_url is pre-canonicalization (F2 runs at
    frontier admission), dst_host composes the politeness key. The
    oracle states the five expected links per doc independently."""
    from wos_crawler_spark.functions.urlnorm import url_host
    from wos_crawler_spark.operators.htmllinks import extract_links

    out = extract_links(_linkful_pages(spark, sf_dir))
    return out.select(
        "src_url", "dst_url", url_host(F.col("dst_url")).alias("dst_host")
    )


def q_f_extract_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text variant (extract_links_with_anchors): same five
    kept links per doc, each paired with its anchor text — the
    training-data signal (anchor-text corpora)."""
    from wos_crawler_spark.operators.htmllinks import extract_links_with_anchors

    out = extract_links_with_anchors(_linkful_pages(spark, sf_dir))
    return out.select("src_url", "dst_url", "anchor_text")


def q_f_anchor_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target anchor-text aggregation (htmllinks.anchor_text_corpus)
    over the extracted anchors: n_refs, distinct referring HOSTS (the
    spam-resistant popularity signal), and the sorted-distinct capped
    anchor digest. The oracle restates the extracted links from doc_id
    arithmetic (the f_extract_anchor_text contract, independently
    verified) and re-runs the aggregation from scratch."""
    from wos_crawler_spark.operators.htmllinks import (
        anchor_text_corpus,
        extract_links_with_anchors,
    )

    links = extract_links_with_anchors(_linkful_pages(spark, sf_dir))
    return anchor_text_corpus(links)


def q_f_html_to_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction (operators/htmltext.py): pages-shaped
    html synthesized around each doc's text (title/style/script
    containers, comment, heading, entity gauntlet, block boundaries),
    stripped back to text by the shared Java∩RE2 step chain. The
    oracle RE-RUNS the identical chain in DuckDB (html_text_sql is
    generated from the same step lists), so this is a full
    byte-for-byte recomputation, not a pinned snapshot."""
    from wos_crawler_spark.operators.htmltext import pages_extract_text

    d = F.col("doc_id")
    s = d.cast("string")
    t = F.coalesce(F.col("text"), F.lit(""))
    html = F.concat(
        F.lit("<html><head><title>Doc "), s,
        F.lit('</title><style>p{color:red}</style>'
              '<script type="text/javascript">var p = '), s,
        F.lit(" < 99; // trap</script></head><body><!-- wave "), s,
        F.lit(" --><h1>Doc "), s, F.lit("</h1><p>"), t,
        F.lit("</p><p>B &amp; W &lt;i&gt;&nbsp;&#39;q</p><div>tail "),
        (d % 7).cast("string"), F.lit("</div></body></html>"),
    )
    pages = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(html, "UTF-8").alias("html")
    )
    out = pages_extract_text(pages)
    return out.select(
        "doc_id",
        F.md5(F.col("text")).alias("text_md5"),
        F.col("text_bytes"),
        F.size(F.split(F.col("text"), "\n", -1)).alias("n_lines"),
    )


def q_f_trap_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-trap guard (operators/trapguard.py): per-(host, shape)
    distinct-url cap with a deterministic kept sample. Even doc_ids
    form a calendar trap (one shape per host, unbounded distinct
    urls); odd doc_ids fold onto 7 page urls per host (under the
    cap, all kept incl. duplicates). The oracle recomputes shapes via
    the shared regex twin and reruns the rank/max windows in DuckDB."""
    from wos_crawler_spark.operators.trapguard import trap_guard

    d = F.col("doc_id")
    s = d.cast("string")
    host = F.concat(F.lit("h"), (d % 3).cast("string"), F.lit(".org"))
    url = (
        F.when(
            d % 2 == 0,
            F.concat(
                F.lit("https://"), host, F.lit("/cal/"), s,
                F.lit("/d"), (d % 12).cast("string"),
            ),
        ).otherwise(
            F.concat(
                F.lit("https://"), host, F.lit("/page"),
                (d % 7).cast("string"),
            )
        )
    )
    frontier = _t(spark, sf_dir, "documents").select(
        "doc_id", url.alias("url_canon")
    )
    return trap_guard(frontier, cap=10, keep=5).select("doc_id", "url_canon")


#: BM25 driver-entry queries — vocab words the synth docs contain.
_BM25_QUERIES = [
    (0, "table scan fast"),
    (1, "hash join"),
    (2, "stream window agg batch"),
]


def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval (operators/bm25.py): Okapi BM25 with the
    Robertson idf, per-term contributions quantized to integer
    nano-units (floor) so the score sum is order-independent and
    byte-identical across engines. The oracle recomputes the whole
    pipeline from scratch in DuckDB — tokenize, tf/df, idf, the same
    IEEE expression tree, the same floor quantization."""
    from wos_crawler_spark.operators.bm25 import bm25_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    qs = spark.createDataFrame(_BM25_QUERIES, "q_id long, q_text string")
    return bm25_topk(docs, qs, k=10)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.py): concat-and-chunk
    manifest over whitespace token counts, block 512, EOS sep 1. The
    engine runs the two-phase distributed prefix sum; the oracle
    states the invariant directly — a single-node cumsum over doc_id
    order must reproduce the manifest exactly (all-integer)."""
    from wos_crawler_spark.operators.packing import pack_manifest
    from wos_crawler_spark.operators.textquality import token_count_ws

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws(F.col("text")).alias("n_tokens")
    )
    return pack_manifest(docs, 512, sep_tokens=1)


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/dsir.py): target = every
    19th doc (the decontam benchmark slice convention), raw = the
    whole corpus; hashed unigram+bigram log-ratio weights,
    Gumbel-top-50 on the nano-quantized key. The oracle recomputes
    everything from scratch in DuckDB — features, md5 buckets,
    Laplace log-ratios, the md5 Gumbel, same floor quantization.
    Runs the Arrow scale path (use_arrow=True): it is test-pinned
    bit-equal to the expr flavor the oracle mirrors, so the hash
    comparison still certifies both."""
    from wos_crawler_spark.operators.dsir import dsir_resample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    target = docs.filter(F.col("doc_id") % 19 == 3)
    return dsir_resample(docs, target, k=50, n_buckets=4096, use_arrow=True)


def q_f3_robots_wildcards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 under full RFC 9309 semantics (robots_verdict_rfc): ``*``
    spans any chars, ``$`` anchors at pattern end, longest pattern
    wins, ties → allow. Rules: /private* deny (9), /private/pub$
    allow (13), /*.php$ deny (7), / allow (1). The oracle states each
    path's verdict independently from doc_id arithmetic — no regex is
    re-run in DuckDB."""
    from wos_crawler_spark.operators.robots import robots_filter

    d = F.col("doc_id")
    path = (
        F.when(d % 5 == 0, F.concat(F.lit("/private/p"), d.cast("string")))
        .when(d % 5 == 1, F.lit("/private/pub"))
        .when(d % 5 == 2, F.concat(F.lit("/p"), d.cast("string"), F.lit(".php")))
        .when(
            d % 5 == 3,
            F.concat(F.lit("/p"), d.cast("string"), F.lit(".php?x=1")),
        )
        .otherwise(F.concat(F.lit("/ok/p"), d.cast("string")))
    )
    host = F.concat(F.lit("w"), (d % 3).cast("string"), F.lit(".org"))
    frontier = _t(spark, sf_dir, "documents").select(
        "doc_id",
        host.alias("host"),
        F.concat(F.lit("https://"), host, path).alias("url_canon"),
    )
    rule_rows = [
        ("/private*", False),
        ("/private/pub$", True),
        ("/*.php$", False),
        ("/", True),
    ]
    rules = spark.createDataFrame(
        [(f"w{k}.org", p, a, len(p)) for k in range(3) for p, a in rule_rows],
        "host string, rule_prefix string, allow boolean, rule_len int",
    )
    kept = robots_filter(frontier, rules, wildcards=True)
    return kept.select("doc_id", "host", "url_canon")


def q_text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed-ngram quality classifier
    (operators/textclassify.py): unigram+bigram features → md5 bucket
    → integer milli-weight mean, keep = integer cross-multiplication.
    Synthetic deterministic weights (bucket*2654435761 % 2001 - 1000);
    the oracle recomputes the whole pipeline from scratch in SQL —
    exact integers end to end, no float boundary."""
    from wos_crawler_spark.operators.textclassify import classifier_score_expr

    nb = 4096
    weights = spark.range(nb).select(
        F.col("id").alias("bucket"),
        ((F.col("id") * 2654435761) % 2001 - 1000).cast("long").alias("weight"),
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return classifier_score_expr(docs, weights, n_buckets=nb).select(
        "doc_id", "w_sum", "n_feat", "clf_keep"
    )


#: Classifier-training entry params (shared engine/oracle): bucket
#: count, full-batch GD epochs, integer learning rate lr_num/lr_den.
_CLF_NB = 512
_CLF_EPOCHS = 3
_CLF_LR_NUM = 2000
_CLF_LR_DEN = 1


def _clf_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic labeled fixture: every third doc is 'quality'."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (F.col("doc_id") % 3 == 0).cast("int").alias("label"),
    )


def q_text_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression training of the fastText-style
    quality gate (textclassify.train_quality_classifier): hashed
    unigram+bigram features, full-batch GD with the nano-quantized
    residual protocol — every epoch is one (id)-keyed and one
    bucket-capped exchange. The oracle recomputes ALL epochs from
    scratch as materialized CTE chains (the BPE/pagerank unrolling
    discipline): same features, same IEEE sigmoid over exact-integer
    logits, same floored integer updates."""
    from wos_crawler_spark.operators.textclassify import (
        train_quality_classifier,
    )

    w = train_quality_classifier(
        _clf_labeled(spark, sf_dir),
        n_buckets=_CLF_NB,
        epochs=_CLF_EPOCHS,
        lr_num=_CLF_LR_NUM,
        lr_den=_CLF_LR_DEN,
    )
    return w.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("weight").cast("long").alias("weight"),
    )


def q_text_classifier_train_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: train the quality gate, then score the SAME corpus
    with the trained weights via classifier_score_expr — the full
    label-seed-set → model → corpus-gate chain in one lazy plan. The
    oracle recomputes training AND scoring from scratch."""
    from wos_crawler_spark.operators.textclassify import (
        classifier_score_expr,
        train_quality_classifier,
    )

    labeled = _clf_labeled(spark, sf_dir)
    w = train_quality_classifier(
        labeled,
        n_buckets=_CLF_NB,
        epochs=_CLF_EPOCHS,
        lr_num=_CLF_LR_NUM,
        lr_den=_CLF_LR_DEN,
    )
    return classifier_score_expr(
        labeled.select("doc_id", "text"), w, n_buckets=_CLF_NB
    ).select("doc_id", "w_sum", "n_feat", "clf_keep")


def q_s_sitemap_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap seed discovery from raw robots.txt bodies (S1 family —
    RFC 9309 §2.3 Sitemap directives are group-independent). Bodies
    are synthesized identically in both engines; the oracle is an
    independent restatement of which (host, url) pairs must emerge."""
    from wos_crawler_spark.operators.robots import parse_robots_sitemaps

    d = F.col("doc_id")
    host = F.concat(F.lit("dom"), (d % 11).cast("string"), F.lit(".com"))
    sm = F.concat(
        F.lit("Sitemap: https://dom"), (d % 11).cast("string"),
        F.lit(".com/sm"), (d % 4).cast("string"),
        F.lit(".xml  # comment\nSITEMAP:   https://dom"),
        (d % 11).cast("string"), F.lit(".com/extra.xml\n"),
    )
    body = F.concat(
        F.lit("User-agent: *\r\nDisallow: /private\r\n"),
        F.when(d % 7 == 0, sm).otherwise(F.lit("")),
    )
    pages = _t(spark, sf_dir, "documents").select(
        host.alias("host"), body.alias("body")
    )
    return parse_robots_sitemaps(pages)


def q_s_sitemap_stale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-driven conditional recrawl (sources/sitemaps.py::
    sitemap_stale_candidates — the If-Modified-Since of the sitemap
    protocol). Two sitemap shards per url: the fresh shard claims day
    (d%27)+1, a stale mirror shard claims 3 days earlier — the
    latest-claim window must keep the fresher before the store
    comparison. Every 13th url carries NO lastmod (stored → dropped:
    no claim, no refetch); every 5th url is missing from the store
    (→ 'new'). The serialize→parse→window→join chain is entirely the
    engine's; the oracle restates the expected rows from doc_id
    arithmetic alone. Timestamps compare session-timezone-invariantly
    (both sides parse bare dates in the same session); the output
    carries DAY numbers, not timestamps."""
    from wos_crawler_spark.sources.sitemaps import (
        parse_sitemap_xml,
        sitemap_frontier_seeds,
        sitemap_stale_candidates,
    )

    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://dom"), (d % 11).cast("string"),
        F.lit(".com/p"), d.cast("string"),
    )
    day = (d % 27) + 1
    day_old = F.greatest(day - 3, F.lit(1))

    def block(day_col):
        lastmod = F.when(
            d % 13 != 0,
            F.concat(
                F.lit("<lastmod>2024-01-"),
                F.lpad(day_col.cast("string"), 2, "0"),
                F.lit("</lastmod>"),
            ),
        ).otherwise(F.lit(""))
        return F.concat(
            F.lit('<?xml version="1.0"?><urlset><url><loc>'),
            url, F.lit("</loc>"), lastmod, F.lit("</url></urlset>"),
        )

    docs = _t(spark, sf_dir, "documents")
    fresh = docs.select(
        F.lit("https://x/sm-fresh.xml").alias("sitemap_url"),
        block(day).alias("body"),
    )
    old = docs.select(
        F.lit("https://x/sm-old.xml").alias("sitemap_url"),
        block(day_old).alias("body"),
    )
    seeds = sitemap_frontier_seeds(
        parse_sitemap_xml(fresh.unionByName(old))
    )
    stored = docs.filter(d % 5 != 0).select(
        url.alias("url"),
        F.to_timestamp(
            F.concat(
                F.lit("2024-01-"),
                F.lpad(((d * 7) % 27 + 1).cast("string"), 2, "0"),
            )
        ).alias("warc_ts"),
    )
    out = sitemap_stale_candidates(seeds, stored)
    return out.select(
        "url",
        "status",
        F.dayofmonth("lastmod").cast("long").alias("day_claimed"),
        F.dayofmonth("stored_ts").cast("long").alias("day_stored"),
    )


#: advanced seed queries for the J4 entry (query_id, query, priority)
_ADV_SEEDS = [
    (1, 'key AND (merge OR "slow fast")', 3),
    (2, "batch NEAR/2 valu*", 2),
    (3, "table NOT window", 1),
]


def q_j4_seed_match_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3→J4 integrated: the wave-0 seed match evaluated with the FULL
    advanced-query language (plans/crawl.py::init_frontier_advanced)
    — one map-only pass, explode(array(when(compiled_pred, struct)))
    fused with the scan, no join. The oracle compiles the SAME three
    ASTs to SQL and UNION ALLs the per-query matches."""
    from wos_crawler_spark.plans.crawl import init_frontier_advanced

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://q"), (d % 7).cast("string"),
            F.lit(".example.org/d/"), d.cast("string"),
        ).alias("url"),
        "text",
    )
    fr = init_frontier_advanced(_ADV_SEEDS, docs)
    return fr.select(
        "url",
        F.col("query_id").cast("long").alias("query_id"),
        F.col("priority").cast("long").alias("priority"),
    )


def _adv_seed_oracle_sql() -> str:
    from wos_crawler_spark.functions.wosquery import parse_query, to_sql

    fm = {"TS": "text"}
    url = (
        "'https://q' || CAST(doc_id % 7 AS VARCHAR)"
        " || '.example.org/d/' || CAST(doc_id AS VARCHAR)"
    )
    parts = [
        f"""SELECT {url} AS url, CAST({qid} AS BIGINT) AS query_id,
                   CAST({prio} AS BIGINT) AS priority
            FROM documents WHERE {to_sql(parse_query(q, fm), fm)}"""
        for qid, q, prio in _ADV_SEEDS
    ]
    return " UNION ALL ".join(parts)


def q_text_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level boilerplate removal (operators/boilerplate.py):
    injected site chrome — a nav line on EVERY page of the host, a
    footer on exactly half (the 50% integer boundary), a rare line on
    ~2 pages per host (content, must survive) — detected by
    host-scoped line-page-frequency and stripped order-preservingly.
    The oracle recomputes detection AND stripping from scratch."""
    from wos_crawler_spark.operators.boilerplate import (
        boilerplate_lines,
        strip_boilerplate,
    )

    d = F.col("doc_id")
    h = (d % 7).cast("string")
    pages = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://h"), h, F.lit("/p"), d.cast("string"))
        .alias("url"),
        F.concat(F.lit("h"), h).alias("host"),
        F.concat(
            F.lit("(c) nav h"), h, F.lit("\n"),
            F.col("text"),
            F.when(d % 2 == 0, F.concat(F.lit("\nFOOT h"), h)).otherwise(
                F.lit("")
            ),
            F.when(d % 31 == 0, F.lit("\nrare once")).otherwise(F.lit("")),
        ).alias("text"),
    )
    chrome = boilerplate_lines(pages, min_pages=2, min_frac_pct=50)
    out = strip_boilerplate(pages, chrome)
    return out.select(
        "url",
        "host",
        F.md5(F.col("text")).alias("text_md5"),
        "n_lines_in",
        "n_lines_kept",
    )


def _boilerplate_oracle_sql() -> str:
    return """
        WITH p AS (
            SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR)
                     || '/p' || CAST(doc_id AS VARCHAR) AS url,
                   'h' || CAST(doc_id % 7 AS VARCHAR) AS host,
                   '(c) nav h' || CAST(doc_id % 7 AS VARCHAR) || chr(10)
                     || text
                     || CASE WHEN doc_id % 2 = 0
                             THEN chr(10) || 'FOOT h'
                                  || CAST(doc_id % 7 AS VARCHAR)
                             ELSE '' END
                     || CASE WHEN doc_id % 31 = 0
                             THEN chr(10) || 'rare once'
                             ELSE '' END AS t
            FROM documents
        ),
        l AS (
            SELECT host, url, unnest(string_split(t, chr(10))) AS line
            FROM p
        ),
        cnt AS (
            SELECT host, line, COUNT(DISTINCT url) AS n
            FROM l WHERE line <> '' GROUP BY host, line
        ),
        hp AS (
            SELECT host, COUNT(DISTINCT url) AS hpages
            FROM p GROUP BY host
        ),
        chrome AS (
            SELECT cnt.host, cnt.line
            FROM cnt JOIN hp USING (host)
            WHERE n >= 2 AND n * 100 >= 50 * hpages
        ),
        cbh AS (
            SELECT host, list(line) AS cl FROM chrome GROUP BY host
        ),
        stripped AS (
            SELECT p.url, p.host,
                   list_filter(
                       string_split(p.t, chr(10)),
                       x -> x = ''
                         OR NOT list_contains(coalesce(cbh.cl, []), x)
                   ) AS keep,
                   len(string_split(p.t, chr(10))) AS n_in
            FROM p LEFT JOIN cbh USING (host)
        )
        SELECT url, host,
               md5(coalesce(array_to_string(keep, chr(10)), ''))
                   AS text_md5,
               CAST(n_in AS BIGINT) AS n_lines_in,
               CAST(len(keep) AS BIGINT) AS n_lines_kept
        FROM stripped
    """


def q_f_backoff_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backoff policy dim (operators/backoff.py::backoff_plan) over
    deterministic per-host fetch stats derived from events (error
    events = misses), composed with a robots Crawl-delay dim on every
    5th host. Oracle recomputes the integer cross-multiplied rules +
    the dim merge + the compactness filter from scratch."""
    from wos_crawler_spark.operators.backoff import backoff_plan

    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    stats = ev.groupBy(
        F.concat(F.lit("h"), (F.col("user_id") % 37).cast("string"))
        .alias("host")
    ).agg(
        F.count(F.lit(1)).alias("sched"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("miss"),
    )
    dims = (
        stats.select("host")
        .where(F.substring(F.col("host"), 2, 10).cast("long") % 5 == 0)
        .withColumn("crawl_delay", F.lit(2.5))
    )
    bo = backoff_plan(
        stats, 1.0, dims,
        min_fetches=50, err_pct=20, factor=4, quarantine_pct=25,
    )
    return bo.select(
        "host",
        "crawl_delay",
        F.col("quarantined").cast("long").alias("quarantined"),
    )


#: multi-script snippets injected for the script-profile entry
_SCRIPT_SNIPPETS = [" مرحبا بالعالم", " привет мир", " 你好世界", " γεια σου", ""]


def q_text_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script histogram + dominant script (operators/
    textquality.py::script_profile — the pre-LID routing signal).
    Deterministic multi-script suffixes injected by doc_id%5; the
    oracle recomputes counts AND the ascending-strict-greater
    dominant fold from scratch with the same codepoint ranges."""
    from wos_crawler_spark.operators.textquality import script_profile

    d = F.col("doc_id")
    sn = _SCRIPT_SNIPPETS
    suffix = (
        F.when(d % 5 == 0, F.lit(sn[0]))
        .when(d % 5 == 1, F.lit(sn[1]))
        .when(d % 5 == 2, F.lit(sn[2]))
        .when(d % 5 == 3, F.lit(sn[3]))
        .otherwise(F.lit(sn[4]))
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.col("text"), suffix).alias("text")
    )
    out = script_profile(docs)
    from wos_crawler_spark.operators.textquality import SCRIPT_RANGES

    return out.select(
        "doc_id",
        *[f"script_{n}" for n in sorted(SCRIPT_RANGES)],
        "script_dominant",
    )


def _script_profile_oracle_sql() -> str:
    from wos_crawler_spark.operators.textquality import SCRIPT_RANGES

    sn = _SCRIPT_SNIPPETS
    suffix = (
        f"CASE doc_id % 5 WHEN 0 THEN {_duck_lit(sn[0])}"
        f" WHEN 1 THEN {_duck_lit(sn[1])}"
        f" WHEN 2 THEN {_duck_lit(sn[2])}"
        f" WHEN 3 THEN {_duck_lit(sn[3])} ELSE '' END"
    )
    counts = ", ".join(
        f"len(regexp_extract_all(t, '{pat}'))::BIGINT AS script_{n}"
        for n, pat in SCRIPT_RANGES.items()
    )
    # ascending CASE chain against greatest() ≡ the engine's
    # ascending strict-greater fold (first name reaching the max =
    # lexicographically smallest among the maxima)
    names = sorted(SCRIPT_RANGES)
    g = "greatest(" + ", ".join(f"script_{n}" for n in names) + ")"
    whens = " ".join(
        f"WHEN script_{n} = g THEN '{n}'" for n in names
    )
    return f"""
        WITH d AS (
            SELECT doc_id, text || {suffix} AS t FROM documents
        ), c AS (
            SELECT doc_id, {counts} FROM d
        ), cg AS (
            SELECT *, {g} AS g FROM c
        )
        SELECT doc_id, {', '.join('script_' + n for n in names)},
               CASE WHEN g = 0 THEN 'und' {whens} END
                   AS script_dominant
        FROM cg
    """


def q_corpus_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (operators/deltas.py::corpus_delta) between two
    deterministic views of the documents table: every 11th url
    removed, every 7th changed (v2 suffix), every 13th doc sprouting
    an added url. One digest-only full-outer join; the oracle
    restates the whole diff from doc_id arithmetic + md5."""
    from wos_crawler_spark.operators.deltas import corpus_delta

    d = F.col("doc_id")
    url = F.concat(F.lit("https://c/p"), d.cast("string"))
    docs = _t(spark, sf_dir, "documents")
    old = docs.select(url.alias("url"), "text")
    survived = docs.filter(d % 11 != 0).select(
        url.alias("url"),
        F.when(d % 7 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = docs.filter(d % 13 == 0).select(
        F.concat(F.lit("https://c/new"), d.cast("string")).alias("url"),
        F.concat(F.lit("fresh "), d.cast("string")).alias("text"),
    )
    return corpus_delta(old, survived.unionByName(added))


def q_stats_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data card (operators/stats.py::corpus_datacard): the
    per-release reporting table — size, byte mass, language mix,
    exact-dup mass, exact length quantiles — every value a BIGINT so
    the whole card is bit-identical cross-engine."""
    from wos_crawler_spark.operators.stats import corpus_datacard

    return corpus_datacard(_t(spark, sf_dir, "documents"))


def q_pipeline_seed_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The S1 seed-discovery pipeline END TO END, as one lazy plan:
    robots.txt bodies → Sitemap directive extraction
    (parse_robots_sitemaps) → sitemap 'fetch' (bodies synthesized per
    host, aggregating the host's pages with lastmod claims) → urlset
    parse + latest-claim dedup (sitemap_frontier_seeds) → staleness
    gate vs the stored snapshot (sitemap_stale_candidates). Every
    stage is the real operator; only the two fetch hops are
    synthesized (no network, by construction of the sandbox). Oracle
    restates the surviving (url, status) rows purely from doc_id
    arithmetic — five operator stages recomputed from first
    principles."""
    from wos_crawler_spark.operators.robots import parse_robots_sitemaps
    from wos_crawler_spark.sources.sitemaps import (
        parse_sitemap_xml,
        sitemap_frontier_seeds,
        sitemap_stale_candidates,
    )

    d = F.col("doc_id")
    h = (d % 7).cast("string")
    host = F.concat(F.lit("dom"), h, F.lit(".com"))
    page_url = F.concat(
        F.lit("https://dom"), h, F.lit(".com/p"), d.cast("string")
    )
    docs = _t(spark, sf_dir, "documents")

    # 1: one robots body per host, naming the host's sitemap
    robots_pages = docs.groupBy(host.alias("host")).agg(
        F.first(
            F.concat(
                F.lit("User-agent: *\r\nDisallow: /private\r\n"
                      "Sitemap: https://"),
                host, F.lit("/sitemap.xml\n"),
            )
        ).alias("body")
    )
    sitemap_urls = parse_robots_sitemaps(robots_pages)

    # 2: "fetch" each sitemap — the host's page entries, lastmod day
    # (d%27)+1, every 13th entry without a claim
    block = F.concat(
        F.lit("<url><loc>"), page_url, F.lit("</loc>"),
        F.when(
            d % 13 != 0,
            F.concat(
                F.lit("<lastmod>2024-01-"),
                F.lpad(((d % 27) + 1).cast("string"), 2, "0"),
                F.lit("</lastmod>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</url>"),
    )
    bodies = docs.groupBy(host.alias("_h")).agg(
        F.concat(
            F.lit('<?xml version="1.0"?><urlset>'),
            F.array_join(F.array_sort(F.collect_list(block)), ""),
            F.lit("</urlset>"),
        ).alias("body")
    )
    fetched = sitemap_urls.join(
        bodies,
        sitemap_urls.sitemap_url
        == F.concat(F.lit("https://"), F.col("_h"), F.lit("/sitemap.xml")),
    ).select("sitemap_url", "body")

    # 3-5: parse → latest-claim seeds → staleness gate
    seeds = sitemap_frontier_seeds(parse_sitemap_xml(fetched))
    stored = docs.filter(d % 5 != 0).select(
        page_url.alias("url"),
        F.to_timestamp(
            F.concat(
                F.lit("2024-01-"),
                F.lpad(((d * 7) % 27 + 1).cast("string"), 2, "0"),
            )
        ).alias("warc_ts"),
    )
    out = sitemap_stale_candidates(seeds, stored)
    return out.select(
        "url", "status",
        F.dayofmonth("lastmod").cast("long").alias("day_claimed"),
    )


def q_recrawl_change_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive recrawl scheduling from fetch history (Cho &
    Garcia-Molina 2000 freshness policy; plans/recrawl.py). The events
    table stands in as the fetch log: user_id → url, value → content
    digest (integer-floored so both engines stringify identically).
    All schedule math is integer seconds — bit-identical."""
    from wos_crawler_spark.plans.recrawl import change_rate_schedule

    ev = _t(spark, sf_dir, "events")
    hist = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("url"),
        F.col("ts").alias("fetch_ts"),
        # coalesce: a NULL value must not yield a NULL digest — Spark
        # sorts NULLS FIRST ascending, DuckDB NULLS LAST, so NULL
        # digests would make the lag() tie-break engine-dependent
        (F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 100).cast("long")
         % 7).cast("string").alias("digest"),
    )
    return change_rate_schedule(
        hist, min_interval_s=3600, max_interval_s=24 * 3600
    )


def q_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing exact-substring fingerprint pairs (Schleimer et al.
    2003 / MOSS; the Lee-et-al-2022-style exact-substring dedup pass):
    docs sharing ≥ min_shared winnowed char-5-gram fingerprints.
    Fingerprints are md5-prefix hashes, so the oracle recomputes the
    whole pipeline from scratch in SQL (operators/winnow.py)."""
    from wos_crawler_spark.operators.winnow import winnow_pairs

    docs = _t(spark, sf_dir, "documents")
    return winnow_pairs(
        docs, k=5, w=4, min_shared=8, bucket_cap=200
    ).select(
        "id_a", "id_b", F.col("n_shared").cast("long").alias("n_shared")
    )


def q_decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3/Llama-style word-8-gram
    overlap): the eval set is the first 12 words of every 19th
    document, so each sampled document's own corpus copy must flag as
    contaminated. Corpus text never shuffles — benchmark n-gram set
    broadcast, hits re-broadcast (operators/decontam.py)."""
    from wos_crawler_spark.operators.decontam import decontaminate
    from wos_crawler_spark.operators.textdedup import words_of

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 19 == 3).select(
        F.concat_ws(" ", F.slice(words_of(F.col("text")), 1, 12)).alias("text")
    )
    return decontaminate(docs, bench, n=8).select(
        "doc_id",
        F.col("n_contaminated").cast("long").alias("n_contaminated"),
        "contaminated",
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (ROOTS/StarCoder-style rule tier): deterministic
    email/IP/phone injected per doc_id, then counted + redacted by the
    shared Java/RE2-compatible patterns (operators/pii.py). The oracle
    re-runs the identical regexes in RE2 — byte-identical clean text."""
    from wos_crawler_spark.operators.pii import redact_documents

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), d.cast("string"),
            F.lit("@example.com or +49"), (d + 1000000).cast("string"),
            F.lit(" at 10."), (d % 256).cast("string"),
            F.lit("."), ((d * 7) % 256).cast("string"),
            F.lit("."), (d % 100).cast("string"),
        ).alias("text"),
    )
    return redact_documents(docs).select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.md5(F.col("text")).alias("redacted_md5"),
    )


#: Deterministic "dirty" suffix for the normalization entry: decomposed
#: accent (e + U+0301), Angstrom singleton (U+212B), ZWSP, BOM, soft
#: hyphen, and a C0 control — every class the operator handles.
#: Escapes explicit in source; shared verbatim with the oracle via
#: _duck_lit().
_TEXTNORM_SUFFIX = " Café Å​z﻿­ end\x07."


def _duck_lit(s: str) -> str:
    """A DuckDB expression reproducing the python string ``s`` exactly:
    printable-ASCII runs as quoted literals, everything else as
    ``chr(codepoint)`` — so the oracle's injected bytes cannot drift
    from the Spark side's."""
    parts: list[str] = []
    buf: list[str] = []
    for ch in s:
        if 0x20 <= ord(ch) < 0x7F and ch != "'":
            buf.append(ch)
        else:
            if buf:
                parts.append("'" + "".join(buf) + "'")
                buf = []
            parts.append(f"chr({ord(ch)})")
    if buf:
        parts.append("'" + "".join(buf) + "'")
    return "(" + " || ".join(parts) + ")"


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization + control/invisible strip
    (operators/textnorm.py — the CCNet/C4-style canonicalization pass
    before dedup/hash). Every 3rd doc gets a deterministic dirty
    suffix (decomposed accents, ZWSP/BOM/soft-hyphen, a C0 control);
    the oracle recomputes normalization FROM SCRATCH with DuckDB's
    nfc_normalize + the same RE2∩Java regex strip patterns —
    byte-identical output, not a pin."""
    from wos_crawler_spark.operators.textnorm import normalize_documents

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            d % 3 == 0, F.concat(F.col("text"), F.lit(_TEXTNORM_SUFFIX))
        ).otherwise(F.col("text")).alias("text"),
    )
    out = normalize_documents(docs, out_col="clean")
    return out.select(
        "doc_id",
        F.md5(F.col("clean")).alias("norm_md5"),
        F.col("norm_changed").cast("long").alias("norm_changed"),
        F.octet_length("text").cast("long").alias("bytes_before"),
        F.octet_length("clean").cast("long").alias("bytes_after"),
    )


def _textnorm_oracle_sql() -> str:
    """From-scratch recomputation: DuckDB nfc_normalize (same Unicode
    NFC spec as python's unicodedata — verified bit-identical in
    tests/test_textnorm.py) + the SAME strip pattern strings."""
    from wos_crawler_spark.operators.textnorm import (
        CONTROL_RE,
        INVISIBLE_RE,
    )

    suffix = _duck_lit(_TEXTNORM_SUFFIX)
    return f"""
        WITH d AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN text || {suffix}
                        ELSE text END AS t2
            FROM documents
        ), n AS (
            SELECT doc_id, t2,
                   regexp_replace(regexp_replace(nfc_normalize(t2),
                       '{CONTROL_RE}', '', 'g'),
                       '{INVISIBLE_RE}', '', 'g') AS clean
            FROM d
        )
        SELECT doc_id,
               md5(clean) AS norm_md5,
               CAST(CASE WHEN t2 IS NULL THEN 0
                         WHEN clean <> t2 THEN 1 ELSE 0 END
                    AS BIGINT) AS norm_changed,
               CAST(octet_length(encode(t2)) AS BIGINT) AS bytes_before,
               CAST(octet_length(encode(clean)) AS BIGINT) AS bytes_after
        FROM n
    """


#: Merge count for the BPE driver entries — bounded so the oracle's
#: chained-CTE recomputation stays tractable while still exercising
#: multi-level merges (merged symbols re-merging).
_BPE_N_MERGES = 16


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary training (Sennrich et al. 2016;
    operators/bpe.py): corpus word count → iterative argmax-pair
    merge. The oracle recomputes the ENTIRE training loop from scratch
    in static SQL — one chained CTE triple per merge step, with the
    wrap-encoded replace() trick standing in for the merge pass."""
    from wos_crawler_spark.operators.bpe import (
        bpe_train,
        corpus_word_counts,
        merges_table,
    )

    docs = _t(spark, sf_dir, "documents")
    merges, _ = bpe_train(corpus_word_counts(docs), _BPE_N_MERGES)
    return merges_table(spark, merges).select(
        F.col("step").cast("long").alias("step"),
        "left",
        "right",
        "merged",
        F.col("pair_n").cast("long").alias("pair_n"),
    )


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE corpus tokenization with the learned merges: zero-shuffle
    Arrow mapInPandas, per-batch word memoization. Oracle re-learns
    the merges AND re-encodes every document from scratch via the
    same replace chain applied to per-doc wrapped sequences."""
    from wos_crawler_spark.operators.bpe import (
        bpe_encode_documents,
        bpe_train,
        corpus_word_counts,
    )

    docs = _t(spark, sf_dir, "documents")
    merges, _ = bpe_train(corpus_word_counts(docs), _BPE_N_MERGES)
    enc = bpe_encode_documents(docs, merges)
    return enc.select(
        "doc_id",
        F.when(F.col("tokens").isNull(), F.lit(None).cast("long"))
        .otherwise(F.size("tokens").cast("long"))
        .alias("n_tokens"),
        F.when(F.col("tokens").isNull(), F.lit(None).cast("string"))
        .otherwise(F.md5(F.concat_ws(" ", F.col("tokens"))))
        .alias("tokens_md5"),
    )


def _bpe_train_ctes(n_merges: int) -> str:
    """The shared from-scratch training chain: word counts → wrapped
    initial sequences → per-step (tokenize, pair-count, argmax,
    replace-apply) CTE triples.

    Wrap encoding: every token is wrapped in single spaces, so
    internal token boundaries carry exactly two spaces. Then plain
    ``replace(seq, ' a  b ', ' ab ')`` is EXACTLY one left-to-right
    non-overlapping BPE merge pass: the trailing space of one match is
    never consumed by the next (each match starts at the left wrapper
    the previous match did not eat), and token-boundary safety is
    structural (tokens never contain spaces). MATERIALIZED everywhere:
    the argmax CTEs are referenced four times each and DuckDB would
    otherwise inline them into an exponential re-evaluation."""
    from wos_crawler_spark.operators.bpe import (
        END_OF_WORD,
        WORD_SPLIT_RE,
    )

    eow = END_OF_WORD
    parts = [
        f"""
        words_lists AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text,
                       '{WORD_SPLIT_RE}'), x -> x <> '') AS ws
            FROM documents WHERE text IS NOT NULL
        ),
        wcnt AS MATERIALIZED (
            SELECT w AS word, COUNT(*) AS n
            FROM words_lists, unnest(ws) AS t(w) GROUP BY w
        ),
        w0 AS MATERIALIZED (
            SELECT ' ' || array_to_string(
                       [word[i] FOR i IN range(1, length(word)+1)]
                       || ['{eow}'], '  ') || ' ' AS seq, n
            FROM wcnt
        )"""
    ]
    for k in range(1, n_merges + 1):
        prev = f"w{k-1}"
        parts.append(
            f"""
        t{k} AS MATERIALIZED (
            SELECT string_split(trim(seq), '  ') AS ts, n FROM {prev}
        ),
        p{k} AS MATERIALIZED (
            SELECT u.p.a AS a, u.p.b AS b, SUM(n) AS cnt
            FROM t{k}, unnest([struct_pack(a := ts[i], b := ts[i+1])
                               FOR i IN range(1, len(ts))]) AS u(p)
            GROUP BY u.p.a, u.p.b
        ),
        m{k} AS MATERIALIZED (
            SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1
        ),
        w{k} AS MATERIALIZED (
            SELECT replace(seq,
                     ' ' || (SELECT a FROM m{k}) || '  '
                         || (SELECT b FROM m{k}) || ' ',
                     ' ' || (SELECT a FROM m{k})
                         || (SELECT b FROM m{k}) || ' ') AS seq, n
            FROM {prev}
        )"""
        )
    return ",".join(parts)


def _bpe_train_oracle_sql() -> str:
    n = _BPE_N_MERGES
    sel = " UNION ALL ".join(
        f'SELECT {k} AS step, a AS "left", b AS "right",'
        f" a || b AS merged, CAST(cnt AS BIGINT) AS pair_n FROM m{k}"
        for k in range(1, n + 1)
    )
    return "WITH " + _bpe_train_ctes(n) + " " + sel


def _bpe_encode_oracle_sql() -> str:
    from wos_crawler_spark.operators.bpe import END_OF_WORD

    n = _BPE_N_MERGES
    eow = END_OF_WORD
    chain = "seq"
    for k in range(1, n + 1):
        chain = (
            f"replace({chain}, ' ' || (SELECT a FROM m{k}) || '  '"
            f" || (SELECT b FROM m{k}) || ' ',"
            f" ' ' || (SELECT a FROM m{k})"
            f" || (SELECT b FROM m{k}) || ' ')"
        )
    return (
        "WITH "
        + _bpe_train_ctes(n)
        + f""",
        d0 AS MATERIALIZED (
            SELECT doc_id,
                   CASE WHEN len(ws) = 0 THEN ''
                        ELSE ' ' || array_to_string(
                            flatten([[w[i] FOR i IN range(1, length(w)+1)]
                                     || ['{eow}'] FOR w IN ws]),
                            '  ') || ' ' END AS seq
            FROM words_lists
        ),
        denc AS (
            SELECT doc_id,
                   CASE WHEN seq = '' THEN CAST([] AS VARCHAR[])
                        ELSE string_split(trim({chain}), '  ') END
                       AS tokens
            FROM d0
        )
        SELECT d.doc_id,
               CAST(len(e.tokens) AS BIGINT) AS n_tokens,
               CASE WHEN e.tokens IS NULL THEN NULL
                    ELSE md5(coalesce(array_to_string(e.tokens, ' '),
                                      '')) END AS tokens_md5
        FROM documents d LEFT JOIN denc e USING (doc_id)
    """
    )


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters with exact candidate recount + the
    in-band completeness certificate (operators/heavyhitters.py).
    The key is deterministically skewed (floor(sqrt(user_id)): key v
    covers 2v+1 users) so the top-10 is tie-stable at every SF; the
    flat-key and m<distinct regimes are exercised in unit tests.
    Oracle recomputes the exact top-k AND the certificate formula
    from scratch — candidates provably cover the true top-k, so the
    recounted result must equal the exact one."""
    from wos_crawler_spark.operators.heavyhitters import heavy_hitters

    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    keyed = ev.select(
        F.floor(F.sqrt(F.col("user_id"))).cast("long").alias("key")
    )
    return heavy_hitters(keyed, "key", k=10, m=512, with_guarantee=True)


def q_pipeline_curation_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation chain v4 — the canonicalize-FIRST ordering every
    published pipeline uses (CCNet/C4: normalization before any
    digest-keyed stage, because a decomposed accent or zero-width
    char would defeat exact dedup): NFC normalize + strips (with the
    deterministic dirty-suffix injection so the stage provably bites)
    → PII redaction on the NORMALIZED text → exact dedup keep-first
    on the redacted text's normalized digest → deterministic split.
    One lazy plan: Arrow NFC hop + codegen'd gates map-side, ONE agg
    shuffle (dedup), split is a map-side filter."""
    from wos_crawler_spark.operators.pii import redact_documents
    from wos_crawler_spark.operators.sampling import split_train_holdout
    from wos_crawler_spark.operators.textdedup import exact_dedup_keep
    from wos_crawler_spark.operators.textnorm import normalize_documents

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            d % 3 == 0, F.concat(F.col("text"), F.lit(_TEXTNORM_SUFFIX))
        ).otherwise(F.col("text")).alias("text"),
    )
    normed = normalize_documents(docs)          # in place + norm_changed
    redacted = redact_documents(normed)         # in place + n_* counts
    kept = exact_dedup_keep(redacted, id_col="doc_id", text_col="text")
    train, hold = split_train_holdout(
        kept, "doc_id", holdout_rate=0.2, salt="cur4"
    )
    out = train.withColumn("split", F.lit("train")).unionByName(
        hold.withColumn("split", F.lit("holdout"))
    )
    return out.select(
        "doc_id",
        F.col("norm_changed").cast("long").alias("norm_changed"),
        (F.col("n_email") + F.col("n_ipv4") + F.col("n_phone"))
        .cast("long")
        .alias("n_pii"),
        F.md5(F.col("text")).alias("final_md5"),
        "split",
    )


def q_pipeline_curation_v5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation chain v5 — the MODEL-GATED pipeline (the published
    fastText-gate recipe end to end): train the quality classifier
    from deterministic seed labels → score the WHOLE corpus with the
    trained weights via the ARROW scale path (weights ship per
    executor, corpus annotated in place — zero shuffles, zero joins;
    the plan that survives 100 TB) → keep clf_keep docs → exact
    dedup keep-first on the survivors → deterministic split. The
    oracle recomputes training (all epochs), scoring, the gate, the
    dedup and the split from scratch."""
    from wos_crawler_spark.operators.sampling import split_train_holdout
    from wos_crawler_spark.operators.textclassify import (
        classifier_score,
        train_quality_classifier,
        weights_from_table,
    )
    from wos_crawler_spark.operators.textdedup import exact_dedup_keep

    # deterministic class-marker injection (the curation_v4 idiom —
    # the fixture languages share one vocabulary, so the stage must
    # plant the signal it claims to learn): positives get a
    # ' qmark<k>' run, negatives ' junkad<k>', repeated so the
    # marker mass dominates the mean-pooled logit (the shape of real
    # spam/quality signals) and the gate provably bites — measured:
    # all positives kept, all negatives rejected at these params
    d = F.col("doc_id")
    labeled = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                d % 3 == 0,
                F.repeat(
                    F.concat(F.lit(" qmark"), (d % 5).cast("string")), 12
                ),
            ).otherwise(
                F.repeat(
                    F.concat(F.lit(" junkad"), (d % 7).cast("string")), 12
                )
            ),
        ).alias("text"),
        (d % 3 == 0).cast("int").alias("label"),
    )
    w = train_quality_classifier(
        labeled,
        n_buckets=_CLF_NB,
        epochs=_CLF_EPOCHS,
        lr_num=_CLF_LR_NUM,
        lr_den=_CLF_LR_DEN,
    )
    vec = weights_from_table(w, _CLF_NB)
    scored = classifier_score(
        labeled.select("doc_id", "text"), vec, n_buckets=_CLF_NB
    )
    gated = scored.filter(F.col("clf_keep")).select(
        "doc_id", "text", "w_sum", "n_feat"
    )
    kept = exact_dedup_keep(gated, id_col="doc_id", text_col="text")
    train, hold = split_train_holdout(
        kept, "doc_id", holdout_rate=0.2, salt="cur5"
    )
    out = train.withColumn("split", F.lit("train")).unionByName(
        hold.withColumn("split", F.lit("holdout"))
    )
    return out.select(
        "doc_id",
        F.col("w_sum").cast("long").alias("w_sum"),
        F.col("n_feat").cast("long").alias("n_feat"),
        F.md5("text").alias("final_md5"),
        "split",
    )


def _curation_v5_oracle_sql() -> str:
    norm_digest = (
        "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"
    )
    v5docs = """
        SELECT doc_id,
               text || CASE WHEN doc_id % 3 = 0
                            THEN repeat(' qmark' || (doc_id % 5), 12)
                            ELSE repeat(' junkad' || (doc_id % 7), 12)
                       END AS text
        FROM documents
    """
    return (
        "WITH v5docs AS MATERIALIZED ("
        + v5docs
        + "), "
        + _classifier_train_ctes(
            docs_sql="SELECT doc_id, text FROM v5docs",
        )
        + f""",
        scored AS MATERIALIZED (
            SELECT o.doc_id,
                   SUM(o.occ * COALESCE(t.weight, 0)) AS w_sum,
                   SUM(o.occ) AS n_feat
            FROM occ0 o LEFT JOIN wt{_CLF_EPOCHS} t USING (bucket)
            GROUP BY o.doc_id
        ),
        gated AS MATERIALIZED (
            SELECT d.doc_id, d.text, s.w_sum, s.n_feat
            FROM v5docs d JOIN scored s USING (doc_id)
            WHERE s.w_sum > 0
        ),
        kept AS (
            SELECT * FROM gated WHERE doc_id IN (
                SELECT min(doc_id) FROM gated GROUP BY {norm_digest}
            )
        )
        SELECT doc_id, CAST(w_sum AS BIGINT) AS w_sum,
               CAST(n_feat AS BIGINT) AS n_feat,
               md5(text) AS final_md5,
               CASE WHEN ('0x' || substr(md5(doc_id || 'cur5'), 1, 8))
                         ::BIGINT / 4294967296.0 < 0.2
                    THEN 'holdout' ELSE 'train' END AS split
        FROM kept
    """
    )


def _curation_v4_oracle_sql() -> str:
    """From-scratch recomputation of the whole v4 chain: DuckDB
    nfc_normalize + the shared strip patterns, the shared PII
    regexes in the same order, the normalized-digest min-id dedup,
    and the md5-draw split — no pins anywhere."""
    from wos_crawler_spark.operators.pii import PII_PATTERNS
    from wos_crawler_spark.operators.textnorm import (
        CONTROL_RE,
        INVISIBLE_RE,
    )

    suffix = _duck_lit(_TEXTNORM_SUFFIX)
    clean = "t"
    counts = []
    for name, pat, repl in PII_PATTERNS:
        clean = f"regexp_replace({clean}, '{pat}', '{repl}', 'g')"
        # COALESCE mirrors the engine's NULL-text behavior (count 0,
        # not NULL) — NULL-text rows can survive exact_dedup_keep
        counts.append(
            f"COALESCE(len(regexp_extract_all(t, '{pat}')), 0) AS n_{name}"
        )
    norm_digest = (
        "md5(trim(regexp_replace(lower(rt), '\\s+', ' ', 'g')))"
    )
    return f"""
        WITH d0 AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN text || {suffix}
                        ELSE text END AS raw
            FROM documents
        ), n1 AS (
            SELECT doc_id, raw,
                   regexp_replace(regexp_replace(nfc_normalize(raw),
                       '{CONTROL_RE}', '', 'g'),
                       '{INVISIBLE_RE}', '', 'g') AS t
            FROM d0
        ), p1 AS (
            SELECT doc_id,
                   CASE WHEN raw IS NULL THEN 0
                        WHEN t <> raw THEN 1 ELSE 0 END AS norm_changed,
                   {', '.join(counts)},
                   {clean} AS rt
            FROM n1
        ), kept AS (
            SELECT * FROM p1
            WHERE doc_id IN (
                SELECT min(doc_id) FROM p1 GROUP BY {norm_digest}
            )
        )
        SELECT doc_id, norm_changed,
               CAST(n_email + n_ipv4 + n_phone AS BIGINT) AS n_pii,
               md5(rt) AS final_md5,
               CASE WHEN ('0x' || substr(md5(doc_id || 'cur4'), 1, 8))::BIGINT
                         / 4294967296.0 < 0.2
                    THEN 'holdout' ELSE 'train' END AS split
        FROM kept
    """


#: The S3 advanced-query entry's query string and tag→column map,
#: shared by entry and oracle (both compile the SAME parsed AST).
_WOSQ_QUERY = (
    'TS=(key AND (merge OR "slow fast")) NOT TS=(window)'
    " AND LA=(en OR de) AND NC=100-400"
    " OR TS=(batch NEAR/2 valu*) AND LA=(zh)"
)
_WOSQ_FM = {"TS": "text", "LA": "lang", "SO": "source", "NC": "n_chars"}


def q_s3_advanced_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WoS advanced-query evaluation (SURVEY S3;
    functions/wosquery.py): the reference's boolean field-tag query
    language parsed to an AST and compiled to a pure-Catalyst
    map-side predicate — NOT/AND/OR precedence, tag distribution
    over groups, quoted phrases, integer ranges. The oracle compiles
    the SAME AST to an ANSI-SQL predicate, so both engines evaluate
    the identical logic from scratch."""
    from wos_crawler_spark.functions.wosquery import (
        parse_query,
        to_column,
    )

    ast = parse_query(_WOSQ_QUERY, _WOSQ_FM, range_tags={"NC"})
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(to_column(ast, _WOSQ_FM)).select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    )


def _wosquery_oracle_sql() -> str:
    from wos_crawler_spark.functions.wosquery import parse_query, to_sql

    ast = parse_query(_WOSQ_QUERY, _WOSQ_FM, range_tags={"NC"})
    return f"""
        SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents WHERE {to_sql(ast, _WOSQ_FM)}
    """


def q_f_blocklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain blocklist gate (Scrapy OffsiteMiddleware / UT1-style):
    subdomain-suffix matching via map-side suffix explode + broadcast
    semi join — zero frontier shuffle (operators/blocklist.py)."""
    from wos_crawler_spark.operators.blocklist import blocklist_filter

    d = F.col("doc_id")
    frontier = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("sub"), (d % 3).cast("string"),
            F.lit(".dom"), (d % 11).cast("string"), F.lit(".com"),
        ).alias("host"),
    )
    blocked = spark.createDataFrame(
        [("dom3.com",), ("sub1.dom5.com",), ("dom7.com",)], "domain string"
    )
    return blocklist_filter(frontier, blocked, id_col="doc_id")


_PR_EDGE_MULTS = ((31, 7), (17, 3))  # two synthetic out-edges per doc
_PR_MOD = 97


def _pr_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic host graph shared with the oracle:
    each doc contributes edges h(doc_id%97) → h((doc_id*m+a)%97)."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    parts = [
        d.select(
            F.concat(F.lit("h"), (F.col("doc_id") % _PR_MOD).cast("string")
                     ).alias("src"),
            F.concat(F.lit("h"),
                     ((F.col("doc_id") * m + a) % _PR_MOD).cast("string")
                     ).alias("dst"),
        )
        for m, a in _PR_EDGE_MULTS
    ]
    e = parts[0].unionByName(parts[1])
    return e.filter(F.col("src") != F.col("dst"))


def q_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph degrees over the synthetic host graph
    (operators/linkgraph.py — crawl-priority inputs)."""
    from wos_crawler_spark.operators.linkgraph import degrees

    return degrees(_pr_edges(spark, sf_dir).distinct()).select(
        "node",
        F.col("out_degree").cast("long").alias("out_degree"),
        F.col("in_degree").cast("long").alias("in_degree"),
    )


def q_graph_hits_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host HITS hubs/authorities (Kleinberg 1999; L1-normalized —
    operators/linkgraph.py::hits), 4 iterations over the same
    synthetic host graph as PageRank. 6-dp output absorbs the
    protocol's ~1e-14 cross-engine FP divergence."""
    from wos_crawler_spark.operators.linkgraph import hits

    s = hits(_pr_edges(spark, sf_dir), n_iter=4)
    return s.select(
        "node",
        F.round("hub", 6).alias("hub_r6"),
        F.round("auth", 6).alias("auth_r6"),
    )


def _hits_oracle_sql(n_iter: int = 4) -> str:
    """Unrolled HITS mirroring operators/linkgraph.hits expression-
    for-expression (12-dp contribs, 9-dp L1-normalized scores).
    MATERIALIZED per step: a{k} is referenced twice and inlining
    would re-evaluate the whole prefix chain multiplicatively."""
    ctes = [
        _PR_GRAPH_CTES.strip().rstrip(),
        "s0 AS MATERIALIZED (SELECT node,"
        " round(1.0/(SELECT cnt FROM nn), 9) AS hub,"
        " round(1.0/(SELECT cnt FROM nn), 9) AS auth FROM nodes)",
    ]
    for k in range(1, n_iter + 1):
        p = k - 1
        ctes += [
            f"ca{k} AS MATERIALIZED (SELECT e.dst AS node,"
            f" sum(round(s.hub, 12)) AS s"
            f" FROM ed e JOIN s{p} s ON e.src = s.node GROUP BY e.dst)",
            f"aa{k} AS MATERIALIZED (SELECT n.node,"
            f" coalesce(c.s, 0.0) AS ar"
            f" FROM nodes n LEFT JOIN ca{k} c USING (node))",
            f"sa{k} AS MATERIALIZED (SELECT sum(ar) AS t FROM aa{k})",
            f"a{k} AS MATERIALIZED (SELECT node,"
            f" round(ar / (SELECT t FROM sa{k}), 9) AS auth FROM aa{k})",
            f"ch{k} AS MATERIALIZED (SELECT e.src AS node,"
            f" sum(round(a.auth, 12)) AS s"
            f" FROM ed e JOIN a{k} a ON e.dst = a.node GROUP BY e.src)",
            f"hh{k} AS MATERIALIZED (SELECT n.node,"
            f" coalesce(c.s, 0.0) AS hr"
            f" FROM nodes n LEFT JOIN ch{k} c USING (node))",
            f"sh{k} AS MATERIALIZED (SELECT sum(hr) AS t FROM hh{k})",
            f"s{k} AS MATERIALIZED (SELECT h.node,"
            f" round(h.hr / (SELECT t FROM sh{k}), 9) AS hub, a.auth"
            f" FROM hh{k} h JOIN a{k} a USING (node))",
        ]
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, round(hub, 6) AS hub_r6,"
        f" round(auth, 6) AS auth_r6 FROM s{n_iter}"
    )


def q_graph_opic_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer OPIC importance (Abiteboul et al. 2003 — the online
    crawl-priority estimate; operators/linkgraph.py::opic_int), 5
    rounds over the shared host graph. Integer cash, so the oracle
    matches bit for bit with no rounding protocol."""
    from wos_crawler_spark.operators.linkgraph import opic_int

    return opic_int(_pr_edges(spark, sf_dir), n_iter=5)


def q_w1_opic_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-driven W1 frontier priority (round 5): INTEGER-exact OPIC
    (operators/linkgraph.py::opic_int — all cash in integer units,
    every floor remainder conserved through the virtual-page pool, so
    Spark ≡ python simulator twin ≡ this unrolled-CTE oracle with NO
    float rounding protocol) over a synthetic 20-node link graph with
    5 dangling nodes, joined onto a frontier as its priority, then
    the per-host fetch rank the priority queue would dequeue by. The
    run_crawl wiring (CrawlConfig.opic_priority re-prioritizing every
    next-wave row) is parity-tested against the simulator in
    tests/test_opic_priority.py; this entry pins the score values and
    the rank derivation."""
    from wos_crawler_spark.operators.linkgraph import opic_int

    edges = spark.range(45).select(
        F.concat(F.lit("u"), (F.col("id") % 15).cast("string")).alias("src"),
        F.concat(F.lit("u"), ((F.col("id") * 7 + 3) % 20).cast("string")).alias(
            "dst"
        ),
    )
    scores = opic_int(edges, n_iter=3, scale=1_000_000)
    frontier = spark.range(20).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        F.concat(F.lit("h"), (F.col("id") % 4).cast("string")).alias("host"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy(
        F.col("priority").desc(), F.col("url").asc()
    )
    return (
        frontier.join(scores, frontier.url == scores.node)
        .select(
            "url", "host", F.col("importance").cast("long").alias("priority")
        )
        .withColumn(
            "fetch_rank", F.row_number().over(w).cast("long")
        )
    )


#: The w1_opic_priority fixture graph (mirrors q_w1_opic_priority's
#: edges), in the CTE shape _opic_int_oracle_sql reads.
_W1_GRAPH_CTES = """
    e0 AS (SELECT 'u' || (i % 15) AS src, 'u' || ((i*7+3) % 20) AS dst
           FROM (SELECT unnest(range(0, 45)) AS i)),
    ed AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0),
    nodes AS MATERIALIZED (SELECT src AS node FROM ed
                           UNION SELECT dst FROM ed),
    nn AS (SELECT count(*) AS cnt FROM nodes),
    outd AS MATERIALIZED (SELECT src, count(*) AS outd FROM ed GROUP BY src)
"""


def _opic_int_oracle_sql(
    graph_ctes: str, n_iter: int, scale: int = 1_000_000
) -> str:
    """Unrolled INTEGER OPIC twin of linkgraph.opic_int over the graph
    ``graph_ctes`` defines (``ed``, ``nodes``, ``nn(cnt)``, ``outd``) —
    floor divisions and conserved remainders restated round by round;
    no rounding protocol because there are no floats. Ends with the CTE
    ``sc(node, importance)``; the caller appends its own SELECT."""
    n = "(SELECT cnt FROM nn)"
    ctes = [
        graph_ctes.strip().rstrip(),
        f"s0 AS MATERIALIZED (SELECT node, {scale} // {n} AS cash,"
        f" CAST(0 AS BIGINT) AS hist FROM nodes)",
        f"p0 AS (SELECT {scale} - {n} * ({scale} // {n}) AS pool)",
    ]
    for k in range(1, n_iter + 1):
        p = k - 1
        ctes += [
            # the pool's inflow: dangling nodes' whole cash, the floor
            # residue of the rest, and the carried pool
            f"i{k} AS (SELECT (SELECT pool FROM p{p}) + SUM(CASE WHEN"
            f" o.outd IS NULL THEN s.cash"
            f" ELSE s.cash - o.outd * (s.cash // o.outd) END) AS tin"
            f" FROM s{p} s LEFT JOIN outd o ON o.src = s.node)",
            f"sh{k} AS (SELECT (SELECT tin FROM i{k}) // {n} AS share)",
            f"p{k} AS (SELECT (SELECT tin FROM i{k}) - {n}"
            f" * (SELECT share FROM sh{k}) AS pool)",
            f"c{k} AS MATERIALIZED (SELECT e.dst AS node,"
            f" SUM(s.cash // o.outd) AS s"
            f" FROM ed e JOIN s{p} s ON s.node = e.src"
            f" JOIN outd o ON o.src = e.src GROUP BY e.dst)",
            f"s{k} AS MATERIALIZED (SELECT n.node,"
            f" COALESCE(c.s, 0) + (SELECT share FROM sh{k}) AS cash,"
            f" s.hist + s.cash AS hist"
            f" FROM nodes n JOIN s{p} s USING (node)"
            f" LEFT JOIN c{k} c ON c.node = n.node)",
        ]
    ctes.append(
        f"sc AS (SELECT node, CAST(hist + cash AS BIGINT) AS importance"
        f" FROM s{n_iter})"
    )
    return "WITH " + ",\n".join(ctes)


def q_graph_pagerank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host PageRank (Cho/Garcia-Molina/Page crawl ordering), 5 power
    iterations with the deterministic rounding protocol
    (operators/linkgraph.py). Output rank is rounded to 6 dp — engine
    FP divergence is bounded ~1e-14 by the 12/9-dp intermediate grids,
    so both engines round to identical values."""
    from wos_crawler_spark.operators.linkgraph import pagerank

    pr = pagerank(_pr_edges(spark, sf_dir), n_iter=5)
    return pr.select("node", F.round("rank", 6).alias("rank_r6"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # crawl-engine operator family (SURVEY.md §2)
        "f2_url_canonicalize": q_f2_url_canonicalize,
        "f1_frontier_dedup": q_f1_frontier_dedup,
        "f1_frontier_dedup_cuckoo": q_f1_frontier_dedup_cuckoo,
        "recrawl_readmit": q_recrawl_readmit,
        "f3_robots_lpm": q_f3_robots_lpm,
        "f4_politeness_schedule": q_f4_politeness_schedule,
        "f4_crawl_delay": q_f4_crawl_delay,
        "w1_priority_quota": q_w1_priority_quota,
        "w2_pagination_batches": q_w2_pagination_batches,
        "a1_docs_per_lang": q_a1_docs_per_lang,
        "j4_seed_match": q_j4_seed_match,
        "j1_customers_without_orders": q_j1_customers_without_orders,
        "j2_dim_rollup": q_j2_dim_rollup,
        "tpch_q1_pricing": q_tpch_q1_pricing,
        "tpch_q3_top_orders": q_tpch_q3_top_orders,
        "events_hourly": q_events_hourly,
        "w_events_sessionize": q_w_events_sessionize,
        "j7_asof_join": q_j7_asof_join,
        "a_event_percentiles": q_a_event_percentiles,
        "a_rollup": q_a_rollup,
        "a_pivot": q_a_pivot,
        "u_set_ops": q_u_set_ops,
        "p6_word_explode": q_p6_word_explode,
        # training-data pipeline family
        "dedup_exact": q_dedup_exact,
        "dedup_exact_keep": q_dedup_exact_keep,
        "dedup_paragraphs": q_dedup_paragraphs,
        "dedup_spans": q_dedup_spans,
        "dedup_spans_apply": q_dedup_spans_apply,
        "dedup_jaccard_exact_join": q_dedup_jaccard_exact_join,
        "dedup_jaccard_cross_join": q_dedup_jaccard_cross_join,
        "dedup_index_query": q_dedup_index_query,
        "text_containment_join": q_text_containment_join,
        "f_resolve_redirects": q_f_resolve_redirects,
        "s_wet_roundtrip": q_s_wet_roundtrip,
        "s_warc_roundtrip": q_s_warc_roundtrip,
        "s_cdx_seeds": q_s_cdx_seeds,
        "s_sitemap_seeds": q_s_sitemap_seeds,
        "s_sitemap_children": q_s_sitemap_children,
        "text_lm_perplexity": q_text_lm_perplexity,
        "sim_pq_topk": q_sim_pq_topk,
        "sim_ivfpq_topk": q_sim_ivfpq_topk,
        "pipeline_curation_v3": q_pipeline_curation_v3,
        "a_hll_host_cardinality": q_a_hll_host_cardinality,
        "a_cms_url_frequency": q_a_cms_url_frequency,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_minhash_clusters": q_dedup_minhash_clusters,
        "dedup_simhash": q_dedup_simhash,
        "sim_bruteforce_topk": q_sim_bruteforce_topk,
        "sim_lsh_topk": q_sim_lsh_topk,
        "sim_index_lsh_topk": q_sim_index_lsh_topk,
        "sim_index_ivf_topk": q_sim_index_ivf_topk,
        "sim_ivf_topk": q_sim_ivf_topk,
        "sim_cosine_near_dup": q_sim_cosine_near_dup,
        "sim_cosine_clusters": q_sim_cosine_clusters,
        "sim_semdedup": q_sim_semdedup,
        "sim_cosine_pairs_exact": q_sim_cosine_pairs_exact,
        "f_content_sniff": q_f_content_sniff,
        "f_extract_links": q_f_extract_links,
        "f_extract_anchor_text": q_f_extract_anchor_text,
        "f_anchor_corpus": q_f_anchor_corpus,
        "f_html_to_text": q_f_html_to_text,
        "f_trap_guard": q_f_trap_guard,
        "text_bm25_topk": q_text_bm25_topk,
        "pack_sequences": q_pack_sequences,
        "dsir_select": q_dsir_select,
        "text_quality_classifier": q_text_quality_classifier,
        "text_classifier_train": q_text_classifier_train,
        "text_classifier_train_score": q_text_classifier_train_score,
        "f3_robots_wildcards": q_f3_robots_wildcards,
        "s_sitemap_discovery": q_s_sitemap_discovery,
        "recrawl_change_schedule": q_recrawl_change_schedule,
        "dedup_winnow": q_dedup_winnow,
        "decontam_ngram_overlap": q_decontam_ngram_overlap,
        "pii_redact": q_pii_redact,
        "f_blocklist_gate": q_f_blocklist_gate,
        "graph_degrees": q_graph_degrees,
        "graph_pagerank_hosts": q_graph_pagerank_hosts,
        "sample_deterministic": q_sample_deterministic,
        "sample_stratified": q_sample_stratified,
        "sample_mixture": q_sample_mixture,
        "sample_upsample": q_sample_upsample,
        "stats_length_quantiles": q_stats_length_quantiles,
        "text_tfidf_keywords": q_text_tfidf_keywords,
        "f_mirror_hosts": q_f_mirror_hosts,
        "f_url_gate": q_f_url_gate,
        "f_registrable_domain": q_f_registrable_domain,
        "f_registrable_domain_psl": q_f_registrable_domain_psl,
        "sample_host_cap": q_sample_host_cap,
        "pack_shards": q_pack_shards,
        "chunk_sliding_windows": q_chunk_sliding_windows,
        "pipeline_curation": q_pipeline_curation,
        "pipeline_curation_v2": q_pipeline_curation_v2,
        "text_lang_id": q_text_lang_id,
        "text_token_counts": q_text_token_counts,
        "text_quality": q_text_quality,
        "text_gopher_quality": q_text_gopher_quality,
        "text_gopher_repetition": q_text_gopher_repetition,
        "text_fingerprint": q_text_fingerprint,
        "text_normalize_nfc": q_text_normalize,
        "bpe_train": q_bpe_train,
        "bpe_encode": q_bpe_encode,
        "a_heavy_hitter_keys": q_heavy_hitters,
        "pipeline_curation_v4": q_pipeline_curation_v4,
        "pipeline_curation_v5": q_pipeline_curation_v5,
        "s3_advanced_query": q_s3_advanced_query,
        "s_sitemap_stale": q_s_sitemap_stale,
        "pipeline_seed_discovery": q_pipeline_seed_discovery,
        "j4_seed_match_advanced": q_j4_seed_match_advanced,
        "text_strip_boilerplate": q_text_strip_boilerplate,
        "stats_corpus_datacard": q_stats_corpus_datacard,
        "f_backoff_plan": q_f_backoff_plan,
        "graph_hits_hosts": q_graph_hits_hosts,
        "graph_opic_hosts": q_graph_opic_hosts,
        "w1_opic_priority": q_w1_opic_priority,
        "text_script_profile": q_text_script_profile,
        "corpus_delta": q_corpus_delta,
        # rows-only engine surfaces (non-SQL-expressible)
        "parse_wos_plaintext": q_parse_wos_plaintext,
        "parse_tab": q_parse_tab,
        "parse_xml": q_parse_xml,
        "parse_bibtex": q_parse_bibtex,
        "j5_author_affiliations": q_j5_author_affiliations,
        "j6_citation_doi_link": q_j6_citation_doi_link,
        "a5_distinct_documents": q_a5_distinct_documents,
        "f5_doctype_filter": q_f5_doctype_filter,
        "crawl_end_to_end": q_crawl_end_to_end,
        "multimodal_features": q_multimodal_features,
        "multimodal_decode_real": q_multimodal_decode_real,
        "multimodal_decode_audio": q_multimodal_decode_audio,
        "multimodal_resize_real": q_multimodal_resize_real,
        "multimodal_video_frames": q_multimodal_video_frames,
        "multimodal_image_neardup": q_multimodal_image_neardup,
        "multimodal_image_neardup16": q_multimodal_image_neardup16,
        "multimodal_image_neardup_capped": q_multimodal_image_neardup_capped,
        "multimodal_frames": q_multimodal_frames,
    }


# =====================================================================
# oracles (DuckDB SQL over the same parquet views)
# =====================================================================

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_WORDS = f"string_split({_NORM}, ' ')"


def _classifier_train_ctes(
    label_sql: str = "CASE WHEN d2.doc_id % 3 = 0 THEN 1.0 ELSE 0.0 END",
    docs_sql: str = "SELECT doc_id, text FROM documents",
) -> str:
    """From-scratch recomputation of train_quality_classifier: the
    hashed-feature occurrence table, then one (w_sum → sigmoid →
    nano-residual → per-bucket gradient → floored update) CTE chain
    per epoch, MATERIALIZED (the BPE-oracle discipline). Every float
    step mirrors the engine term-by-term: the sigmoid's argument is
    one IEEE division of exact integers, the residual floor-quantizes
    to nano BIGINT immediately, and all sums are integer."""
    nb, ep = _CLF_NB, _CLF_EPOCHS
    ln, ld = _CLF_LR_NUM, _CLF_LR_DEN
    parts = [
        f"""
        clf_wl AS (
            SELECT doc_id, {_WORDS} AS ws FROM ({docs_sql})
            WHERE text IS NOT NULL
        ),
        clf_f AS (
            SELECT doc_id,
                   unnest(list_concat(
                       ws,
                       [ws[i] || ' ' || ws[i+1]
                        FOR i IN range(1, greatest(len(ws)-1, 0)+1)]
                   )) AS f
            FROM clf_wl
        ),
        occ0 AS MATERIALIZED (
            SELECT doc_id,
                   ('0x' || substr(md5(f), 1, 8))::BIGINT % {nb} AS bucket,
                   COUNT(*) AS occ
            FROM clf_f GROUP BY doc_id, bucket
        ),
        clf_nf AS MATERIALIZED (
            SELECT t.doc_id, t.n_feat, {label_sql} AS y
            FROM (SELECT doc_id, SUM(occ) AS n_feat
                  FROM occ0 GROUP BY doc_id) t
            JOIN documents d2 USING (doc_id)
        ),
        clf_nd AS MATERIALIZED (SELECT COUNT(*) AS n FROM clf_nf),
        wt0 AS (SELECT CAST(NULL AS BIGINT) AS bucket,
                       CAST(NULL AS BIGINT) AS weight WHERE FALSE)"""
    ]
    for k in range(1, ep + 1):
        p = k - 1
        parts.append(
            f"""
        clf_ws{k} AS MATERIALIZED (
            SELECT o.doc_id, SUM(o.occ * COALESCE(t.weight, 0)) AS w_sum
            FROM occ0 o LEFT JOIN wt{p} t USING (bucket)
            GROUP BY o.doc_id
        ),
        clf_err{k} AS MATERIALIZED (
            SELECT n.doc_id, n.n_feat,
                   CAST(floor((1.0 / (1.0 + exp(-(CAST(s.w_sum AS DOUBLE)
                        / (n.n_feat * 1000.0)))) - n.y) * 1e9) AS BIGINT)
                       AS err_nano
            FROM clf_nf n JOIN clf_ws{k} s USING (doc_id)
        ),
        clf_g{k} AS MATERIALIZED (
            SELECT o.bucket,
                   SUM(CAST(floor(CAST(e.err_nano * o.occ AS DOUBLE)
                       / e.n_feat) AS BIGINT)) AS g
            FROM occ0 o JOIN clf_err{k} e USING (doc_id)
            GROUP BY o.bucket
        ),
        wt{k} AS MATERIALIZED (
            SELECT COALESCE(t.bucket, g.bucket) AS bucket,
                   COALESCE(t.weight, 0)
                   - CAST(floor(CAST(COALESCE(g.g, 0) * {ln} AS DOUBLE)
                       / CAST((SELECT n FROM clf_nd) * {ld} * 1000000
                              AS DOUBLE)) AS BIGINT) AS weight
            FROM wt{p} t FULL OUTER JOIN clf_g{k} g ON t.bucket = g.bucket
        )"""
        )
    return ",".join(parts)


def _classifier_train_oracle_sql() -> str:
    return (
        "WITH "
        + _classifier_train_ctes()
        + f"""
        SELECT bucket::BIGINT AS bucket, weight::BIGINT AS weight
        FROM wt{_CLF_EPOCHS} WHERE weight <> 0
    """
    )


def _classifier_train_score_oracle_sql() -> str:
    return (
        "WITH "
        + _classifier_train_ctes()
        + f"""
        SELECT o.doc_id,
               SUM(o.occ * COALESCE(t.weight, 0))::BIGINT AS w_sum,
               SUM(o.occ)::BIGINT AS n_feat,
               (SUM(o.occ * COALESCE(t.weight, 0)) > 0) AS clf_keep
        FROM occ0 o LEFT JOIN wt{_CLF_EPOCHS} t USING (bucket)
        GROUP BY o.doc_id
    """
    )

_STOP = {
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "für", "auf", "ein"],
    "en": ["the", "of", "and", "to", "in", "is", "that", "for", "with", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "de", "et", "est", "un", "une", "dans", "pour", "que"],
}


def _stop_arr(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in _STOP[lang]) + "]"


_LANG_SCORES = ", ".join(
    f"len(list_intersect(w, {_stop_arr(lang)})) AS s_{lang}" for lang in _STOP
)
_ALL_STOP = "[" + ", ".join(
    f"'{w}'" for w in sorted({w for sw in _STOP.values() for w in sw})
) + "]"

_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _snap(name: str) -> str:
    """DuckDB scan of a committed parse/crawl snapshot (deterministic
    fixture-corpus outputs pinned by tools/make_snapshots.py; drift is
    caught by tests/test_snapshots.py). These back the oracles for the
    mapInPandas / iterative entries DuckDB cannot recompute from
    scratch: the SNAPSHOT pins the non-SQL step (parse, crawl loop,
    featurizer), and the SQL recomputes every downstream join/agg
    independently."""
    import os

    d = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "wos_crawler_spark", "fixtures", "data",
    )
    return f"read_parquet('{d}/{name}.parquet')"


#: Shared CTEs for the synthetic host graph (mirrors _pr_edges: two
#: out-edges per doc, self-loops dropped, distinct).
_PR_GRAPH_CTES = """
    raw AS (
        SELECT 'h' || CAST(doc_id % 97 AS VARCHAR) AS src,
               'h' || CAST((doc_id * 31 + 7) % 97 AS VARCHAR) AS dst
        FROM documents
        UNION ALL
        SELECT 'h' || CAST(doc_id % 97 AS VARCHAR),
               'h' || CAST((doc_id * 17 + 3) % 97 AS VARCHAR)
        FROM documents
    ),
    ed AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
    nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
    nn AS (SELECT count(*) AS cnt FROM nodes),
    outd AS (SELECT src, count(*) AS outd FROM ed GROUP BY src)
"""


def _pagerank_oracle_sql(n_iter: int = 5, damping: float = 0.85) -> str:
    """Unrolled power iteration mirroring operators/linkgraph.pagerank
    expression-for-expression (12-dp contribs, 9-dp ranks, uniform
    dangling redistribution), final output rounded to 6 dp."""
    ctes = [
        _PR_GRAPH_CTES.strip().rstrip(),
        "r0 AS (SELECT node, round(1.0/(SELECT cnt FROM nn), 9) AS rank"
        " FROM nodes)",
    ]
    for k in range(1, n_iter + 1):
        p = k - 1
        ctes.append(
            f"d{p} AS (SELECT coalesce(sum(rank), 0.0) AS dm FROM r{p}"
            f" WHERE node NOT IN (SELECT src FROM ed))"
        )
        ctes.append(
            f"c{k} AS (SELECT e.dst AS node,"
            f" sum(round(r.rank / o.outd, 12)) AS s"
            f" FROM ed e JOIN r{p} r ON e.src = r.node"
            f" JOIN outd o ON e.src = o.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{k} AS (SELECT n.node,"
            f" round((1.0 - {damping})/(SELECT cnt FROM nn)"
            f" + {damping} * (coalesce(c.s, 0.0)"
            f" + (SELECT dm FROM d{p})/(SELECT cnt FROM nn)), 9) AS rank"
            f" FROM nodes n LEFT JOIN c{k} c USING (node))"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, round(rank, 6) AS rank_r6 FROM r{n_iter}"
    )


def _bm25_oracle_sql(k1: float = 1.2, b: float = 0.75) -> str:
    """From-scratch BM25 recomputation: same tokenization (_WORDS),
    same IEEE expression tree (python-repr'd literals round-trip to
    the identical doubles Spark's F.lit ships), same floor-to-nano
    quantization, BIGINT sum, same tie rule."""
    qvals = ", ".join(f"({q}, '{t}')" for q, t in _BM25_QUERIES)
    k1p1, one_m_b = repr(k1 + 1.0), repr(1.0 - b)
    k1r, br = repr(k1), repr(b)
    return f"""
        WITH q(q_id, q_text) AS (VALUES {qvals}),
        qt AS (
            SELECT DISTINCT CAST(q_id AS BIGINT) AS q_id, term FROM (
                SELECT q_id, unnest(string_split(trim(regexp_replace(
                    lower(q_text), '\\s+', ' ', 'g')), ' ')) AS term
                FROM q
            ) WHERE term != ''
        ),
        dls AS (
            SELECT doc_id,
                   len(list_filter(
                       string_split(trim(regexp_replace(
                           lower(coalesce(text, '')), '\\s+', ' ', 'g')),
                           ' '),
                       w -> w != '')) AS dl
            FROM documents
        ),
        stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                   CAST(sum(dl) AS DOUBLE) AS sum_dl
            FROM dls
        ),
        posts AS (
            SELECT doc_id, w AS term, count(*) AS tf
            FROM (SELECT doc_id, unnest({_WORDS}) AS w FROM documents)
            WHERE w != '' AND w IN (SELECT term FROM qt)
            GROUP BY doc_id, w
        ),
        dft AS (SELECT term, count(*) AS df FROM posts GROUP BY term),
        c AS (
            SELECT qt.q_id, p.doc_id,
                   CAST(floor(
                     ln(1.0 + (n_docs - CAST(df AS DOUBLE) + 0.5)
                               / (CAST(df AS DOUBLE) + 0.5))
                     * ((CAST(tf AS DOUBLE) * {k1p1})
                        / (CAST(tf AS DOUBLE)
                           + {k1r} * ({one_m_b}
                                      + {br} * CAST(dl AS DOUBLE)
                                        / (sum_dl / n_docs))))
                     * 1000000000.0
                   ) AS BIGINT) AS c
            FROM posts p
            JOIN dft USING (term)
            JOIN dls USING (doc_id)
            CROSS JOIN stats
            JOIN qt USING (term)
        ),
        s AS (
            SELECT q_id, doc_id,
                   CAST(count(*) AS BIGINT) AS n_terms,
                   CAST(sum(c) AS BIGINT) AS score_nano
            FROM c GROUP BY q_id, doc_id
        )
        SELECT q_id, doc_id, n_terms, score_nano,
               CAST(rank AS INTEGER) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY score_nano DESC, doc_id
            ) AS rank FROM s
        ) WHERE rank <= 10
    """


def _pq_oracle_sql(
    dsub: int = 8, topk: int = 10, candidates: bool = False
) -> str:
    """From-scratch PQ recomputation over the live embeddings +
    pinned codebooks: encoding via argmin over the SAME
    left-associative squared-L2 chains the engine's python loop
    executes (identical IEEE op sequence → identical doubles →
    identical argmin/ordering), per-query ADC lookup tables
    floor-quantized to nano BIGINTs, scores as order-independent
    integer sums, rank ties on vec_id. ``candidates=True`` = the
    IVF-PQ flavor: scoring restricted to the pinned coarse-quantizer
    candidate pairs (ivf_cand_sf001), with q_id/vec_id column
    names."""

    def dist(vec: str) -> str:
        terms = [
            f"(CAST({vec}[cb.sub * {dsub} + {j}] AS DOUBLE)"
            f" - cb.vec[{j}])"
            f" * (CAST({vec}[cb.sub * {dsub} + {j}] AS DOUBLE)"
            f" - cb.vec[{j}])"
            for j in range(1, dsub + 1)
        ]
        expr = terms[0]
        for t in terms[1:]:
            expr = f"({expr} + {t})"
        return expr

    return f"""
        WITH cbs AS (
            SELECT sub, code, vec FROM {_snap("pq_codebooks_sf001")}
        ),
        enc AS (
            SELECT vec_id, sub, code FROM (
                SELECT e.vec_id, cb.sub, cb.code,
                       row_number() OVER (
                           PARTITION BY e.vec_id, cb.sub
                           ORDER BY {dist("e.embedding")}, cb.code
                       ) AS rn
                FROM embeddings e CROSS JOIN cbs cb
            ) WHERE rn = 1
        ),
        lut AS (
            SELECT q.vec_id AS q_id, cb.sub, cb.code,
                   CAST(floor({dist("q.embedding")}
                              * 1000000000.0) AS BIGINT) AS d_nano
            FROM (SELECT * FROM embeddings WHERE vec_id < 3) q
            CROSS JOIN cbs cb
        ),
        adc AS (
            SELECT l.q_id, en.vec_id,
                   sum(l.d_nano)::BIGINT AS adc_nano
            FROM enc en
            JOIN lut l ON l.sub = en.sub AND l.code = en.code
            {"JOIN " + _snap("ivf_cand_sf001")
             + " cd ON cd.q_id = l.q_id AND cd.vec_id = en.vec_id"
             if candidates else ""}
            GROUP BY l.q_id, en.vec_id
        )
        SELECT q_id, vec_id, adc_nano, CAST(rank AS INT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY adc_nano, vec_id) AS rank
            FROM adc
        ) WHERE rank <= {topk}
    """


def _lm_scored_ctes(m: int = 4096) -> str:
    """Shared CTE chain (no WITH) ending in ``sc`` (doc_id, n_tri,
    lp_nano, avg_nano) and ``cuts`` (head_cut, tail_cut) — used by
    both the text_lm_perplexity oracle and the pipeline_curation_v3
    composition so the two can never drift."""
    toks = f"list_filter({_WORDS}, w -> w <> '')"
    tri_b = (
        f"[('0x' || substr(md5('lm3:' || ws[i] || ' ' || ws[i+1]"
        f" || ' ' || ws[i+2]), 1, 8))::BIGINT % {m}"
        f" FOR i IN range(1, greatest(len(ws) - 2, 0) + 1)]"
    )
    tri_c = (
        f"[('0x' || substr(md5('lm2:' || ws[i] || ' ' || ws[i+1]),"
        f" 1, 8))::BIGINT % {m}"
        f" FOR i IN range(1, greatest(len(ws) - 2, 0) + 1)]"
    )
    bi_b = (
        f"[('0x' || substr(md5('lm2:' || ws[i] || ' ' || ws[i+1]),"
        f" 1, 8))::BIGINT % {m}"
        f" FOR i IN range(1, greatest(len(ws) - 1, 0) + 1)]"
    )
    return f"""
        tok AS (
            SELECT doc_id, {toks} AS ws FROM documents
            WHERE text IS NOT NULL
        ),
        tri AS (
            SELECT doc_id,
                   unnest({tri_b}) AS b3,
                   unnest({tri_c}) AS b2
            FROM tok WHERE len(ws) >= 3
        ),
        bi AS (
            SELECT doc_id, unnest({bi_b}) AS b2
            FROM tok WHERE len(ws) >= 2
        ),
        c3 AS (SELECT b3, count(*)::BIGINT AS c3 FROM tri
               WHERE doc_id % 19 = 3 GROUP BY b3),
        c2 AS (SELECT b2, count(*)::BIGINT AS c2 FROM bi
               WHERE doc_id % 19 = 3 GROUP BY b2),
        contrib AS (
            SELECT t.doc_id,
                   CAST(floor((
                     ln(CAST(coalesce(c3.c3, 0) + 1 AS DOUBLE))
                     - ln(CAST(coalesce(c2.c2, 0) AS DOUBLE)
                          + {float(m)!r})
                   ) * 1000000000.0) AS BIGINT) AS w
            FROM tri t
            LEFT JOIN c3 ON t.b3 = c3.b3
            LEFT JOIN c2 ON t.b2 = c2.b2
        ),
        s AS (
            SELECT doc_id, count(*)::BIGINT AS n_tri,
                   sum(w)::BIGINT AS lp_nano
            FROM contrib GROUP BY doc_id
        ),
        sc AS (
            SELECT doc_id, n_tri, lp_nano,
                   CAST(floor(CAST(lp_nano AS DOUBLE) / n_tri)
                        AS BIGINT) AS avg_nano
            FROM s
        ),
        cuts AS (
            SELECT CAST(floor(quantile_cont(avg_nano, {2 / 3!r}))
                        AS BIGINT) AS head_cut,
                   CAST(floor(quantile_cont(avg_nano, {1 / 3!r}))
                        AS BIGINT) AS tail_cut
            FROM sc
        )
    """


def _lm_oracle_sql(m: int = 4096) -> str:
    """From-scratch CCNet-gate recomputation: salted trigram/bigram
    md5 buckets, exact integer counts from the target slice, the
    identical ln contribution tree floor-quantized to nano, BIGINT
    sums, floored double division for the mean, quantile_cont
    tertiles, head/middle/tail labels."""
    return f"""
        WITH {_lm_scored_ctes(m)}
        SELECT doc_id, n_tri, lp_nano, avg_nano,
               CASE WHEN avg_nano >= head_cut THEN 'head'
                    WHEN avg_nano < tail_cut THEN 'tail'
                    ELSE 'middle' END AS ppl_bucket
        FROM sc CROSS JOIN cuts
    """


def _curation_v3_oracle_sql(m: int = 4096, span_len: int = 8) -> str:
    """The v3 composition from scratch in one SQL chain: the shared
    LM CTEs → drop the tail tertile → ExactSubstr span dedup over the
    survivors (same md5-window/rank/coverage rule as the dedup_spans
    oracles, L = span_len) → token rebuild → floor ≥ 10."""
    L = int(span_len)
    return f"""
        WITH {_lm_scored_ctes(m)},
        keep AS (
            SELECT sc.doc_id, sc.avg_nano,
                   CASE WHEN sc.avg_nano >= cuts.head_cut THEN 'head'
                        ELSE 'middle' END AS ppl_bucket
            FROM sc CROSS JOIN cuts
            WHERE sc.avg_nano >= cuts.tail_cut
        ),
        w AS (
            SELECT d.doc_id, {_WORDS} AS w
            FROM documents d JOIN keep USING (doc_id)
        ),
        sp AS (
            SELECT doc_id, i - 1 AS pos,
                   md5(array_to_string(w[i : i + {L - 1}], ' ')) AS h
            FROM w, unnest(generate_series(1, len(w) - {L - 1})) AS t(i)
            WHERE len(w) >= {L}
        ),
        r AS (
            SELECT doc_id, pos, row_number() OVER (
                       PARTITION BY h ORDER BY doc_id, pos) AS rn
            FROM sp
        ),
        rem AS (
            SELECT doc_id, pos AS st, pos + {L} AS en
            FROM r WHERE rn > 1
        ),
        tokpos AS (
            SELECT doc_id, i - 1 AS p, w[i] AS tok
            FROM w, unnest(generate_series(1, len(w))) AS t(i)
        ),
        keptok AS (
            SELECT tp.doc_id, tp.p, tp.tok
            FROM tokpos tp
            WHERE NOT EXISTS (
                SELECT 1 FROM rem
                WHERE rem.doc_id = tp.doc_id
                  AND tp.p >= rem.st AND tp.p < rem.en)
        ),
        rebuilt AS (
            SELECT doc_id,
                   string_agg(tok, ' ' ORDER BY p) AS dedup_text,
                   CAST(count(*) AS INT) AS n_tokens_kept
            FROM keptok GROUP BY doc_id
        )
        SELECT k.doc_id, k.ppl_bucket, k.avg_nano,
               rb.n_tokens_kept, rb.dedup_text
        FROM keep k JOIN rebuilt rb USING (doc_id)
        WHERE rb.n_tokens_kept >= 10
    """


def _dsir_oracle_sql(k: int = 50, m: int = 4096, salt: str = "dsir") -> str:
    """From-scratch DSIR recomputation: same features/buckets as the
    classifier oracle (+ the empty-feature drop), same left-assoc ln
    chain, same md5 Gumbel, same floor-to-nano quantization."""
    bigrams = (
        "[ws[i] || ' ' || ws[i+1]"
        " FOR i IN range(1, greatest(len(ws)-1, 0)+1)]"
    )

    def feats(where: str) -> str:
        return f"""(
            SELECT doc_id,
                   ('0x' || substr(md5(f), 1, 8))::BIGINT % {m} AS bucket
            FROM (
                SELECT doc_id, unnest(list_concat(ws, {bigrams})) AS f
                FROM (SELECT doc_id, {_WORDS} AS ws FROM documents
                      WHERE text IS NOT NULL {where})
            ) WHERE f != ''
        )"""

    return f"""
        WITH b_raw AS (SELECT * FROM {feats("")}),
        b_t AS (SELECT * FROM {feats("AND doc_id % 19 = 3")}),
        cr AS (SELECT bucket, count(*)::BIGINT AS c_r
               FROM b_raw GROUP BY bucket),
        ct AS (SELECT bucket, count(*)::BIGINT AS c_t
               FROM b_t GROUP BY bucket),
        tot AS (SELECT (SELECT sum(c_r) FROM cr)::BIGINT AS n_r,
                       (SELECT coalesce(sum(c_t), 0) FROM ct)::BIGINT
                           AS n_t),
        wts AS (
            SELECT bucket,
                   CAST(floor((
                     ln(CAST(coalesce(c_t, 0) + 1 AS DOUBLE))
                     - ln(CAST(n_t AS DOUBLE) + {float(m)!r})
                     - ln(CAST(c_r + 1 AS DOUBLE))
                     + ln(CAST(n_r AS DOUBLE) + {float(m)!r})
                   ) * 1000000000.0) AS BIGINT) AS w_nano
            FROM cr LEFT JOIN ct USING (bucket) CROSS JOIN tot
        ),
        s AS (
            SELECT doc_id, count(*)::BIGINT AS n_feat,
                   sum(w_nano)::BIGINT AS logw_nano
            FROM b_raw JOIN wts USING (bucket) GROUP BY doc_id
        ),
        g AS (
            SELECT doc_id, n_feat, logw_nano,
                   logw_nano + CAST(floor(
                     -ln(-ln((CAST(('0x' || substr(md5(
                         doc_id::VARCHAR || '{salt}'), 1, 8))::BIGINT
                       AS DOUBLE) + 0.5) / 4294967296.0))
                     * 1000000000.0) AS BIGINT) AS key_nano
            FROM s
        )
        SELECT doc_id, n_feat, logw_nano, key_nano,
               CAST(rank AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (
                ORDER BY key_nano DESC, doc_id) AS rank FROM g)
        WHERE rank <= {k}
    """


def _trap_guard_oracle_sql() -> str:
    """Identical shape regexes (shared twin) + the same rank/max
    window pair, recomputed from scratch in DuckDB."""
    from wos_crawler_spark.operators.trapguard import url_shape_sql

    return f"""
        WITH f AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0
                     THEN 'https://h' || (doc_id % 3) || '.org/cal/'
                          || doc_id || '/d' || (doc_id % 12)
                     ELSE 'https://h' || (doc_id % 3) || '.org/page'
                          || (doc_id % 7)
                   END AS url_canon
            FROM documents
        ),
        s AS (SELECT doc_id, url_canon,
                     {url_shape_sql('url_canon')} AS shape
              FROM f),
        r AS (SELECT doc_id, url_canon, shape,
                     dense_rank() OVER (
                       PARTITION BY shape ORDER BY url_canon) AS rk
              FROM s),
        m AS (SELECT doc_id, url_canon, rk,
                     max(rk) OVER (PARTITION BY shape) AS n
              FROM r)
        SELECT doc_id, url_canon FROM m WHERE n <= 10 OR rk <= 5
    """


def _html_to_text_oracle_sql() -> str:
    """Identical html synthesis, identical step chain (generated from
    the SAME lists the Spark expr compiles from), in RE2."""
    from wos_crawler_spark.operators.htmltext import html_text_sql

    h = (
        "'<html><head><title>Doc ' || doc_id ||"
        " '</title><style>p{color:red}</style>"
        "<script type=\"text/javascript\">var p = ' || doc_id ||"
        " ' < 99; // trap</script></head><body><!-- wave ' || doc_id ||"
        " ' --><h1>Doc ' || doc_id || '</h1><p>' ||"
        " coalesce(text, '') ||"
        " '</p><p>B &amp; W &lt;i&gt;&nbsp;&#39;q</p><div>tail ' ||"
        " (doc_id % 7) || '</div></body></html>'"
    )
    return f"""
        WITH d AS (SELECT doc_id, {h} AS h FROM documents),
        x AS (SELECT doc_id, {html_text_sql("h")} AS t FROM d)
        SELECT doc_id,
               md5(t) AS text_md5,
               CAST(octet_length(encode(t)) AS INTEGER) AS text_bytes,
               CAST(len(string_split(t, chr(10))) AS INTEGER) AS n_lines
        FROM x
    """


def _pii_oracle_sql() -> str:
    """Identical regexes, identical email→ipv4→phone order, in RE2."""
    from wos_crawler_spark.operators.pii import PII_PATTERNS

    t2 = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) ||"
        " '@example.com or +49' || CAST(doc_id + 1000000 AS VARCHAR) ||"
        " ' at 10.' || CAST(doc_id % 256 AS VARCHAR) ||"
        " '.' || CAST((doc_id * 7) % 256 AS VARCHAR) ||"
        " '.' || CAST(doc_id % 100 AS VARCHAR)"
    )
    clean = "t2"
    counts = []
    for name, pat, repl in PII_PATTERNS:
        clean = f"regexp_replace({clean}, '{pat}', '{repl}', 'g')"
        counts.append(
            f"len(regexp_extract_all(t2, '{pat}')) AS n_{name}"
        )
    return f"""
        WITH d AS (SELECT doc_id, {t2} AS t2 FROM documents)
        SELECT doc_id, {', '.join(counts)}, md5({clean}) AS redacted_md5
        FROM d
    """


#: 40 NUL bytes as a DuckDB BLOB-literal body (f-string expressions
#: cannot contain backslashes on py3.11)
_NULS40 = r"\x00" * 40

#: word-8-gram list over a word-array column `ws` (DuckDB)
_NG8 = (
    "[array_to_string(ws[g:g+7], ' ')"
    " FOR g IN range(1, greatest(len(ws)-7, 1)+1)]"
)


def _curation_v2_oracle_sql() -> str:
    """Full SQL recomputation of the v2 gate chain: blocklist
    predicate → decontam hit exclusion → lang/quality gates → PII
    counts + redaction → min-id dedup on redacted text → split."""
    from wos_crawler_spark.operators.pii import PII_PATTERNS

    clean = "text"
    counts = []
    for _, pat, repl in PII_PATTERNS:
        clean = f"regexp_replace({clean}, '{pat}', '{repl}', 'g')"
        counts.append(f"len(regexp_extract_all(text, '{pat}'))")
    n_pii = " + ".join(counts)
    return f"""
        WITH hosted AS (
            SELECT doc_id, text FROM documents
            WHERE NOT (doc_id % 11 IN (3, 7)
                       OR (doc_id % 3 = 1 AND doc_id % 11 = 5))
        ),
        bench AS (
            SELECT array_to_string(({_WORDS})[1:12], ' ') AS text
            FROM documents WHERE doc_id % 19 = 3
        ),
        bng AS (
            SELECT DISTINCT unnest({_NG8}) AS ng
            FROM (SELECT {_WORDS} AS ws FROM bench)
        ),
        dng AS (
            SELECT doc_id, unnest(list_distinct({_NG8})) AS ng
            FROM (SELECT doc_id, {_WORDS} AS ws FROM hosted)
        ),
        contaminated AS (SELECT DISTINCT doc_id FROM dng JOIN bng USING (ng)),
        clean AS (
            SELECT doc_id, text FROM hosted
            WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        ),
        base AS (
            SELECT doc_id, text, {_WORDS} AS w,
                   CASE WHEN {_NORM} = '' THEN 0
                        ELSE len({_WORDS}) END AS q_n_words,
                   length(text) AS q_n_chars
            FROM clean
        ),
        lang AS (
            SELECT doc_id, text, q_n_words, q_n_chars,
                   CASE WHEN g = 0 THEN 'und'
                        WHEN s_de = g THEN 'de'
                        WHEN s_en = g THEN 'en'
                        WHEN s_es = g THEN 'es'
                        ELSE 'fr' END AS lang_pred
            FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr) AS g
                  FROM (SELECT *, {_LANG_SCORES} FROM base))
        ),
        gated AS (
            SELECT * FROM lang
            WHERE lang_pred IN ('en', 'de')
              AND q_n_words >= 5 AND q_n_chars >= 30
        ),
        red AS (
            SELECT doc_id, lang_pred,
                   {n_pii} AS n_pii,
                   {clean} AS text
            FROM gated
        ),
        kept AS (
            SELECT doc_id, lang_pred, n_pii FROM red
            WHERE doc_id IN (
                SELECT min(doc_id) FROM red GROUP BY md5({_NORM})
            )
        )
        SELECT doc_id, lang_pred, n_pii,
               CASE WHEN ('0x' || substr(md5(doc_id || 'cur2'), 1, 8))::BIGINT
                         / 4294967296.0 < 0.2
                    THEN 'holdout' ELSE 'train' END AS split
        FROM kept
    """


def oracle_sql() -> dict[str, str]:
    sql = {
        "f2_url_canonicalize": f"""
            SELECT doc_id,
                   {_CANON_SQL} AS url_canon,
                   {_HOST_SQL} AS host
            FROM documents
        """,
        "f1_frontier_dedup": """
            SELECT doc_id FROM documents WHERE doc_id % 4 <> 0
        """,
        "f1_frontier_dedup_cuckoo": """
            SELECT doc_id FROM documents WHERE doc_id % 4 <> 0
        """,
        "recrawl_readmit": """
            SELECT doc_id FROM documents
            WHERE doc_id % 4 <> 0 OR doc_id % 8 = 0
        """,
        "f3_robots_lpm": """
            WITH rules AS (
                SELECT h.host, r.rule_prefix, r.allow,
                       length(r.rule_prefix) AS rule_len
                FROM (SELECT 'h' || k || '.com' AS host
                      FROM generate_series(0, 3) t(k)) h
                CROSS JOIN (VALUES ('/private', false),
                                   ('/private/pub', true),
                                   ('/', true)) r(rule_prefix, allow)
            ),
            frontier AS (
                SELECT doc_id,
                       'h' || (doc_id % 4) || '.com' AS host,
                       CASE doc_id % 4
                         WHEN 0 THEN '/private/p' || doc_id
                         WHEN 1 THEN '/private/pub/p' || doc_id
                         WHEN 2 THEN '/p' || doc_id
                         ELSE '/private/x/p' || doc_id
                       END AS path
                FROM documents
            ),
            lpm AS (
                SELECT f.doc_id, f.host, r.allow,
                       row_number() OVER (
                         PARTITION BY f.doc_id
                         ORDER BY r.rule_len DESC
                       ) AS rn
                FROM frontier f
                LEFT JOIN rules r
                  ON f.host = r.host AND starts_with(f.path, r.rule_prefix)
            )
            SELECT doc_id, host FROM lpm
            WHERE rn = 1 AND coalesce(allow, true)
        """,
        "f4_politeness_schedule": """
            SELECT doc_id, host,
                   CAST(rn - 1 AS DOUBLE) * 1.0 AS scheduled_ts
            FROM (
                SELECT doc_id, 'h' || (doc_id % 5) AS host,
                       row_number() OVER (
                         PARTITION BY doc_id % 5
                         ORDER BY (doc_id % 3) DESC, doc_id ASC
                       ) AS rn
                FROM documents
            )
        """,
        "f4_crawl_delay": """
            SELECT doc_id, host,
                   CAST(rn - 1 AS DOUBLE)
                     * (CASE host WHEN 'h1' THEN 2.0
                                  WHEN 'h3' THEN 0.5
                                  ELSE 1.0 END) AS scheduled_ts
            FROM (
                SELECT doc_id, 'h' || (doc_id % 5) AS host,
                       row_number() OVER (
                         PARTITION BY doc_id % 5
                         ORDER BY (doc_id % 3) DESC, doc_id ASC
                       ) AS rn
                FROM documents
            )
        """,
        "w1_priority_quota": """
            SELECT doc_id, host,
                   CAST(rn - 1 AS DOUBLE) * 1.0 AS scheduled_ts
            FROM (
                SELECT doc_id, 'h' || (doc_id % 5) AS host,
                       row_number() OVER (
                         PARTITION BY doc_id % 5
                         ORDER BY (doc_id % 3) DESC, doc_id ASC
                       ) AS rn
                FROM documents
            )
            WHERE rn <= 7
        """,
        "w2_pagination_batches": """
            SELECT source, CAST(floor((rn - 1) / 50) AS BIGINT) AS batch_id,
                   count(*) AS n_recs, min(doc_id) AS first_doc
            FROM (
                SELECT source, doc_id,
                       row_number() OVER (
                         PARTITION BY source ORDER BY doc_id
                       ) AS rn
                FROM documents
            )
            GROUP BY source, batch_id
        """,
        "a1_docs_per_lang": """
            SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
        """,
        "j4_seed_match": """
            SELECT s.query_id, count(d.doc_id) AS n_matches
            FROM (VALUES ('spark', 0), ('window', 1), ('vector', 2),
                         ('zzznomatch', 3)) s(term, query_id)
            LEFT JOIN documents d ON contains(d.text, s.term)
            GROUP BY s.query_id
        """,
        "j1_customers_without_orders": """
            SELECT c_custkey FROM customer
            WHERE c_custkey NOT IN
              (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        """,
        "j2_dim_rollup": """
            SELECT r_name, n_name, count(*) AS n_customers
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        """,
        "tpch_q1_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3_top_orders": """
            SELECT o_orderkey, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderkey, o_orderpriority
            ORDER BY revenue DESC, o_orderkey
            LIMIT 10
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM events GROUP BY hour, event_type
        """,
        "w_events_sessionize": """
            WITH e AS (
                SELECT user_id,
                       datediff('second', TIMESTAMP '2024-01-01 00:00:00', ts) AS s,
                       event_id
                FROM events
            ), m AS (
                SELECT user_id, s, event_id,
                       CASE WHEN lag(s) OVER w IS NULL
                                 OR s - lag(s) OVER w > 1800
                            THEN 1 ELSE 0 END AS new_s
                FROM e
                WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)
            ), x AS (
                SELECT user_id, s,
                       CAST(sum(new_s) OVER (PARTITION BY user_id
                                             ORDER BY s, event_id
                                             ROWS UNBOUNDED PRECEDING)
                            AS BIGINT) AS session_id
                FROM m
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   min(s) AS session_start_s
            FROM x GROUP BY user_id, session_id
        """,
        "j7_asof_join": """
            WITH l AS (
                SELECT event_id, user_id,
                       datediff('second', TIMESTAMP '2024-01-01 00:00:00', ts) AS s
                FROM events WHERE event_type = 'purchase'
            ),
            r AS (
                SELECT user_id,
                       datediff('second', TIMESTAMP '2024-01-01 00:00:00', ts) AS s,
                       max(value) AS value, max(event_id) AS click_id
                FROM events WHERE event_type = 'click'
                GROUP BY 1, 2
            )
            SELECT l.event_id, l.user_id, l.s,
                   r.value AS asof_value, r.click_id AS asof_click_id,
                   r.s AS asof_ts
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.s >= r.s
        """,
        "a_event_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.9), 4) AS p90,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "a_rollup": """
            SELECT l_returnflag, l_linestatus,
                   count(*) AS n_rows,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "a_pivot": """
            SELECT source,
                   count(*) FILTER (lang = 'en') AS en,
                   count(*) FILTER (lang = 'zh') AS zh,
                   count(*) FILTER (lang = 'de') AS de,
                   count(*) FILTER (lang = 'es') AS es
            FROM documents GROUP BY source
        """,
        "u_set_ops": """
            SELECT doc_id FROM (
                SELECT DISTINCT doc_id FROM documents
                WHERE doc_id % 2 = 0 OR doc_id % 3 = 0
            ) WHERE doc_id % 5 <> 0
        """,
        "p6_word_explode": f"""
            SELECT word, count(*) AS n_occurrences
            FROM (SELECT unnest({_WORDS}) AS word FROM documents)
            GROUP BY word
        """,
        "dedup_exact": f"""
            SELECT md5({_NORM}) AS digest, min(doc_id) AS keep_id,
                   count(*) AS n_dups
            FROM documents GROUP BY digest
        """,
        "dedup_exact_keep": f"""
            SELECT min(doc_id) AS doc_id
            FROM documents GROUP BY md5({_NORM})
        """,
        "dedup_paragraphs": """
            -- corpus-global keep-first paragraph dedup over the same
            -- deterministic combo fixture the Spark entry builds
            -- (doc || '\\n\\n' || next doc by doc_id order)
            WITH combo AS (
                SELECT doc_id,
                       text || chr(10) || chr(10)
                            || lead(text) OVER (ORDER BY doc_id) AS text
                FROM documents
                QUALIFY lead(text) OVER (ORDER BY doc_id) IS NOT NULL
            ), p AS (
                SELECT doc_id,
                       unnest(string_split(text, chr(10) || chr(10)))
                         AS para,
                       generate_subscripts(
                           string_split(text, chr(10) || chr(10)), 1)
                         AS pos
                FROM combo
            ), r AS (
                SELECT doc_id, pos, para, row_number() OVER (
                           PARTITION BY md5(para)
                           ORDER BY doc_id, pos
                       ) AS rn
                FROM p
            ), k AS (
                SELECT doc_id,
                       string_agg(para, chr(10) || chr(10)
                                  ORDER BY pos) AS dedup_text,
                       CAST(count(*) AS BIGINT) AS n_paras_kept
                FROM r WHERE rn = 1 GROUP BY doc_id
            )
            SELECT c.doc_id,
                   CAST(len(string_split(c.text, chr(10) || chr(10)))
                        AS BIGINT) AS n_paras_in,
                   CAST(coalesce(k.n_paras_kept, 0) AS BIGINT)
                     AS n_paras_kept,
                   coalesce(k.dedup_text, '') AS dedup_text
            FROM combo c LEFT JOIN k USING (doc_id)
        """,
        "s_sitemap_seeds": """
            -- pure arithmetic restatement: every doc seeds once; the
            -- year-newer dup-shard listing wins for doc_id % 3 = 0
            -- (NULL optional fields ride from the WINNING entry); the
            -- XML serialize->parse round trip, entity escaping and
            -- the latest-lastmod window are the engine's to get right
            SELECT 'https://ex.com/rec/' || doc_id ||
                   (CASE WHEN doc_id % 5 = 0 THEN '?a=1&b=2'
                         ELSE '' END) AS url,
                   CAST(doc_id * 3600 +
                        CASE WHEN doc_id % 3 = 0 THEN 31536000
                             ELSE 0 END AS BIGINT) AS lastmod_epoch,
                   CASE WHEN doc_id % 3 = 0 THEN NULL
                        ELSE (doc_id % 10) / 10.0 END AS priority,
                   CASE WHEN doc_id % 3 = 1 THEN 'weekly'
                        WHEN doc_id % 3 = 2 THEN 'monthly'
                        ELSE NULL END AS changefreq
            FROM documents
        """,
        "s_sitemap_children": """
            SELECT DISTINCT 'https://ex.com/sm/' || (doc_id % 16)
                   || '.xml' AS sitemap_url
            FROM documents
        """,
        "s_cdx_seeds": """
            -- pure arithmetic restatement: the latest (year-offset)
            -- capture of every 200/text-html url survives; the
            -- serialize->parse round trip and the dedup window are
            -- the engine's to get right
            SELECT 'https://ex.com/cdx/' || doc_id AS url,
                   CAST(doc_id * 7200 + 31536000 AS BIGINT)
                     AS fetch_epoch,
                   'D' || doc_id || '-new' AS digest
            FROM documents
            WHERE doc_id % 10 != 0 AND doc_id % 7 != 0
        """,
        "s_warc_roundtrip": """
            -- the identity the WARC serialize->parse round trip must
            -- reproduce: status/ctype from doc_id arithmetic,
            -- byte-exact body md5, octet length, epoch ts
            SELECT 'https://ex.com/warc/' || CAST(doc_id AS VARCHAR)
                     AS url,
                   CAST(doc_id * 3600 AS BIGINT) AS warc_epoch,
                   (CASE WHEN doc_id % 10 = 0 THEN 404
                         ELSE 200 END)::INTEGER AS status,
                   CASE WHEN doc_id % 7 = 0 THEN 'text/plain'
                        ELSE 'text/html' END AS content_type,
                   md5('<html><body>' || coalesce(text, '')
                       || '</body></html>') AS html_md5,
                   CAST(octet_length(encode('<html><body>'
                       || coalesce(text, '') || '</body></html>'))
                        AS BIGINT) AS n_bytes
            FROM documents
        """,
        "s_wet_roundtrip": """
            -- the identity the WET serialize->parse round trip must
            -- reproduce: byte-exact text, utf-8 octet length, epoch ts
            SELECT 'https://ex.com/wet/' || CAST(doc_id AS VARCHAR)
                     AS url,
                   CAST(doc_id * 3600 AS BIGINT) AS warc_epoch,
                   coalesce(text, '') AS text,
                   CAST(octet_length(encode(coalesce(text, '')))
                        AS BIGINT) AS n_bytes
            FROM documents
        """,
        "dedup_spans_apply": f"""
            -- reassembly from scratch: a token survives iff no
            -- duplicated window (rank > 1) covers its position —
            -- coverage by raw removal spans == coverage by their
            -- interval union, so the merge step needn't be repeated.
            WITH combo AS (
                SELECT doc_id,
                       text || ' ' || lead(text) OVER (ORDER BY doc_id)
                         AS text
                FROM documents
                QUALIFY lead(text) OVER (ORDER BY doc_id) IS NOT NULL
            ), w AS (
                SELECT doc_id, {_WORDS} AS w FROM combo
            ), s AS (
                SELECT doc_id, i - 1 AS pos,
                       md5(array_to_string(w[i : i + 14], ' ')) AS h
                FROM w, unnest(generate_series(1, len(w) - 14)) AS t(i)
                WHERE len(w) >= 15
            ), r AS (
                SELECT doc_id, pos, row_number() OVER (
                           PARTITION BY h ORDER BY doc_id, pos) AS rn
                FROM s
            ), rem AS (
                SELECT doc_id, pos AS st, pos + 15 AS en
                FROM r WHERE rn > 1
            ), tokpos AS (
                SELECT doc_id, i - 1 AS p, w[i] AS tok
                FROM w, unnest(generate_series(1, len(w))) AS t(i)
            ), kept AS (
                SELECT tp.doc_id, tp.p, tp.tok
                FROM tokpos tp
                WHERE NOT EXISTS (
                    SELECT 1 FROM rem
                    WHERE rem.doc_id = tp.doc_id
                      AND tp.p >= rem.st AND tp.p < rem.en)
            )
            SELECT w.doc_id,
                   coalesce(k.dedup_text, '') AS dedup_text,
                   CAST(coalesce(k.n, 0) AS INT) AS n_tokens_kept
            FROM w LEFT JOIN (
                SELECT doc_id,
                       string_agg(tok, ' ' ORDER BY p) AS dedup_text,
                       count(*) AS n
                FROM kept GROUP BY doc_id
            ) k USING (doc_id)
        """,
        "f_resolve_redirects": """
            -- re-walk every redirect chain with a recursive CTE:
            -- same fixture (doc_id % 7 != 0 -> doc_id - 1 chains +
            -- a planted 2-cycle), hop cap 8, cycle rows unresolved.
            WITH RECURSIVE e AS (
                SELECT 'https://ex.com/r/' || CAST(doc_id AS VARCHAR)
                         AS src,
                       'https://ex.com/r/' || CAST(doc_id - 1 AS VARCHAR)
                         AS dst
                FROM documents WHERE doc_id % 7 <> 0
                UNION ALL
                SELECT 'https://ex.com/loop/a', 'https://ex.com/loop/b'
                UNION ALL
                SELECT 'https://ex.com/loop/b', 'https://ex.com/loop/a'
            ), walk AS (
                SELECT src, dst AS cur, 1 AS hops FROM e
                UNION ALL
                SELECT w.src, e2.dst, w.hops + 1
                FROM walk w JOIN e e2 ON w.cur = e2.src
                WHERE w.hops < 8
            ), term AS (
                SELECT w.src, w.cur AS final_url, w.hops
                FROM walk w
                WHERE NOT EXISTS (
                    SELECT 1 FROM e WHERE e.src = w.cur)
            )
            SELECT e.src,
                   t.final_url,
                   CAST(t.hops AS BIGINT) AS hops,
                   t.src IS NOT NULL AS resolved
            FROM e LEFT JOIN term t ON e.src = t.src
        """,
        "text_lm_perplexity": _lm_oracle_sql(),
        "sim_pq_topk": _pq_oracle_sql(),
        "sim_ivfpq_topk": _pq_oracle_sql(candidates=True),
        "pipeline_curation_v3": _curation_v3_oracle_sql(),
        "a_cms_url_frequency": """
            -- count-min from scratch: row-salted md5 buckets, exact
            -- integer counters, min over depth rows — no floats.
            WITH k AS (
                SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR)
                         || '.ex/p/' || CAST(doc_id % 50 AS VARCHAR)
                         AS url
                FROM documents
            ),
            pairs AS (
                SELECT r,
                       ('0x' || substr(md5(url || 'cms' || r), 1, 8))
                         ::BIGINT % 64 AS bucket
                FROM k, unnest([0, 1, 2]) t(r)
            ),
            tab AS (
                SELECT r, bucket, count(*)::BIGINT AS c
                FROM pairs GROUP BY r, bucket
            ),
            probes AS (SELECT DISTINCT url FROM k)
            SELECT p.url,
                   CAST(min(coalesce(t.c, 0)) AS BIGINT) AS est
            FROM probes p
            CROSS JOIN unnest([0, 1, 2]) rr(r)
            LEFT JOIN tab t
              ON t.r = rr.r
             AND t.bucket = ('0x' || substr(
                     md5(p.url || 'cms' || rr.r), 1, 8))::BIGINT % 64
            GROUP BY p.url
        """,
        "a_hll_host_cardinality": f"""
            -- HLL from scratch: md5 buckets, bin-length rhos (no
            -- float log), max registers, the identical estimate tree
            -- (left-assoc alpha*m*m, dyadic harmonic sum — exactly
            -- order-independent — and the linear-counting branch).
            WITH k AS (
                SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) AS host,
                       'https://h' || CAST(doc_id % 7 AS VARCHAR)
                         || '.ex/p/' || CAST(doc_id % 50 AS VARCHAR)
                         AS url
                FROM documents
            ),
            br AS (
                SELECT host,
                       ('0x' || substr(md5(url), 1, 8))::BIGINT % 16
                         AS bucket,
                       CASE WHEN ('0x' || substr(md5(url), 9, 8))
                                   ::BIGINT = 0 THEN 33
                            ELSE 33 - length(bin(
                                ('0x' || substr(md5(url), 9, 8))
                                  ::BIGINT)) END AS rho
                FROM k
            ),
            regs AS (
                SELECT host, bucket, max(rho) AS rho
                FROM br GROUP BY host, bucket
            ),
            agg AS (
                SELECT host, count(*)::BIGINT AS n_obs,
                       sum(pow(2.0, -rho)) AS hs
                FROM regs GROUP BY host
            )
            SELECT host, n_obs,
                   CAST(16 - n_obs AS BIGINT) AS zeros,
                   CAST(floor(
                     CASE WHEN ((0.673 * 16.0) * 16.0)
                                / (hs + CAST(16 - n_obs AS DOUBLE))
                                <= 40.0
                            AND n_obs < 16
                          THEN 16.0 * ln(16.0 /
                                  CAST(16 - n_obs AS DOUBLE))
                          ELSE ((0.673 * 16.0) * 16.0)
                                / (hs + CAST(16 - n_obs AS DOUBLE))
                     END) AS BIGINT) AS est
            FROM agg
        """,
        "dedup_spans": f"""
            -- ExactSubstr manifest recomputed from scratch: same
            -- combo fixture, same norm/tokenize rule, md5 of every
            -- 15-token window, keep-first rank, interval union.
            WITH combo AS (
                SELECT doc_id,
                       text || ' ' || lead(text) OVER (ORDER BY doc_id)
                         AS text
                FROM documents
                QUALIFY lead(text) OVER (ORDER BY doc_id) IS NOT NULL
            ), w AS (
                SELECT doc_id, {_WORDS} AS w FROM combo
            ), s AS (
                SELECT doc_id, i - 1 AS pos,
                       md5(array_to_string(w[i : i + 14], ' ')) AS h
                FROM w, unnest(generate_series(1, len(w) - 14)) AS t(i)
                WHERE len(w) >= 15
            ), r AS (
                SELECT doc_id, pos, row_number() OVER (
                           PARTITION BY h ORDER BY doc_id, pos) AS rn
                FROM s
            ), rem AS (
                SELECT doc_id, pos AS st, pos + 15 AS en
                FROM r WHERE rn > 1
            ), g AS (
                SELECT doc_id, st, en,
                       CASE WHEN max(en) OVER (
                                PARTITION BY doc_id ORDER BY st
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) IS NULL
                              OR st > max(en) OVER (
                                PARTITION BY doc_id ORDER BY st
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING)
                            THEN 1 ELSE 0 END AS ng
                FROM rem
            ), g2 AS (
                SELECT doc_id, st, en,
                       sum(ng) OVER (PARTITION BY doc_id ORDER BY st)
                         AS grp
                FROM g
            )
            SELECT doc_id,
                   CAST(min(st) AS INT) AS span_start,
                   CAST(max(en) AS INT) AS span_end,
                   CAST(max(en) - min(st) AS INT) AS n_tokens
            FROM g2 GROUP BY doc_id, grp
        """,
        "text_containment_join": f"""
            -- containment restated independently: list_has_all over
            -- the same normalized distinct token sets (the engine
            -- never computes list_has_all — it counts matched terms)
            WITH w AS (
                SELECT doc_id,
                       list_filter(list_distinct({_WORDS}),
                                   x -> x <> '') AS s
                FROM documents
            ),
            raw AS (SELECT doc_id, {_WORDS} AS ws FROM documents),
            q AS (
                SELECT doc_id AS q_id,
                       list_filter(list_distinct(ws[1 : 5]),
                                   x -> x <> '') AS qs
                FROM raw WHERE doc_id < 3
            )
            SELECT q.q_id, w.doc_id
            FROM w CROSS JOIN q
            WHERE len(q.qs) >= 1 AND list_has_all(w.s, q.qs)
        """,
        "dedup_jaccard_exact_join": f"""
            -- brute-force all-pairs recomputation: no prefixes, no
            -- df ordering — an independent completeness oracle for
            -- the prefix-filtered join. Short docs emit ONE shingle
            -- (the whole word array joined), mirroring
            -- shingles_from_words' greatest(1, n-2) convention.
            WITH w AS (SELECT doc_id, {_WORDS} AS ws FROM documents),
            sh AS (
                SELECT doc_id,
                       list_distinct([
                           array_to_string(ws[i : i + 2], ' ')
                           FOR i IN range(1,
                               greatest(len(ws) - 2, 1) + 1)
                       ]) AS s
                FROM w
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(len(list_intersect(a.s, b.s)) AS BIGINT)
                     AS n_inter,
                   CAST(len(a.s) + len(b.s)
                        - len(list_intersect(a.s, b.s)) AS BIGINT)
                     AS n_union
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.s, b.s)) * 2
                  >= (len(a.s) + len(b.s)
                      - len(list_intersect(a.s, b.s))) * 1
        """,
        "dedup_index_query": f"""
            -- candidates from the pinned LSH band snapshot (parity
            -- split: odd = increment, even = standing index);
            -- verification recomputed from the live documents as
            -- STRING-set Jaccard — a fixture xxhash collision in the
            -- engine's hashed-set counts would hash-fail here
            WITH cand AS (
                SELECT DISTINCT q.doc_id AS id_new, x.doc_id AS id_idx
                FROM {{snap}} q
                JOIN {{snap}} x
                  ON q.band_id = x.band_id AND q.band_hash = x.band_hash
                WHERE q.doc_id % 2 = 1 AND x.doc_id % 2 = 0
            ),
            sh AS (
                SELECT doc_id, list_distinct({_WORDS}) AS s FROM documents
            )
            SELECT c.id_new, c.id_idx,
                   CAST(len(list_intersect(a.s, b.s)) AS BIGINT)
                     AS n_inter,
                   CAST(len(a.s) + len(b.s)
                        - len(list_intersect(a.s, b.s)) AS BIGINT)
                     AS n_union
            FROM cand c
            JOIN sh a ON a.doc_id = c.id_new
            JOIN sh b ON b.doc_id = c.id_idx
            WHERE len(list_intersect(a.s, b.s)) * 2
                  >= (len(a.s) + len(b.s)
                      - len(list_intersect(a.s, b.s))) * 1
        """.replace("{snap}", _snap("minhash_bands_sf001")),
        "dedup_jaccard_cross_join": f"""
            -- brute-force A×B recomputation (no prefixes, no shared
            -- union-df order) — independent completeness oracle for
            -- the cross-corpus prefix join
            WITH w AS (SELECT doc_id, {_WORDS} AS ws FROM documents),
            sh AS (
                SELECT doc_id,
                       list_distinct([
                           array_to_string(ws[i : i + 2], ' ')
                           FOR i IN range(1,
                               greatest(len(ws) - 2, 1) + 1)
                       ]) AS s
                FROM w
            )
            SELECT a.doc_id AS id_l, b.doc_id AS id_r,
                   CAST(len(list_intersect(a.s, b.s)) AS BIGINT)
                     AS n_inter,
                   CAST(len(a.s) + len(b.s)
                        - len(list_intersect(a.s, b.s)) AS BIGINT)
                     AS n_union
            FROM sh a JOIN sh b
              ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
            WHERE len(list_intersect(a.s, b.s)) * 2
                  >= (len(a.s) + len(b.s)
                      - len(list_intersect(a.s, b.s))) * 1
        """,
        "dedup_ngram_jaccard": f"""
            WITH sh AS (
                SELECT doc_id, source,
                       list_distinct({_WORDS}) AS s
                FROM documents
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                         greatest(len(list_distinct(list_concat(a.s, b.s))), 1),
                         6) AS jaccard_r
            FROM sh a JOIN sh b ON a.source = b.source
            WHERE a.doc_id < b.doc_id
              AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                  greatest(len(list_distinct(list_concat(a.s, b.s))), 1) >= 0.5
        """,
        "sim_cosine_pairs_exact": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.35
        """,
        "sim_bruteforce_topk": """
            SELECT q_id, vec_id, CAST(rank AS INTEGER) AS rank FROM (
                SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
                       row_number() OVER (
                         PARTITION BY q.vec_id
                         ORDER BY list_cosine_similarity(
                           CAST(c.embedding AS DOUBLE[]),
                           CAST(q.embedding AS DOUBLE[])) DESC,
                         c.vec_id
                       ) AS rank
                FROM embeddings c
                CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 3) q
            ) WHERE rank <= 10
        """,
        "f_extract_links": """
            WITH src AS (
                SELECT doc_id,
                       'https://host' || (doc_id % 7) ||
                       '.example.com/dir/page' || doc_id || '.html'
                           AS src_url
                FROM documents
            )
            SELECT src_url,
                   'https://ext' || (doc_id % 5) || '.example.org/p/'
                       || doc_id AS dst_url,
                   'ext' || (doc_id % 5) || '.example.org' AS dst_host
            FROM src
            UNION ALL
            SELECT src_url,
                   'https://cdn' || (doc_id % 3) || '.example.net/lib',
                   'cdn' || (doc_id % 3) || '.example.net'
            FROM src
            UNION ALL
            SELECT src_url,
                   'https://host' || (doc_id % 7) || '.example.com/r/'
                       || (doc_id % 11),
                   'host' || (doc_id % 7) || '.example.com'
            FROM src
            UNION ALL
            SELECT src_url,
                   'https://host' || (doc_id % 7) ||
                       '.example.com/dir/next' || doc_id || '.html',
                   'host' || (doc_id % 7) || '.example.com'
            FROM src
            UNION ALL
            SELECT src_url,
                   'HTTP://Up.example.org/U' || (doc_id % 2),
                   'up.example.org'
            FROM src
        """,
        "f_extract_anchor_text": """
            WITH src AS (
                SELECT doc_id,
                       'https://host' || (doc_id % 7) ||
                       '.example.com/dir/page' || doc_id || '.html'
                           AS src_url
                FROM documents
            )
            SELECT src_url,
                   'https://ext' || (doc_id % 5) || '.example.org/p/'
                       || doc_id AS dst_url,
                   'x' AS anchor_text
            FROM src
            UNION ALL
            SELECT src_url,
                   'https://cdn' || (doc_id % 3) || '.example.net/lib', 'y'
            FROM src
            UNION ALL
            SELECT src_url,
                   'https://host' || (doc_id % 7) || '.example.com/r/'
                       || (doc_id % 11), 'z'
            FROM src
            UNION ALL
            SELECT src_url,
                   'https://host' || (doc_id % 7) ||
                       '.example.com/dir/next' || doc_id || '.html', 'n'
            FROM src
            UNION ALL
            SELECT src_url, 'HTTP://Up.example.org/U' || (doc_id % 2), 'u'
            FROM src
        """,
        "f_anchor_corpus": """
            -- restate the extracted links from doc_id arithmetic
            -- (the f_extract_anchor_text contract), then recompute
            -- the aggregation from scratch
            WITH src AS (
                SELECT doc_id,
                       'host' || (doc_id % 7) || '.example.com' AS h
                FROM documents
            ),
            l AS (
                SELECT doc_id, h,
                       'https://ext' || (doc_id % 5) || '.example.org/p/'
                           || doc_id AS dst_url, 'x' AS a
                FROM src
                UNION ALL
                SELECT doc_id, h,
                       'https://cdn' || (doc_id % 3) || '.example.net/lib',
                       'y'
                FROM src
                UNION ALL
                SELECT doc_id, h,
                       'https://host' || (doc_id % 7) || '.example.com/r/'
                           || (doc_id % 11), 'z'
                FROM src
                UNION ALL
                SELECT doc_id, h,
                       'https://host' || (doc_id % 7) ||
                           '.example.com/dir/next' || doc_id || '.html', 'n'
                FROM src
                UNION ALL
                SELECT doc_id, h,
                       'HTTP://Up.example.org/U' || (doc_id % 2), 'u'
                FROM src
            ),
            counts AS (
                SELECT dst_url, count(*)::BIGINT AS n_refs,
                       count(DISTINCT h)::BIGINT AS n_src_hosts
                FROM l GROUP BY dst_url
            ),
            da AS (SELECT DISTINCT dst_url, a FROM l WHERE a <> ''),
            capped AS (
                SELECT dst_url, a FROM (
                    SELECT dst_url, a, row_number() OVER (
                        PARTITION BY dst_url ORDER BY a
                    ) AS rn FROM da
                ) WHERE rn <= 64
            ),
            ag AS (
                SELECT dst_url, string_agg(a, ' | ' ORDER BY a) AS anchors
                FROM capped GROUP BY dst_url
            )
            SELECT c.dst_url, c.n_refs, c.n_src_hosts,
                   coalesce(ag.anchors, '') AS anchors
            FROM counts c LEFT JOIN ag USING (dst_url)
        """,
        "f3_robots_wildcards": """
            -- independent restatement of the RFC-9309 verdicts:
            --   d%5=0 /private/pN    -> /private*    (len 9) deny
            --   d%5=1 /private/pub   -> /private/pub$ (13) allow
            --                           beats /private* (9) deny
            --   d%5=2 /pN.php        -> /*.php$ (7) deny
            --   d%5=3 /pN.php?x=1    -> $-anchored rule cannot match
            --                           a query tail -> / (1) allow
            --   d%5=4 /ok/pN         -> / allow
            SELECT doc_id,
                   'w' || (doc_id % 3) || '.org' AS host,
                   'https://w' || (doc_id % 3) || '.org' ||
                   CASE doc_id % 5
                     WHEN 1 THEN '/private/pub'
                     WHEN 3 THEN '/p' || doc_id || '.php?x=1'
                     ELSE '/ok/p' || doc_id
                   END AS url_canon
            FROM documents
            WHERE doc_id % 5 IN (1, 3, 4)
        """,
        "text_quality_classifier": f"""
            WITH w AS (
                SELECT doc_id, {_WORDS} AS ws FROM documents
                WHERE text IS NOT NULL
            ),
            feats AS (
                SELECT doc_id,
                       unnest(list_concat(
                           ws,
                           [ws[i] || ' ' || ws[i+1]
                            FOR i IN range(1, greatest(len(ws)-1, 0)+1)]
                       )) AS f
                FROM w
            ),
            b AS (
                SELECT doc_id,
                       ('0x' || substr(md5(f), 1, 8))::BIGINT % 4096 AS bkt
                FROM feats
            )
            SELECT doc_id,
                   sum((bkt * 2654435761) % 2001 - 1000)::BIGINT AS w_sum,
                   count(*)::BIGINT AS n_feat,
                   (sum((bkt * 2654435761) % 2001 - 1000) > 0) AS clf_keep
            FROM b GROUP BY doc_id
        """,
        "text_classifier_train": _classifier_train_oracle_sql(),
        "text_classifier_train_score": _classifier_train_score_oracle_sql(),
        "f_content_sniff": f"""
            WITH pages AS (
                SELECT doc_id,
                       CASE
                         WHEN doc_id % 5 = 0
                           THEN '\\xEF\\xBB\\xBF'::BLOB || text::BLOB
                         WHEN doc_id % 5 = 1
                           THEN '{_NULS40}'::BLOB || text::BLOB
                         WHEN doc_id % 5 = 2
                           THEN '\\xFF\\xFE'::BLOB || text::BLOB
                         ELSE text::BLOB
                       END AS html
                FROM documents
            ),
            hx AS (
                SELECT doc_id, html,
                       substring(hex(html), 1, 8) AS h4,
                       substring(hex(html), 1, 512) AS hp
                FROM pages
            ),
            sniffed AS (
                SELECT doc_id,
                       CASE
                         WHEN h4 LIKE '0000FEFF%' THEN 'utf-32be'
                         WHEN h4 LIKE 'FFFE0000%' THEN 'utf-32le'
                         WHEN h4 LIKE 'EFBBBF%'   THEN 'utf-8'
                         WHEN h4 LIKE 'FEFF%'     THEN 'utf-16be'
                         WHEN h4 LIKE 'FFFE%'     THEN 'utf-16le'
                         ELSE NULL
                       END AS bom_encoding,
                       len(list_filter(regexp_extract_all(hp, '..'),
                                       x -> x = '00')) AS n_null_prefix,
                       least(octet_length(html), 256) AS plen
                FROM hx
            )
            SELECT doc_id, bom_encoding,
                   CAST(n_null_prefix AS BIGINT) AS n_null_prefix,
                   (coalesce(bom_encoding, '') NOT IN
                      ('utf-16le', 'utf-16be', 'utf-32le', 'utf-32be'))
                   AND (n_null_prefix * 16 > plen * 1) AS payload_binary
            FROM sniffed
        """,
        "s_sitemap_discovery": """
            -- independent restatement: every 7th doc's body carries
            -- exactly these two sitemap URLs for its host
            WITH src AS (
                SELECT doc_id % 11 AS h, doc_id % 4 AS s
                FROM documents WHERE doc_id % 7 = 0
            )
            SELECT DISTINCT 'dom' || h || '.com' AS host,
                   'https://dom' || h || '.com/sm' || s || '.xml'
                   AS sitemap_url
            FROM src
            UNION
            SELECT DISTINCT 'dom' || h || '.com',
                   'https://dom' || h || '.com/extra.xml'
            FROM src
        """,
        "recrawl_change_schedule": """
            WITH hist AS (
                SELECT 'u' || CAST(user_id AS VARCHAR) AS url,
                       ts AS _ts,
                       CAST(CAST(floor(coalesce(value, 0.0) * 100) AS BIGINT)
                            % 7 AS VARCHAR) AS digest
                FROM events
            ),
            stepped AS (
                SELECT url, _ts,
                       CASE WHEN lag(digest) OVER w IS NULL THEN 0
                            WHEN lag(digest) OVER w <> digest THEN 1
                            ELSE 0 END AS _chg
                FROM hist
                WINDOW w AS (PARTITION BY url ORDER BY _ts, digest)
            ),
            agg AS (
                SELECT url, count(*) AS n_obs, sum(_chg) AS n_changes,
                       min(_ts) AS _first, max(_ts) AS _last
                FROM stepped GROUP BY url
            )
            -- Spark's unix_timestamp() truncates to whole seconds and
            -- timestamp_seconds() emits whole-second timestamps, so
            -- both span and next_due floor each endpoint's epoch
            -- (sub-second warc_ts must not shift the schedule);
            -- session tz is UTC in both engines.
            SELECT url, n_obs, CAST(n_changes AS BIGINT) AS n_changes,
                   least(86400, greatest(3600,
                       CAST(floor(
                           (floor(epoch(_last)) - floor(epoch(_first)))
                            / greatest(n_changes, 1)) AS BIGINT)))
                   AS interval_s,
                   TIMESTAMP '1970-01-01'
                   + to_seconds(CAST(floor(epoch(_last)) AS BIGINT)
                       + least(86400, greatest(3600,
                           CAST(floor(
                               (floor(epoch(_last)) - floor(epoch(_first)))
                                / greatest(n_changes, 1)) AS BIGINT))))
                   AS next_due_ts
            FROM agg
        """,
        "dedup_winnow": f"""
            WITH h AS (
                SELECT doc_id,
                       [('0x' || substr(md5(substr(norm, g, 5)), 1, 8))::BIGINT
                        FOR g IN range(1, greatest(len(norm)-4, 1)+1)] AS hs
                FROM (SELECT doc_id, {_NORM} AS norm FROM documents)
            ),
            fp AS (
                SELECT doc_id, unnest(list_distinct(
                    [list_min(hs[j:j+3])
                     FOR j IN range(1, greatest(len(hs)-3, 1)+1)])) AS fp
                FROM h
            ),
            sizes AS (SELECT fp, count(*) AS n FROM fp GROUP BY fp),
            ok AS (SELECT fp FROM sizes WHERE n BETWEEN 2 AND 200),
            fo AS (SELECT f.doc_id, f.fp FROM fp f JOIN ok USING (fp))
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   count(*) AS n_shared
            FROM fo a JOIN fo b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING count(*) >= 8
        """,
        "decontam_ngram_overlap": f"""
            WITH bench AS (
                SELECT array_to_string(({_WORDS})[1:12], ' ') AS text
                FROM documents WHERE doc_id % 19 = 3
            ),
            bng AS (
                SELECT DISTINCT unnest(
                    [array_to_string(ws[g:g+7], ' ')
                     FOR g IN range(1, greatest(len(ws)-7, 1)+1)]) AS ng
                FROM (SELECT {_WORDS} AS ws FROM bench)
            ),
            dng AS (
                SELECT doc_id, unnest(list_distinct(
                    [array_to_string(ws[g:g+7], ' ')
                     FOR g IN range(1, greatest(len(ws)-7, 1)+1)])) AS ng
                FROM (SELECT doc_id, {_WORDS} AS ws FROM documents)
            ),
            hits AS (
                SELECT doc_id, count(*) AS n
                FROM dng JOIN bng USING (ng) GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(h.n, 0) AS n_contaminated,
                   coalesce(h.n, 0) >= 1 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        "pii_redact": _pii_oracle_sql(),
        "text_normalize_nfc": _textnorm_oracle_sql(),
        "bpe_train": _bpe_train_oracle_sql(),
        "bpe_encode": _bpe_encode_oracle_sql(),
        "a_heavy_hitter_keys": """
            -- exact top-k + the same certificate formula, from scratch
            WITH s AS (
                SELECT CAST(floor(sqrt(user_id)) AS BIGINT) AS key
                FROM events WHERE user_id IS NOT NULL
            ), c AS (
                SELECT key, COUNT(*) AS n FROM s GROUP BY key
            ), top AS (
                SELECT key, n FROM c ORDER BY n DESC, key LIMIT 10
            )
            SELECT key, n,
                   (SELECT MIN(n) FROM top) * 513
                     > (SELECT COUNT(*) FROM s) AS provably_complete
            FROM top
        """,
        "f_html_to_text": _html_to_text_oracle_sql(),
        "f_trap_guard": _trap_guard_oracle_sql(),
        "dsir_select": _dsir_oracle_sql(),
        "text_bm25_topk": _bm25_oracle_sql(),
        "pack_sequences": f"""
            WITH toks AS (
                SELECT doc_id,
                       CASE WHEN {_NORM} IS NULL OR {_NORM} = ''
                            THEN 0 ELSE len({_WORDS}) END AS n
                FROM documents
            ),
            g AS (
                SELECT doc_id, n + 1 AS L,
                       -- DuckDB window sum over BIGINT widens to
                       -- HUGEINT; pin back to BIGINT (Spark long)
                       CAST(sum(n + 1) OVER (
                         ORDER BY doc_id ROWS UNBOUNDED PRECEDING
                       ) AS BIGINT) AS g_end
                FROM toks WHERE n > 0
            ),
            e AS (SELECT doc_id, g_end, g_end - L AS g_start FROM g),
            x AS (
                SELECT doc_id, g_start, g_end,
                       unnest(generate_series(
                         g_start // 512, (g_end - 1) // 512)) AS block_id
                FROM e
            )
            SELECT doc_id, block_id,
                   greatest(g_start, block_id * 512) - g_start
                       AS doc_offset,
                   greatest(g_start, block_id * 512) - block_id * 512
                       AS block_offset,
                   least(g_end, (block_id + 1) * 512)
                       - greatest(g_start, block_id * 512) AS piece_len
            FROM x
        """,
        "f_blocklist_gate": """
            -- independent restatement of the suffix-match contract:
            -- blocked iff dom3/dom7 anywhere, or sub1 under dom5
            WITH f AS (
                SELECT doc_id,
                       'sub' || CAST(doc_id % 3 AS VARCHAR) ||
                       '.dom' || CAST(doc_id % 11 AS VARCHAR) || '.com'
                       AS host
                FROM documents
            )
            SELECT doc_id, host FROM f
            WHERE NOT (doc_id % 11 IN (3, 7)
                       OR (doc_id % 3 = 1 AND doc_id % 11 = 5))
        """,
        "graph_degrees": f"""
            WITH {_PR_GRAPH_CTES}
            SELECT node,
                   coalesce(o.outd, 0) AS out_degree,
                   coalesce(i.ind, 0) AS in_degree
            FROM nodes
            LEFT JOIN outd o ON nodes.node = o.src
            LEFT JOIN (SELECT dst, count(*) AS ind FROM ed GROUP BY dst) i
                   ON nodes.node = i.dst
        """,
        "graph_pagerank_hosts": _pagerank_oracle_sql(),
        "graph_hits_hosts": _hits_oracle_sql(),
        "graph_opic_hosts": _opic_int_oracle_sql(_PR_GRAPH_CTES, n_iter=5)
        + "\nSELECT node, importance FROM sc",
        # integer OPIC scores as the frontier priority, then the
        # per-host fetch rank
        "w1_opic_priority": _opic_int_oracle_sql(_W1_GRAPH_CTES, n_iter=3)
        + """,
        fr AS (SELECT 'u' || k AS url, 'h' || (k % 4) AS host
               FROM (SELECT unnest(range(0, 20)) AS k))
        SELECT f.url, f.host,
               s.importance AS priority,
               CAST(row_number() OVER (
                     PARTITION BY f.host
                     ORDER BY s.importance DESC, f.url ASC
                   ) AS BIGINT) AS fetch_rank
        FROM fr f JOIN sc s ON s.node = f.url
    """,
        "text_script_profile": _script_profile_oracle_sql(),
        "corpus_delta": """
            -- the whole diff restated from doc_id arithmetic + md5
            WITH old AS (
                SELECT 'https://c/p' || CAST(doc_id AS VARCHAR) AS key,
                       md5(text) AS old_digest, doc_id
                FROM documents
            ),
            new AS (
                SELECT 'https://c/p' || CAST(doc_id AS VARCHAR) AS key,
                       md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                                ELSE text END) AS new_digest
                FROM documents WHERE doc_id % 11 <> 0
                UNION ALL
                SELECT 'https://c/new' || CAST(doc_id AS VARCHAR),
                       md5('fresh ' || CAST(doc_id AS VARCHAR))
                FROM documents WHERE doc_id % 13 = 0
            ),
            j AS (
                SELECT coalesce(o.key, n.key) AS key,
                       o.old_digest, n.new_digest,
                       o.key IS NOT NULL AS in_old,
                       n.key IS NOT NULL AS in_new
                FROM old o FULL JOIN new n ON o.key = n.key
            )
            SELECT key,
                   CASE WHEN NOT in_old THEN 'added'
                        WHEN NOT in_new THEN 'removed'
                        WHEN old_digest IS NOT DISTINCT FROM new_digest
                             THEN 'unchanged'
                        ELSE 'changed' END AS status,
                   old_digest, new_digest
            FROM j
            WHERE NOT (in_old AND in_new
                       AND old_digest IS NOT DISTINCT FROM new_digest)
        """,
        "sample_deterministic": """
            SELECT doc_id FROM documents
            WHERE ('0x' || substr(md5(doc_id || 'r2'), 1, 8))::BIGINT
                  / 4294967296.0 < 0.3
        """,
        "sample_stratified": """
            SELECT doc_id, lang FROM documents
            WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  / 4294967296.0
                  < CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.2
                              WHEN 'de' THEN 0.4 ELSE 0.05 END
        """,
        "sample_mixture": f"""
            -- temperature thinning: rate_s = (n_s/N)^(a-1) / max_s,
            -- keep iff md5 draw < rate; a = 0.5
            WITH strat AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 100 < 80 THEN 'web'
                            WHEN doc_id % 100 < 95 THEN 'news'
                            WHEN doc_id % 100 < 99 THEN 'books'
                            ELSE 'wiki' END AS stratum
                FROM documents
            ),
            cnt AS (
                SELECT stratum, count(*)::BIGINT AS n
                FROM strat GROUP BY stratum
            ),
            tot AS (SELECT sum(n)::BIGINT AS ntot FROM cnt),
            raw AS (
                SELECT stratum,
                       pow(CAST(n AS DOUBLE) / ntot,
                           {0.5 - 1.0!r}) AS r
                FROM cnt CROSS JOIN tot
            ),
            mx AS (SELECT max(r) AS rmax FROM raw),
            rates AS (
                SELECT stratum, r / rmax AS rate
                FROM raw CROSS JOIN mx
            )
            SELECT d.doc_id, d.stratum
            FROM strat d JOIN rates USING (stratum)
            WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                                      || 'mix'), 1, 8))::BIGINT
                  / 4294967296.0 < rate
        """,
        "f_registrable_domain_psl": """
            -- independent restatement of every PSL branch from doc_id
            -- arithmetic (exact / exception-beats-wildcard / wildcard
            -- / bare-public-suffix NULL / deep wildcard / implicit):
            -- rules were (com, co.uk, zz, *.ck, !www.ck, *.wfarm.org)
            SELECT doc_id,
                   CASE doc_id % 6
                     WHEN 0 THEN 'a' || doc_id || '.b.example.com'
                     WHEN 1 THEN 'x' || doc_id || '.shop.www.ck'
                     WHEN 2 THEN 'a' || doc_id || '.b' || doc_id || '.ck'
                     WHEN 3 THEN 'b' || doc_id || '.ck'
                     WHEN 4 THEN 'h' || doc_id || '.w.wfarm.org'
                     ELSE 'only' || doc_id || '.unknowntld'
                   END AS host,
                   CASE doc_id % 6
                     WHEN 0 THEN 'example.com'
                     WHEN 1 THEN 'www.ck'
                     WHEN 2 THEN 'a' || doc_id || '.b' || doc_id || '.ck'
                     WHEN 3 THEN NULL
                     WHEN 4 THEN 'h' || doc_id || '.w.wfarm.org'
                     ELSE 'only' || doc_id || '.unknowntld'
                   END AS rd
            FROM documents
        """,
        "f_registrable_domain": """
            -- independent restatement: the expected eTLD+1 for each
            -- host shape from doc_id arithmetic alone — the engine's
            -- suffix-list logic is never re-run here
            SELECT doc_id,
                   CASE doc_id % 5
                     WHEN 0 THEN 'a' || doc_id || '.b.example.com'
                     WHEN 1 THEN 'shop' || (doc_id % 3) || '.example'
                       || doc_id || '.co.uk'
                     WHEN 2 THEN 'u' || doc_id || '.github.io'
                     WHEN 3 THEN 'weird' || doc_id || '.host'
                       || doc_id || '.zz'
                     ELSE 'co.uk'
                   END AS host,
                   CASE doc_id % 5
                     WHEN 0 THEN 'example.com'
                     WHEN 1 THEN 'example' || doc_id || '.co.uk'
                     WHEN 2 THEN 'u' || doc_id || '.github.io'
                     WHEN 3 THEN 'host' || doc_id || '.zz'
                     ELSE NULL
                   END AS rd
            FROM documents
        """,
        "f_url_gate": """
            -- full from-scratch recompute: same url construction,
            -- same RE2-safe path regex, splits, digit strip,
            -- substring counts, integer thresholds
            WITH u AS (
                SELECT doc_id,
                       'https://h' || (doc_id % 7) || '.example.com' ||
                       CASE doc_id % 6
                         WHEN 0 THEN '/articles/' || doc_id || '/' ||
                           CASE WHEN doc_id % 5 = 0
                                THEN 'a' || repeat('x', 2100)
                                ELSE 'a.html' END
                         WHEN 1 THEN '/a/b/c/d/e/f/g/h/i/j/k/l/m/'
                           || doc_id
                         WHEN 2 THEN '/p' || doc_id ||
                           '?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8&i=9'
                         WHEN 3 THEN '/img/' || doc_id || '.PNG'
                         WHEN 4 THEN '/' || doc_id || '0123456789012345'
                         ELSE '/casino/' || doc_id
                       END AS url
                FROM documents
            ),
            f AS (
                SELECT doc_id, url,
                       length(url) AS url_len,
                       regexp_extract(url,
                         '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS path
                FROM u
            ),
            g AS (
                SELECT *,
                       len(list_filter(string_split(path, '/'),
                                       x -> x <> '')) AS depth,
                       length(regexp_replace(path, '[^0-9]', '', 'g'))
                         AS digits,
                       string_split(path, '/')[-1] AS leaf,
                       CASE WHEN contains(url, '?')
                            THEN len(string_split(
                                regexp_extract(url, '\\?([^#]*)', 1),
                                '&'))
                            ELSE 0 END AS nq,
                       contains(lower(url), 'casino')::INTEGER
                       + contains(lower(url), 'poker')::INTEGER
                         AS n_banned
                FROM f
            ),
            h AS (
                SELECT *,
                       CASE WHEN contains(leaf, '.')
                            THEN lower(string_split(leaf, '.')[-1])
                            ELSE '' END AS ext
                FROM g
            )
            SELECT doc_id, url,
                   url_len <= 2048 AS url_ok_len,
                   depth <= 12 AS url_ok_depth,
                   nq <= 8 AS url_ok_query,
                   digits * 2 <= length(path) * 1 AS url_ok_digits,
                   NOT list_contains(
                     ['css','js','png','jpg','jpeg','gif','svg','ico',
                      'webp','mp3','mp4','avi','mov','zip','gz','tar',
                      'rar','exe','woff','woff2','ttf','pdf'], ext)
                     AS url_ok_ext,
                   n_banned AS url_n_banned,
                   (url_len <= 2048 AND depth <= 12 AND nq <= 8
                    AND digits * 2 <= length(path)
                    AND NOT list_contains(
                      ['css','js','png','jpg','jpeg','gif','svg','ico',
                       'webp','mp3','mp4','avi','mov','zip','gz','tar',
                       'rar','exe','woff','woff2','ttf','pdf'], ext)
                    AND n_banned <= 0) AS url_keep
            FROM h
        """,
        "f_mirror_hosts": """
            -- same construction, every step recomputed from scratch:
            -- distinct (host, md5) -> uncut sizes -> boilerplate cut
            -- -> digest self-join -> integer containment test
            WITH pages AS (
                SELECT 'h' || (doc_id % 5) AS host,
                       coalesce(text, '') AS text
                FROM documents
                UNION ALL
                SELECT 'm' || (doc_id % 5), coalesce(text, '')
                FROM documents WHERE doc_id % 3 = 0
                UNION ALL
                SELECT h, 'banner' FROM (
                    SELECT unnest(['h0','h1','h2','h3','h4',
                                   'm0','m1','m2','m3','m4']) AS h
                )
            ),
            d AS (SELECT DISTINCT host, md5(text) AS dg FROM pages),
            sizes AS (
                SELECT host, count(*)::BIGINT AS n FROM d GROUP BY host
            ),
            spread AS (SELECT dg, count(*) AS hn FROM d GROUP BY dg),
            kept AS (
                SELECT d.host, d.dg FROM d JOIN spread USING (dg)
                WHERE hn <= 5
            ),
            pairs AS (
                SELECT a.host AS host_a, b.host AS host_b,
                       count(*)::BIGINT AS n_shared
                FROM kept a JOIN kept b USING (dg)
                WHERE a.host < b.host
                GROUP BY 1, 2
            )
            SELECT host_a, host_b, n_shared,
                   sa.n AS n_a, sb.n AS n_b
            FROM pairs
            JOIN sizes sa ON sa.host = host_a
            JOIN sizes sb ON sb.host = host_b
            WHERE n_shared * 2 >= least(sa.n, sb.n) * 1
        """,
        "text_tfidf_keywords": f"""
            -- postings, df, N, sklearn-smooth idf and the ranking
            -- recomputed from scratch; score = floor(tf * (ln((1+N)/
            -- (1+df)) + 1) * 1e9) — a single product of exact
            -- integers, identical IEEE tree in both engines
            WITH post AS (
                SELECT doc_id, t.term, count(*)::BIGINT AS tf
                FROM (SELECT doc_id, unnest({_WORDS}) AS term
                      FROM documents) t
                WHERE t.term <> ''
                GROUP BY doc_id, t.term
            ),
            dfc AS (
                SELECT term, count(*)::BIGINT AS df FROM post
                GROUP BY term
            ),
            nd AS (SELECT count(DISTINCT doc_id)::BIGINT AS n FROM post),
            scored AS (
                SELECT p.doc_id, p.term, p.tf, d.df,
                       floor(p.tf * (ln((1.0 + nd.n) / (1.0 + d.df))
                                     + 1.0) * 1e9)::BIGINT AS score_nano
                FROM post p JOIN dfc d USING (term) CROSS JOIN nd
                WHERE d.df * 2 <= nd.n * 1
            ),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id
                    ORDER BY score_nano DESC, term ASC
                )::INTEGER AS rank
                FROM scored
            )
            SELECT doc_id, term, tf, df, score_nano, rank
            FROM ranked WHERE rank <= 3
        """,
        "stats_length_quantiles": """
            -- exact type-1 (inverse-ECDF) quantiles recomputed from
            -- scratch: value counts -> cumulative -> smallest value
            -- reaching rank ceil(p*n); all-integer
            WITH vc AS (
                SELECT lang AS stratum, n_chars AS v,
                       count(*)::BIGINT AS c
                FROM documents WHERE n_chars IS NOT NULL
                GROUP BY 1, 2
            ),
            cum AS (
                SELECT stratum, v,
                       sum(c) OVER (PARTITION BY stratum ORDER BY v)
                         AS cumc,
                       sum(c) OVER (PARTITION BY stratum) AS n
                FROM vc
            ),
            p(p_num, p_den) AS (
                VALUES (1, 10), (1, 4), (1, 2), (3, 4), (9, 10), (1, 1)
            ),
            e AS (
                SELECT stratum, v, cumc, n,
                       p_num::BIGINT AS p_num, p_den::BIGINT AS p_den
                FROM cum CROSS JOIN p
            )
            SELECT stratum, max(n)::BIGINT AS n, p_num, p_den,
                   min(v) AS q
            FROM e
            WHERE cumc >= (p_num * n + p_den - 1) // p_den
            GROUP BY stratum, p_num, p_den
        """,
        "sample_upsample": """
            -- fractional repetition: n = floor(rate) + (draw < frac);
            -- epochs unrolled by generate_series (empty when n = 0)
            WITH strat AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 100 < 80 THEN 'web'
                            WHEN doc_id % 100 < 95 THEN 'news'
                            WHEN doc_id % 100 < 99 THEN 'books'
                            ELSE 'wiki' END AS stratum
                FROM documents
            ),
            base AS (
                SELECT doc_id, stratum,
                       CASE stratum WHEN 'wiki' THEN 3 WHEN 'books' THEN 2
                                    WHEN 'news' THEN 1 WHEN 'web' THEN 0
                                    ELSE 1 END
                       + CASE WHEN ('0x' || substr(md5(doc_id || 'rep'),
                                                   1, 8))::BIGINT
                                   / 4294967296.0
                                   < CASE stratum WHEN 'books' THEN 0.5
                                                  WHEN 'web' THEN 0.25
                                                  ELSE 0.0 END
                              THEN 1 ELSE 0 END AS n_copies
                FROM strat
            )
            SELECT doc_id, stratum,
                   unnest(range(n_copies::BIGINT))::BIGINT AS epoch
            FROM base
        """,
        "chunk_sliding_windows": """
            -- n_chunks = 1 if n <= w else 1 + ceil((n-w)/s); all-integer
            WITH d AS (
                SELECT doc_id, n_chars::BIGINT AS n FROM documents
                WHERE coalesce(n_chars, 0) > 0
            ),
            c AS (
                SELECT doc_id, n,
                       CASE WHEN n <= 256 THEN 1
                            ELSE 1 + (n - 256 + 191) // 192 END AS k
                FROM d
            ),
            e AS (
                SELECT doc_id, n,
                       unnest(range(k))::BIGINT AS chunk_id
                FROM c
            )
            SELECT doc_id, chunk_id,
                   (chunk_id * 192)::BIGINT AS start,
                   least(256, n - chunk_id * 192)::BIGINT AS piece_len
            FROM e
        """,
        "pack_shards": """
            -- the distributed two-phase rank must equal this plain
            -- single-node rank; snake arithmetic is all-integer
            WITH r AS (
                SELECT doc_id,
                       coalesce(n_chars, 0)::BIGINT AS n_tokens,
                       row_number() OVER (
                           ORDER BY coalesce(n_chars, 0) DESC, doc_id ASC
                       ) - 1 AS rnk
                FROM documents
            )
            SELECT doc_id, n_tokens,
                   (CASE WHEN (rnk // 8) % 2 = 0 THEN rnk % 8
                         ELSE 7 - (rnk % 8) END)::INTEGER AS shard
            FROM r
        """,
        "sample_host_cap": """
            -- the salted two-phase cap must equal this plain window
            WITH d AS (
                SELECT doc_id, 'h' || (doc_id % 7) AS host, n_chars
                FROM documents
            ),
            r AS (
                SELECT *, row_number() OVER (
                    PARTITION BY host
                    ORDER BY n_chars DESC, doc_id ASC
                ) AS rn
                FROM d
            )
            SELECT doc_id, host, n_chars FROM r WHERE rn <= 10
        """,
        "pipeline_curation": f"""
            WITH base AS (
                SELECT doc_id, text, {_WORDS} AS w,
                       CASE WHEN {_NORM} = '' THEN 0
                            ELSE len({_WORDS}) END AS q_n_words,
                       length(text) AS q_n_chars
                FROM documents
            ),
            lang AS (
                SELECT doc_id, text, q_n_words, q_n_chars,
                       CASE WHEN g = 0 THEN 'und'
                            WHEN s_de = g THEN 'de'
                            WHEN s_en = g THEN 'en'
                            WHEN s_es = g THEN 'es'
                            ELSE 'fr' END AS lang_pred
                FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr) AS g
                      FROM (SELECT *, {_LANG_SCORES} FROM base))
            ),
            gated AS (
                SELECT * FROM lang
                WHERE lang_pred IN ('en', 'de')
                  AND q_n_words >= 5 AND q_n_chars >= 30
            ),
            kept AS (
                SELECT doc_id, lang_pred FROM gated
                WHERE doc_id IN (
                    SELECT min(doc_id) FROM gated GROUP BY md5({_NORM})
                )
            )
            SELECT doc_id, lang_pred,
                   CASE WHEN ('0x' || substr(md5(doc_id || 'cur'), 1, 8))::BIGINT
                             / 4294967296.0 < 0.2
                        THEN 'holdout' ELSE 'train' END AS split
            FROM kept
        """,
        "pipeline_curation_v2": _curation_v2_oracle_sql(),
        "pipeline_curation_v4": _curation_v4_oracle_sql(),
        "pipeline_curation_v5": _curation_v5_oracle_sql(),
        "s3_advanced_query": _wosquery_oracle_sql(),
        "j4_seed_match_advanced": _adv_seed_oracle_sql(),
        "text_strip_boilerplate": _boilerplate_oracle_sql(),
        "f_backoff_plan": """
            -- the integer rules + dim merge + compactness from scratch
            WITH stats AS (
                SELECT 'h' || CAST(user_id % 37 AS VARCHAR) AS host,
                       COUNT(*)::BIGINT AS sched,
                       SUM(CASE WHEN event_type = 'error' THEN 1
                           ELSE 0 END)::BIGINT AS miss
                FROM events WHERE user_id IS NOT NULL GROUP BY 1
            ),
            merged AS (
                SELECT host, sched, miss,
                       CASE WHEN CAST(substr(host, 2) AS BIGINT) % 5 = 0
                            THEN 2.5 ELSE 1.0 END AS base,
                       sched >= 50 AND miss * 100 >= 20 * sched
                           AS backed,
                       sched >= 50 AND miss * 100 >= 25 * sched
                           AS quar
                FROM stats
            )
            SELECT host,
                   CASE WHEN backed THEN base * 4 ELSE base END
                       AS crawl_delay,
                   CAST(quar AS BIGINT) AS quarantined
            FROM merged
            WHERE quar
               OR (CASE WHEN backed THEN base * 4 ELSE base END) <> 1.0
        """,
        "stats_corpus_datacard": f"""
            -- the whole card from scratch; every value BIGINT
            WITH base AS (
                SELECT COUNT(*)::BIGINT AS n_docs,
                       SUM(CASE WHEN text IS NULL THEN 1 ELSE 0
                           END)::BIGINT AS n_null_text,
                       SUM(coalesce(octet_length(encode(text)), 0))
                           ::BIGINT AS total_bytes,
                       COUNT(DISTINCT lang)::BIGINT AS n_langs,
                       (COUNT(text) - COUNT(DISTINCT md5({_NORM})))
                           ::BIGINT AS n_exact_dup
                FROM documents
            ),
            flat AS (
                SELECT 'n_docs' AS metric, n_docs AS value FROM base
                UNION ALL SELECT 'n_null_text', n_null_text FROM base
                UNION ALL SELECT 'total_bytes', total_bytes FROM base
                UNION ALL SELECT 'n_langs', n_langs FROM base
                UNION ALL SELECT 'n_exact_dup', n_exact_dup FROM base
            ),
            langs AS (
                SELECT 'lang:' || lang AS metric,
                       COUNT(*)::BIGINT AS value
                FROM documents WHERE lang IS NOT NULL GROUP BY lang
            ),
            vc AS (
                SELECT octet_length(encode(text)) AS v,
                       count(*)::BIGINT AS c
                FROM documents WHERE text IS NOT NULL GROUP BY 1
            ),
            cum AS (
                SELECT v, sum(c) OVER (ORDER BY v) AS cumc,
                       sum(c) OVER () AS n
                FROM vc
            ),
            p(p_num, p_den) AS (VALUES (1, 2), (9, 10)),
            q AS (
                SELECT 'len_p' || CAST((p_num * 100) // p_den AS VARCHAR)
                           AS metric,
                       min(v)::BIGINT AS value
                FROM cum CROSS JOIN p
                WHERE cumc >= (p_num * n + p_den - 1) // p_den
                GROUP BY p_num, p_den
            )
            SELECT * FROM flat
            UNION ALL SELECT * FROM langs
            UNION ALL SELECT * FROM q
        """,
        "pipeline_seed_discovery": """
            -- five operator stages restated from doc_id arithmetic:
            -- robots directive -> sitemap body -> parse -> latest
            -- claim -> staleness gate. Single claim per url here, so
            -- the gate logic is the s_sitemap_stale rule verbatim.
            WITH base AS (
                SELECT doc_id,
                       'https://dom' || CAST(doc_id % 7 AS VARCHAR)
                         || '.com/p' || CAST(doc_id AS VARCHAR) AS url,
                       (doc_id % 27) + 1 AS day_claimed,
                       ((doc_id * 7) % 27) + 1 AS day_stored,
                       doc_id % 13 <> 0 AS has_lastmod,
                       doc_id % 5 <> 0 AS stored
                FROM documents
            )
            SELECT url,
                   CASE WHEN NOT stored THEN 'new' ELSE 'stale' END
                       AS status,
                   CASE WHEN has_lastmod
                        THEN CAST(day_claimed AS BIGINT) END
                       AS day_claimed
            FROM base
            WHERE (NOT stored)
               OR (has_lastmod AND day_claimed > day_stored)
        """,
        "s_sitemap_stale": """
            -- independent restatement from doc_id arithmetic: the
            -- serialize->parse->latest-claim-window->store-join chain
            -- is entirely the engine's to get right
            WITH base AS (
                SELECT doc_id,
                       'https://dom' || CAST(doc_id % 11 AS VARCHAR)
                         || '.com/p' || CAST(doc_id AS VARCHAR) AS url,
                       (doc_id % 27) + 1 AS day_claimed,
                       ((doc_id * 7) % 27) + 1 AS day_stored,
                       doc_id % 13 <> 0 AS has_lastmod,
                       doc_id % 5 <> 0 AS stored
                FROM documents
            )
            SELECT url,
                   CASE WHEN NOT stored THEN 'new' ELSE 'stale' END
                       AS status,
                   CASE WHEN has_lastmod
                        THEN CAST(day_claimed AS BIGINT) END
                       AS day_claimed,
                   CASE WHEN stored
                        THEN CAST(day_stored AS BIGINT) END
                       AS day_stored
            FROM base
            WHERE (NOT stored)
               OR (has_lastmod AND day_claimed > day_stored)
        """,
        "text_lang_id": f"""
            SELECT doc_id,
                   CASE WHEN g = 0 THEN 'und'
                        WHEN s_de = g THEN 'de'
                        WHEN s_en = g THEN 'en'
                        WHEN s_es = g THEN 'es'
                        ELSE 'fr' END AS lang_pred
            FROM (
                SELECT doc_id, {_LANG_SCORES},
                       greatest(s_de, s_en, s_es, s_fr) AS g
                FROM (SELECT doc_id, {_WORDS} AS w FROM documents)
            )
        """,
        "text_token_counts": f"""
            SELECT doc_id,
                   CASE WHEN {_NORM} = '' THEN 0
                        ELSE len({_WORDS}) END AS n_tokens_ws,
                   len(regexp_extract_all(text, '{_TOKEN_RE}')) AS n_tokens_bpe
            FROM documents
        """,
        "text_quality": f"""
            SELECT doc_id, q_n_chars, q_n_words,
                   round((norm_len - (q_n_words - 1)) /
                         greatest(q_n_words, 1), 4) AS q_avg_word_len,
                   round(punct_ratio, 6) AS q_punct_ratio,
                   round(stop_ratio, 6) AS q_stopword_ratio,
                   round(0.5 * least(q_n_words / 100.0, 1.0)
                       + 0.3 * (1.0 - least(punct_ratio * 10, 1.0))
                       + 0.2 * least(stop_ratio * 5, 1.0), 6) AS q_score
            FROM (
                SELECT doc_id,
                       length(text) AS q_n_chars,
                       CASE WHEN {_NORM} = '' THEN 0
                            ELSE len({_WORDS}) END AS q_n_words,
                       length({_NORM}) AS norm_len,
                       CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                         / greatest(length(text), 1) AS punct_ratio,
                       CAST(len(list_intersect({_WORDS}, {_ALL_STOP})) AS DOUBLE)
                         / greatest(len({_WORDS}), 1) AS stop_ratio
                FROM documents
            )
        """,
        "text_fingerprint": f"""
            SELECT doc_id, md5({_NORM}) AS fp FROM documents
        """,
        "text_gopher_quality": f"""
            -- Gopher rules recomputed from scratch: every threshold is
            -- an integer cross-multiplication, so the booleans are
            -- bit-identical across engines (no float boundaries)
            WITH g AS (
                SELECT doc_id,
                       CASE WHEN {_NORM} = '' THEN 0
                            ELSE len({_WORDS}) END AS n_words,
                       length({_NORM}) -
                         (CASE WHEN {_NORM} = '' THEN 0
                               ELSE len({_WORDS}) END - 1) AS sum_len,
                       greatest(len(string_split(text, chr(10))), 1)
                         AS n_lines,
                       len(list_filter(string_split(text, chr(10)),
                           x -> starts_with(trim(x), '-')
                             OR starts_with(trim(x), '*')
                             OR starts_with(trim(x), '•'))) AS n_bullet,
                       len(list_filter(string_split(text, chr(10)),
                           x -> ends_with(rtrim(x), '...')
                             OR ends_with(rtrim(x), '…'))) AS n_ell,
                       len(regexp_extract_all(text, '#|\\.\\.\\.|…'))
                         AS n_sym,
                       len(list_filter({_WORDS},
                           x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
                       len(list_intersect({_WORDS},
                           ['the','be','to','of','and','that','have',
                            'with'])) AS n_stop
                -- gopher_rules coalesces NULL text to '' up front;
                -- mirror that here so the booleans stay bit-identical
                -- on corpora that carry NULL documents
                FROM (SELECT doc_id, coalesce(text, '') AS text
                      FROM documents)
            )
            SELECT doc_id,
                   CAST(n_words >= 30 AND n_words <= 80 AS INTEGER)
                     AS r_word_count,
                   CAST(sum_len >= 3 * n_words
                        AND sum_len <= 10 * n_words AS INTEGER)
                     AS r_mean_word_len,
                   CAST(n_sym * 10 < n_words AS INTEGER)
                     AS r_symbol_ratio,
                   CAST(n_bullet * 10 < n_lines * 9 AS INTEGER)
                     AS r_bullet_lines,
                   CAST(n_ell * 10 < n_lines * 3 AS INTEGER)
                     AS r_ellipsis_lines,
                   CAST(n_alpha * 5 > n_words * 4 AS INTEGER)
                     AS r_alpha_words,
                   CAST(n_stop >= 1 AS INTEGER) AS r_stopwords,
                   CAST(n_words >= 30 AND n_words <= 80
                        AND sum_len >= 3 * n_words
                        AND sum_len <= 10 * n_words
                        AND n_sym * 10 < n_words
                        AND n_bullet * 10 < n_lines * 9
                        AND n_ell * 10 < n_lines * 3
                        AND n_alpha * 5 > n_words * 4
                        AND n_stop >= 1 AS INTEGER) AS gopher_keep
            FROM g
        """,
        "text_gopher_repetition": f"""
            -- Gopher §A1.2 repetition stats recomputed from scratch:
            -- line/para duplicate mass via list algebra, n-gram mass
            -- via a lead-window n-gram construction + GROUP BY. All
            -- thresholds are the same integer cross-multiplications
            -- the Spark operator evaluates.
            WITH d AS (
                SELECT doc_id, coalesce(text, '') AS text FROM documents
            ), base AS (
                SELECT doc_id, text, {_NORM} AS norm,
                       CAST(length(text) AS BIGINT) AS total_chars,
                       CAST(length({_NORM}) AS BIGINT) AS norm_chars
                FROM d
            ), segs AS (
                SELECT doc_id,
                       string_split(text, chr(10)) AS lns,
                       string_split(text, chr(10) || chr(10)) AS prs
                FROM d
            ), seg_stats AS (
                SELECT doc_id,
                       CAST(len(lns) AS BIGINT) AS n_lines,
                       CAST(len(lns) - len(list_distinct(lns)) AS BIGINT)
                         AS dup_lines,
                       CAST(coalesce(list_sum(list_transform(lns,
                                x -> length(x))), 0)
                          - coalesce(list_sum(list_transform(
                                list_distinct(lns), x -> length(x))), 0)
                            AS BIGINT) AS dup_line_chars,
                       CAST(len(prs) AS BIGINT) AS n_paras,
                       CAST(len(prs) - len(list_distinct(prs)) AS BIGINT)
                         AS dup_paras,
                       CAST(coalesce(list_sum(list_transform(prs,
                                x -> length(x))), 0)
                          - coalesce(list_sum(list_transform(
                                list_distinct(prs), x -> length(x))), 0)
                            AS BIGINT) AS dup_para_chars
                FROM segs
            ), toks AS (
                SELECT doc_id,
                       unnest(string_split(norm, ' ')) AS w,
                       generate_subscripts(
                           string_split(norm, ' '), 1) AS pos
                FROM base
            ), grams AS (
                SELECT doc_id,
                       w || ' ' || lead(w, 1) OVER win AS g2,
                       w || ' ' || lead(w, 1) OVER win
                         || ' ' || lead(w, 2) OVER win AS g3,
                       w || ' ' || lead(w, 1) OVER win
                         || ' ' || lead(w, 2) OVER win
                         || ' ' || lead(w, 3) OVER win AS g4,
                       w || ' ' || lead(w, 1) OVER win
                         || ' ' || lead(w, 2) OVER win
                         || ' ' || lead(w, 3) OVER win
                         || ' ' || lead(w, 4) OVER win AS g5,
                       w || ' ' || lead(w, 1) OVER win
                         || ' ' || lead(w, 2) OVER win
                         || ' ' || lead(w, 3) OVER win
                         || ' ' || lead(w, 4) OVER win
                         || ' ' || lead(w, 5) OVER win AS g6,
                       w || ' ' || lead(w, 1) OVER win
                         || ' ' || lead(w, 2) OVER win
                         || ' ' || lead(w, 3) OVER win
                         || ' ' || lead(w, 4) OVER win
                         || ' ' || lead(w, 5) OVER win
                         || ' ' || lead(w, 6) OVER win AS g7,
                       w || ' ' || lead(w, 1) OVER win
                         || ' ' || lead(w, 2) OVER win
                         || ' ' || lead(w, 3) OVER win
                         || ' ' || lead(w, 4) OVER win
                         || ' ' || lead(w, 5) OVER win
                         || ' ' || lead(w, 6) OVER win
                         || ' ' || lead(w, 7) OVER win AS g8,
                       w || ' ' || lead(w, 1) OVER win
                         || ' ' || lead(w, 2) OVER win
                         || ' ' || lead(w, 3) OVER win
                         || ' ' || lead(w, 4) OVER win
                         || ' ' || lead(w, 5) OVER win
                         || ' ' || lead(w, 6) OVER win
                         || ' ' || lead(w, 7) OVER win
                         || ' ' || lead(w, 8) OVER win AS g9,
                       w || ' ' || lead(w, 1) OVER win
                         || ' ' || lead(w, 2) OVER win
                         || ' ' || lead(w, 3) OVER win
                         || ' ' || lead(w, 4) OVER win
                         || ' ' || lead(w, 5) OVER win
                         || ' ' || lead(w, 6) OVER win
                         || ' ' || lead(w, 7) OVER win
                         || ' ' || lead(w, 8) OVER win
                         || ' ' || lead(w, 9) OVER win AS g10
                FROM toks
                WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
            ),
            top2 AS (SELECT doc_id, cnt * length(g2) AS chars FROM (
                SELECT doc_id, g2, count(*) AS cnt, row_number() OVER (
                    PARTITION BY doc_id ORDER BY count(*) DESC, g2 ASC
                ) AS rn FROM grams WHERE g2 IS NOT NULL
                GROUP BY doc_id, g2) WHERE rn = 1 AND cnt >= 2),
            top3 AS (SELECT doc_id, cnt * length(g3) AS chars FROM (
                SELECT doc_id, g3, count(*) AS cnt, row_number() OVER (
                    PARTITION BY doc_id ORDER BY count(*) DESC, g3 ASC
                ) AS rn FROM grams WHERE g3 IS NOT NULL
                GROUP BY doc_id, g3) WHERE rn = 1 AND cnt >= 2),
            top4 AS (SELECT doc_id, cnt * length(g4) AS chars FROM (
                SELECT doc_id, g4, count(*) AS cnt, row_number() OVER (
                    PARTITION BY doc_id ORDER BY count(*) DESC, g4 ASC
                ) AS rn FROM grams WHERE g4 IS NOT NULL
                GROUP BY doc_id, g4) WHERE rn = 1 AND cnt >= 2),
            dup5 AS (SELECT doc_id, sum(cnt * length(g5)) AS chars FROM (
                SELECT doc_id, g5, count(*) AS cnt FROM grams
                WHERE g5 IS NOT NULL GROUP BY doc_id, g5)
                WHERE cnt >= 2 GROUP BY doc_id),
            dup6 AS (SELECT doc_id, sum(cnt * length(g6)) AS chars FROM (
                SELECT doc_id, g6, count(*) AS cnt FROM grams
                WHERE g6 IS NOT NULL GROUP BY doc_id, g6)
                WHERE cnt >= 2 GROUP BY doc_id),
            dup7 AS (SELECT doc_id, sum(cnt * length(g7)) AS chars FROM (
                SELECT doc_id, g7, count(*) AS cnt FROM grams
                WHERE g7 IS NOT NULL GROUP BY doc_id, g7)
                WHERE cnt >= 2 GROUP BY doc_id),
            dup8 AS (SELECT doc_id, sum(cnt * length(g8)) AS chars FROM (
                SELECT doc_id, g8, count(*) AS cnt FROM grams
                WHERE g8 IS NOT NULL GROUP BY doc_id, g8)
                WHERE cnt >= 2 GROUP BY doc_id),
            dup9 AS (SELECT doc_id, sum(cnt * length(g9)) AS chars FROM (
                SELECT doc_id, g9, count(*) AS cnt FROM grams
                WHERE g9 IS NOT NULL GROUP BY doc_id, g9)
                WHERE cnt >= 2 GROUP BY doc_id),
            dup10 AS (SELECT doc_id, sum(cnt * length(g10)) AS chars FROM (
                SELECT doc_id, g10, count(*) AS cnt FROM grams
                WHERE g10 IS NOT NULL GROUP BY doc_id, g10)
                WHERE cnt >= 2 GROUP BY doc_id),
            counts AS (
                SELECT b.doc_id, b.total_chars, b.norm_chars,
                       s.n_lines, s.dup_lines, s.dup_line_chars,
                       s.n_paras, s.dup_paras, s.dup_para_chars,
                       CAST(coalesce(t2.chars, 0) AS BIGINT) AS top2gram_chars,
                       CAST(coalesce(t3.chars, 0) AS BIGINT) AS top3gram_chars,
                       CAST(coalesce(t4.chars, 0) AS BIGINT) AS top4gram_chars,
                       CAST(coalesce(d5.chars, 0) AS BIGINT) AS dup5gram_chars,
                       CAST(coalesce(d6.chars, 0) AS BIGINT) AS dup6gram_chars,
                       CAST(coalesce(d7.chars, 0) AS BIGINT) AS dup7gram_chars,
                       CAST(coalesce(d8.chars, 0) AS BIGINT) AS dup8gram_chars,
                       CAST(coalesce(d9.chars, 0) AS BIGINT) AS dup9gram_chars,
                       CAST(coalesce(d10.chars, 0) AS BIGINT)
                         AS dup10gram_chars
                FROM base b
                JOIN seg_stats s USING (doc_id)
                LEFT JOIN top2 t2 USING (doc_id)
                LEFT JOIN top3 t3 USING (doc_id)
                LEFT JOIN top4 t4 USING (doc_id)
                LEFT JOIN dup5 d5 USING (doc_id)
                LEFT JOIN dup6 d6 USING (doc_id)
                LEFT JOIN dup7 d7 USING (doc_id)
                LEFT JOIN dup8 d8 USING (doc_id)
                LEFT JOIN dup9 d9 USING (doc_id)
                LEFT JOIN dup10 d10 USING (doc_id)
            )
            SELECT doc_id, total_chars, norm_chars, n_lines, dup_lines,
                   dup_line_chars, n_paras, dup_paras, dup_para_chars,
                   top2gram_chars, top3gram_chars, top4gram_chars,
                   dup5gram_chars, dup6gram_chars, dup7gram_chars,
                   dup8gram_chars, dup9gram_chars, dup10gram_chars,
                   CAST(dup_lines * 10 <= n_lines * 3 AS INTEGER)
                     AS r_dup_line_frac,
                   CAST(dup_paras * 10 <= n_paras * 3 AS INTEGER)
                     AS r_dup_para_frac,
                   CAST(dup_line_chars * 5 <= total_chars AS INTEGER)
                     AS r_dup_line_chars,
                   CAST(dup_para_chars * 5 <= total_chars AS INTEGER)
                     AS r_dup_para_chars,
                   CAST(top2gram_chars * 5 <= norm_chars * 1 AS INTEGER)
                     AS r_top2gram_chars,
                   CAST(top3gram_chars * 50 <= norm_chars * 9 AS INTEGER)
                     AS r_top3gram_chars,
                   CAST(top4gram_chars * 25 <= norm_chars * 4 AS INTEGER)
                     AS r_top4gram_chars,
                   CAST(dup5gram_chars * 20 <= norm_chars * 3 AS INTEGER)
                     AS r_dup5gram_chars,
                   CAST(dup6gram_chars * 50 <= norm_chars * 7 AS INTEGER)
                     AS r_dup6gram_chars,
                   CAST(dup7gram_chars * 100 <= norm_chars * 13 AS INTEGER)
                     AS r_dup7gram_chars,
                   CAST(dup8gram_chars * 25 <= norm_chars * 3 AS INTEGER)
                     AS r_dup8gram_chars,
                   CAST(dup9gram_chars * 100 <= norm_chars * 11 AS INTEGER)
                     AS r_dup9gram_chars,
                   CAST(dup10gram_chars * 10 <= norm_chars * 1 AS INTEGER)
                     AS r_dup10gram_chars,
                   CAST(dup_lines * 10 <= n_lines * 3
                        AND dup_paras * 10 <= n_paras * 3
                        AND dup_line_chars * 5 <= total_chars
                        AND dup_para_chars * 5 <= total_chars
                        AND top2gram_chars * 5 <= norm_chars * 1
                        AND top3gram_chars * 50 <= norm_chars * 9
                        AND top4gram_chars * 25 <= norm_chars * 4
                        AND dup5gram_chars * 20 <= norm_chars * 3
                        AND dup6gram_chars * 50 <= norm_chars * 7
                        AND dup7gram_chars * 100 <= norm_chars * 13
                        AND dup8gram_chars * 25 <= norm_chars * 3
                        AND dup9gram_chars * 100 <= norm_chars * 11
                        AND dup10gram_chars * 10 <= norm_chars * 1
                        AS INTEGER) AS rep_keep
            FROM counts
        """,
        # ---- snapshot-backed oracles (parse family / crawl / media) --
        "parse_wos_plaintext": f"""
            SELECT url, unique_id, journal, pub_year, document_type,
                   doi, n_authors, n_refs, extracted_len
            FROM {_snap("parsed_docs")}
        """,
        "parse_tab": f"""
            SELECT url, unique_id, journal, pub_year, document_type,
                   doi, n_authors, n_refs, extracted_len
            FROM {_snap("parsed_docs")}
        """,
        "parse_xml": f"""
            SELECT url, unique_id, journal, pub_year, document_type,
                   doi, n_authors, n_refs, extracted_len
            FROM {_snap("parsed_docs")}
        """,
        "parse_bibtex": f"""
            SELECT url, unique_id, title, pub_year, n_authors
            FROM {_snap("parsed_bib")}
        """,
        "j5_author_affiliations": f"""
            SELECT a.unique_id, a."rank", a.full_name, f.address
            FROM {_snap("parsed_authors")} a
            JOIN {_snap("parsed_affs")} f
              ON a.unique_id = f.unique_id AND a."rank" = f.author_rank
        """,
        "j6_citation_doi_link": f"""
            SELECT r.unique_id AS citing_uid, d.unique_id AS cited_uid,
                   r.ref_doi AS doi
            FROM {_snap("parsed_refs")} r
            JOIN {_snap("parsed_docs")} d
              ON lower(r.ref_doi) = lower(d.doi)
        """,
        "a5_distinct_documents": f"""
            SELECT journal, count(*) AS n_docs, max(pub_year) AS max_year
            FROM (SELECT DISTINCT unique_id, journal, pub_year
                  FROM {_snap("parsed_docs")})
            GROUP BY journal
        """,
        "f5_doctype_filter": f"""
            SELECT pub_year, count(*) AS n_articles
            FROM {_snap("parsed_docs")}
            WHERE document_type = 'Article'
            GROUP BY pub_year
        """,
        "crawl_end_to_end": f"""
            SELECT wave, host, n_fetched, first_ts, last_ts
            FROM {_snap("crawl_fetch_log")}
        """,
        "multimodal_features": f"""
            SELECT asset_id, feat_dim, f0 FROM {_snap("media_feats")}
        """,
        "multimodal_decode_real": """
            -- closed-form pixel twin of the PPM fixture: pixel (x, y)
            -- channel c of asset i is (i*31 + x*7 + y*13 + c*97) % 256,
            -- gray = (r+g+b) // 3, cell of x = x*4 // w; the engine
            -- must arrive at the same integers THROUGH real PPM bytes
            -- and the real decoder
            WITH d AS (
                SELECT i, 8 + i % 5 AS w, 6 + i % 3 AS h
                FROM (SELECT unnest(range(0, 200)) AS i)
            ),
            px AS (
                SELECT d.i, ux.x, uy.y, d.w, d.h,
                       ((d.i*31 + ux.x*7 + uy.y*13) % 256
                        + (d.i*31 + ux.x*7 + uy.y*13 + 97) % 256
                        + (d.i*31 + ux.x*7 + uy.y*13 + 194) % 256) // 3
                           AS gray
                FROM d, unnest(range(0, d.w)) ux(x),
                        unnest(range(0, d.h)) uy(y)
            )
            SELECT i AS asset_id,
                   ((y*4) // h) * 4 + (x*4) // w AS cell,
                   CAST(SUM(gray) // COUNT(*) AS BIGINT) AS gray_mean
            FROM px GROUP BY asset_id, cell
        """,
        "multimodal_image_neardup": """
            -- closed-form dHash twin + BRUTE-FORCE all-pairs verify:
            -- asset i's pixel seed is j = i % 150 (assets 150..199
            -- duplicate 0..49); gray formula as in
            -- multimodal_decode_real but on the 9×8 dHash grid with
            -- INTERVAL binning at minimum width 1 (grid cell cy,cx
            -- covers pixel rows [cy*h//8, max((cy+1)*h//8, cy*h//8+1))
            -- — short/narrow images share pixel rows across cells
            -- instead of leaving structurally-zero cells); a row
            -- byte's bit cx is set iff cell[cx+1] > cell[cx].
            WITH a AS (
                SELECT i, i % 150 AS j
                FROM (SELECT unnest(range(0, 200)) AS i)
            ),
            d AS (
                SELECT a.i, a.j, 8 + a.j % 5 AS w, 6 + a.j % 3 AS h
                FROM a
            ),
            px AS (
                SELECT d.i, ux.x, uy.y, d.w, d.h,
                       ((d.j*31 + ux.x*7 + uy.y*13) % 256
                        + (d.j*31 + ux.x*7 + uy.y*13 + 97) % 256
                        + (d.j*31 + ux.x*7 + uy.y*13 + 194) % 256) // 3
                           AS gray
                FROM d, unnest(range(0, d.w)) ux(x),
                        unnest(range(0, d.h)) uy(y)
            ),
            cells AS (
                SELECT px.i, cy.cy, cx.cx,
                       CAST(SUM(px.gray) // COUNT(*) AS BIGINT) AS cell
                FROM px, unnest(range(0, 8)) cy(cy),
                         unnest(range(0, 9)) cx(cx)
                WHERE px.y >= (cy.cy * px.h) // 8
                  AND (px.y < ((cy.cy + 1) * px.h) // 8
                       OR px.y = (cy.cy * px.h) // 8)
                  AND px.x >= (cx.cx * px.w) // 9
                  AND (px.x < ((cx.cx + 1) * px.w) // 9
                       OR px.x = (cx.cx * px.w) // 9)
                GROUP BY px.i, cy.cy, cx.cx
            ),
            bands AS (
                SELECT c1.i, c1.cy AS band_id,
                       CAST(SUM(CASE WHEN c2.cell > c1.cell
                                     THEN 1 << c1.cx ELSE 0 END)
                            AS BIGINT) AS band
                FROM cells c1 JOIN cells c2
                  ON c2.i = c1.i AND c2.cy = c1.cy AND c2.cx = c1.cx + 1
                WHERE c1.cx < 8
                GROUP BY c1.i, c1.cy
            )
            SELECT ba.i AS id_a, bb.i AS id_b,
                   CAST(SUM(bit_count(xor(ba.band, bb.band))) AS BIGINT)
                       AS hamming
            FROM bands ba JOIN bands bb
              ON bb.band_id = ba.band_id AND ba.i < bb.i
            GROUP BY id_a, id_b
            HAVING SUM(bit_count(xor(ba.band, bb.band))) <= 4
        """,
        "multimodal_resize_real": """
            -- closed-form resize twin: target pixel (cx, cy) channel c
            -- of asset i = floor-mean of the fixture formula over the
            -- min-width-1 interval cell of the w×h source — the engine
            -- must arrive at the same integers through real PPM bytes,
            -- the real decoder, integer resize, RE-serialization and a
            -- second real decode
            WITH d AS (
                SELECT i, 8 + i % 5 AS w, 6 + i % 3 AS h
                FROM (SELECT unnest(range(0, 200)) AS i)
            ),
            px AS (
                SELECT d.i, ux.x, uy.y, d.w, d.h, c.c,
                       (d.i*31 + ux.x*7 + uy.y*13 + c.c*97) % 256 AS v
                FROM d, unnest(range(0, d.w)) ux(x),
                        unnest(range(0, d.h)) uy(y),
                        unnest(range(0, 3)) c(c)
            )
            SELECT px.i AS asset_id, cy.y, cx.x, px.c,
                   CAST(SUM(px.v) // COUNT(*) AS BIGINT) AS v
            FROM px, unnest(range(0, 2)) cy(y),
                     unnest(range(0, 3)) cx(x)
            WHERE px.y >= (cy.y * px.h) // 2
              AND (px.y < ((cy.y + 1) * px.h) // 2
                   OR px.y = (cy.y * px.h) // 2)
              AND px.x >= (cx.x * px.w) // 3
              AND (px.x < ((cx.x + 1) * px.w) // 3
                   OR px.x = (cx.x * px.w) // 3)
            GROUP BY asset_id, cy.y, cx.x, px.c
        """,
        "multimodal_video_frames": """
            -- closed-form luma twin of the y4m fixture: frame k pixel
            -- (x, y) of asset i is (i*31 + k*41 + x*7 + y*13) % 256
            -- over w×h = (8+i%5)×(6+i%3); nf = 3 + i % 4 frames at
            -- 5 fps → duration nf*200 ms, sample instants every
            -- 100 ms, on-screen frame k = ts // 200; the engine must
            -- arrive at the same sums THROUGH real y4m bytes, the
            -- real decoder, P5 re-serialization and a second decode
            WITH a AS (
                SELECT i, 8 + i % 5 AS w, 6 + i % 3 AS h,
                       3 + i % 4 AS nf
                FROM (SELECT unnest(range(0, 200)) AS i)
            ),
            samples AS (
                SELECT a.i, a.w, a.h, t.ts, t.ts // 200 AS k
                FROM a, unnest(range(0, a.nf * 200, 100)) t(ts)
            )
            SELECT s.i AS asset_id, s.ts AS frame_ts_ms,
                   s.k AS frame_idx,
                   CAST(SUM((s.i*31 + s.k*41 + ux.x*7 + uy.y*13) % 256)
                        AS BIGINT) AS y_sum
            FROM samples s, unnest(range(0, s.w)) ux(x),
                            unnest(range(0, s.h)) uy(y)
            GROUP BY asset_id, frame_ts_ms, frame_idx
        """,
        "multimodal_decode_audio": """
            -- closed-form sample twin of the WAV fixture: channel c
            -- sample t of asset i is (i*31 + t*7 + c*97) % 65536 on
            -- the unsigned grid; mono = floor-mean over channels
            -- (1 + i % 2), segment binning = min-width-1 intervals of
            -- 4 over nf = 50 + i % 13 frames; the engine must arrive
            -- at the same integers THROUGH real RIFF bytes and the
            -- real decoder
            WITH a AS (
                SELECT i, 50 + i % 13 AS nf, 1 + i % 2 AS ch
                FROM (SELECT unnest(range(0, 200)) AS i)
            ),
            sm AS (
                SELECT a.i, a.nf, t.t,
                       CASE WHEN a.ch = 1
                            THEN (a.i*31 + t.t*7) % 65536
                            ELSE ((a.i*31 + t.t*7) % 65536
                                  + (a.i*31 + t.t*7 + 97) % 65536) // 2
                       END AS mono
                FROM a, unnest(range(0, a.nf)) t(t)
            )
            SELECT sm.i AS asset_id, s.seg,
                   CAST(SUM(sm.mono) // COUNT(*) AS BIGINT) AS seg_mean
            FROM sm, unnest(range(0, 4)) s(seg)
            WHERE sm.t >= (s.seg * sm.nf) // 4
              AND (sm.t < ((s.seg + 1) * sm.nf) // 4
                   OR sm.t = (s.seg * sm.nf) // 4)
            GROUP BY asset_id, s.seg
        """,
        "multimodal_image_neardup16": """
            -- same closed-form dHash + brute-force all-pairs twin as
            -- multimodal_image_neardup, threshold 3: with 4 bands of
            -- 16 bits the pigeonhole recall bound is Hamming <= 3, so
            -- brute force == the engine's banded output exactly
            WITH a AS (
                SELECT i, i % 150 AS j
                FROM (SELECT unnest(range(0, 200)) AS i)
            ),
            d AS (
                SELECT a.i, a.j, 8 + a.j % 5 AS w, 6 + a.j % 3 AS h
                FROM a
            ),
            px AS (
                SELECT d.i, ux.x, uy.y, d.w, d.h,
                       ((d.j*31 + ux.x*7 + uy.y*13) % 256
                        + (d.j*31 + ux.x*7 + uy.y*13 + 97) % 256
                        + (d.j*31 + ux.x*7 + uy.y*13 + 194) % 256) // 3
                           AS gray
                FROM d, unnest(range(0, d.w)) ux(x),
                        unnest(range(0, d.h)) uy(y)
            ),
            cells AS (
                SELECT px.i, cy.cy, cx.cx,
                       CAST(SUM(px.gray) // COUNT(*) AS BIGINT) AS cell
                FROM px, unnest(range(0, 8)) cy(cy),
                         unnest(range(0, 9)) cx(cx)
                WHERE px.y >= (cy.cy * px.h) // 8
                  AND (px.y < ((cy.cy + 1) * px.h) // 8
                       OR px.y = (cy.cy * px.h) // 8)
                  AND px.x >= (cx.cx * px.w) // 9
                  AND (px.x < ((cx.cx + 1) * px.w) // 9
                       OR px.x = (cx.cx * px.w) // 9)
                GROUP BY px.i, cy.cy, cx.cx
            ),
            bands AS (
                SELECT c1.i, c1.cy AS band_id,
                       CAST(SUM(CASE WHEN c2.cell > c1.cell
                                     THEN 1 << c1.cx ELSE 0 END)
                            AS BIGINT) AS band
                FROM cells c1 JOIN cells c2
                  ON c2.i = c1.i AND c2.cy = c1.cy AND c2.cx = c1.cx + 1
                WHERE c1.cx < 8
                GROUP BY c1.i, c1.cy
            )
            SELECT ba.i AS id_a, bb.i AS id_b,
                   CAST(SUM(bit_count(xor(ba.band, bb.band))) AS BIGINT)
                       AS hamming
            FROM bands ba JOIN bands bb
              ON bb.band_id = ba.band_id AND ba.i < bb.i
            GROUP BY id_a, id_b
            HAVING SUM(bit_count(xor(ba.band, bb.band))) <= 3
        """,
        "multimodal_image_neardup_capped": """
            -- bucket_cap twin IN SQL: 16-bit bands (adjacent row-byte
            -- pairs) are counted per (band_id, band); buckets over the
            -- cap (20) are excluded from candidate generation; exact
            -- Hamming runs over the UNCAPPED 8-bit bands. Fixture:
            -- j = i % 180 (dups), gray = 0 when i % 4 = 0 (solids).
            WITH a AS (
                SELECT i, i % 180 AS j
                FROM (SELECT unnest(range(0, 240)) AS i)
            ),
            d AS (
                SELECT a.i, a.j, 8 + a.j % 5 AS w, 6 + a.j % 3 AS h
                FROM a
            ),
            px AS (
                SELECT d.i, ux.x, uy.y, d.w, d.h,
                       CASE WHEN d.i % 4 = 0 THEN 0 ELSE
                       ((d.j*31 + ux.x*7 + uy.y*13) % 256
                        + (d.j*31 + ux.x*7 + uy.y*13 + 97) % 256
                        + (d.j*31 + ux.x*7 + uy.y*13 + 194) % 256) // 3
                       END AS gray
                FROM d, unnest(range(0, d.w)) ux(x),
                        unnest(range(0, d.h)) uy(y)
            ),
            cells AS (
                SELECT px.i, cy.cy, cx.cx,
                       CAST(SUM(px.gray) // COUNT(*) AS BIGINT) AS cell
                FROM px, unnest(range(0, 8)) cy(cy),
                         unnest(range(0, 9)) cx(cx)
                WHERE px.y >= (cy.cy * px.h) // 8
                  AND (px.y < ((cy.cy + 1) * px.h) // 8
                       OR px.y = (cy.cy * px.h) // 8)
                  AND px.x >= (cx.cx * px.w) // 9
                  AND (px.x < ((cx.cx + 1) * px.w) // 9
                       OR px.x = (cx.cx * px.w) // 9)
                GROUP BY px.i, cy.cy, cx.cx
            ),
            bands AS (
                SELECT c1.i, c1.cy AS band_id,
                       CAST(SUM(CASE WHEN c2.cell > c1.cell
                                     THEN 1 << c1.cx ELSE 0 END)
                            AS BIGINT) AS band
                FROM cells c1 JOIN cells c2
                  ON c2.i = c1.i AND c2.cy = c1.cy AND c2.cx = c1.cx + 1
                WHERE c1.cx < 8
                GROUP BY c1.i, c1.cy
            ),
            b16 AS (
                SELECT b0.i, b0.band_id // 2 AS band_id,
                       b0.band + 256 * b1.band AS band
                FROM bands b0 JOIN bands b1
                  ON b1.i = b0.i AND b1.band_id = b0.band_id + 1
                WHERE b0.band_id % 2 = 0
            ),
            counts AS (
                SELECT band_id, band, COUNT(*) AS n
                FROM b16 GROUP BY band_id, band
            ),
            surv AS (
                SELECT b.i, b.band_id, b.band
                FROM b16 b JOIN counts c
                  ON c.band_id = b.band_id AND c.band = b.band
                WHERE c.n <= 20
            ),
            cand AS (
                SELECT DISTINCT sa.i AS id_a, sb.i AS id_b
                FROM surv sa JOIN surv sb
                  ON sb.band_id = sa.band_id AND sb.band = sa.band
                 AND sa.i < sb.i
            )
            SELECT c.id_a, c.id_b,
                   CAST(SUM(bit_count(xor(ba.band, bb.band))) AS BIGINT)
                       AS hamming
            FROM cand c
            JOIN bands ba ON ba.i = c.id_a
            JOIN bands bb ON bb.i = c.id_b AND bb.band_id = ba.band_id
            GROUP BY c.id_a, c.id_b
            HAVING SUM(bit_count(xor(ba.band, bb.band))) <= 3
        """,
        "multimodal_frames": """
            -- synth video i has duration (i % 30 + 1) seconds → one
            -- frame per 1000 ms starting at 0 (pure arithmetic twin)
            SELECT t.id AS asset_id,
                   CAST(1000 * unnest(range(0, t.id % 30 + 1)) AS BIGINT)
                     AS frame_ts_ms
            FROM generate_series(0, 199) t(id)
        """,
        # ---- hash-intermediate snapshots + independent SQL recompute -
        # (sf0.01-pinned; the driver's oracle compare runs only there)
        "dedup_simhash": f"""
            -- brute-force Hamming over the pinned signatures verifies
            -- the banded blocking found EVERY pair within the radius
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
                     AS hamming
            FROM {_snap("simhash_sigs_sf001")} a
            JOIN {_snap("simhash_sigs_sf001")} b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
        """,
        "dedup_minhash_lsh": f"""
            -- candidates from the pinned LSH buckets; exact Jaccard
            -- recomputed in SQL from the live documents view
            WITH cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM {_snap("minhash_bands_sf001")} a
                JOIN {_snap("minhash_bands_sf001")} b
                  ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                WHERE a.doc_id < b.doc_id
            ),
            sh AS (
                SELECT doc_id, list_distinct({_WORDS}) AS s FROM documents
            )
            SELECT c.id_a, c.id_b,
                   CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                   len(list_distinct(list_concat(a.s, b.s))) AS jaccard
            FROM cand c
            JOIN sh a ON a.doc_id = c.id_a
            JOIN sh b ON b.doc_id = c.id_b
            WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                  len(list_distinct(list_concat(a.s, b.s))) >= 0.5
        """,
        "dedup_minhash_clusters": f"""
            -- connected components over the pinned star edges via a
            -- recursive CTE — independently verifies min-label
            -- propagation's transitive closure
            WITH RECURSIVE und AS (
                SELECT src, dst FROM {_snap("minhash_edges_sf001")}
                UNION
                SELECT dst AS src, src AS dst
                FROM {_snap("minhash_edges_sf001")}
            ),
            reach(a, b) AS (
                SELECT src, dst FROM und
                UNION
                SELECT r.a, u.dst FROM reach r JOIN und u ON r.b = u.src
            )
            SELECT d.doc_id,
                   least(d.doc_id, coalesce(min(r.b), d.doc_id))
                     AS cluster_id
            FROM documents d
            LEFT JOIN reach r ON r.a = d.doc_id
            GROUP BY d.doc_id
        """,
        "sim_lsh_topk": f"""
            -- cosine ranking recomputed in SQL over the pinned
            -- candidate ids (the xxhash bucket step DuckDB can't do)
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ),
            s AS (
                SELECT c.q_id, c.vec_id,
                       list_cosine_similarity(ce.v, qe.v) AS cos
                FROM {_snap("lsh_cand_sf001")} c
                JOIN e ce ON ce.vec_id = c.vec_id
                JOIN e qe ON qe.vec_id = c.q_id
            )
            SELECT q_id, vec_id, CAST(rank AS INTEGER) AS rank,
                   n_candidates
            FROM (
                SELECT q_id, vec_id,
                       row_number() OVER (
                         PARTITION BY q_id ORDER BY cos DESC, vec_id
                       ) AS rank,
                       count(*) OVER (PARTITION BY q_id) AS n_candidates
                FROM s
            ) WHERE rank <= 10
            UNION ALL
            -- in-band starvation rows: queries with ZERO candidates
            -- (empty at this sf — self-bucket always hits — but the
            -- contract is part of the operator's output)
            SELECT q.vec_id AS q_id, CAST(NULL AS BIGINT) AS vec_id,
                   CAST(NULL AS INTEGER) AS rank,
                   CAST(0 AS BIGINT) AS n_candidates
            FROM embeddings q
            WHERE q.vec_id < 3 AND q.vec_id NOT IN (
                SELECT q_id FROM {_snap("lsh_cand_sf001")}
            )
        """,
        "sim_index_lsh_topk": f"""
            -- identical contract to sim_lsh_topk: the persisted-index
            -- path (build → key-table join → re-rank) must reproduce
            -- the one-shot operator's output exactly
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ),
            s AS (
                SELECT c.q_id, c.vec_id,
                       list_cosine_similarity(ce.v, qe.v) AS cos
                FROM {_snap("lsh_cand_sf001")} c
                JOIN e ce ON ce.vec_id = c.vec_id
                JOIN e qe ON qe.vec_id = c.q_id
            )
            SELECT q_id, vec_id, CAST(rank AS INTEGER) AS rank,
                   n_candidates
            FROM (
                SELECT q_id, vec_id,
                       row_number() OVER (
                         PARTITION BY q_id ORDER BY cos DESC, vec_id
                       ) AS rank,
                       count(*) OVER (PARTITION BY q_id) AS n_candidates
                FROM s
            ) WHERE rank <= 10
            UNION ALL
            SELECT q.vec_id AS q_id, CAST(NULL AS BIGINT) AS vec_id,
                   CAST(NULL AS INTEGER) AS rank,
                   CAST(0 AS BIGINT) AS n_candidates
            FROM embeddings q
            WHERE q.vec_id < 3 AND q.vec_id NOT IN (
                SELECT q_id FROM {_snap("lsh_cand_sf001")}
            )
        """,
        "sim_ivf_topk": f"""
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ),
            s AS (
                SELECT c.q_id, c.vec_id,
                       list_cosine_similarity(ce.v, qe.v) AS cos
                FROM {_snap("ivf_cand_sf001")} c
                JOIN e ce ON ce.vec_id = c.vec_id
                JOIN e qe ON qe.vec_id = c.q_id
            )
            SELECT q_id, vec_id, CAST(rank AS INTEGER) AS rank,
                   n_candidates
            FROM (
                SELECT q_id, vec_id,
                       row_number() OVER (
                         PARTITION BY q_id ORDER BY cos DESC, vec_id
                       ) AS rank,
                       count(*) OVER (PARTITION BY q_id) AS n_candidates
                FROM s
            ) WHERE rank <= 10
            UNION ALL
            SELECT q.vec_id AS q_id, CAST(NULL AS BIGINT) AS vec_id,
                   CAST(NULL AS INTEGER) AS rank,
                   CAST(0 AS BIGINT) AS n_candidates
            FROM embeddings q
            WHERE q.vec_id < 3 AND q.vec_id NOT IN (
                SELECT q_id FROM {_snap("ivf_cand_sf001")}
            )
        """,
        "sim_cosine_near_dup": f"""
            -- output pin: the blocked pair set (threshold semantics
            -- are independently oracle-checked by sim_cosine_pairs_exact;
            -- duplicating the float threshold across engines would
            -- race IEEE rounding at the boundary)
            SELECT id_a, id_b FROM {_snap("cos_near_dup_sf001")}
        """,
        "sim_cosine_clusters": f"""
            -- connected components over the pinned near-dup pair
            -- graph via a recursive CTE — independently verifies the
            -- min-label propagation's transitive closure for the
            -- embedding modality (same oracle shape as
            -- dedup_minhash_clusters)
            WITH RECURSIVE und AS (
                SELECT id_a AS src, id_b AS dst
                FROM {_snap("cos_near_dup_sf001")}
                UNION
                SELECT id_b AS src, id_a AS dst
                FROM {_snap("cos_near_dup_sf001")}
            ),
            reach(a, b) AS (
                SELECT src, dst FROM und
                UNION
                SELECT r.a, u.dst FROM reach r JOIN und u ON r.b = u.src
            )
            SELECT e.vec_id,
                   least(e.vec_id, coalesce(min(r.b), e.vec_id))
                     AS cluster_id
            FROM embeddings e
            LEFT JOIN reach r ON r.a = e.vec_id
            GROUP BY e.vec_id
        """,
        "sim_semdedup": f"""
            -- pinned: k-means assignment (cluster, cent_sim) and the
            -- within-cell threshold pairs (float-threshold membership
            -- is pinned for the same IEEE-boundary reason as
            -- sim_cosine_near_dup); recomputed INDEPENDENTLY here:
            -- components via recursive CTE, keeper via a window over
            -- the pinned cent_sim (lowest wins, ties on vec_id)
            WITH RECURSIVE pairs AS (
                SELECT id_a, id_b FROM {_snap("semdedup_pairs_sf001")}
            ),
            und AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION
                SELECT id_b AS src, id_a AS dst FROM pairs
            ),
            reach(a, b) AS (
                SELECT src, dst FROM und
                UNION
                SELECT r.a, u.dst FROM reach r JOIN und u ON r.b = u.src
            ),
            grp AS (
                SELECT e.vec_id,
                       least(e.vec_id, coalesce(min(r.b), e.vec_id))
                         AS group_id
                FROM embeddings e
                LEFT JOIN reach r ON r.a = e.vec_id
                GROUP BY e.vec_id
            )
            SELECT g.vec_id, a.cluster, g.group_id,
                   (row_number() OVER (
                        PARTITION BY g.group_id
                        ORDER BY a.cent_sim ASC, g.vec_id ASC) = 1)
                     AS semdedup_keep
            FROM grp g
            JOIN {_snap("semdedup_assign_sf001")} a USING (vec_id)
        """,
    }
    # persisted-index IVF path: same params as the one-shot operator,
    # so the same SQL over the same pinned candidate set applies —
    # the index must reproduce sim_ivf_topk exactly.
    sql["sim_index_ivf_topk"] = sql["sim_ivf_topk"]
    return sql


if __name__ == "__main__":
    from wos_crawler_spark.session import get_spark

    spark = get_spark("entry-smoke")
    entry(spark).show(20, truncate=False)
