"""Recrawl / eviction plan (north_rule: "bloom/cuckoo URL-seen" — this
is the cuckoo flavor's reason to exist).

Reference behavior: the reference crawler has no recrawl story — its
dupefilter set only ever GROWS, so re-exporting an updated record
means wiping ``requests.seen`` and starting over. A production crawl
over Common-Crawl-style pages needs the opposite: expire stale pages
(fetched before some cutoff) so the next waves re-fetch exactly those,
without rebuilding the whole seen sketch or re-admitting anything
else.

Plan shape (all DataFrame ops, nothing driver-scale except the filter
blobs the probe path already ships):

1. ``stale_pages`` — the expiry predicate as a pushed-down scan filter
   plus a semi join against the checkpointed seen set (only URLs the
   crawl actually fetched can expire).
2. ``evict_for_recrawl`` — commits an EVICTION WAVE to the checkpoint:
   * seen: expired keys recorded in ``seen_evict/`` (CDC-merged by
     ``checkpoint.read_seen``; the production twin is an Iceberg
     MERGE DELETE on the seen table),
   * sketch: ``evict`` on the checkpointed sketch — the cuckoo
     flavor deletes the keys in place, distributed per shard
     (``operators/cuckoo.evict_sharded_cuckoo``); the Bloom flavor
     cannot delete, so it REBUILDS from the surviving seen set (one
     distributed build — the cost the cuckoo flavor avoids),
   * frontier: the expired URLs re-enter the frontier with
     ``lineage='recrawl:<reason>'`` and depth 0,
   * every other cross-wave state carries over unchanged (backoff
     ``host_stats``, the OPIC hit log).
3. ``run_crawl(resume=True)`` then re-fetches exactly the evicted
   URLs through the normal robots/politeness/dedup machinery — no
   special-case branch in the wave loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wos_crawler_spark.functions.urlnorm import with_url_canon
from wos_crawler_spark.operators import checkpoint as ckpt
from wos_crawler_spark.operators.bloom import bloom_from_bytes
from wos_crawler_spark.plans.crawl import CrawlConfig, frontier_rows


def stale_pages(pages: DataFrame, seen: DataFrame, cutoff_ts) -> DataFrame:
    """URLs eligible for recrawl: fetched pages whose ``warc_ts`` is
    before ``cutoff_ts``. The timestamp predicate pushes into the
    pages scan (only url/warc_ts read); the semi join restricts to
    the checkpointed seen set — the filter-deletion contract."""
    p = with_url_canon(
        pages.filter(F.col("warc_ts") < F.lit(cutoff_ts)).select(
            "url", "warc_ts"
        )
    )
    return p.join(
        seen.select("url_hash").hint("shuffle_hash"), "url_hash", "left_semi"
    ).select("url", "url_canon", "url_hash", "host")


def evict_for_recrawl(
    spark: SparkSession,
    ckpt_dir: str,
    expired: DataFrame,
    cfg: CrawlConfig,
    priority: int = 0,
    reason: str = "expired",
) -> dict:
    """Commit an eviction wave: expired URLs leave the seen set (CDC
    delete record + sketch update) and re-enter the frontier. Returns
    the wave's metrics dict. ``expired`` needs a ``url`` column; rows
    not in the checkpointed seen set are ignored (deleting a
    never-inserted key from a cuckoo filter could evict a colliding
    fingerprint — the semi join enforces the contract)."""
    last = ckpt.latest_wave(ckpt_dir)
    if last is None:
        raise ValueError(f"no committed wave to evict from in {ckpt_dir}")
    seen = ckpt.read_seen(spark, ckpt_dir, last)
    filt = bloom_from_bytes(ckpt.read_bloom_bytes(ckpt_dir, last))
    wave = last + 1

    from pyspark.sql.window import Window

    exp = (
        with_url_canon(expired.select("url"))
        .select("url", "url_canon", "url_hash", "host")
        # deterministic survivor per hash (dropDuplicates would pick
        # whichever partition answers first — the readmitted frontier
        # row's url spelling must not depend on partitioning)
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("url_hash").orderBy("url")
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .join(seen.select("url_hash"), "url_hash", "left_semi")
        .localCheckpoint()  # one materialization: counted, evicted,
        # re-admitted and written below
    )
    n_evict = exp.count()

    if n_evict:
        filt = filt.evict(
            exp.select("url_hash"), seen, cfg.bloom_capacity, cfg.bloom_fpp
        )

    readmit = frontier_rows(
        exp.withColumn("priority", F.lit(priority)).withColumn(
            "query_id", F.lit(-1).cast("long")
        ),
        F.lit(0), wave, F.lit(f"recrawl:{reason}"),
    )
    frontier = ckpt.read_frontier(spark, ckpt_dir, last).unionByName(readmit)
    evicted_keys = exp.select("url_hash").withColumn("wave", F.lit(wave))
    metrics = {
        "wave": wave,
        "eviction": True,
        "evicted": n_evict,
        "readmitted": n_evict,
        "reason": reason,
        "next_start_ts": ckpt.read_metrics(ckpt_dir, last)["next_start_ts"],
    }
    ckpt.commit_eviction(
        ckpt_dir, wave, frontier, evicted_keys, filt.to_bytes(), metrics
    )
    return metrics


def change_rate_schedule(
    history: DataFrame,
    url_col: str = "url",
    ts_col: str = "fetch_ts",
    digest_col: str = "digest",
    min_interval_s: int = 3600,
    max_interval_s: int = 30 * 24 * 3600,
) -> DataFrame:
    """Per-URL adaptive recrawl schedule from fetch history — the
    freshness-driven refresh policy of Cho & Garcia-Molina 2000
    ("Synchronizing a database to improve freshness"): URLs that
    changed often between past fetches get short refresh intervals,
    static ones back off, clamped to [min, max].

    ``history`` is (url, fetch_ts, digest) — one row per past fetch,
    digest = content fingerprint (e.g. ``doc_fingerprint`` or the
    parse digest). Output: one row per url with

    - ``n_obs``              fetches observed,
    - ``n_changes``          fetches whose digest differed from the
                             previous fetch (ts order, ties broken by
                             digest for determinism),
    - ``interval_s``         span_s / max(n_changes, 1), clamped —
                             INTEGER seconds (floor), so both engines
                             compute bit-identical schedules: no
                             float rate anywhere,
    - ``next_due_ts``        last fetch + interval.

    Plan: one window pass (lag over (url, ts)) + one aggregation —
    both partition by url, so the window's shuffle is reused by the
    agg (a single exchange end-to-end). At 10^10 URLs the history
    table is the big input; nothing here is wider than (url, ts,
    digest) and the output is one row per url."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(url_col).orderBy(
        F.col(ts_col).asc(), F.col(digest_col).asc()
    )
    prev = F.lag(digest_col).over(w)
    stepped = history.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("_ts"),
        F.when(prev.isNull(), F.lit(0))
        .when(prev != F.col(digest_col), F.lit(1))
        .otherwise(F.lit(0))
        .alias("_chg"),
    )
    agg = stepped.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("_chg").alias("n_changes"),
        F.min("_ts").alias("_first"),
        F.max("_ts").alias("_last"),
    )
    span_s = F.unix_timestamp("_last") - F.unix_timestamp("_first")
    raw = F.floor(span_s / F.greatest(F.col("n_changes"), F.lit(1)))
    interval = F.least(
        F.lit(max_interval_s).cast("long"),
        F.greatest(F.lit(min_interval_s).cast("long"), raw.cast("long")),
    )
    return agg.select(
        "url",
        F.col("n_obs").cast("long").alias("n_obs"),
        F.col("n_changes").cast("long").alias("n_changes"),
        interval.alias("interval_s"),
        F.timestamp_seconds(F.unix_timestamp("_last") + interval).alias(
            "next_due_ts"
        ),
    )
