"""URL-seen dedup: seen-sketch prefilter + exact anti-join rescue
(SURVEY.md F1/J1/U3). The sketch is either flavor (Bloom or sharded
cuckoo, operators/bloom.py) — this module only calls ``might_contain``.

Semantics equal to the reference's ``RFPDupeFilter.request_seen`` set
lookup, distributed:

1. one vectorized pandas UDF marks each candidate ``maybe_seen`` via
   the broadcast Bloom (no shuffle, executor-local);
2. candidates the Bloom has never seen pass through — **no join at
   all** for the common case of genuinely-new URLs;
3. ``maybe_seen`` candidates (true dups + Bloom false positives) hit
   an exact ``left_anti`` join against the ``seen`` table; false
   positives are rescued there, so the output is exactly
   ``candidates ∖ seen`` regardless of Bloom fpp.

At 10^10 the anti-join probe side is |dups| + fpp·|new| instead of
|candidates| — the Bloom converts an all-shuffle dedup into a mostly
shuffle-free one.

Cost-based use (CrawlConfig.bloom_prefilter): the prefilter trades two
Arrow passes over the candidates (mark + split) for a smaller anti-join
exchange. That wins when the exchange crosses a network and
rediscovery is heavy; it LOSES when the exchange is node-local and the
seen side is co-partitioned (single-node SHJ ≈ memcpy). Measured here
at 5M candidates / 4.5M seen / local[8]: exact-only 1.2s, 10M-capacity
prefilter+rescue 15.7s, undersized-1M prefilter 4.9s. The crawl loop
therefore exposes the prefilter as a config knob; the filter itself is
built/merged/checkpointed unconditionally (it is the persistent
URL-seen sketch the north rule names).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wos_crawler_spark.operators.bloom import SeenSketch, bloom_from_bytes


def _rep_order():
    """Representative choice for intra-wave duplicates — DETERMINISTIC
    (SURVEY §4: ordering decided by data, not arrival), unlike
    dropDuplicates which keeps an arbitrary row per key: highest
    priority wins, then lowest query_id, then lexicographic lineage."""
    return [
        F.col("priority").desc_nulls_last(),
        F.col("query_id").asc_nulls_last(),
        F.col("lineage").asc_nulls_last(),
    ]


def dedup_intra_wave(candidates: DataFrame, hash_col: str = "url_hash") -> DataFrame:
    """One row per url_hash, deterministic representative. url_hash is
    near-unique → the window has no skew (tiny groups)."""
    cols = set(candidates.columns)
    if not {"priority", "query_id", "lineage"} <= cols:
        return candidates.dropDuplicates([hash_col])
    w = Window.partitionBy(hash_col).orderBy(*_rep_order())
    return (
        candidates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


#: Executor-side cache of the deserialized seen sketch, keyed by the
#: token of the ``mark_maybe_seen`` call that shipped it: from_bytes
#: copies the full bit array (about 1.2 GB for 10^9 keys at 1% fpp),
#: and the probe UDF runs once per Arrow batch — without the cache the
#: sketch is re-copied hundreds of times per wave. It holds ONE entry:
#: a new token evicts the previous waves' sketches before loading.
_BLOOM_CACHE: dict[int, object] = {}
_CACHE_TOKEN = 0


def _cached_sketch(token: int, load):
    """The sketch for ``token``: cached, or ``load()``-ed after every
    other token's sketch is dropped."""
    bf = _BLOOM_CACHE.get(token)
    if bf is None:
        _BLOOM_CACHE.clear()
        bf = _BLOOM_CACHE[token] = load()
    return bf


def mark_maybe_seen(df: DataFrame, bloom: SeenSketch, hash_col: str = "url_hash") -> DataFrame:
    """Attach boolean ``maybe_seen`` from the broadcast seen sketch
    (deserialized once per task process, see ``_BLOOM_CACHE``)."""
    spark = df.sparkSession
    b = spark.sparkContext.broadcast(bloom.to_bytes())
    global _CACHE_TOKEN
    _CACHE_TOKEN += 1
    token = _CACHE_TOKEN  # closure-captured cache key (Broadcast has no
    # stable python-side id attribute across pyspark versions)

    @F.pandas_udf("boolean")
    def _maybe(h: pd.Series) -> pd.Series:
        bf = _cached_sketch(token, lambda: bloom_from_bytes(b.value))
        return pd.Series(bf.might_contain(h.to_numpy()))

    return df.withColumn("maybe_seen", _maybe(F.col(hash_col)))


def dedup_frontier(
    candidates: DataFrame,
    seen: DataFrame | None,
    bloom: SeenSketch | None,
    hash_col: str = "url_hash",
    intra: bool = True,
) -> DataFrame:
    """Exact ``candidates ∖ seen`` with Bloom fast path.

    ``seen`` must have a ``url_hash`` column. Either side may be None
    (cold start). ``intra=False`` skips the intra-wave dedup window
    (its own full shuffle) — the crawl loop folds that into the
    politeness shuffle instead (politeness.schedule_wave dedup_intra)."""
    if intra:
        candidates = dedup_intra_wave(candidates, hash_col)
    if seen is None:
        return candidates
    # shuffle_hash: the probe side (bloom-positive candidates) is
    # usually LARGER than the per-partition seen build side, so a
    # shuffled hash join skips the probe-side sort an SMJ would pay;
    # when the crawl loop keeps seen hash-partitioned on url_hash the
    # build side also skips its exchange. Scale note: per-partition
    # seen must fit executor memory for the hash build — 10^10 hashes
    # × 8B over ≥4096 buckets ≈ 20 MB/partition, and Spark ≥3.2 SHJ
    # spills if it doesn't.
    seen_keys = seen.select(hash_col).hint("shuffle_hash")
    if bloom is None:
        return candidates.join(seen_keys, hash_col, "left_anti")
    marked = mark_maybe_seen(candidates, bloom, hash_col)
    definitely_new = marked.filter(~F.col("maybe_seen")).drop("maybe_seen")
    rescued = (
        marked.filter(F.col("maybe_seen"))
        .drop("maybe_seen")
        .join(seen_keys, hash_col, "left_anti")
    )
    return definitely_new.unionByName(rescued)
