"""Atomic per-wave checkpoints with lineage + metrics
(SURVEY.md §3.4/§4 "iterative lineage truncation"; north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

Reference behavior: Scrapy persists its request queue + dupefilter
only when ``JOBDIR`` is set (``dep:scrapy.dupefilters::RFPDupeFilter``
spills ``requests.seen``; ``dep:scrapy.core.scheduler::Scheduler``
spills the pending queue) and resumes mid-crawl from that directory.
The Spark twin checkpoints every cross-wave state of the crawl per
wave: frontier, seen, seen sketch, backoff host stats and the OPIC
hit log.

Layout (parquet stands in for Iceberg snapshots — jars absent in this
sandbox; in production each wave is one Iceberg snapshot and resume is
time-travel to the last committed one):

    ckpt_dir/
      wave=K/
        frontier/            parquet — the NEXT wave's pending frontier
        seen_delta/          parquet — url_hashes first seen this wave
        seen_evict/          parquet — url_hashes an eviction wave
                             expired (plans/recrawl.py only)
        host_stats/          parquet — cumulative backoff counters
                             (host, sched, miss) (backoff only)
        hit_delta/           parquet — (url, url_canon) of this wave's
                             hits; the OPIC hit log is the union of
                             every wave's delta (opic_priority only)
        partition_metrics/   parquet — per-partition counters + lineage
                             (partition_id, scheduled, hits, misses,
                              parsed_docs, from_seed, from_link,
                              from_retry, payload_bytes)
        bloom.bin            merged seen-sketch bytes
        metrics.json         wave counters + next_start_ts + lineage
        _COMMITTED           empty marker, written LAST (atomicity)

Resume reads back exactly these states: ``read_frontier``,
``read_seen``, ``read_bloom_bytes``, ``read_host_stats`` and
``read_hit_log``. A checkpoint without ``host_stats/`` or
``hit_delta/`` (a crawl without backoff or OPIC, or one written before
the hit log was checkpointed) resumes with that state empty.

Writing the marker last makes a torn checkpoint invisible to resume:
``latest_wave`` only ever returns fully-committed waves, and the wave
loop re-executes from there deterministically (all ordering is
data-derived). The parquet round-trip also truncates the logical plan
each wave — without it, wave N's plan would embed all N-1 predecessors
(SURVEY §4: never chain waves of lazy plans).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession


def wave_dir(ckpt_dir: str, wave: int) -> str:
    return os.path.join(ckpt_dir, f"wave={wave}")


def commit_wave(
    ckpt_dir: str,
    wave: int,
    frontier: DataFrame,
    seen_delta: DataFrame,
    bloom_bytes: bytes,
    metrics: dict | None,
    part_metrics: DataFrame | None = None,
) -> None:
    """Write the wave's data artifacts. With ``metrics`` given, also
    finalize (marker written LAST). With ``metrics=None``, the caller
    finalizes later via :func:`write_metrics` — the wave stays
    invisible to resume until then. ``part_metrics`` persists the
    per-partition counter+lineage frame (north_rule: "per-partition
    lineage + metrics") — one map-side agg job over the wave's cache."""
    for name, df in (
        ("frontier", frontier),
        ("seen_delta", seen_delta),
        ("partition_metrics", part_metrics),
    ):
        if df is not None:
            write_frame(ckpt_dir, wave, name, df)
    write_bloom_bytes(ckpt_dir, wave, bloom_bytes)
    if metrics is not None:
        write_metrics(ckpt_dir, wave, metrics)


def write_frame(ckpt_dir: str, wave: int, name: str, df: DataFrame) -> None:
    """Write the wave's ``name/`` parquet artifact."""
    df.write.mode("overwrite").parquet(
        os.path.join(wave_dir(ckpt_dir, wave), name)
    )


def read_frame(
    spark: SparkSession, ckpt_dir: str, wave: int, name: str
) -> DataFrame | None:
    """The wave's ``name/`` parquet artifact, or None when it has none."""
    p = os.path.join(wave_dir(ckpt_dir, wave), name)
    return spark.read.parquet(p) if os.path.isdir(p) else None


def write_bloom_bytes(ckpt_dir: str, wave: int, bloom_bytes: bytes) -> None:
    d = wave_dir(ckpt_dir, wave)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "bloom.bin"), "wb") as f:
        f.write(bloom_bytes)


def release(df: DataFrame) -> None:
    """Free the blocks ``df`` holds: its cache, and every
    localCheckpoint its plan reads (``DataFrame.unpersist`` does not
    reach those). Only for a frame nothing will read again."""
    df.unpersist()
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            leaf.rdd().unpersist(False)


def write_metrics(ckpt_dir: str, wave: int, metrics: dict) -> None:
    """Finalize a wave: metrics.json, then the _COMMITTED marker."""
    d = wave_dir(ckpt_dir, wave)
    with open(os.path.join(d, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=1, sort_keys=True)
    with open(os.path.join(d, "_COMMITTED"), "w") as f:
        f.write("")


def _committed(ckpt_dir: str, kind: str) -> list[int]:
    """K of every ``{kind}=K`` dir under ckpt_dir with a _COMMITTED
    marker."""
    if not os.path.isdir(ckpt_dir):
        return []
    return [
        int(m.group(1))
        for name in os.listdir(ckpt_dir)
        if (m := re.fullmatch(rf"{kind}=(\d+)", name)) is not None
        and os.path.exists(os.path.join(ckpt_dir, name, "_COMMITTED"))
    ]


def latest_wave(ckpt_dir: str) -> int | None:
    """Highest wave K with a _COMMITTED marker, or None."""
    return max(_committed(ckpt_dir, "wave"), default=None)


def _artifact_paths(ckpt_dir: str, waves, name: str) -> list[str]:
    """Paths of the ``name/`` artifacts that ``waves`` have."""
    return [
        p
        for w in waves
        if os.path.isdir(p := os.path.join(wave_dir(ckpt_dir, w), name))
    ]


def read_frontier(spark: SparkSession, ckpt_dir: str, wave: int) -> DataFrame:
    return spark.read.parquet(os.path.join(wave_dir(ckpt_dir, wave), "frontier"))


def commit_eviction(
    ckpt_dir: str,
    wave: int,
    frontier: DataFrame,
    evicted: DataFrame,
    bloom_bytes: bytes,
    metrics: dict,
) -> None:
    """Commit a recrawl-eviction wave (plans/recrawl.py): the frontier
    carries the re-admitted URLs, ``seen_evict/`` records the expired
    url_hashes (the production twin is an Iceberg MERGE DELETE on the
    seen table), ``seen_delta/`` is empty (nothing was fetched), and
    ``bloom.bin`` holds the post-eviction filter. The other states
    carry over unchanged: ``host_stats/`` is copied from the previous
    wave, and the hit log gains no delta. Marker written LAST, same
    atomicity as a fetch wave."""
    write_frame(ckpt_dir, wave, "seen_evict", evicted)
    stats = read_host_stats(evicted.sparkSession, ckpt_dir, wave - 1)
    if stats is not None:
        write_host_stats(ckpt_dir, wave, stats)
    commit_wave(
        ckpt_dir, wave, frontier, evicted.limit(0), bloom_bytes, metrics
    )


def compact_dir(ckpt_dir: str, wave: int) -> str:
    return os.path.join(ckpt_dir, f"compact={wave}")


def latest_compaction(ckpt_dir: str, upto_wave: int) -> int | None:
    """Highest committed compaction snapshot at wave K <= upto_wave,
    or None. Snapshots NEWER than the resume point are ignored — a
    resume from wave 10 must not read a wave-50 snapshot."""
    return max(
        (k for k in _committed(ckpt_dir, "compact") if k <= upto_wave),
        default=None,
    )


def compact_seen(
    spark: SparkSession,
    ckpt_dir: str,
    upto_wave: int,
    buckets: int = 32,
) -> str:
    """Fold waves 0..upto_wave of seen deltas (+evictions) into ONE
    hash-bucketed snapshot — the small-files GC a 10^10-URL crawl
    needs: without it, resume at wave N unions N delta directories
    (each with per-partition files), an O(waves·files) listing+scan
    that grows without bound; with it, resume reads one snapshot plus
    the post-compaction tail. The production twin is Iceberg
    ``rewrite_data_files`` / snapshot expiry; here it is an additive
    parquet snapshot — wave dirs are NOT deleted (they still carry
    frontier/metrics for historical resume), so compaction is purely
    a fast path and crash-safe by the same marker-last protocol.

    The snapshot stores ``(url_hash, wave)`` with wave = the key's
    latest delta wave, so post-compaction evictions still CDC-cancel
    base keys correctly. Bucketed+sorted by url_hash: co-located with
    the seen-side join key, row-group-prunable."""
    # Marker-last must hold on RE-compaction too: a stale _COMMITTED
    # surviving over a mid-overwrite crash would vouch for torn data.
    # Dropping it FIRST also makes read_seen recompute from an earlier
    # base + deltas instead of lazily self-reading the directory we are
    # about to overwrite.
    d = compact_dir(ckpt_dir, upto_wave)
    marker = os.path.join(d, "_COMMITTED")
    if os.path.exists(marker):
        os.remove(marker)
    seen = read_seen(spark, ckpt_dir, upto_wave)
    (
        seen.repartition(buckets, "url_hash")
        .sortWithinPartitions("url_hash")
        .write.mode("overwrite")
        .parquet(os.path.join(d, "seen"))
    )
    with open(os.path.join(d, "_COMMITTED"), "w") as f:
        f.write("")
    return d


def read_seen(spark: SparkSession, ckpt_dir: str, upto_wave: int) -> DataFrame:
    """Union of seen deltas for waves 0..upto_wave (in production: one
    Iceberg table appended per wave, partitioned by wave).

    Starts from the latest committed compaction snapshot <= upto_wave
    when one exists (see :func:`compact_seen`): the snapshot replaces
    waves 0..K, and only the tail K+1..upto_wave is unioned on top.

    With eviction waves present (``seen_evict/``), membership is
    CDC-merged: a key is seen iff its latest delta wave is LATER than
    its latest evict wave — so an evicted-then-refetched URL is seen
    again, and an evicted-never-refetched URL is not. The merge is one
    groupBy over 8-byte keys, paid only on resume paths and only when
    an eviction exists; the no-eviction path stays the cheap union.
    Evictions at waves <= K are already folded into the snapshot."""
    from pyspark.sql import functions as F

    base = latest_compaction(ckpt_dir, upto_wave)
    start = 0 if base is None else base + 1
    paths = [
        os.path.join(wave_dir(ckpt_dir, w), "seen_delta")
        for w in range(start, upto_wave + 1)
    ]
    if base is not None:
        paths.insert(0, os.path.join(compact_dir(ckpt_dir, base), "seen"))
    deltas = spark.read.parquet(*paths)
    evict_paths = _artifact_paths(
        ckpt_dir, range(start, upto_wave + 1), "seen_evict"
    )
    if not evict_paths:
        return deltas
    dw = deltas.groupBy("url_hash").agg(F.max("wave").alias("_dw"))
    ew = (
        spark.read.parquet(*evict_paths)
        .groupBy("url_hash")
        .agg(F.max("wave").alias("_ew"))
    )
    return (
        dw.join(ew, "url_hash", "left")
        .filter(F.col("_ew").isNull() | (F.col("_dw") > F.col("_ew")))
        .select("url_hash", F.col("_dw").alias("wave"))
    )


def write_host_stats(ckpt_dir: str, wave: int, stats: DataFrame) -> None:
    """Persist the backoff policy's cumulative per-host counters with
    the wave (bounded by hosts). Written before the _COMMITTED marker
    like every other wave artifact, so resume either sees a complete
    wave (stats included) or none of it."""
    write_frame(ckpt_dir, wave, "host_stats", stats)


def read_host_stats(
    spark: SparkSession, ckpt_dir: str, wave: int
) -> DataFrame | None:
    """Cumulative backoff stats of a committed wave, or None for a
    crawl that ran without backoff (resume then starts stats empty —
    identical to a fresh backoff crawl from that wave)."""
    return read_frame(spark, ckpt_dir, wave, "host_stats")


def read_hit_log(
    spark: SparkSession, ckpt_dir: str, upto_wave: int
) -> DataFrame | None:
    """The OPIC hit log ``(url, url_canon)`` of waves 0..upto_wave: the
    union of their ``hit_delta/`` artifacts, or None when none has one
    (resume then starts the edge set empty)."""
    paths = _artifact_paths(ckpt_dir, range(upto_wave + 1), "hit_delta")
    return spark.read.parquet(*paths) if paths else None


def read_partition_metrics(
    spark: SparkSession, ckpt_dir: str, wave: int
) -> DataFrame | None:
    """Per-partition counters + lineage provenance for a committed
    wave (resume diagnostics / skew forensics)."""
    return read_frame(spark, ckpt_dir, wave, "partition_metrics")


def read_bloom_bytes(ckpt_dir: str, wave: int) -> bytes:
    with open(os.path.join(wave_dir(ckpt_dir, wave), "bloom.bin"), "rb") as f:
        return f.read()


def read_metrics(ckpt_dir: str, wave: int) -> dict:
    with open(os.path.join(wave_dir(ckpt_dir, wave), "metrics.json")) as f:
        return json.load(f)
