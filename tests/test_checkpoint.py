"""Resume test (SURVEY §5.2-4): interrupt after wave 1, resume from
checkpoint → identical final seen set + metrics continuity vs an
uninterrupted run."""

import os

import pytest

from wos_crawler_spark.fixtures.synth import (
    links_table,
    pages_table,
    robots_table,
    seeds_table,
)
from wos_crawler_spark.operators import checkpoint as ckpt
from wos_crawler_spark.plans.crawl import CrawlConfig, run_crawl

N = 120


def _world(spark):
    return (
        pages_table(spark, N, partitions=4).cache(),
        seeds_table(spark),
        links_table(spark, N),
        robots_table(spark),
    )


def test_resume_equals_uninterrupted(spark, tmp_path):
    pages, seeds, links, robots = _world(spark)
    common = dict(delay_s=1.0, quota=4, max_depth=2, rows_per_bucket=8, parse=False)

    # uninterrupted 3-wave run
    full_dir = str(tmp_path / "full")
    cfg_full = CrawlConfig(max_waves=3, ckpt_dir=full_dir, **common)
    run_crawl(spark, pages, seeds, links, robots, cfg_full)

    # interrupted: 2 waves, then resume for the 3rd
    part_dir = str(tmp_path / "part")
    cfg_part = CrawlConfig(max_waves=2, ckpt_dir=part_dir, **common)
    run_crawl(spark, pages, seeds, links, robots, cfg_part)
    assert ckpt.latest_wave(part_dir) == 1
    cfg_resume = CrawlConfig(max_waves=3, ckpt_dir=part_dir, **common)
    resumed = run_crawl(spark, pages, seeds, links, robots, cfg_resume, resume=True)
    assert resumed.waves[0].wave == 2  # picked up where it left off

    # final seen sets identical
    seen_full = {
        r["url_hash"] for r in ckpt.read_seen(spark, full_dir, 2).collect()
    }
    seen_part = {
        r["url_hash"] for r in ckpt.read_seen(spark, part_dir, 2).collect()
    }
    assert seen_full == seen_part

    # metrics continuity: identical per-wave counters
    for w in range(3):
        mf = ckpt.read_metrics(full_dir, w)
        mp = ckpt.read_metrics(part_dir, w)
        assert mf == mp

    # per-partition lineage + metrics continuity (north_rule): every
    # committed wave carries a partition_metrics frame whose sums
    # reconcile with the wave scalars, in both the uninterrupted and
    # the resumed history
    from pyspark.sql import functions as F

    for d in (full_dir, part_dir):
        for w in range(3):
            pm = ckpt.read_partition_metrics(spark, d, w)
            assert pm.count() >= 1
            tot = pm.agg(
                F.sum("scheduled"), F.sum("hits"), F.sum("misses"),
                F.sum("from_seed") + F.sum("from_link"),
            ).first()
            m = ckpt.read_metrics(d, w)
            assert tot[0] == m["scheduled"] and tot[1] == m["hits"]
            assert tot[2] == m["misses"]
            # every frontier row's lineage is seed:- or link:-origin
            assert tot[3] == m["scheduled"]


def test_keep_wave_caches_false_releases_memory_same_metrics(spark, tmp_path):
    """Long-crawl mode: per-wave caches released (fetch_log/parsed not
    retained), counters + checkpoint artifacts identical to the
    cache-keeping run — the checkpoint store is the durable record."""
    pages, seeds, links, robots = _world(spark)
    common = dict(delay_s=1.0, quota=4, max_depth=2, rows_per_bucket=8,
                  parse=False, max_waves=3)
    d_keep = str(tmp_path / "keep")
    d_free = str(tmp_path / "free")
    res_keep = run_crawl(
        spark, pages, seeds, links, robots,
        CrawlConfig(ckpt_dir=d_keep, keep_wave_caches=True, **common),
    )
    res_free = run_crawl(
        spark, pages, seeds, links, robots,
        CrawlConfig(ckpt_dir=d_free, keep_wave_caches=False, **common),
    )
    assert res_free.fetch_log is None and res_free.parsed is None
    assert res_keep.metrics == res_free.metrics
    for w in range(3):
        assert ckpt.read_metrics(d_keep, w) == ckpt.read_metrics(d_free, w)
    seen_keep = {r["url_hash"] for r in ckpt.read_seen(spark, d_keep, 2).collect()}
    seen_free = {r["url_hash"] for r in ckpt.read_seen(spark, d_free, 2).collect()}
    assert seen_keep == seen_free


def test_torn_checkpoint_invisible(spark, tmp_path):
    """A wave dir without _COMMITTED must be ignored by resume."""
    pages, seeds, links, robots = _world(spark)
    d = str(tmp_path / "torn")
    cfg = CrawlConfig(max_waves=2, ckpt_dir=d, delay_s=1.0, parse=False)
    run_crawl(spark, pages, seeds, links, robots, cfg)
    assert ckpt.latest_wave(d) == 1
    os.remove(os.path.join(d, "wave=1", "_COMMITTED"))
    assert ckpt.latest_wave(d) == 0


@pytest.mark.parametrize(
    "ckpt_flavor, cfg_flavor", [("cuckoo", "bloom"), ("bloom", "cuckoo")]
)
def test_resume_adopts_checkpointed_flavor(spark, tmp_path, ckpt_flavor, cfg_flavor):
    """A checkpointed seen-sketch is authoritative on resume: even a
    cfg that names the other flavor continues with the checkpoint's
    filter, and the resumed crawl's seen set equals the uninterrupted
    run's."""
    pages, seeds, links, robots = _world(spark)
    common = dict(
        delay_s=1.0, quota=4, max_depth=2, rows_per_bucket=8, parse=False,
        bloom_banks=2,
    )

    full_dir = str(tmp_path / "full")
    run_crawl(
        spark, pages, seeds, links, robots,
        CrawlConfig(max_waves=3, ckpt_dir=full_dir, seen_filter=ckpt_flavor,
                    **common),
    )
    part_dir = str(tmp_path / "part")
    run_crawl(
        spark, pages, seeds, links, robots,
        CrawlConfig(max_waves=2, ckpt_dir=part_dir, seen_filter=ckpt_flavor,
                    **common),
    )
    # resume with a cfg that (wrongly) names the other flavor — checkpoint wins
    run_crawl(
        spark, pages, seeds, links, robots,
        CrawlConfig(max_waves=3, ckpt_dir=part_dir, seen_filter=cfg_flavor,
                    **common),
        resume=True,
    )
    from wos_crawler_spark.operators.bloom import BloomFilter, bloom_from_bytes
    from wos_crawler_spark.operators.cuckoo import ShardedCuckooFilter

    flavor_cls = {"cuckoo": ShardedCuckooFilter, "bloom": BloomFilter}
    blob = ckpt.read_bloom_bytes(part_dir, 2)
    assert isinstance(bloom_from_bytes(blob), flavor_cls[ckpt_flavor])
    seen_full = {
        r["url_hash"] for r in ckpt.read_seen(spark, full_dir, 2).collect()
    }
    seen_part = {
        r["url_hash"] for r in ckpt.read_seen(spark, part_dir, 2).collect()
    }
    assert seen_full == seen_part
