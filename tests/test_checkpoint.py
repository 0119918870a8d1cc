"""Resume test (SURVEY §5.2-4): interrupt after wave 1, resume from
checkpoint → identical final seen set + metrics continuity vs an
uninterrupted run."""

import os
import shutil

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


@pytest.mark.parametrize("flavor", ["bloom", "cuckoo"])
def test_resume_matrix_every_gate(spark, tmp_path, flavor):
    """Resume equivalence with every gate on (backoff, PSL-keyed
    politeness_domain, trap guard, URL gate, OPIC priority): a 4-wave
    crawl stopped after wave 1 or after wave 2 and then resumed
    commits the same per-wave seen deltas, metrics.json and final
    host_stats as the uninterrupted run — every cross-wave state
    (frontier, seen, sketch, host_stats, OPIC hit log) survives the
    restart."""
    from wos_crawler_spark.fixtures import wosgen
    from wos_crawler_spark.operators.blocklist import DEFAULT_PUBLIC_SUFFIXES

    # a wider world than _world's: 4 waves of frontier pressure, so
    # OPIC's priorities decide which urls the per-host quota admits
    n = 150
    pages = pages_table(spark, n, partitions=4).cache()
    seeds, robots = seeds_table(spark), robots_table(spark)
    extra = [
        (wosgen.url_of(i), f"https://dead.example.org/p{i}")
        for i in range(0, n, 2)
    ] + [
        (wosgen.url_of(i), f"https://{wosgen.host_of(i)}/img/banner{i}.png")
        for i in range(0, n, 3)
    ]
    links = links_table(spark, n).unionByName(
        spark.createDataFrame(extra, "src_url string, dst_url string")
    )
    common = dict(
        delay_s=1.0, quota=4, max_depth=3, rows_per_bucket=8, parse=False,
        seen_filter=flavor, backoff=True,
        backoff_kwargs=dict(min_fetches=3, err_pct=25, factor=3,
                            quarantine_pct=90),
        politeness_domain=True,
        psl_rules=tuple(DEFAULT_PUBLIC_SUFFIXES) + ("*.example.org",),
        trap_cap=30,
        url_gate=True, url_gate_kwargs={"max_digit_num": 1, "max_digit_den": 1},
        opic_priority=True, opic_iters=1,
    )

    def committed(d):
        waves = range(ckpt.latest_wave(d) + 1)
        deltas = [
            sorted(r.url_hash for r in spark.read.parquet(
                os.path.join(ckpt.wave_dir(d, w), "seen_delta")).collect())
            for w in waves
        ]
        metrics = [ckpt.read_metrics(d, w) for w in waves]
        stats = sorted(
            ckpt.read_host_stats(spark, d, waves[-1]).collect()
        )
        return deltas, metrics, stats

    full_dir = str(tmp_path / "full")
    run_crawl(spark, pages, seeds, links, robots,
              CrawlConfig(max_waves=4, ckpt_dir=full_dir, **common))
    want = committed(full_dir)
    assert len(want[0]) == 4 and all(want[0])
    # backoff bit: the dead host crossed the quarantine threshold
    assert any(r.host == "dead.example.org" and r.miss * 100 >= 90 * r.sched
               for r in want[2])

    for stop in (1, 2):
        # the crawl killed after committing wave `stop`: the committed
        # waves 0..stop of the uninterrupted run
        d = str(tmp_path / f"stop{stop}")
        shutil.copytree(full_dir, d)
        for w in range(stop + 1, 4):
            shutil.rmtree(ckpt.wave_dir(d, w))
        resumed = run_crawl(
            spark, pages, seeds, links, robots,
            CrawlConfig(max_waves=4, ckpt_dir=d, **common), resume=True,
        )
        assert resumed.waves[0].wave == stop + 1
        deltas, metrics, stats = committed(d)
        assert deltas == want[0], f"seen deltas differ, resumed after wave {stop}"
        assert metrics == want[1], f"metrics differ, resumed after wave {stop}"
        assert stats == want[2], f"host_stats differ, resumed after wave {stop}"


def test_persistent_rdds_flat_in_wave_count(spark):
    """With backoff and OPIC on, no checkpoint dir and wave caches
    released, each wave's tail releases what its states supersede
    (and opic_int its own checkpoints): the crawl leaves as many
    persistent RDDs after 6 waves as after 2."""
    pages, seeds, links, robots = _world(spark)
    jsc = spark.sparkContext._jsc

    def leftover(max_waves):
        before = set(jsc.getPersistentRDDs().keySet())
        res = run_crawl(
            spark, pages, seeds, links, robots,
            CrawlConfig(delay_s=1.0, quota=4, max_depth=6, rows_per_bucket=8,
                        parse=False, backoff=True, opic_priority=True,
                        opic_iters=1, keep_wave_caches=False,
                        max_waves=max_waves),
        )
        assert len(res.waves) == max_waves
        return len(set(jsc.getPersistentRDDs().keySet()) - before)

    assert leftover(2) == leftover(6)


@pytest.mark.parametrize("with_ckpt", [True, False], ids=["ckpt", "no_ckpt"])
def test_tail_jobs_keep_callers_job_group(spark, tmp_path, with_ckpt):
    """The tail persists its states from driver threads; their jobs
    still carry the caller's job group, so every job a 3-wave crawl
    with backoff and OPIC starts is attributed to the crawl."""
    pages, seeds, links, robots = _world(spark)
    sc = spark.sparkContext
    st = sc.statusTracker()

    def mark(group):
        sc.setJobGroup(group, group)
        spark.range(1).collect()
        return st.getJobIdsForGroup(group)

    group = f"crawl-{with_ckpt}"
    try:
        lo = max(mark(f"before-{group}"))
        sc.setJobGroup(group, group)
        run_crawl(
            spark, pages, seeds, links, robots,
            CrawlConfig(delay_s=1.0, quota=4, max_depth=3, rows_per_bucket=8,
                        parse=False, backoff=True, opic_priority=True,
                        max_waves=3,
                        ckpt_dir=str(tmp_path / "ck") if with_ckpt else None),
        )
        started = set(range(lo + 1, min(mark(f"after-{group}"))))
        outside = started - set(st.getJobIdsForGroup(group))
        assert not outside, f"{len(outside)} of {len(started)} jobs outside"
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
