"""Recrawl eviction (plans/recrawl.py): distributed cuckoo delete,
CDC-merged seen reads, and end-to-end re-admission — evicted URLs are
re-fetched through the normal wave machinery, nothing else is."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from wos_crawler_spark.fixtures import wosgen
from wos_crawler_spark.fixtures.synth import (
    links_table,
    pages_table,
    robots_table,
    seeds_table,
)
from wos_crawler_spark.functions.urlnorm import with_url_canon
from wos_crawler_spark.operators import checkpoint as ckpt
from wos_crawler_spark.operators.bloom import bloom_from_bytes
from wos_crawler_spark.operators.cuckoo import (
    ShardedCuckooFilter,
    build_sharded_cuckoo,
    evict_sharded_cuckoo,
)
from wos_crawler_spark.plans.crawl import CrawlConfig, run_crawl
from wos_crawler_spark.plans.recrawl import evict_for_recrawl, stale_pages

RNG = np.random.default_rng(13)
KEYS = RNG.permutation(
    np.unique(RNG.integers(-(2**63), 2**63 - 1, size=21_000, dtype=np.int64))
)[:20_000]


def test_distributed_evict_matches_driver_delete(spark):
    """evict_sharded_cuckoo over Spark ≡ .delete() on the driver, and
    the result is partitioning-invariant (byte-identical blobs)."""
    rows = [(int(k),) for k in KEYS]
    df = spark.createDataFrame(rows, "url_hash long")
    f = build_sharded_cuckoo(df, "url_hash", capacity=40_000, n_shards=4)
    victims = KEYS[:3000]
    vic2 = spark.createDataFrame(
        [(int(k),) for k in victims], "url_hash long"
    ).repartition(2)
    vic16 = vic2.repartition(16)
    got2 = evict_sharded_cuckoo(f, vic2)
    got16 = evict_sharded_cuckoo(f, vic16)
    assert got2.to_bytes() == got16.to_bytes()
    want = ShardedCuckooFilter.from_bytes(f.to_bytes())
    assert want.delete(np.sort(victims)).all()
    assert got2.to_bytes() == want.to_bytes()
    # original untouched; survivors all still present in the new filter
    assert f.might_contain(victims).all()
    assert got2.might_contain(KEYS[3000:]).all()


N = 200
CFG = dict(
    delay_s=1.0, quota=5, max_waves=3, max_depth=2, max_retries=2,
    rows_per_bucket=8, parse=False, bloom_banks=2,
)


@pytest.fixture(scope="module")
def world(spark):
    return dict(
        pages=pages_table(spark, N, partitions=4).cache(),
        seeds=seeds_table(spark),
        robots=robots_table(spark),
        links=links_table(spark, N).cache(),
    )


DEAD_HOST = "dead.example.org"
BACKOFF = dict(
    backoff=True,
    backoff_kwargs=dict(min_fetches=3, err_pct=25, factor=3, quarantine_pct=90),
)


@pytest.mark.parametrize(
    "flavor, extra",
    [
        pytest.param("cuckoo", {}, id="cuckoo"),
        pytest.param("bloom", {}, id="bloom"),
        pytest.param("cuckoo", BACKOFF, id="cuckoo-backoff"),
    ],
)
def test_eviction_readmits_exactly_the_expired(
    spark, world, tmp_path, flavor, extra
):
    """Eviction re-admits exactly the expired urls. With backoff (its
    crawl also links every even page to a dead host) the eviction wave
    carries host_stats forward unchanged, so the dead host quarantined
    before the eviction stays quarantined in the resumed waves."""
    d = str(tmp_path / flavor)
    links = world["links"]
    if extra:
        links = links.unionByName(spark.createDataFrame(
            [(wosgen.url_of(i), f"https://{DEAD_HOST}/p{i}")
             for i in range(0, N, 2)],
            "src_url string, dst_url string",
        ))
    cfg = CrawlConfig(ckpt_dir=d, seen_filter=flavor, **CFG, **extra)
    run_crawl(spark, world["pages"], world["seeds"], links, world["robots"], cfg)
    last = ckpt.latest_wave(d)
    if extra:
        stats_before = sorted(ckpt.read_host_stats(spark, d, last).collect())
    fetched = sorted(
        r["url_hash"]
        for r in ckpt.read_seen(spark, d, last).select("url_hash").collect()
    )
    evict_hashes = set(fetched[::5][:10])  # deterministic victim pick
    expired = (
        with_url_canon(world["pages"].select("url"))
        .filter(F.col("url_hash").isin([int(h) for h in evict_hashes]))
        .select("url")
    )
    m = evict_for_recrawl(
        spark, d, expired, CrawlConfig(seen_filter=flavor, **CFG, **extra)
    )
    assert m["evicted"] == len(evict_hashes)
    if extra:
        after = ckpt.read_host_stats(spark, d, ckpt.latest_wave(d))
        assert sorted(after.collect()) == stats_before
        # quarantined before the eviction: min_fetches reached, miss
        # rate over quarantine_pct
        dead = [r for r in stats_before if r.host == DEAD_HOST]
        assert dead and dead[0].sched >= 3
        assert dead[0].miss * 100 >= 90 * dead[0].sched

    # seen now excludes exactly the evicted keys
    seen1 = {
        r["url_hash"]
        for r in ckpt.read_seen(spark, d, ckpt.latest_wave(d)).collect()
    }
    assert seen1 == set(fetched) - evict_hashes
    # the sketch agrees (cuckoo: deleted in place; bloom: rebuilt)
    filt = bloom_from_bytes(ckpt.read_bloom_bytes(d, ckpt.latest_wave(d)))
    assert filt.might_contain(np.array(sorted(seen1), dtype=np.int64)).all()
    if flavor == "cuckoo":
        # deletion is exact up to fp-rate for keys never re-inserted
        assert (
            filt.might_contain(
                np.array(sorted(evict_hashes), dtype=np.int64)
            ).mean()
            < 0.2
        )

    # resume: the next waves re-fetch exactly the evicted urls (more
    # than one wave when per-host quota spreads the readmissions out)
    res = run_crawl(
        spark, world["pages"], world["seeds"], links, world["robots"],
        CrawlConfig(ckpt_dir=d, seen_filter=flavor,
                    **{**CFG, "max_waves": ckpt.latest_wave(d) + 5}, **extra),
        resume=True,
    )
    ev_wave = m["wave"]
    if extra:
        # the dead host stays cut off although the re-fetched pages
        # link to it again
        assert res.fetch_log.filter(F.col("host") == DEAD_HOST).count() == 0
    resumed = {
        r["url_hash"]
        for r in res.fetch_log.filter(F.col("wave") > ev_wave)
        .select("url_hash").collect()
    }
    # every evicted url is re-fetched; NOTHING else previously fetched
    # is fetched twice (the resumed waves may also drain pending
    # never-fetched frontier rows — those are not duplicates)
    assert resumed & set(fetched) == evict_hashes
    # and they are seen again afterwards (CDC: delta wave > evict wave)
    seen2 = {
        r["url_hash"]
        for r in ckpt.read_seen(spark, d, ckpt.latest_wave(d)).collect()
    }
    # evicted keys are seen again, the original set is fully restored;
    # resumed waves may additionally fetch pending frontier rows
    assert seen2 >= set(fetched)


def test_stale_pages_pushdown_and_semijoin(spark, world, tmp_path):
    """stale_pages = (warc_ts < cutoff) ∩ seen, nothing else."""
    d = str(tmp_path / "stale")
    run_crawl(
        spark, world["pages"], world["seeds"], world["links"],
        world["robots"], CrawlConfig(ckpt_dir=d, seen_filter="cuckoo", **CFG),
    )
    seen = ckpt.read_seen(spark, d, ckpt.latest_wave(d))
    cutoff = world["pages"].agg(
        F.percentile_approx("warc_ts", 0.5).alias("c")
    ).collect()[0]["c"]
    got = {r["url"] for r in stale_pages(world["pages"], seen, cutoff).collect()}
    old_urls = {
        r["url"]
        for r in with_url_canon(
            world["pages"].filter(F.col("warc_ts") < F.lit(cutoff)).select("url")
        )
        .join(seen.select("url_hash"), "url_hash", "left_semi")
        .select("url")
        .collect()
    }
    assert got == old_urls and len(got) > 0


def test_evict_requires_committed_wave(spark, world, tmp_path):
    with pytest.raises(ValueError, match="no committed wave"):
        evict_for_recrawl(
            spark, str(tmp_path / "empty"),
            world["pages"].select("url"), CrawlConfig(**CFG),
        )


def test_change_rate_schedule(spark):
    from datetime import datetime, timezone

    from wos_crawler_spark.plans.recrawl import change_rate_schedule

    def ts(h):
        return datetime(2026, 1, 1, h, 0, 0)

    rows = [
        # volatile: digest changes at every one of 5 fetches over 8h
        *[("volatile", ts(2 * i), f"d{i}") for i in range(5)],
        # static: same digest for 5 fetches over 8h
        *[("static", ts(2 * i), "same") for i in range(5)],
        # flaky: one change in 8h
        ("flaky", ts(0), "x"), ("flaky", ts(4), "x"), ("flaky", ts(8), "y"),
        # singleton: one observation, zero span
        ("once", ts(0), "z"),
    ]
    hist = spark.createDataFrame(
        rows, "url string, fetch_ts timestamp, digest string"
    )
    got = {
        r.url: (r.n_obs, r.n_changes, r.interval_s)
        for r in change_rate_schedule(
            hist, min_interval_s=3600, max_interval_s=6 * 3600
        ).collect()
    }
    # volatile: span 8h, 4 changes -> 2h
    assert got["volatile"] == (5, 4, 2 * 3600)
    # static: span 8h, 0 changes -> 8h, clamped to max 6h
    assert got["static"] == (5, 0, 6 * 3600)
    # flaky: span 8h, 1 change -> 8h -> clamped to 6h
    assert got["flaky"] == (3, 1, 6 * 3600)
    # once: zero span -> floor(0/1)=0 -> clamped to min 1h
    assert got["once"] == (1, 0, 3600)


def test_change_rate_next_due(spark):
    from datetime import datetime

    from wos_crawler_spark.plans.recrawl import change_rate_schedule

    hist = spark.createDataFrame(
        [("u", datetime(2026, 1, 1, 0), "a"),
         ("u", datetime(2026, 1, 1, 2), "b")],
        "url string, fetch_ts timestamp, digest string",
    )
    r = change_rate_schedule(hist, min_interval_s=60,
                             max_interval_s=10**9).first()
    # span 2h, 1 change -> interval 2h; due 2h after last fetch
    assert r.interval_s == 7200
    assert r.next_due_ts == datetime(2026, 1, 1, 4)
