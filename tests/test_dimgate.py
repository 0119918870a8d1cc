"""Size-gated per-host broadcast dims (round-5 scale fix): at the
10^10-URL design point the robots/delay/backoff dims span 10^7–10^8
hosts and cannot broadcast — CrawlConfig.dim_broadcast_threshold
drops the broadcast hints above a counted size so the dim joins key
on host instead. Covered here: plan pins (no BroadcastExchange when
gated, forced BroadcastExchange when hinted), verdict equality
between modes, and full-crawl fetch-order + seen-set parity vs the
python simulator with the gate forced on (threshold 0)."""

import pytest
from pyspark.sql import functions as F

from wos_crawler_spark.operators.politeness import schedule_wave
from wos_crawler_spark.operators.robots import robots_filter


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _frontier(spark):
    rows = [
        (f"https://h{i % 7}.org/p{i}", f"h{i % 7}.org", i * 31 + 5, 1, 0)
        for i in range(200)
    ]
    return spark.createDataFrame(
        rows,
        "url_canon string, host string, url_hash long, priority int,"
        " discovered_wave int",
    )


def _robots(spark):
    rows = [(f"h{i}.org", "/p", i % 2 == 0, 2) for i in range(7)]
    return spark.createDataFrame(
        rows, "host string, rule_prefix string, allow boolean, rule_len int"
    )


@pytest.fixture
def no_auto_bhj(spark):
    """Disable Spark's stats-based auto-broadcast so the ONLY way a
    BroadcastExchange appears in the initial plan is an explicit
    hint — what the gate is supposed to remove."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_robots_filter_gate_drops_broadcast(spark, no_auto_bhj):
    f, r = _frontier(spark), _robots(spark)
    hinted = robots_filter(f, r)
    gated = robots_filter(f, r, broadcast_dims=False)
    assert "BroadcastExchange" in _plan(hinted)
    assert "BroadcastExchange" not in _plan(gated)
    # identical verdicts either way (same rows survive)
    a = sorted(x["url_canon"] for x in hinted.collect())
    b = sorted(x["url_canon"] for x in gated.collect())
    assert a == b and 0 < len(a) < 200


def test_robots_filter_gate_wildcards_mode(spark, no_auto_bhj):
    f, r = _frontier(spark), _robots(spark)
    gated = robots_filter(f, r, wildcards=True, broadcast_dims=False)
    assert "BroadcastExchange" not in _plan(gated)
    hinted = robots_filter(f, r, wildcards=True)
    assert sorted(x["url_canon"] for x in gated.collect()) == sorted(
        x["url_canon"] for x in hinted.collect()
    )


def test_schedule_wave_gate_drops_broadcast(spark, no_auto_bhj):
    f = _frontier(spark)
    delays = spark.createDataFrame(
        [("h1.org", 3.0), ("h2.org", 5.0)], "host string, crawl_delay double"
    )
    hinted = schedule_wave(f, 1.0, quota=5, host_delays=delays)
    gated = schedule_wave(
        f, 1.0, quota=5, host_delays=delays, broadcast_dims=False
    )
    assert "BroadcastExchange" in _plan(hinted)
    assert "BroadcastExchange" not in _plan(gated)
    key = ["url_canon", "host", "salt", "scheduled_ts"]
    a = sorted(tuple(r[k] for k in key) for r in hinted.select(key).collect())
    b = sorted(tuple(r[k] for k in key) for r in gated.select(key).collect())
    assert a == b and len(a) > 0


def test_full_crawl_parity_with_gate_forced(spark):
    """dim_broadcast_threshold=0 forces EVERY per-host dim join (robots
    rules, salt counts, backoff delays, quarantine anti-join) into
    non-broadcast mode for the whole crawl — fetch order and seen set
    must still match the python simulator exactly."""
    from wos_crawler_spark.fixtures import wosgen
    from wos_crawler_spark.fixtures.synth import (
        links_table,
        pages_table,
        robots_table,
        seeds_table,
    )
    from wos_crawler_spark.functions.urlnorm import with_url_canon
    from wos_crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from wos_crawler_spark.plans.simulator import simulate_crawl

    n = 120
    bo_kw = dict(min_fetches=3, err_pct=25, factor=3, quarantine_pct=90)
    cfg_common = dict(
        quota=5, max_waves=3, max_depth=3, max_retries=2, rows_per_bucket=8
    )
    pages = pages_table(spark, n, partitions=4)
    dead = [
        (wosgen.url_of(i), f"https://dead.example.org/p{i}")
        for i in range(0, n, 2)
    ]
    links = links_table(spark, n).unionByName(
        spark.createDataFrame(dead, "src_url string, dst_url string")
    )
    eng = run_crawl(
        spark, pages, seeds_table(spark), links, robots_table(spark),
        CrawlConfig(
            delay_s=1.0, parse=False, backoff=True, backoff_kwargs=bo_kw,
            dim_broadcast_threshold=0, **cfg_common,
        ),
    )
    urls = [wosgen.url_of(i) for i in range(n)] + [d for _, d in dead]
    meta_rows = with_url_canon(
        spark.createDataFrame([(u,) for u in set(urls)], "url string")
    ).collect()
    url_meta = {
        r["url"]: (r["url_canon"], r["url_hash"], r["host"])
        for r in meta_rows
    }
    page_texts = {
        r["url"]: r["text"] for r in pages.select("url", "text").collect()
    }
    links_map = {}
    for r in links.collect():
        links_map.setdefault(r["src_url"], []).append(r["dst_url"])
    robots_map = {}
    for r in robots_table(spark).collect():
        robots_map.setdefault(r["host"], []).append(
            (r["rule_prefix"], r["allow"], r["rule_len"])
        )
    seed_list = [
        (r["query_id"], r["term"], r["priority"])
        for r in seeds_table(spark).collect()
    ]
    sim = simulate_crawl(
        pages_urls=set(page_texts), page_texts=page_texts, seeds=seed_list,
        links=links_map, robots=robots_map, url_meta=url_meta, delay_s=1.0,
        backoff=True, backoff_kwargs=bo_kw, **cfg_common,
    )
    rows = eng.fetch_log.select(
        "wave", "url", "scheduled_ts", "host", "url_hash"
    ).collect()
    rows.sort(
        key=lambda r: (r["wave"], r["scheduled_ts"], r["host"], r["url_hash"])
    )
    engine_order = [
        (r["wave"], r["url"], round(r["scheduled_ts"], 6)) for r in rows
    ]
    assert len(engine_order) > 10
    assert engine_order == sim.fetch_order
    assert {r["url_hash"] for r in eng.seen.collect()} == sim.seen


def test_duplicate_delay_rows_stay_broadcast(spark, no_auto_bhj):
    """run_crawl sizes the host_delays dim by DISTINCT hosts, like the
    robots dim: a dim listing every host three times stays broadcast
    while its hosts fit dim_broadcast_threshold, and only a threshold
    below the host count drops the hints."""
    from wos_crawler_spark.fixtures.synth import pages_table, seeds_table
    from wos_crawler_spark.functions.urlnorm import with_url_canon
    from wos_crawler_spark.plans.crawl import CrawlConfig, run_crawl

    pages = pages_table(spark, 40, partitions=2)
    hosts = [
        r.host for r in
        with_url_canon(pages.select("url")).select("host").distinct().collect()
    ]
    delays = spark.createDataFrame(
        [(h, 2.0) for h in hosts] * 3, "host string, crawl_delay double"
    )

    def fetch_plan(threshold):
        res = run_crawl(
            spark, pages, seeds_table(spark), host_delays=delays,
            cfg=CrawlConfig(max_waves=1, parse=False,
                            dim_broadcast_threshold=threshold),
        )
        return _plan(res.waves[0].fetched)

    assert "BroadcastExchange" in fetch_plan(len(hosts))
    assert "BroadcastExchange" not in fetch_plan(len(hosts) - 1)
