"""Score-driven frontier ordering (round 5, SURVEY W1 end-to-end):
integer-exact OPIC (operators/linkgraph.py::opic_int) re-prioritizes
every next-wave frontier row inside run_crawl (CrawlConfig.
opic_priority). Covered: bit-equality of the Spark operator vs its
pure-python twin, full-crawl fetch-order + seen-set parity vs the
simulator under the score-derived key, and non-vacuity (the scores
actually reorder the crawl vs static seed priority)."""

import pytest
from pyspark.sql import functions as F

from wos_crawler_spark.operators.linkgraph import opic_int, opic_int_python


def _edges():
    e = [(f"n{i}", f"n{(i * 3 + 1) % 17}") for i in range(40)]
    e += [("n2", "sink"), ("hub", "n5"), ("hub", "n6"), ("hub", "n7")]
    return e


def test_opic_int_twin_equality(spark):
    df = spark.createDataFrame(_edges(), "src string, dst string")
    for n_iter, scale in [(3, 1_000_000), (5, 999_983), (1, 37)]:
        got = {
            r["node"]: r["importance"]
            for r in opic_int(df, n_iter=n_iter, scale=scale).collect()
        }
        assert got == opic_int_python(_edges(), n_iter=n_iter, scale=scale)


def test_opic_int_conservation_and_guards(spark):
    df = spark.createDataFrame(_edges(), "src string, dst string")
    want = opic_int_python(_edges(), n_iter=3, scale=1_000_000)
    # Σ importance + final pool == (n_iter + 1) · scale exactly —
    # every floor remainder is conserved, so the total can only fall
    # short of the bound by the (bounded) final pool, never drift
    assert 0 <= 4 * 1_000_000 - sum(want.values()) < 4 * len(want)
    with pytest.raises(ValueError):
        opic_int(df, n_iter=0)
    with pytest.raises(ValueError, match="empty"):
        opic_int_python([])


def test_opic_rescore_without_edges_keeps_frontier(spark):
    """While no fetched hit has an out-link, the rescore returns the
    frontier untouched and no scores: opic_int's empty-graph error is
    the emptiness test. Any other ValueError still raises."""
    from wos_crawler_spark.plans.crawl import CrawlConfig, _opic_rescore

    frontier = spark.createDataFrame([("u1",)], "url string")
    hits = spark.createDataFrame([("a", "a")], "url string, url_canon string")
    links = spark.createDataFrame([("b", "c")], "src_url string, dst_url string")
    out, scores = _opic_rescore(frontier, hits, links, CrawlConfig())
    assert out is frontier and scores is None
    with pytest.raises(ValueError, match="n_iter"):
        _opic_rescore(frontier, hits, links, CrawlConfig(opic_iters=0))


def test_full_crawl_parity_with_opic_priority(spark):
    """cfg.opic_priority wired through the wave loop: fetch order AND
    seen set must match the simulator computing identical integer
    OPIC scores — and must DIFFER from the static-priority run (the
    scores really drive the quota/order, the test isn't vacuous)."""
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

    n = 150
    cfg_common = dict(
        quota=4, max_waves=3, max_depth=3, max_retries=2, rows_per_bucket=8
    )
    pages = pages_table(spark, n, partitions=4)
    links = links_table(spark, n)
    eng = run_crawl(
        spark, pages, seeds_table(spark), links, robots_table(spark),
        CrawlConfig(delay_s=1.0, parse=False, opic_priority=True,
                    **cfg_common),
    )
    urls = [wosgen.url_of(i) for i in range(n)] + [
        r["dst_url"] for r in links.select("dst_url").distinct().collect()
    ]
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
    sim_kwargs = dict(
        pages_urls=set(page_texts), page_texts=page_texts, seeds=seed_list,
        links=links_map, robots=robots_map, url_meta=url_meta, delay_s=1.0,
        **cfg_common,
    )
    sim = simulate_crawl(opic_priority=True, **sim_kwargs)
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
    # non-vacuity: static-priority simulator diverges
    static = simulate_crawl(**sim_kwargs)
    assert static.fetch_order != sim.fetch_order
