"""Bloom sketch properties (SURVEY §5.2-3; §7.3 'property-test it
standalone'): no false negatives, bounded fpp, merge = union,
serialization round-trip (incl. the older one-bank layout), bits pinned
across releases, false-positive rescue by the exact anti-join. The
test_banked_* twins check the same properties for B banks routed by the
top hash bits."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from wos_crawler_spark.operators.bloom import (
    BloomFilter,
    bloom_from_bytes,
    build_bloom,
    sized_sketch,
)
from wos_crawler_spark.operators.cuckoo import ShardedCuckooFilter
from wos_crawler_spark.operators.dedup import dedup_frontier, mark_maybe_seen

def _spread_keys(n):
    """Keys whose TOP bits vary (bank routing uses the top log2 B bits)."""
    with np.errstate(over="ignore"):
        u = np.arange(n, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    return u.view(np.int64)


def test_no_false_negatives():
    bf = BloomFilter.sized(10_000, 0.01)
    keys = np.arange(-5000, 5000, dtype=np.int64) * 2654435761
    bf.add(keys)
    assert bf.might_contain(keys).all()


def test_fpp_bounded():
    bf = BloomFilter.sized(10_000, 0.01)
    bf.add(np.arange(10_000, dtype=np.int64))
    probe = np.arange(1_000_000, 1_100_000, dtype=np.int64)
    assert bf.might_contain(probe).mean() < 0.03  # 3x headroom over 1%


def test_merge_is_union():
    a = BloomFilter.sized(1000, 0.01)
    b = BloomFilter.sized(1000, 0.01)
    ka = np.arange(0, 500, dtype=np.int64)
    kb = np.arange(500, 1000, dtype=np.int64)
    a.add(ka)
    b.add(kb)
    m = a.merge(b)
    assert m.might_contain(ka).all() and m.might_contain(kb).all()


def test_serialization_roundtrip():
    bf = BloomFilter.sized(1000, 0.01)
    keys = np.array([1, -7, 99], dtype=np.int64)
    bf.add(keys)
    for rt in (BloomFilter.from_bytes(bf.to_bytes()), bloom_from_bytes(bf.to_bytes())):
        assert isinstance(rt, BloomFilter) and rt.shape == bf.shape
        assert (rt.bits == bf.bits).all()
        assert rt.might_contain(keys).all()


# ---------------------------------------------------- banked sharding


def test_banked_no_false_negatives_and_fpp():
    bb = BloomFilter.sized(40_000, 0.01, n_banks=4)
    keys = _spread_keys(40_000)
    bb.add(keys)
    assert bb.might_contain(keys).all()
    probe = _spread_keys(140_000)[40_000:]
    assert bb.might_contain(probe).mean() < 0.03
    # all four banks actually used (top-bit routing spreads keys)
    assert bb.bits.any(axis=1).all()


def test_banked_cross_merge_is_union():
    a = BloomFilter.sized(4000, 0.01, n_banks=8)
    b = BloomFilter.sized(4000, 0.01, n_banks=8)
    ka, kb = _spread_keys(4000)[:2000], _spread_keys(4000)[2000:]
    a.add(ka)
    b.add(kb)
    m = a.merge(b)
    assert m.n_banks == 8
    assert m.might_contain(ka).all() and m.might_contain(kb).all()


def test_banked_serialization_roundtrip_and_dispatch():
    bb = BloomFilter.sized(1000, 0.01, n_banks=4)
    keys = _spread_keys(500)
    bb.add(keys)
    for rt in (BloomFilter.from_bytes(bb.to_bytes()), bloom_from_bytes(bb.to_bytes())):
        assert isinstance(rt, BloomFilter) and rt.n_banks == 4
        assert rt.shape == bb.shape and (rt.bits == bb.bits).all()
        assert rt.might_contain(keys).all()


#: sha256 of the bit array after adding _spread_keys(1000) to
#: BloomFilter.sized(2000, 0.01, n_banks), recorded with the earlier
#: separate one-bank and banked classes: the bits must never change,
#: or checkpointed filters stop matching freshly built ones.
PINNED_BITS = {
    1: ((1, 19176, 7), "51b2ab2914d29e89e725b8ed9cb7c460946bf170053fd5427f131615c5e3bc06"),
    4: ((4, 4792, 7), "f797a34c5c522cbb36543a993b617d5989b139e98b2492598bfef1ccb5a75943"),
}
#: sha256 of the earlier serializations of those filters: the one-bank
#: layout (n_hashes, then the bits) and the banked layout, which the
#: single class still writes.
PINNED_BLOB = {
    1: "9758e139bacc629c10707872449fa5bbc1ec366033602a351568eaefa889b077",
    4: "86474884f6241e4f64328907cfdefe46632df7216ebfaf75fe2688c1564e551f",
}


def test_bits_pinned_to_recorded_hashes():
    for n_banks, (shape, digest) in PINNED_BITS.items():
        bf = BloomFilter.sized(2000, 0.01, n_banks)
        bf.add(_spread_keys(1000))
        assert bf.shape == shape
        assert hashlib.sha256(bf.bits.tobytes()).hexdigest() == digest
        if n_banks > 1:  # one bank: the older layout is read, not written
            assert hashlib.sha256(bf.to_bytes()).hexdigest() == PINNED_BLOB[n_banks]


def test_one_bank_legacy_blob_loads():
    """A checkpoint written in the older one-bank layout still resumes."""
    keys = _spread_keys(1000)
    bf = BloomFilter.sized(2000, 0.01)
    bf.add(keys)
    legacy = bf.n_hashes.to_bytes(4, "little") + bf.bits.tobytes()
    assert hashlib.sha256(legacy).hexdigest() == PINNED_BLOB[1]
    rt = bloom_from_bytes(legacy)
    assert isinstance(rt, BloomFilter) and rt.shape == bf.shape
    assert (rt.bits == bf.bits).all() and rt.might_contain(keys).all()
    with pytest.raises(ValueError, match="not a Bloom"):
        bloom_from_bytes((1000).to_bytes(4, "little") + bf.bits.tobytes())


def test_sized_sketch_picks_flavor():
    assert sized_sketch("bloom", 1000, 0.01, 4).shape[0] == 4
    ck = sized_sketch("cuckoo", 1000, 0.01, 4)
    assert isinstance(ck, ShardedCuckooFilter) and ck.n_shards == 4
    with pytest.raises(ValueError, match="seen_filter"):
        sized_sketch("bogus", 1000)


def test_distributed_build_equals_local(spark):
    keys = np.arange(2000, dtype=np.int64) * 7919
    df = spark.createDataFrame(
        [(int(k),) for k in keys], "url_hash long"
    ).repartition(8)
    dist = build_bloom(df, "url_hash", capacity=2000, fpp=0.01)
    local = BloomFilter.sized(2000, 0.01)
    local.add(keys)
    assert dist.shape == local.shape and (dist.bits == local.bits).all()


def test_banked_distributed_build_equals_local(spark):
    keys = _spread_keys(3000)
    df = spark.createDataFrame(
        [(int(k),) for k in keys], "url_hash long"
    ).repartition(8)
    dist = build_bloom(df, "url_hash", capacity=3000, fpp=0.01, n_banks=4)
    local = BloomFilter.sized(3000, 0.01, n_banks=4)
    local.add(keys)
    assert dist.shape == local.shape and (dist.bits == local.bits).all()


def test_prefilter_drops_seen(spark):
    bf = BloomFilter.sized(100, 0.01)
    bf.add(np.array([10, 20], dtype=np.int64))
    df = spark.createDataFrame([(10,), (20,), (30,)], "url_hash long")
    kept = mark_maybe_seen(df, bf).filter(~F.col("maybe_seen")).collect()
    assert {r["url_hash"] for r in kept} == {30}


def test_crawl_banked_bloom_identical_to_monolithic(spark):
    """B=4 vs B=1 must produce the SAME fetch log and seen set — the
    Bloom is a prefilter; banking only changes its layout."""
    from wos_crawler_spark.fixtures.synth import (
        links_table,
        pages_table,
        robots_table,
        seeds_table,
    )
    from wos_crawler_spark.plans.crawl import CrawlConfig, run_crawl

    n = 200
    logs = {}
    for banks in (1, 4):
        res = run_crawl(
            spark,
            pages=pages_table(spark, n, partitions=8),
            seeds=seeds_table(spark),
            links=links_table(spark, n, partitions=8),
            robots=robots_table(spark),
            cfg=CrawlConfig(
                delay_s=0.1, max_waves=3, parse=False,
                bloom_banks=banks, bloom_prefilter=True,
            ),
        )
        logs[banks] = (
            sorted(
                (r["wave"], r["url"], r["scheduled_ts"])
                for r in res.fetch_log.collect()
            ),
            sorted(r["url_hash"] for r in res.seen.collect()),
        )
    assert logs[1] == logs[4]


def test_merge_rejects_flavor_and_shape_mismatch():
    mono = BloomFilter.sized(1000, 0.01)
    banked = BloomFilter.sized(1000, 0.01, n_banks=4)
    with pytest.raises(ValueError, match="different flavor/shape"):
        mono.merge(banked)
    with pytest.raises(ValueError, match="different flavor/shape"):
        banked.merge(BloomFilter.sized(1000, 0.01, n_banks=8))
    with pytest.raises(ValueError, match="different flavor/shape"):
        mono.merge(BloomFilter.sized(5000, 0.01))
    with pytest.raises(ValueError, match="different flavor/shape"):
        mono.merge(ShardedCuckooFilter.sized(1000, n_shards=1))


def test_crawl_resume_adopts_checkpointed_bloom_flavor(spark, tmp_path):
    """Resuming a banked-Bloom checkpoint with a cfg that says banks=1
    must keep the checkpoint's flavor (and vice versa) instead of
    crashing in merge; an incompatible capacity is a clear error."""
    from wos_crawler_spark.fixtures.synth import (
        links_table,
        pages_table,
        robots_table,
        seeds_table,
    )
    from wos_crawler_spark.plans.crawl import CrawlConfig, run_crawl

    n = 120
    world = dict(
        pages=pages_table(spark, n, partitions=4),
        seeds=seeds_table(spark),
        links=links_table(spark, n),
        robots=robots_table(spark),
    )
    d = str(tmp_path / "ck")
    run_crawl(
        spark, **world,
        cfg=CrawlConfig(delay_s=1.0, max_waves=1, parse=False,
                        bloom_banks=4, ckpt_dir=d),
    )
    # flavor disagreement: cfg says 1 bank — checkpoint's 4 win, no crash
    res = run_crawl(
        spark, **world,
        cfg=CrawlConfig(delay_s=1.0, max_waves=2, parse=False,
                        bloom_banks=1, ckpt_dir=d),
        resume=True,
    )
    assert res.waves and res.waves[0].wave == 1
    # incompatible shape (capacity change) → clear error, not
    # corruption. Fresh checkpoint dir so the resumed wave still has
    # frontier work (an empty frontier would never touch the filter).
    d2 = str(tmp_path / "ck2")
    run_crawl(
        spark, **world,
        cfg=CrawlConfig(delay_s=1.0, max_waves=1, parse=False,
                        bloom_banks=4, ckpt_dir=d2),
    )
    with pytest.raises(ValueError, match="incompatible"):
        run_crawl(
            spark, **world,
            cfg=CrawlConfig(delay_s=1.0, max_waves=2, parse=False,
                            bloom_banks=4, bloom_capacity=50_000,
                            ckpt_dir=d2),
            resume=True,
        )


def test_seen_sketch_cache_holds_one_sketch():
    """The executor-side sketch cache keeps only the latest token's
    sketch: a new wave's sketch evicts the previous one, and a repeat
    lookup of the current token does not reload."""
    from wos_crawler_spark.operators import dedup

    dedup._BLOOM_CACHE.clear()
    assert dedup._cached_sketch(1, lambda: "wave-1") == "wave-1"
    assert dedup._cached_sketch(1, lambda: pytest.fail("reloaded")) == "wave-1"
    assert dedup._cached_sketch(2, lambda: "wave-2") == "wave-2"
    assert dedup._BLOOM_CACHE == {2: "wave-2"}
    dedup._BLOOM_CACHE.clear()


def test_false_positive_rescued_by_exact_antijoin(spark):
    """A Bloom false positive must still survive dedup thanks to the
    exact anti-join (correctness never depends on the Bloom)."""
    # tiny bloom → huge fpp: force false positives
    bf = BloomFilter(bits=np.zeros((1, 8), dtype=np.uint8), n_hashes=2)
    seen_keys = np.arange(0, 40, dtype=np.int64)
    bf.add(seen_keys)
    probe = np.arange(1000, 1200, dtype=np.int64)
    fp = probe[BloomFilter.from_bytes(bf.to_bytes()).might_contain(probe)]
    assert len(fp) > 0, "test needs at least one false positive"

    cand = spark.createDataFrame(
        [(int(k), 1, 0, f"l{k}") for k in probe],
        "url_hash long, priority int, query_id long, lineage string",
    )
    seen = spark.createDataFrame([(int(k),) for k in seen_keys], "url_hash long")
    out = {r["url_hash"] for r in dedup_frontier(cand, seen, bf).collect()}
    assert out == set(int(x) for x in probe)  # nothing lost, incl. FPs
