"""Cuckoo URL-seen filter (north_rule: "Bloom/cuckoo"): no false
negatives, deletion (recrawl eviction), deterministic layout, merge
fold, serialization dispatch, distributed sharded build, and the
dedup_frontier prefilter path."""

import numpy as np
import pytest

from wos_crawler_spark.operators.bloom import bloom_from_bytes
from wos_crawler_spark.operators.cuckoo import (
    SLOTS,
    CuckooFilter,
    CuckooFullError,
    ShardedCuckooFilter,
    build_sharded_cuckoo,
)

RNG = np.random.default_rng(7)
# full-int64-range keys, like xxhash64 output (the shard router uses
# the TOP hash bits — low-range keys would all land in shard 0)
KEYS = RNG.permutation(
    np.unique(RNG.integers(-(2**63), 2**63 - 1, size=51_000, dtype=np.int64))
)[:50_000]


def test_no_false_negatives():
    f = CuckooFilter.sized(len(KEYS))
    f.add(KEYS)
    assert f.might_contain(KEYS).all()


def test_fp_rate_bounded():
    f = CuckooFilter.sized(len(KEYS))
    f.add(KEYS)
    other = (KEYS + 1).astype(np.int64)  # disjoint with prob ~1
    fp_rate = f.might_contain(other).mean()
    assert fp_rate < 0.002  # theoretical ~1.2e-4 at design load


def test_high_load_exercises_eviction():
    """Fill to ~the design load: two-choice bulk placement alone can't
    place everything, so the kick loop must run — and still no false
    negatives."""
    f = CuckooFilter.sized(len(KEYS), load=0.84)
    cap = int(f.n_buckets * 4 * 0.83)
    dense = KEYS[:cap]
    f.add(dense)
    assert f.might_contain(dense).all()


def test_overflow_raises():
    f = CuckooFilter(table=np.zeros((4, 4), dtype=np.uint16))
    with pytest.raises(CuckooFullError):
        f.add(KEYS[:1000])


def test_delete_readmits_key():
    f = CuckooFilter.sized(len(KEYS))
    f.add(KEYS)
    victims = KEYS[:500]
    deleted = f.delete(victims)
    assert deleted.all()
    # the other keys are untouched (no false negatives introduced)
    assert f.might_contain(KEYS[500:]).all()
    # deleted keys are (almost all) gone — residual hits are fp-rate
    assert f.might_contain(victims).mean() < 0.01


def test_deterministic_layout():
    f1 = CuckooFilter.sized(10_000)
    f2 = CuckooFilter.sized(10_000)
    ks = KEYS[:8000]
    f1.add(ks)
    f2.add(ks[::-1].copy())  # reversed input order — add() sorts
    assert f1.to_bytes() == f2.to_bytes()


def test_merge_folds_disjoint_sets():
    a, b = KEYS[:20_000], KEYS[20_000:40_000]
    fa = CuckooFilter.sized(50_000)
    fb = CuckooFilter.sized(50_000)
    fa.add(a)
    fb.add(b)
    merged = fa.merge(fb)
    assert merged.might_contain(a).all() and merged.might_contain(b).all()
    # originals untouched
    assert not fa.might_contain(b).all()


def test_merge_dense_exercises_kick_tail():
    """Merging two half-full filters lands at ~0.76 load: the two bulk
    placement passes cannot place everything, so merge's kick loop must
    run — and membership stays exact for both sides."""
    fa = CuckooFilter.sized(50_000)
    fb = CuckooFilter.sized(50_000)
    half = int(fa.n_buckets * SLOTS * 0.41)
    a, b = KEYS[:half], KEYS[half:]
    fa.add(a)
    fb.add(b)
    merged = fa.merge(fb)
    assert merged.might_contain(a).all()
    assert merged.might_contain(b).all()
    # deterministic: same fold twice → same bytes
    assert fa.merge(fb).to_bytes() == merged.to_bytes()


def test_merge_shape_mismatch_raises():
    with pytest.raises(ValueError):
        CuckooFilter.sized(100).merge(CuckooFilter.sized(100_000))


def test_serialization_roundtrip_and_dispatch():
    f = CuckooFilter.sized(10_000)
    f.add(KEYS[:5000])
    back = CuckooFilter.from_bytes(f.to_bytes())  # the shard blob
    assert isinstance(back, CuckooFilter)
    assert np.array_equal(back.table, f.table)

    s = ShardedCuckooFilter.sized(10_000, n_shards=4)
    s.add(KEYS[:5000])
    back2 = bloom_from_bytes(s.to_bytes())
    assert isinstance(back2, ShardedCuckooFilter)
    assert back2.to_bytes() == s.to_bytes()


def test_sharded_semantics_match_monolithic():
    s = ShardedCuckooFilter.sized(len(KEYS) * 4, n_shards=8)
    s.add(KEYS)
    assert s.might_contain(KEYS).all()
    assert s.delete(KEYS[:100]).all()
    assert s.might_contain(KEYS[100:]).all()


def test_spark_sharded_build_partitioning_invariant(spark):
    """Distributed build: same keys, different partitioning → byte-
    identical filter (deterministic layout); no false negatives."""
    rows = [(int(k),) for k in KEYS[:20_000]]
    df2 = spark.createDataFrame(rows, "url_hash long").repartition(2)
    df16 = spark.createDataFrame(rows, "url_hash long").repartition(16)
    f2 = build_sharded_cuckoo(df2, "url_hash", capacity=40_000, n_shards=4)
    f16 = build_sharded_cuckoo(df16, "url_hash", capacity=40_000, n_shards=4)
    assert f2.to_bytes() == f16.to_bytes()
    assert f2.might_contain(KEYS[:20_000]).all()
    # single-shard flavor builds too (executor-side, one group)
    f1 = build_sharded_cuckoo(df2, "url_hash", capacity=40_000, n_shards=1)
    assert f1.might_contain(KEYS[:20_000]).all()


def test_spark_dedup_frontier_prefilter_with_cuckoo(spark):
    """dedup_frontier is filter-flavor agnostic: cuckoo prefilter +
    exact anti-join rescue ≡ exact candidates ∖ seen."""
    from pyspark.sql import functions as F

    from wos_crawler_spark.operators.dedup import dedup_frontier

    cand = spark.range(0, 3000).select(F.col("id").alias("url_hash"))
    seen = spark.range(0, 3000, 3).select(F.col("id").alias("url_hash"))
    ck = build_sharded_cuckoo(seen, "url_hash", capacity=10_000, n_shards=2)
    got = {
        r["url_hash"]
        for r in dedup_frontier(cand, seen, ck, intra=False).collect()
    }
    assert got == {i for i in range(3000) if i % 3 != 0}
