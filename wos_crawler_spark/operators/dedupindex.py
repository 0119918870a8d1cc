"""Persisted MinHash dedup index — the text-dedup twin of
``operators/annindex.py``: the standing training corpus is shingled,
signed and banded ONCE at build time; every nightly increment then
queries the stored band/hash tables instead of re-reading 100 TB of
standing text. This is what makes :func:`textdedup.prefix_jaccard_join`
-style cross-corpus checks incremental: the A×B join needed both
corpora's texts every run — here the standing side is two compact
tables (``bands``: one 24-byte row per (doc, band); ``hashes``: the
xxhash64'd shingle set, 8 bytes/shingle instead of the string bytes).

Query-time contract (pinned): candidates are band-bucket matches
(same recall geometry as :func:`textdedup.minhash_lsh_pairs` — a pair
with Jaccard j collides in ≥1 of b bands with the classic
``1-(1-j^r)^b`` probability); verification is the family's shared
exact verify (:func:`textdedup._verify_jaccard`) over the **hashed**
shingle sets with a RATIONAL threshold — ``n_inter·t_den ≥
n_union·t_num`` — so no float boundary exists anywhere. Hash-set
Jaccard equals string-set Jaccard unless two distinct shingles of the
same doc pair collide under xxhash64 (P ≈ |shingles|²/2⁶⁵ — and the
oracle recomputes STRING Jaccard, so a fixture collision would
hash-fail the entry rather than hide).

Scale shape: the query side (a daily increment, orders of magnitude
smaller than the index) is broadcast by default, so the standing band
table is probed by a BroadcastHashJoin and **never shuffles**; the
verification join ships only hashed sets for candidate ids. Set
``broadcast_query=False`` when the increment is itself huge (falls
back to a shuffle join on the band key).

Parity note: built with the same front-end as the pinned LSH snapshot
(``textdedup._banded`` / ``shingle_hashes``), so at equal params the
index's band rows are bit-identical to ``minhash_bands_sf001`` — the
driver oracle reuses that snapshot with a parity filter.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wos_crawler_spark.operators.textdedup import (
    _banded,
    _shingle_sets,
    _verify_jaccard,
    shingle_hashes,
)


@dataclass
class DedupIndex:
    bands: DataFrame  # (doc_id, band_id, band_hash)
    hashes: DataFrame  # (doc_id, h: array<long> distinct, n: int)
    shingle_n: int
    k: int
    n_bands: int


def _hashed_sets(
    docs: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """``(doc_id, h, n)`` — the distinct xxhash64'd shingle set.
    ``array_distinct`` AFTER hashing is a no-op on collision-free
    sets and keeps n == |string set| otherwise-equal, but shingle
    arrays are already distinct by construction; it stays here as a
    guard so n can never exceed the true set size."""
    return _shingle_sets(docs, id_col, text_col, shingle_n).select(
        F.col("_id").alias("doc_id"),
        F.array_distinct(shingle_hashes(F.col("_s"))).alias("h"),
    ).withColumn("n", F.size("h"))


def dedup_index_build(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    k: int = 32,
    n_bands: int = 8,
) -> DedupIndex:
    """One pass over the standing corpus text — the LAST time it is
    read: emits the band table (via the shared ``_banded`` front-end,
    bit-identical to the self-join LSH's banding) and the compact
    hashed shingle sets used for exact verification."""
    if k % n_bands != 0:
        raise ValueError("k must be divisible by n_bands")
    bands = _banded(docs, id_col, text_col, shingle_n, k, n_bands)
    return DedupIndex(
        bands=bands.withColumnRenamed("_id", "doc_id"),
        hashes=_hashed_sets(docs, id_col, text_col, shingle_n),
        shingle_n=shingle_n,
        k=k,
        n_bands=n_bands,
    )


def dedup_index_save(index: DedupIndex, path: str) -> None:
    """Persist as three parquet tables: ``bands/``, ``hashes/`` and a
    one-row ``meta/`` carrying the build params for drift refusal."""
    index.bands.write.mode("overwrite").parquet(f"{path}/bands")
    index.hashes.write.mode("overwrite").parquet(f"{path}/hashes")
    spark = index.bands.sparkSession
    spark.createDataFrame(
        [(index.shingle_n, index.k, index.n_bands)],
        "shingle_n int, k int, n_bands int",
    ).write.mode("overwrite").parquet(f"{path}/meta")


def dedup_index_load(spark: SparkSession, path: str) -> DedupIndex:
    """Reload a saved index; params come from ``meta/`` so a query
    can never silently run with mismatched banding."""
    meta = spark.read.parquet(f"{path}/meta").first()
    return DedupIndex(
        bands=spark.read.parquet(f"{path}/bands"),
        hashes=spark.read.parquet(f"{path}/hashes"),
        shingle_n=meta["shingle_n"],
        k=meta["k"],
        n_bands=meta["n_bands"],
    )


def dedup_index_extend(index: DedupIndex, path: str, new_docs: DataFrame,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> None:
    """Append the accepted increment's bands + hashes (same params —
    taken from the index, not the caller, so drift is impossible).
    Parquet append; id uniqueness is the caller's admission contract
    (run :func:`dedup_index_query` + anti-join first)."""
    inc = dedup_index_build(
        new_docs, id_col, text_col, index.shingle_n, index.k, index.n_bands
    )
    inc.bands.write.mode("append").parquet(f"{path}/bands")
    inc.hashes.write.mode("append").parquet(f"{path}/hashes")


def dedup_index_query(
    index: DedupIndex,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    t_num: int = 1,
    t_den: int = 2,
    broadcast_query: bool = True,
) -> DataFrame:
    """``(id_new, id_idx, n_inter, n_union)`` — every (increment ×
    standing) pair that shares ≥1 LSH band bucket AND has exact
    hashed-shingle Jaccard ≥ t_num/t_den. The increment's text is
    read once; the standing corpus's text is never read at all."""
    key = ["band_id", "band_hash"]
    qb = _banded(
        new_docs, id_col, text_col, index.shingle_n, index.k, index.n_bands
    ).toDF("id_new", *key)
    if broadcast_query:
        qb = F.broadcast(qb)
    # the stored tables are read by column name, never by position
    cand = (
        qb.join(index.bands.select("doc_id", *key).toDF("id_idx", *key), key)
        .select("id_new", "id_idx")
        .distinct()
    )
    q_sets = _hashed_sets(new_docs, id_col, text_col, index.shingle_n)
    idx_sets = index.hashes.select("doc_id", "h", "n")
    return _verify_jaccard(cand, q_sets, idx_sets, t_num, t_den)
