"""Broadcast-merged Bloom URL-seen filter (SURVEY.md F1/J1/A2), and the
one place that picks the seen-sketch flavor (Bloom or cuckoo).

Reference behavior: ``dep:scrapy.dupefilters::RFPDupeFilter.request_seen``
— an in-memory Python ``set`` of SHA1 request fingerprints, single
process. The north_rule names its replacement: "a broadcast-merged
Bloom/cuckoo URL-seen filter with canonicalized URL hashing".

Design (scale notes for 10^10 URLs):

- The Bloom is a **prefilter only** — correctness never depends on it.
  Every candidate that survives the Bloom is still checked by an exact
  ``left_anti`` join against the ``seen`` table, so false positives
  are impossible at the output and false negatives cannot occur
  (Bloom has none). The Bloom's job is to keep the anti-join's probe
  side small: at steady state most rediscovered URLs are dropped
  executor-side before any shuffle.
- **Banks**: a single 1e10-key / 1%-fpp bit array is ~12 GB — too big
  to broadcast or hold per executor. The filter is split into B banks
  routed by the top hash bits (``bank = url_hash >>> (64 - log2 B)``),
  each an independent m/B-bit Bloom; an executor needs only the banks
  its hash-partitioned frontier slice routes to, and build, merge and
  serialization stay per bank. B=1 is the ordinary single-array
  filter. Raising fpp (the exact anti-join rescues correctness) trades
  broadcast size for anti-join traffic.
- **Mergeable partials**: each partition sets bits in the banks its
  keys route to (``mapInPandas``), one task per bank ORs that bank's
  partials executor-side, and the driver receives B arrays of m/B
  bits and re-broadcasts once per wave.
- Hashing: positions derive from the 64-bit ``xxhash64(url_canon)``
  via splitmix64 double hashing — no string re-hashing in Python.

The seen sketch is either this filter or the deletable
:class:`~wos_crawler_spark.operators.cuckoo.ShardedCuckooFilter`. Both
share ``add`` / ``might_contain`` / ``merge`` / ``shape`` /
``to_bytes`` / ``build_like`` / ``evict``, so the crawl loop never
branches on the flavor: a fresh crawl gets :func:`sized_sketch`, a
resume gets :func:`bloom_from_bytes`, and each wave's delta is built
with ``sketch.build_like`` — the sketch's own flavor and bank count.

All operations are vectorized numpy over Arrow batches.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from dataclasses import dataclass
from typing import TYPE_CHECKING, Union

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

if TYPE_CHECKING:
    from wos_crawler_spark.operators.cuckoo import ShardedCuckooFilter

MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)
_BANK_MAGIC = 0x42414E4B  # "BANK" — cannot collide with n_hashes (≤64)

#: The URL-seen sketch: either flavor, same duck-typed surface.
SeenSketch = Union["BloomFilter", "ShardedCuckooFilter"]


def _splitmix64_np(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        z = (x + np.uint64(0x9E3779B97F4A7C15)) & MASK64
        z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & MASK64
        z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & MASK64
        return z ^ (z >> np.uint64(31))


def _bank_of(u: np.ndarray, n_banks: int) -> np.ndarray:
    """Bank (or shard) of each uint64 hash: its top log2(n_banks) bits."""
    if n_banks == 1:
        return np.zeros(len(u), dtype=np.uint64)
    return u >> np.uint64(64 - (n_banks.bit_length() - 1))


def _bit_positions(keys, n_banks: int, m: int, k: int) -> np.ndarray:
    """(len(keys), k) int64 indexes into the bank-major bit array: the
    key's bank times m, plus its double-hashed bit within the bank."""
    u = np.asarray(keys).astype(np.int64).view(np.uint64)
    h1 = _splitmix64_np(u)
    h2 = _splitmix64_np(h1) | np.uint64(1)
    ks = np.arange(k, dtype=np.uint64)
    with np.errstate(over="ignore"):
        pos = (h1[:, None] + ks[None, :] * h2[:, None]) % np.uint64(m)
    if n_banks > 1:
        pos += (_bank_of(u, n_banks) * np.uint64(m))[:, None]
    return pos.astype(np.int64)


def _same_shape(sketch: SeenSketch, built: SeenSketch) -> SeenSketch:
    """``built`` (from cfg capacity/fpp) if it can merge into ``sketch``;
    silently merging mismatched filters would corrupt the seen set."""
    if built.shape != sketch.shape:
        raise ValueError(
            f"seen-sketch shape {sketch.shape} is incompatible with "
            f"{built.shape} built from the cfg bloom_capacity/bloom_fpp; "
            f"use the crawl's original filter config"
        )
    return built


@dataclass
class BloomFilter:
    """Fixed-size mergeable Bloom over int64 keys, split into
    ``n_banks`` (a power of two) independent banks of m bits each."""

    bits: np.ndarray  # (n_banks, m/8) uint8, bit i of a bank = byte i>>3, bit i&7
    n_hashes: int

    @classmethod
    def sized(cls, capacity: int, fpp: float = 0.01, n_banks: int = 1) -> "BloomFilter":
        if n_banks < 1 or (n_banks & (n_banks - 1)):
            raise ValueError("n_banks must be a power of two")
        per_bank = max(1, capacity // n_banks)
        m = max(64, int(-per_bank * math.log(fpp) / (math.log(2) ** 2)))
        m = (m + 7) // 8 * 8
        k = max(1, round(m / per_bank * math.log(2)))
        return cls(bits=np.zeros((n_banks, m // 8), dtype=np.uint8), n_hashes=int(k))

    @property
    def n_banks(self) -> int:
        return self.bits.shape[0]

    @property
    def m(self) -> int:
        """Bits per bank."""
        return self.bits.shape[1] * 8

    @property
    def shape(self) -> tuple[int, int, int]:
        """(n_banks, bits-per-bank, n_hashes)."""
        return (self.n_banks, self.m, self.n_hashes)

    def add(self, keys: np.ndarray) -> None:
        pos = _bit_positions(keys, *self.shape).ravel()
        np.bitwise_or.at(
            self.bits.reshape(-1), pos >> 3, (1 << (pos & 7)).astype(np.uint8)
        )

    def might_contain(self, keys: np.ndarray) -> np.ndarray:
        pos = _bit_positions(keys, *self.shape)
        byte = self.bits.reshape(-1)[pos >> 3]
        return ((byte >> (pos & 7).astype(np.uint8)) & 1).all(axis=1)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        if not isinstance(other, BloomFilter) or self.shape != other.shape:
            raise ValueError(
                f"cannot merge Bloom filters of different flavor/shape: "
                f"{self.shape} vs {getattr(other, 'shape', type(other))}"
            )
        return BloomFilter(bits=self.bits | other.bits, n_hashes=self.n_hashes)

    def build_like(
        self, df: DataFrame, hash_col: str, capacity: int, fpp: float = 0.01
    ) -> "BloomFilter":
        """Distributed build of ``df``'s keys with this filter's bank
        count; raises if cfg capacity/fpp give another shape."""
        return _same_shape(self, build_bloom(df, hash_col, capacity, fpp, self.n_banks))

    def evict(
        self, keys: DataFrame, seen: DataFrame, capacity: int,
        fpp: float = 0.01, hash_col: str = "url_hash",
    ) -> "BloomFilter":
        """Recrawl eviction: a Bloom cannot delete, so it is rebuilt
        from the ``seen`` keys not in ``keys`` (a full distributed
        build — the cuckoo flavor deletes in place instead)."""
        survivors = seen.join(keys, hash_col, "left_anti")
        return self.build_like(survivors, hash_col, capacity, fpp)

    # -- checkpoint serialization (SURVEY §7.1 step 6)
    def to_bytes(self) -> bytes:
        """BANK magic, n_banks, then per bank [len, n_hashes, bits]."""
        rec_len = (4 + self.bits.shape[1]).to_bytes(4, "little")
        k = self.n_hashes.to_bytes(4, "little")
        parts = [_BANK_MAGIC.to_bytes(4, "little"), self.n_banks.to_bytes(4, "little")]
        for bank in self.bits:
            parts += [rec_len, k, bank.tobytes()]
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, raw: bytes) -> "BloomFilter":
        """Reads :meth:`to_bytes` output, and the older one-bank layout
        (n_hashes, then the bits) as a 1-bank filter."""
        head = int.from_bytes(raw[:4], "little")
        if head != _BANK_MAGIC:
            if not 1 <= head <= 64:
                raise ValueError("not a Bloom filter serialization")
            bits = np.frombuffer(raw[4:], dtype=np.uint8).reshape(1, -1)
            return cls(bits=bits.copy(), n_hashes=head)
        n = int.from_bytes(raw[4:8], "little")
        rec_len = int.from_bytes(raw[8:12], "little")
        recs = np.frombuffer(raw[8:], dtype=np.uint8).reshape(n, 4 + rec_len)
        k = int.from_bytes(raw[12:16], "little")
        return cls(bits=recs[:, 8:].copy(), n_hashes=k)


def sized_sketch(
    flavor: str, capacity: int, fpp: float = 0.01, n_banks: int = 1
) -> SeenSketch:
    """Empty seen sketch of a fresh crawl: ``flavor`` "bloom" (n_banks
    banks) or "cuckoo" (n_banks shards)."""
    if flavor == "bloom":
        return BloomFilter.sized(capacity, fpp, n_banks)
    if flavor == "cuckoo":
        # lazy import: cuckoo imports the hashing helpers from this module
        from wos_crawler_spark.operators.cuckoo import ShardedCuckooFilter

        return ShardedCuckooFilter.sized(capacity, n_banks)
    raise ValueError(f"seen_filter must be 'bloom' or 'cuckoo', not {flavor!r}")


def bloom_from_bytes(raw: bytes) -> SeenSketch:
    """Deserialize a checkpointed seen sketch of either flavor: the
    sharded cuckoo by its magic header, anything else as a Bloom."""
    from wos_crawler_spark.operators.cuckoo import SHARD_MAGIC, ShardedCuckooFilter

    if int.from_bytes(raw[:4], "little") == SHARD_MAGIC:
        return ShardedCuckooFilter.from_bytes(raw)
    return BloomFilter.from_bytes(raw)


def build_bloom(
    df: DataFrame, hash_col: str, capacity: int, fpp: float = 0.01, n_banks: int = 1
) -> BloomFilter:
    """Distributed build. Each partition emits one (bank, bits) partial
    per bank its keys route to, m/B bits each; one task per bank
    OR-folds that bank's partials executor-side, so the driver receives
    B arrays of m/B bits via Arrow — O(m), independent of partition
    count. At cluster scale the frontier is hash-partitioned on
    url_hash, so most partitions touch one bank."""
    out = BloomFilter.sized(capacity, fpp, n_banks)
    n, m, k = out.n_banks, out.m, out.n_hashes

    def _partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Set bits via boolean scatter-assignment + packbits instead of
        # np.bitwise_or.at: plain stores vectorize (~20x faster than
        # the unbuffered read-modify-write .at scatter at 10^7 keys).
        # Cost: one transient m/B-byte bool array per touched bank.
        banks: dict[int, np.ndarray] = {}
        for pdf in batches:
            pos = _bit_positions(pdf[hash_col].to_numpy(), n, m, k).ravel()
            bank, bit = np.divmod(pos, m)
            for b in np.unique(bank):
                bits = banks.setdefault(int(b), np.zeros(m, dtype=bool))
                bits[bit[bank == b]] = True
        for b, bits in banks.items():
            # LSB-first within each byte, matching add/might_contain
            packed = np.packbits(bits, bitorder="little")
            yield pd.DataFrame({"bank": [b], "bits": [packed.tobytes()]})

    def _reduce(key, pdf):
        acc = np.zeros(m // 8, dtype=np.uint8)
        for raw in pdf["bits"]:
            acc |= np.frombuffer(raw, dtype=np.uint8)
        return pd.DataFrame({"bank": [key[0]], "bits": [acc.tobytes()]})

    merged = (
        df.select(hash_col)
        .mapInPandas(_partial, "bank int, bits binary")
        .groupBy("bank")
        .applyInPandas(_reduce, "bank int, bits binary")
        .toPandas()
    )
    for b, raw in zip(merged["bank"], merged["bits"]):
        out.bits[int(b)] |= np.frombuffer(raw, dtype=np.uint8)
    return out
