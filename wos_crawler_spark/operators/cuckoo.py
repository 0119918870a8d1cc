"""Cuckoo URL-seen filter (SURVEY.md F1/A2; north_rule: "a
broadcast-merged Bloom/**cuckoo** URL-seen filter").

Reference behavior: same role as ``dep:scrapy.dupefilters::
RFPDupeFilter.request_seen`` — the persistent URL-seen sketch — but,
unlike the Bloom flavor (operators/bloom.py), a cuckoo filter supports
DELETION: evicting a url_hash re-admits the URL for fetching, which is
what a recrawl policy needs (expire stale pages without rebuilding the
whole sketch). Structure follows Fan et al., "Cuckoo Filter:
Practically Better Than Bloom" (CoNEXT 2014): 4-slot buckets, 16-bit
fingerprints, partial-key cuckoo hashing (the alternate bucket is
``i ^ hash(fp)``, so relocation never needs the original key).

Scale design (10^10 URLs), mirroring the Bloom's banks:

- **Sharded by the top hash bits** (``shard = url_hash >>> (64 -
  log2 S)``): :class:`ShardedCuckooFilter` holds S independent
  :class:`CuckooFilter` shards, each built by ONE task over its
  co-routed keys, so no task ever holds more than ~N/S keys and
  per-executor memory is table/S. Shards are the build-parallelism
  unit (a cuckoo table cannot be OR-merged bit-wise like Bloom). S=1
  is the ordinary single-table filter; a crawl only ever holds the
  sharded class.
- **Mergeable anyway**: a slot stores (bucket b, fp) and the candidate
  pair {b, b ^ hash(fp)} is recoverable from exactly that, so
  ``merge`` re-inserts the other filter's occupied slots — the
  per-wave delta fold the crawl loop does. Raises
  :class:`CuckooFullError` instead of silently degrading when the
  combined load exceeds what relocation can place.
- **Determinism (SURVEY §4)**: insertion order changes the table
  layout, so every build path sorts its keys first and eviction picks
  its victim slot round-robin — two builds over the same key set are
  byte-identical, whatever the input partitioning.
- Same duck-typed surface as the Bloom (``add`` / ``might_contain`` /
  ``merge`` / ``to_bytes`` / ``shape`` / ``build_like`` / ``evict``),
  so the crawl loop, ``dedup_frontier``'s prefilter and the checkpoint
  (``bloom.bloom_from_bytes``) never branch on the flavor.

False-positive rate: 2 buckets × 4 slots × 2^-16 ≈ 1.2e-4 at full
load — an order below the Bloom default; correctness never depends on
it (the exact anti-join rescues false positives, and deletion is only
safe for keys actually inserted — the seen-set contract).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from wos_crawler_spark.operators.bloom import _bank_of, _same_shape, _splitmix64_np

SLOTS = 4
MAX_KICKS = 500
CUCKOO_MAGIC = 0x434B4F4F  # "CKOO"
SHARD_MAGIC = 0x434B5348  # "CKSH"


class CuckooFullError(RuntimeError):
    """Insert/merge could not place a fingerprint within MAX_KICKS —
    the filter is over capacity; size it for the crawl's URL budget."""


def _fingerprints(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(fp uint16 never 0, primary bucket-hash uint64) per key."""
    u = np.asarray(keys).astype(np.int64).view(np.uint64)
    h = _splitmix64_np(u)
    fp = ((h >> np.uint64(32)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)  # 0 is the empty slot
    return fp, h


def _alt_delta(fp: np.ndarray, n_buckets: int) -> np.ndarray:
    """xor-delta to the alternate bucket: hash(fp) masked to the table
    (n_buckets is a power of two, so ^delta is an involution)."""
    h = _splitmix64_np(fp.astype(np.uint64))
    return (h & np.uint64(n_buckets - 1)).astype(np.int64)


@dataclass
class CuckooFilter:
    """Fixed-size deletable cuckoo filter over int64 keys — the shard
    type of :class:`ShardedCuckooFilter`."""

    table: np.ndarray  # (n_buckets, SLOTS) uint16; 0 = empty

    @classmethod
    def sized(cls, capacity: int, load: float = 0.84) -> "CuckooFilter":
        """0.84 is the 4-slot design load factor (Fan et al. §5) —
        beyond it relocation chains blow up."""
        need = max(1, int(np.ceil(capacity / (SLOTS * load))))
        n_buckets = 1 << (need - 1).bit_length()
        return cls(table=np.zeros((n_buckets, SLOTS), dtype=np.uint16))

    @property
    def n_buckets(self) -> int:
        return self.table.shape[0]

    @property
    def shape(self) -> tuple:
        return ("cuckoo", 1, self.n_buckets, SLOTS)

    def _index(self, keys: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        fp, h = _fingerprints(keys)
        i1 = (h & np.uint64(self.n_buckets - 1)).astype(np.int64)
        i2 = i1 ^ _alt_delta(fp, self.n_buckets)
        return fp, i1, i2

    # -- insert -------------------------------------------------------
    def _bulk_place(self, bidx: np.ndarray, fps: np.ndarray) -> np.ndarray:
        """Append (bidx[i], fps[i]) into left-packed free slots where
        room exists, one vectorized pass. Returns the placed mask.
        Slots stay left-packed (delete repacks, eviction replaces in
        place), so bucket occupancy IS the insert position."""
        if not len(bidx):
            return np.zeros(0, dtype=bool)
        occ = (self.table != 0).sum(axis=1).astype(np.int64)
        order = np.argsort(bidx, kind="stable")
        b_sorted = bidx[order]
        # rank of each key within its bucket run
        first = np.zeros(len(b_sorted), dtype=np.int64)
        new_run = np.flatnonzero(np.diff(b_sorted) != 0) + 1
        first[new_run] = new_run
        np.maximum.accumulate(first, out=first)
        rank = np.arange(len(b_sorted)) - first
        slot = occ[b_sorted] + rank
        ok = slot < SLOTS
        self.table[b_sorted[ok], slot[ok]] = fps[order][ok]
        placed = np.zeros(len(bidx), dtype=bool)
        placed[order[ok]] = True
        return placed

    def _insert_one(self, b: int, fp: int) -> bool:
        """Eviction path for one fingerprint; deterministic round-robin
        victim slot (SURVEY §4 — no RNG anywhere in the build)."""
        mask = self.n_buckets - 1
        for attempt in range(MAX_KICKS):
            row = self.table[b]
            free = np.flatnonzero(row == 0)
            if free.size:
                self.table[b, free[0]] = fp
                return True
            s = attempt % SLOTS
            victim = int(row[s])
            self.table[b, s] = fp
            fp = victim
            b = b ^ int(
                _alt_delta(np.array([fp], dtype=np.uint16), mask + 1)[0]
            )
        return False

    def add(self, keys: np.ndarray) -> None:
        """Insert keys (sorted internally → deterministic layout).
        Duplicate keys store duplicate fingerprint copies (up to 8),
        matching the paper's multiset semantics so ``delete`` of one
        copy leaves the rest."""
        keys = np.unique(np.asarray(keys))  # seen-set semantics: a key
        # inserted twice in ONE call is one membership fact; cross-call
        # duplicates are the caller's contract (crawl dedups upstream)
        if not len(keys):
            return
        fp, i1, i2 = self._index(keys)
        placed = self._bulk_place(i1, fp)
        if not placed.all():
            r = ~placed
            placed2 = self._bulk_place(i2[r], fp[r])
            rest_fp, rest_b = fp[r][~placed2], i1[r][~placed2]
            for b, f in zip(rest_b.tolist(), rest_fp.tolist()):
                if not self._insert_one(int(b), int(f)):
                    raise CuckooFullError(
                        f"cuckoo filter over capacity "
                        f"({self.n_buckets} buckets)"
                    )

    # -- probe --------------------------------------------------------
    def might_contain(self, keys: np.ndarray) -> np.ndarray:
        keys = np.asarray(keys)
        if not len(keys):
            return np.zeros(0, dtype=bool)
        fp, i1, i2 = self._index(keys)
        hit1 = (self.table[i1] == fp[:, None]).any(axis=1)
        hit2 = (self.table[i2] == fp[:, None]).any(axis=1)
        return hit1 | hit2

    # -- delete (the cuckoo differentiator: recrawl eviction) ---------
    def delete(self, keys: np.ndarray) -> np.ndarray:
        """Remove ONE stored copy per key; True where a copy was found.
        Only valid for keys that were actually inserted (standard
        cuckoo-filter contract — deleting a never-inserted key can
        evict a colliding fingerprint). Buckets are repacked so the
        left-packed invariant ``_bulk_place`` relies on holds."""
        keys = np.asarray(keys)
        out = np.zeros(len(keys), dtype=bool)
        if not len(keys):
            return out
        fp, i1, i2 = self._index(keys)
        for j in range(len(keys)):
            for b in (int(i1[j]), int(i2[j])):
                row = self.table[b]
                hits = np.flatnonzero(row == fp[j])
                if hits.size:
                    row[hits[0]] = 0
                    nz = row[row != 0]
                    row[:] = 0
                    row[: len(nz)] = nz
                    out[j] = True
                    break
        return out

    # -- merge (per-wave delta fold) -----------------------------------
    def merge(self, other: "CuckooFilter") -> "CuckooFilter":
        """Fold ``other``'s occupied slots in. A slot's stored bucket b
        and fingerprint fully determine its candidate pair
        {b, b ^ delta(fp)}, so re-insertion never needs original keys.
        Vectorized like ``add`` (two bulk-placement passes, python
        kicks only for the overflow tail) — the driver-side per-wave
        fold is O(delta) numpy work, not a per-key python loop."""
        if not isinstance(other, CuckooFilter) or self.shape != other.shape:
            raise ValueError(
                f"cannot merge cuckoo filters of different shape: "
                f"{self.shape} vs {getattr(other, 'shape', type(other))}"
            )
        out = CuckooFilter(table=self.table.copy())
        b_idx, s_idx = np.nonzero(other.table)
        fps = other.table[b_idx, s_idx]
        order = np.lexsort((fps, b_idx))  # deterministic fold order
        b = b_idx[order].astype(np.int64)
        f = fps[order]
        placed = out._bulk_place(b, f)
        if not placed.all():
            r = ~placed
            alt = b[r] ^ _alt_delta(f[r], out.n_buckets)
            placed2 = out._bulk_place(alt, f[r])
            for bb, ff in zip(
                b[r][~placed2].tolist(), f[r][~placed2].tolist()
            ):
                if not out._insert_one(int(bb), int(ff)):
                    raise CuckooFullError(
                        "merge exceeded capacity — size the filter for "
                        "the combined key budget"
                    )
        return out

    # -- checkpoint serialization --------------------------------------
    def to_bytes(self) -> bytes:
        return (
            CUCKOO_MAGIC.to_bytes(4, "little")
            + self.n_buckets.to_bytes(8, "little")
            + self.table.tobytes()
        )

    @classmethod
    def from_bytes(cls, raw: bytes) -> "CuckooFilter":
        if int.from_bytes(raw[:4], "little") != CUCKOO_MAGIC:
            raise ValueError("not a cuckoo filter serialization")
        n = int.from_bytes(raw[4:12], "little")
        table = (
            np.frombuffer(raw[12:], dtype=np.uint16)
            .reshape(n, SLOTS)
            .copy()
        )
        return cls(table=table)


@dataclass
class ShardedCuckooFilter:
    """S independent CuckooFilter shards routed by the TOP log2(S)
    hash bits — the 10^10-scale layout (executors hold only the shards
    their hash-partitioned frontier slice routes to)."""

    shards: list[CuckooFilter]

    @classmethod
    def sized(cls, capacity: int, n_shards: int = 4) -> "ShardedCuckooFilter":
        if n_shards < 1 or (n_shards & (n_shards - 1)):
            raise ValueError("n_shards must be a power of two")
        per = max(1, capacity // n_shards)
        return cls([CuckooFilter.sized(per) for _ in range(n_shards)])

    @property
    def n_shards(self) -> int:
        return len(self.shards)

    @property
    def shape(self) -> tuple:
        return ("cuckoo", self.n_shards, self.shards[0].n_buckets, SLOTS)

    def _by_shard(self, keys: np.ndarray, fn) -> np.ndarray:
        keys = np.asarray(keys)
        out = np.zeros(len(keys), dtype=bool)
        idx = _bank_of(keys.astype(np.int64).view(np.uint64), self.n_shards)
        for s in range(self.n_shards):
            m = idx == s
            if m.any():
                out[m] = fn(self.shards[s], keys[m])
        return out

    def add(self, keys: np.ndarray) -> None:
        self._by_shard(keys, lambda f, k: f.add(k))

    def might_contain(self, keys: np.ndarray) -> np.ndarray:
        return self._by_shard(keys, lambda f, k: f.might_contain(k))

    def delete(self, keys: np.ndarray) -> np.ndarray:
        return self._by_shard(keys, lambda f, k: f.delete(k))

    def merge(self, other: "ShardedCuckooFilter") -> "ShardedCuckooFilter":
        if not isinstance(other, ShardedCuckooFilter) or self.shape != other.shape:
            raise ValueError(
                f"cannot merge cuckoo filters of different shape: "
                f"{self.shape} vs {getattr(other, 'shape', type(other))}"
            )
        return ShardedCuckooFilter(
            [a.merge(b) for a, b in zip(self.shards, other.shards)]
        )

    def build_like(
        self, df: DataFrame, hash_col: str, capacity: int, fpp: float = 0.01
    ) -> "ShardedCuckooFilter":
        """Distributed build of ``df``'s keys with this filter's shard
        count (``fpp`` is the Bloom's knob, unused here); raises if cfg
        capacity gives another shape."""
        return _same_shape(
            self, build_sharded_cuckoo(df, hash_col, capacity, self.n_shards)
        )

    def evict(
        self, keys: DataFrame, seen: DataFrame, capacity: int,
        fpp: float = 0.01, hash_col: str = "url_hash",
    ) -> "ShardedCuckooFilter":
        """Recrawl eviction: delete ``keys`` in place, O(evicted) —
        ``seen``/``capacity``/``fpp`` are what a Bloom's rebuild needs."""
        return evict_sharded_cuckoo(self, keys, hash_col)

    def to_bytes(self) -> bytes:
        parts = [
            SHARD_MAGIC.to_bytes(4, "little"),
            self.n_shards.to_bytes(4, "little"),
        ]
        for f in self.shards:
            raw = f.to_bytes()
            parts.append(len(raw).to_bytes(8, "little"))
            parts.append(raw)
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, raw: bytes) -> "ShardedCuckooFilter":
        if int.from_bytes(raw[:4], "little") != SHARD_MAGIC:
            raise ValueError("not a sharded cuckoo serialization")
        n = int.from_bytes(raw[4:8], "little")
        shards, off = [], 8
        for _ in range(n):
            ln = int.from_bytes(raw[off : off + 8], "little")
            off += 8
            shards.append(CuckooFilter.from_bytes(raw[off : off + ln]))
            off += ln
        return cls(shards)


def _per_shard(
    df: DataFrame, hash_col: str, n_shards: int, fn
) -> dict[int, CuckooFilter]:
    """Route ``df``'s keys to their shard by the TOP hash bits (one
    exchange of 8-byte hashes — never the pages); ONE task per touched
    shard runs ``fn(shard, sorted unique keys) -> CuckooFilter`` (so
    the result does not depend on input partitioning) and its
    fixed-size blob crosses to the driver via Arrow."""
    from pyspark.sql import functions as F

    def _task(key, pdf):
        f = fn(key[0], np.unique(pdf[hash_col].to_numpy()))
        return pd.DataFrame({"shard": [key[0]], "blob": [f.to_bytes()]})

    shard_col = (
        F.shiftrightunsigned(
            F.col(hash_col).cast("long"), 64 - (n_shards.bit_length() - 1)
        ).cast("int")
        if n_shards > 1
        else F.lit(0)
    )
    rows = (
        df.select(F.col(hash_col), shard_col.alias("_shard"))
        .groupBy("_shard")
        .applyInPandas(_task, "shard int, blob binary")
        .toPandas()
    )
    return {
        int(s): CuckooFilter.from_bytes(b) for s, b in zip(rows["shard"], rows["blob"])
    }


def evict_sharded_cuckoo(
    ck: ShardedCuckooFilter, expired: DataFrame, hash_col: str = "url_hash"
) -> ShardedCuckooFilter:
    """Distributed recrawl eviction — the cuckoo differentiator the
    Bloom flavor structurally lacks (a Bloom eviction is a full
    rebuild; see BloomFilter.evict). ONE task per touched shard deletes
    its sorted key slice from that shard's table; untouched shards pass
    through unchanged. Shard blobs travel via broadcast (same object
    the probe path already ships).

    Contract (standard cuckoo-filter rule): every expired key must
    actually be in the filter — deleting a never-inserted key can
    evict a colliding fingerprint and create a false negative for a
    LIVE url. plans/recrawl.evict_for_recrawl enforces this by
    semi-joining expired against the checkpointed seen set first."""
    blobs = expired.sparkSession.sparkContext.broadcast(
        [s.to_bytes() for s in ck.shards]
    )

    def _evict(shard: int, keys: np.ndarray) -> CuckooFilter:
        f = CuckooFilter.from_bytes(blobs.value[shard])
        f.delete(keys)
        return f

    shards = [CuckooFilter(s.table.copy()) for s in ck.shards]
    for s, f in _per_shard(expired, hash_col, ck.n_shards, _evict).items():
        shards[s] = f
    return ShardedCuckooFilter(shards)


def build_sharded_cuckoo(
    df: DataFrame, hash_col: str, capacity: int, n_shards: int = 4
) -> ShardedCuckooFilter:
    """Distributed build: each shard is built by ONE task over its
    co-routed keys and exactly S fixed-size blobs cross to the driver.
    Shards are the parallelism unit — at cluster scale pick S ≈
    executor count; the per-task key slice is N/S 8-byte ints
    (10^10/4096 ≈ 20 MB), not page payloads."""
    out = ShardedCuckooFilter.sized(capacity, n_shards)
    n_buckets = out.shards[0].n_buckets

    def _build(shard: int, keys: np.ndarray) -> CuckooFilter:
        f = CuckooFilter(np.zeros((n_buckets, SLOTS), dtype=np.uint16))
        f.add(keys)
        return f

    for s, f in _per_shard(df, hash_col, n_shards, _build).items():
        out.shards[s] = f
    return out
