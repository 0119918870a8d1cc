"""Embedding similarity search over an ``array<float>`` column.

Two paths, per the training-data-pipeline brief:
- **brute-force cosine top-k** (the correctness baseline): JVM-side
  ``zip_with``/``aggregate`` dot products against a broadcast query
  set, per-query top-k via window. Linear scan — fine as the oracle
  and for small query batches at any corpus size (one pass, no state).
- **LSH-bucketed ANN** (the scale path): deterministic random-
  hyperplane signatures (hash-derived planes, no RNG state) put each
  vector in a bucket; queries only score their bucket (+ optional
  multi-probe neighbors). Recall trades against bucket fan-in; the
  bucket join replaces the full scan with a hash join on signature.

Also: embedding-cosine near-duplicate pairs (blocked all-pairs ≥
threshold) for embedding-level dedup.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def cosine_arrow(a: Column, b: Column) -> Column:
    """Arrow-vectorized cosine twin of :func:`cosine` for hot re-rank
    paths: Catalyst higher-order functions (``aggregate``/``zip_with``)
    run INTERPRETED — at production dim (384–1536) × millions of
    candidate pairs the expr scorer dominates the re-rank stage. One
    numpy pass per Arrow batch instead.

    Mirrors the expr's arithmetic: products and squares are computed in
    float32 (Spark's ``x * y`` over ``array<float>`` elements rounds
    each product to float), accumulated in float64 (``acc`` is a double
    literal). Remaining difference is summation ORDER only (numpy
    pairwise vs fold) — sub-ULP-scale; ranking ties are broken by id in
    every caller, and expr≡arrow is pinned to 1e-12 + rank-identical in
    tests."""

    @F.pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if not len(va):
            return pd.Series(np.zeros(0, dtype=np.float64))
        ma = np.stack(va.to_numpy()).astype(np.float32)
        mb = np.stack(vb.to_numpy()).astype(np.float32)
        num = (ma * mb).astype(np.float32).sum(axis=1, dtype=np.float64)
        na = np.sqrt((ma * ma).astype(np.float32).sum(axis=1, dtype=np.float64))
        nb = np.sqrt((mb * mb).astype(np.float32).sum(axis=1, dtype=np.float64))
        return pd.Series(num / (na * nb))

    return _cos(a, b)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact cosine top-k per query: broadcast the (small) query set
    against the full corpus — one scan, no shuffle of the corpus
    except the final per-query top-k (tiny)."""
    q = F.broadcast(queries.select(q_id_col, q_vec_col))
    scored = corpus.select(id_col, vec_col).crossJoin(q).select(
        F.col(q_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(q_vec_col)).alias("cos"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.col("cos").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# --------------------------------------------------------------------
# Vectorized hyperplane signatures (the scale path).
#
# The Catalyst-expr version below (`hyperplane_signature`) evaluates
# n_planes separate F.aggregate(F.zip_with(...)) passes per vector;
# higher-order functions run INTERPRETED (outside whole-stage codegen),
# so the corpus scan pays ~n_tables·n_planes·dim interpreted ops per
# row — the dominant cost at production dim (384–1536) × 10^9 vectors.
# The matmul twin reproduces Spark's xxhash64 plane rule bit-for-bit in
# numpy (equality pinned in tests/test_similarity.py), builds the
# (n_tables·n_planes × dim) ±1 matrix ONCE per executor via broadcast,
# and emits every table's signature in ONE Arrow-batched matmul — the
# `ivf_assign` pattern. The expr version stays as the oracle/snapshot
# twin.

_XXH_P1 = np.uint64(0x9E3779B185EBCA87)
_XXH_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XXH_P3 = np.uint64(0x165667B19E3779F9)
_XXH_P4 = np.uint64(0x85EBCA77C2B2AE63)
_XXH_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl64(x, r: int):
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _xxh64_fmix(h):
    h = h ^ (h >> np.uint64(33))
    h = h * _XXH_P2
    h = h ^ (h >> np.uint64(29))
    h = h * _XXH_P3
    h = h ^ (h >> np.uint64(32))
    return h


def _xxh64_int(x, seed):
    """Spark ``XXH64.hashInt`` (xxhash64 over one IntegerType column),
    vectorized over numpy uint64 arrays. Bit-equal to
    ``F.xxhash64(...)`` — pinned against Spark in tests."""
    h = seed + _XXH_P5 + np.uint64(4)
    h = h ^ ((x & np.uint64(0xFFFFFFFF)) * _XXH_P1)
    h = _rotl64(h, 23) * _XXH_P2 + _XXH_P3
    return _xxh64_fmix(h)


def plane_sign_matrix(dim: int, n_planes: int, n_tables: int = 1) -> np.ndarray:
    """(n_tables·n_planes, dim) float64 ±1 plane matrix from the SAME
    rule as :func:`hyperplane_signature`:
    ``sign(p, i) = +1 iff pmod(xxhash64(lit(seed_p), i), 2) == 0`` with
    ``seed_p = table·n_planes + p``. xxhash64 chains column hashes:
    ``h = hashInt(i, hashInt(seed_p, 42))``; pmod(h, 2) ≡ h & 1."""
    with np.errstate(over="ignore"):
        seeds = np.arange(n_tables * n_planes, dtype=np.uint64)
        h1 = _xxh64_int(seeds, np.uint64(42))  # per-plane chained seed
        i = np.arange(dim, dtype=np.uint64)
        H = _xxh64_int(i[None, :], h1[:, None])  # (T·P, dim)
    return np.where((H & np.uint64(1)) == 0, 1.0, -1.0)


def attach_hyperplane_signatures(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    n_tables: int = 1,
    vec_col: str = "embedding",
    out_col: str = "_sigs",
) -> DataFrame:
    """Append ``out_col: array<int>`` of all ``n_tables`` signatures in
    one Arrow matmul per batch (plane matrix broadcast once, built on
    the driver — n_tables·n_planes·dim doubles, driver-scale)."""
    signs = plane_sign_matrix(dim, n_planes, n_tables)
    b_signs = df.sparkSession.sparkContext.broadcast(signs)
    weights = np.tile(
        (np.int64(1) << np.arange(n_planes, dtype=np.int64)), n_tables
    )

    @F.pandas_udf("array<int>")
    def _sigs(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        S = b_signs.value
        M = np.array(vecs.tolist(), dtype=np.float64)  # (n, dim)
        proj = M @ S.T  # (n, T·P) — all tables, one matmul
        bits = (proj > 0).astype(np.int64) * weights
        sigs = bits.reshape(len(M), n_tables, n_planes).sum(axis=2)
        return pd.Series(list(sigs.astype(np.int32)))

    return df.withColumn(out_col, _sigs(F.col(vec_col)))


def hyperplane_signature(
    vec: Column, dim: int, n_planes: int = 16, table: int = 0
) -> Column:
    """Deterministic random-hyperplane LSH signature (int). Plane
    coefficients derive from xxhash64(plane_seed, dim_index) —
    reproducible anywhere, no RNG state (same rule as the fixtures).
    ``table`` offsets the plane seeds so independent hash tables (the
    multi-table recall lever) share no planes; table 0 reproduces the
    single-table signature exactly."""
    bits = []
    for p in range(n_planes):
        # pseudo-random ±1 plane: sign of a hash per (plane, dim)
        seed = table * n_planes + p
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda v, i: v
                * F.when(
                    F.pmod(F.xxhash64(F.lit(seed), i), 2) == 0, 1.0
                ).otherwise(-1.0),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig.cast("int")


def lsh_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    n_planes: int = 12,
    n_probes: int | None = None,
    n_tables: int = 1,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    use_matmul: bool = True,
) -> DataFrame:
    """Candidate (q_id, vec_id) pairs for :func:`lsh_topk` — multi-
    table, multi-probe bucket collisions, deduped. Exposed separately
    so the candidate set can be audited / snapshot-pinned while the
    scoring+ranking stays SQL-recomputable.

    ``use_matmul=True`` (default) computes ALL tables' corpus- and
    query-side signatures in one Arrow matmul per batch
    (:func:`attach_hyperplane_signatures`); ``False`` keeps the
    interpreted Catalyst-expr twin (bit-equal — pinned in tests)."""
    c_keys = corpus_signature_keys(
        corpus, dim, n_planes, n_tables, id_col, vec_col, use_matmul
    )
    q_keys = query_probe_keys(
        queries, dim, n_planes, n_tables, n_probes, probe_hamming,
        q_id_col, q_vec_col, use_matmul,
    )
    return (
        c_keys.join(F.broadcast(q_keys), ["_t", "_sig"])
        .select(q_id_col, id_col)
        .dropDuplicates([q_id_col, id_col])  # probes/tables re-find
    )


def corpus_signature_keys(
    corpus: DataFrame,
    dim: int,
    n_planes: int,
    n_tables: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_matmul: bool = True,
) -> DataFrame:
    """Corpus-side LSH key table ``(id, _t, _sig)`` — one row per
    (vector, hash table). This IS the persisted index payload of
    :mod:`wos_crawler_spark.operators.annindex`."""
    if use_matmul:
        # one Arrow matmul emits all tables' signatures; posexplode
        # recovers the (table, sig) key pair positionally
        return (
            attach_hyperplane_signatures(
                corpus.select(id_col, vec_col), dim, n_planes, n_tables,
                vec_col=vec_col,
            )
            .select(id_col, F.posexplode("_sigs").alias("_t", "_sig"))
        )
    c_sigs = F.array(
        *[
            F.struct(
                F.lit(t).alias("_t"),
                hyperplane_signature(F.col(vec_col), dim, n_planes, table=t)
                .alias("_sig"),
            )
            for t in range(n_tables)
        ]
    )
    return corpus.select(id_col, F.explode(c_sigs).alias("_ts")).select(
        id_col, F.col("_ts._t").alias("_t"), F.col("_ts._sig").alias("_sig")
    )


def probe_flips(n_planes: int, n_probes: int | None, probe_hamming: int) -> list[int]:
    """XOR masks for multi-probe: all bit-flip patterns of
    ≤ ``probe_hamming`` bits over the first ``n_probes`` planes
    (probe_hamming=1 → classic multi-probe; 2 adds the C(n,2) two-bit
    neighbors — still broadcast-side only)."""
    from itertools import combinations

    if n_probes is None:
        n_probes = n_planes
    n_probes = min(n_probes, n_planes)
    flips = [0]
    for h in range(1, probe_hamming + 1):
        for bits in combinations(range(n_probes), h):
            flips.append(sum(1 << b for b in bits))
    return flips


def query_probe_keys(
    queries: DataFrame,
    dim: int,
    n_planes: int,
    n_tables: int,
    n_probes: int | None = None,
    probe_hamming: int = 1,
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    use_matmul: bool = True,
) -> DataFrame:
    """Query-side probe key table ``(q_id, _t, _sig)``: each query's own
    bucket plus its flip neighbors, per hash table. Each table's
    signature is computed ONCE per query row, THEN the XOR flips fan
    out over the materialized column — inlining the signature into
    every flip would multiply query-side compute ×len(flips)
    (Catalyst's CollapseProject keeps the projection boundary: the
    producer expression is non-cheap and multiply-referenced)."""
    flips = probe_flips(n_planes, n_probes, probe_hamming)
    if use_matmul:
        q_sig = attach_hyperplane_signatures(
            queries.select(q_id_col, q_vec_col), dim, n_planes, n_tables,
            vec_col=q_vec_col,
        ).select(
            q_id_col,
            *[F.col("_sigs")[t].alias(f"_s{t}") for t in range(n_tables)],
        )
    else:
        q_sig = queries.select(
            q_id_col,
            *[
                hyperplane_signature(F.col(q_vec_col), dim, n_planes, table=t)
                .alias(f"_s{t}")
                for t in range(n_tables)
            ],
        )
    q_probes = F.array(
        *[
            F.struct(
                F.lit(t).alias("_t"),
                F.col(f"_s{t}").bitwiseXOR(F.lit(flip)).cast("int")
                .alias("_sig"),
            )
            for t in range(n_tables)
            for flip in flips
        ]
    )
    return q_sig.select(q_id_col, F.explode(q_probes).alias("_ts")).select(
        q_id_col, F.col("_ts._t").alias("_t"), F.col("_ts._sig").alias("_sig")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    n_probes: int | None = None,
    n_tables: int = 1,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """ANN top-k with MULTI-PROBE and MULTI-TABLE candidate generation.

    Each query probes, in every one of ``n_tables`` independent hash
    tables (disjoint plane seeds), its own bucket plus ``n_probes``
    1-bit-flip neighbor buckets (default: all ``n_planes``). The old
    single-table exact-signature join starves as n_planes grows —
    buckets shrink exponentially and a query whose bucket holds <k
    corpus rows silently under-fills. Multi-probe recovers near-miss
    buckets; extra tables multiply the independent chances a true
    neighbor collides at all (recall 1-(1-p)^L).

    Output carries ``n_candidates`` — distinct corpus vectors scored
    for that query — so callers DETECT starvation (n_candidates < k)
    instead of silently consuming short lists.

    Scale shape: candidate generation carries only (table, sig, id) —
    the corpus embedding column is joined back ONLY for the deduped
    candidates (semi-join-reduced scoring); the probe fan-out lives on
    the broadcast query side and never touches the corpus scan."""
    cand_ids = lsh_candidates(
        corpus, queries, dim, n_planes, n_probes, n_tables, probe_hamming,
        id_col, vec_col, q_id_col, q_vec_col,
    )
    return score_candidates(
        cand_ids, corpus, queries, k, id_col, vec_col, q_id_col, q_vec_col
    )


def score_candidates(
    cand_ids: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    use_arrow: bool = True,
) -> DataFrame:
    """Shared ANN re-rank stage: exact cosine over (q_id, vec_id)
    candidate pairs (semi-join-reduced corpus read, broadcast queries),
    per-query top-k + the n_candidates starvation signal.

    ``use_arrow=True`` (default) scores with :func:`cosine_arrow` (one
    numpy pass per Arrow batch); ``False`` keeps the interpreted
    Catalyst-expr twin (equal to 1e-12 / rank-identical — pinned in
    tests/test_similarity.py).

    Starvation is IN-BAND: a query with ZERO candidates emits one
    explicit ``(q_id, vec_id=NULL, cos=NULL, n_candidates=0,
    rank=NULL)`` row (anti-join of the query set against the candidate
    q_ids — a broadcast-sized side), so callers never have to re-derive
    total starvation themselves; ``n_candidates`` covers the
    under-filled (0 < n < k) case."""
    scorer = cosine_arrow if use_arrow else cosine
    scored = (
        cand_ids.join(corpus.select(id_col, vec_col), id_col)
        .join(F.broadcast(queries.select(q_id_col, q_vec_col)), q_id_col)
        .select(
            F.col(q_id_col),
            F.col(id_col),
            scorer(F.col(vec_col), F.col(q_vec_col)).alias("cos"),
        )
    )
    w = Window.partitionBy(q_id_col)
    wr = w.orderBy(F.col("cos").desc(), F.col(id_col))
    ranked = (
        scored.withColumn("n_candidates", F.count(F.lit(1)).over(w))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
    )
    starved = (
        queries.select(q_id_col)
        .join(
            cand_ids.select(q_id_col).dropDuplicates([q_id_col]),
            q_id_col,
            "left_anti",
        )
        .select(
            F.col(q_id_col),
            F.lit(None).cast(ranked.schema[id_col].dataType).alias(id_col),
            F.lit(None).cast("double").alias("cos"),
            F.lit(0).cast("long").alias("n_candidates"),
            F.lit(None).cast("int").alias("rank"),
        )
    )
    return ranked.unionByName(starved)


def brute_force_topk_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact cosine top-k for LARGE query batches (10^2–10^5 queries):
    one Arrow pass over the corpus with a numpy matmul per batch
    (rows × queries), per-batch top-k via argpartition, then a tiny
    global top-k window over ≤ k·|queries|·n_batches candidate rows.

    :func:`brute_force_topk`'s higher-order-expr scorer evaluates the
    dot product per (row, query) pair inside a BroadcastNestedLoopJoin
    — interpreted, the wrong shape beyond ~10² queries. This path is
    the vectorized batch twin: the corpus is scanned once, queries ride
    a broadcast numpy matrix. Integral ids assumed (schema: long)."""
    import numpy as np
    import pandas as pd

    # driver-scale BY CONTRACT — the collect is bounded BEFORE transfer
    # (limit pushes to the scan), so a caller passing 10^7 queries gets
    # a loud error, not an OOM'd driver
    q_pdf = (
        queries.select(q_id_col, q_vec_col).limit(max_queries + 1).toPandas()
    )
    if len(q_pdf) > max_queries:
        raise ValueError(
            f"brute_force_topk_batch is a driver-broadcast path capped at "
            f"max_queries={max_queries}; for larger query sets use the "
            f"bucketed scale paths (lsh_topk / ivf_topk) instead"
        )
    q_ids = q_pdf[q_id_col].to_numpy(dtype=np.int64)
    Q = np.array(q_pdf[q_vec_col].tolist(), dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1)
    Qn = (Q / np.where(qn == 0, 1.0, qn)[:, None]).T  # (dim, nq)
    bq = corpus.sparkSession.sparkContext.broadcast((q_ids, Qn))

    def _score(batches):
        ids_b, Qn_b = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            mn = np.linalg.norm(M, axis=1)
            Mn = M / np.where(mn == 0, 1.0, mn)[:, None]
            S = Mn @ Qn_b  # (batch, nq)
            vid = pdf[id_col].to_numpy(dtype=np.int64)
            kk = min(k, len(vid))
            top = np.argpartition(-S, kk - 1, axis=0)[:kk]  # (kk, nq)
            nq = S.shape[1]
            qcol = np.repeat(ids_b, kk)
            rows = top.T.ravel()
            yield pd.DataFrame(
                {
                    q_id_col: qcol,
                    id_col: vid[rows],
                    "cos": S[rows, np.repeat(np.arange(nq), kk)],
                }
            )

    part_top = corpus.select(id_col, vec_col).mapInPandas(
        _score, f"{q_id_col} long, {id_col} long, cos double"
    )
    wr = Window.partitionBy(q_id_col).orderBy(F.col("cos").desc(), F.col(id_col))
    return part_top.withColumn("rank", F.row_number().over(wr)).filter(
        F.col("rank") <= k
    )


def ivf_train_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic IVF coarse quantizer: k-means over L2-normalized
    vectors (spherical k-means — cosine assignment).

    - init: the k corpus vectors with the smallest ``xxhash64(id)``
      (hash-selected pseudo-random sample, no RNG state);
    - assign: Arrow-batched numpy matmul against the broadcast
      centroid matrix (k×dim floats — driver-scale by construction);
    - update: per-(cluster, dim) mean via posexplode + one hash agg —
      the only shuffle per iteration, k·dim tiny rows out.

    Returns a numpy array (k, dim) of unit-norm centroids. Centroids
    live on the driver between iterations — they ARE the broadcast
    side; the corpus is scanned once per iteration, never collected."""
    seed_ids = (
        corpus.select(id_col, F.xxhash64(F.col(id_col)).alias("_h"))
        .orderBy("_h")
        .limit(n_centroids)
        .select(id_col)
    )
    init = (
        corpus.join(F.broadcast(seed_ids), id_col)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()  # ≤ n_centroids rows — driver-scale by definition;
        # len(init) IS min(n_centroids, |corpus|): no count() scan
    )
    C = np.array([r[vec_col] for r in init], dtype=np.float64)
    C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    for _ in range(n_iter):
        assigned = ivf_assign(corpus, C, id_col=id_col, vec_col=vec_col)
        # per-(cluster, dim) mean: posexplode the vector once, one agg
        sums = (
            assigned.select(
                "_cluster", F.posexplode(vec_col).alias("_d", "_v")
            )
            .groupBy("_cluster", "_d")
            .agg(F.sum("_v").alias("_s"), F.count(F.lit(1)).alias("_n"))
            .collect()  # k·dim small rows
        )
        newC = C.copy()
        acc: dict[int, np.ndarray] = {}
        for r in sums:
            acc.setdefault(r["_cluster"], np.zeros(C.shape[1]))[r["_d"]] = (
                r["_s"] / r["_n"]
            )
        for c, v in acc.items():
            n = np.linalg.norm(v)
            if n > 1e-12:
                newC[c] = v / n
        C = newC
    return C


def ivf_assign(
    corpus: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_sim: bool = False,
) -> DataFrame:
    """Attach ``_cluster`` = argmax-cosine centroid per vector (Arrow
    matmul over the broadcast k×dim matrix). ``with_sim=True`` also
    emits ``_cent_sim`` = the winning cosine from the SAME matmul row
    (SemDeDup's keep key) — one implementation, so the two consumers
    can never diverge on assignment arithmetic."""
    bC = corpus.sparkSession.sparkContext.broadcast(
        np.asarray(centroids, dtype=np.float64)
    )

    if with_sim:

        @F.pandas_udf("_cluster int, _cent_sim double")
        def _assign_sim(vecs: pd.Series) -> pd.DataFrame:
            C = bC.value
            M = np.array(vecs.tolist(), dtype=np.float64)
            mn = np.linalg.norm(M, axis=1)
            Mn = M / np.where(mn == 0, 1.0, mn)[:, None]
            S = Mn @ C.T
            c = np.argmax(S, axis=1)
            return pd.DataFrame(
                {
                    "_cluster": c.astype(np.int32),
                    "_cent_sim": S[np.arange(len(c)), c],
                }
            )

        a = corpus.withColumn("_a", _assign_sim(F.col(vec_col)))
        return a.select("*", "_a._cluster", "_a._cent_sim").drop("_a")

    @F.pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        C = bC.value
        M = np.array(vecs.tolist(), dtype=np.float64)
        mn = np.linalg.norm(M, axis=1)
        Mn = M / np.where(mn == 0, 1.0, mn)[:, None]
        return pd.Series(np.argmax(Mn @ C.T, axis=1).astype(np.int32))

    return corpus.withColumn("_cluster", _assign(F.col(vec_col)))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """IVF ANN top-k — the inverted-file scale path the LSH variant
    complements: vectors are bucketed under their nearest of
    ``n_centroids`` coarse centroids; each query scores only its
    ``n_probe`` nearest cells (corpus fraction ≈ n_probe/n_centroids).

    Same contract as :func:`lsh_topk`: exact cosine re-rank inside the
    probed cells, ``n_candidates`` exposes starvation. Plan shape:
    centroid training scans the corpus n_iter times (train once, reuse
    — pass ``centroids=`` via :func:`ivf_assign` for a stored index);
    query-time is one hash join cells⋈probes + windowed top-k."""
    cand_ids = ivf_candidates(
        corpus, queries, n_centroids=n_centroids, n_probe=n_probe,
        n_iter=n_iter, id_col=id_col, vec_col=vec_col,
        q_id_col=q_id_col, q_vec_col=q_vec_col,
    )
    return score_candidates(
        cand_ids, corpus, queries, k, id_col, vec_col, q_id_col, q_vec_col
    )


def ivf_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Candidate (q_id, vec_id) pairs for :func:`ivf_topk`: vectors of
    the n_probe nearest cells per query. Deterministic end to end
    (hash-selected init, fixed iterations) — snapshot-pinnable."""
    C = ivf_train_centroids(
        corpus, n_centroids=n_centroids, n_iter=n_iter,
        id_col=id_col, vec_col=vec_col,
    )
    cells = ivf_assign(corpus, C, id_col=id_col, vec_col=vec_col)
    q = ivf_query_probes(queries, C, n_probe, q_id_col, q_vec_col)
    return cells.select(id_col, "_cluster").join(
        F.broadcast(q), "_cluster"
    ).select(q_id_col, id_col)


def ivf_query_probes(
    queries: DataFrame,
    centroids,
    n_probe: int,
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """``(q_id, _cluster)`` probe pairs: each query's ``n_probe``
    nearest coarse cells (Arrow matmul against the broadcast k×dim
    centroid matrix)."""
    C = np.asarray(centroids, dtype=np.float64)
    n_probe = min(n_probe, len(C))
    bC = queries.sparkSession.sparkContext.broadcast(C)

    @F.pandas_udf("array<int>")
    def _probes(vecs: pd.Series) -> pd.Series:
        Cm = bC.value
        M = np.array(vecs.tolist(), dtype=np.float64)
        mn = np.linalg.norm(M, axis=1)
        Mn = M / np.where(mn == 0, 1.0, mn)[:, None]
        S = Mn @ Cm.T
        top = np.argsort(-S, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(top))

    return queries.withColumn("_cells", _probes(F.col(q_vec_col))).select(
        q_id_col, F.explode("_cells").alias("_cluster")
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    dim: int | None = None,
    n_planes: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_matmul: bool = True,
    use_arrow_scorer: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked: only pairs
    sharing a hyperplane bucket are scored (near-identical vectors
    collide with high probability). ``use_matmul`` picks the Arrow
    matmul signature path (default) vs the Catalyst-expr twin.

    ``use_arrow_scorer=True`` scores bucket pairs with
    :func:`cosine_arrow` instead of the interpreted expr — the scale
    choice for production dims (same sub-ULP caveat as
    ``score_candidates``). Default False: this op's THRESHOLD makes
    output membership sensitive to last-ULP noise, and its oracle pins
    expr-scored outputs (see the float-threshold note in
    FIXTURES.md)."""
    if dim is None:
        raise ValueError("dim required (embedding length)")
    if use_matmul:
        s = attach_hyperplane_signatures(
            df.select(id_col, vec_col), dim, n_planes, 1, vec_col=vec_col
        ).select(id_col, vec_col, F.col("_sigs")[0].alias("_sig"))
    else:
        s = df.withColumn(
            "_sig", hyperplane_signature(F.col(vec_col), dim, n_planes)
        )
    a = s.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"), "_sig")
    b = s.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"), "_sig")
    scorer = cosine_arrow if use_arrow_scorer else cosine
    return (
        a.join(b, "_sig")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", scorer(F.col("v_a"), F.col("v_b")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
        .dropDuplicates(["id_a", "id_b"])
    )


def cosine_near_dup_clusters(
    df: DataFrame,
    threshold: float = 0.95,
    dim: int | None = None,
    n_planes: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_matmul: bool = True,
    max_iter: int = 50,
) -> DataFrame:
    """Embedding near-duplicate CLUSTERS: connected components of the
    :func:`cosine_near_dup_pairs` graph — ``(id, cluster_id)`` with
    cluster_id = min id of the component. The corpus-curation
    "keep one per embedding-near-dup family" contract (mirror of
    textdedup.minhash_lsh_dedup for the embedding modality).

    Component resolution reuses textdedup.min_label_components
    (min-label propagation with pointer jumping, O(log n) rounds,
    Observation-piggybacked convergence, RAISES on non-convergence).
    Scale shape: edge enumeration is LSH-bucket-blocked (quadratic
    only within a hyperplane bucket — bounded by plane count);
    propagation shuffles (id, label) pairs only, never vectors."""
    from wos_crawler_spark.operators.textdedup import min_label_components

    pairs = cosine_near_dup_pairs(
        df, threshold=threshold, dim=dim, n_planes=n_planes,
        id_col=id_col, vec_col=vec_col, use_matmul=use_matmul,
    )
    vertices = df.select(F.col(id_col).alias("_id")).distinct()
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    labels = min_label_components(vertices, edges, max_iter=max_iter)
    return labels.select(
        F.col("_id").alias(id_col), F.col("label").alias("cluster_id")
    )
