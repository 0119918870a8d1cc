"""Large-scale text deduplication operators — the training-data
pipeline family (exact, MinHash+LSH, SimHash, exact set-similarity
joins).

These extend the engine beyond the reference's URL-level dedup (F1) to
content-level dedup over the ``documents``/``pages`` corpus. Design
rule: everything bulk stays in JVM exprs (xxhash64, higher-order array
functions — whole-stage codegen'd); Python appears only in the SimHash
bit-twiddling path as a vectorized Arrow UDF.

Scale notes (100 TB):
- exact dedup is one hash-groupBy: map-side partial agg → one shuffle
  of (digest, min_id) pairs, never the text bytes.
- MinHash LSH shuffles (band_id, band_hash, doc_id) — k·|docs| small
  rows — then joins candidates only; the quadratic all-pairs join
  never materializes.
- Every Jaccard pair operator (MinHash pairs, the prefix joins, the
  dedup index) builds its shingle sets with :func:`_shingle_sets` and
  checks its candidates with ONE verify, :func:`_verify_jaccard`: an
  integer ``n_inter·t_den ≥ n_union·t_num`` test that re-reads the
  sets only for candidate pairs (a semi-join-reduced scan at scale).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ------------------------------------------------------------- helpers


def norm_text(c: Column) -> Column:
    """Canonical text normalization shared by all fingerprints:
    lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def words_of(c: Column) -> Column:
    return F.split(norm_text(c), " ")


def shingles_from_words(w: Column, n: int = 3) -> Column:
    """Word n-gram shingles (deduplicated) from a word-array column.

    ``w`` should be an ALREADY-MATERIALIZED attribute reference: it is
    captured inside the ``transform`` lambda, and Catalyst's
    subexpression elimination does not reach into higher-order-function
    lambda bodies — a computed ``w`` (e.g. ``words_of(text)`` inline)
    is re-evaluated once per output shingle, turning shingling into
    O(words × normalize(text)) per row. Operators here project the
    word array first and call this on the column."""
    idx = F.sequence(F.lit(1), F.greatest(F.lit(1), F.size(w) - (n - 1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i, n)))
    )


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """``(_id, _s, _n)`` — distinct word-shingle set + its size: the
    one set builder of every Jaccard operator (LSH banding, the prefix
    joins, the dedup index). Never empty: NULL, ``""`` and blank text
    shingle to the singleton ``[""]``."""
    w = df.select(
        F.col(id_col).alias("_id"), words_of(F.col(text_col)).alias("_w")
    )
    return w.select(
        "_id", shingles_from_words(F.col("_w"), shingle_n).alias("_s")
    ).select("_id", "_s", F.size("_s").alias("_n"))


def _verify_jaccard(
    cand: DataFrame, sets_a: DataFrame, sets_b: DataFrame,
    t_num: int, t_den: int,
) -> DataFrame:
    """The one exact verify of every Jaccard pair operator.

    ``cand`` is a two-column candidate frame ``(a, b)``; ``sets_a`` /
    ``sets_b`` are the set tables of its two columns, each three
    columns ``(id, set, size)`` in that order (:func:`_shingle_sets`,
    or the dedup index's hashed sets). Returns ``(a, b, n_inter,
    n_union)`` as longs for the pairs with ``n_inter·t_den ≥
    n_union·t_num`` — integer cross-multiplication, no float boundary.
    The set tables are re-read for candidate ids only (a
    semi-join-reduced scan at scale)."""
    if not (0 < t_num <= t_den):
        raise ValueError("need 0 < t_num <= t_den")
    a, b = cand.columns
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("long")
    return (
        cand.join(sets_a.toDF(a, "_sa", "_na"), a)
        .join(sets_b.toDF(b, "_sb", "_nb"), b)
        .withColumn("n_inter", inter)
        .withColumn("n_union", F.col("_na") + F.col("_nb") - F.col("n_inter"))
        .filter(F.col("n_inter") * t_den >= F.col("n_union") * t_num)
        .select(a, b, "n_inter", "n_union")
    )


# -------------------------------------------------------- exact dedup


def fingerprint(df: DataFrame, text_col: str = "text") -> Column:
    return F.md5(norm_text(F.col(text_col)))


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact near-identical dedup: keep the lowest id per normalized-
    text digest. One hash aggregation; text bytes never shuffle."""
    return (
        df.withColumn("digest", F.md5(norm_text(F.col(text_col))))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def exact_dedup_keep(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """The surviving rows (one per digest, deterministic min-id)."""
    keep = exact_dedup(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    split_pattern: str = r"\n\n",
    join_sep: str = "\n\n",
) -> DataFrame:
    """Corpus-GLOBAL exact paragraph dedup (the C4/Dolma-style
    paragraph pass): every occurrence of a paragraph after its first —
    ordered by ``(id, position)`` across the WHOLE corpus — is dropped,
    and documents are reassembled from their surviving paragraphs in
    original order. Emits ``(id, n_paras_in, n_paras_kept,
    dedup_text)``; a document whose every paragraph was seen earlier
    survives with ``dedup_text = ''`` (callers gate on
    ``n_paras_kept``).

    Determinism contract: the keeper of a duplicated paragraph is the
    globally smallest ``(id, pos)`` occurrence; paragraphs compare as
    EXACT strings (md5 digests — no normalization: paragraph dedup is
    byte-level by convention, unlike :func:`exact_dedup`'s normalized
    whole-doc digest); empty paragraphs (consecutive separators)
    participate like any other value. ``split_pattern`` is a Java
    regex, ``join_sep`` the literal rejoin separator.

    Scale shape: two key shuffles — (1) a window over ``p_digest``
    ranking occurrences (paragraph text rides this exchange; the
    digest-only twin — rank digests, semi-join winners back — trades
    one payload shuffle for two extra digest shuffles and wins only
    when paragraphs are huge), then (2) reassembly grouped by ``id``.
    Both keys are high-cardinality and AQE-skew-splittable; no
    broadcast, no driver state.
    """
    arr = F.split(F.coalesce(F.col(text_col), F.lit("")), split_pattern)
    paras = df.select(
        F.col(id_col),
        F.posexplode(arr).alias("pos", "para"),
    ).withColumn("p_digest", F.md5(F.col("para")))
    kept = paras.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("p_digest").orderBy(id_col, "pos")
        ),
    ).filter(F.col("_rn") == 1)
    agg = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda x: x["para"],
            ),
            join_sep,
        ).alias("dedup_text"),
        F.count(F.lit(1)).cast("long").alias("n_paras_kept"),
    )
    base = df.select(F.col(id_col), F.size(arr).cast("long").alias("n_paras_in"))
    return base.join(agg, id_col, "left").select(
        id_col,
        "n_paras_in",
        F.coalesce("n_paras_kept", F.lit(0).cast("long")).alias("n_paras_kept"),
        F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
    )


# -------------------------------------------------------- MinHash LSH


def shingle_hashes(shingles: Column) -> Column:
    """Hash each shingle string ONCE to int64. All downstream MinHash
    permutations derive from these longs — at 100 TB the expensive
    pass over the text bytes happens exactly once per shingle."""
    return F.transform(shingles, lambda s: F.xxhash64(s))


def minhash_signature(hashes: Column, k: int = 32) -> Column:
    """k-permutation MinHash over pre-hashed shingles: permutation j is
    ``xxhash64(h, j)`` (8-byte input — cheap JVM hash), signature is the
    array of per-permutation minima. Feed this the output of
    :func:`shingle_hashes`, materialized as its own column so the
    string-hash pass isn't re-evaluated k times by codegen."""
    sigs = [
        F.array_min(F.transform(hashes, lambda x: F.xxhash64(x, F.lit(j))))
        for j in range(k)
    ]
    return F.array(*sigs)


def minhash_bands(sig: Column, bands: int, rows: int) -> Column:
    """Band the signature: array<struct<band_id int, band_hash long>>."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(
                    F.concat_ws(",", *[
                        F.element_at(sig, b * rows + r + 1).cast("string")
                        for r in range(rows)
                    ])
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    k: int = 32,
    bands: int = 8,
    t_num: int = 7,
    t_den: int = 10,
) -> DataFrame:
    """Near-duplicate pairs by MinHash banding + exact Jaccard verify.

    Returns ``(id_a, id_b, n_inter, n_union)`` with id_a < id_b and
    Jaccard ≥ t_num/t_den (the family's integer test, see
    :func:`_verify_jaccard`). Candidate generation is the band-bucket
    self-join — the classic shuffle-light LSH plan.

    NOTE: pair enumeration is quadratic in band-bucket size; use this
    when pairs are the product (audits, verification). For dedup at
    scale use :func:`minhash_lsh_dedup`, which stays linear."""
    # banding carries ONLY (id, band_id, band_hash) — ~k·|docs| small
    # rows. The shingle sets (the heavy column) never enter this
    # shuffle; they rejoin in the verify for candidate pairs only.
    banded = _banded(df, id_col, text_col, shingle_n, k, bands)
    key = ["band_id", "band_hash"]
    cand = (
        banded.toDF("id_a", *key)
        .join(banded.toDF("id_b", *key), key)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sets_ = _shingle_sets(df, id_col, text_col, shingle_n)
    return _verify_jaccard(cand, sets_, sets_, t_num, t_den)


def _banded(df: DataFrame, id_col: str, text_col: str, shingle_n: int,
            k: int, bands: int) -> DataFrame:
    """(_id, band_id, band_hash) rows — the shared LSH front-end."""
    rows = k // bands
    sets_ = _shingle_sets(df, id_col, text_col, shingle_n)
    hashed = sets_.select("_id", shingle_hashes(F.col("_s")).alias("_h"))
    sig = hashed.select("_id", minhash_signature(F.col("_h"), k).alias("_sig"))
    return sig.select(
        "_id", F.explode(minhash_bands(F.col("_sig"), bands, rows)).alias("_band")
    ).select(
        "_id",
        F.col("_band.band_id").alias("band_id"),
        F.col("_band.band_hash").alias("band_hash"),
    )


def minhash_star_edges(banded: DataFrame) -> DataFrame:
    """One (src → bucket-min) star edge per (doc, bucket) — the
    LINEAR candidate encoding minhash_lsh_dedup resolves into
    components (vs the quadratic per-bucket pair enumeration)."""
    w = Window.partitionBy("band_id", "band_hash")
    return (
        banded.withColumn("_root", F.min("_id").over(w))
        .filter(F.col("_root") != F.col("_id"))
        .select(F.col("_id").alias("src"), F.col("_root").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    k: int = 32,
    bands: int = 8,
    max_iter: int = 50,
) -> DataFrame:
    """Near-dup CLUSTERS — the 100 TB path. Returns
    (doc_id, cluster_id) with cluster_id = min doc_id of the
    connected component.

    Where :func:`minhash_lsh_pairs` enumerates all pairs inside each
    band bucket (quadratic in bucket size — a template cluster of 10^4
    docs emits 10^8 pairs), this emits ONE star edge per (doc, bucket)
    to the bucket's min id — linear — then resolves transitive
    closure by iterative min-label propagation. Convergence takes
    ~component-diameter rounds — chain-shaped components (A~B via one
    bucket, B~C via another, ...) have diameter proportional to chain
    length, so the loop runs to observed convergence (the per-round
    ``changed`` Observation), with ``max_iter`` as a safety bound;
    exhausting it without convergence RAISES rather than silently
    returning partial clusters. This is the standard industrial
    MinHash-dedup plan (band → bucket → star edges → connected
    components)."""
    banded = _banded(df, id_col, text_col, shingle_n, k, bands)
    edges = minhash_star_edges(banded)
    vertices = df.select(F.col(id_col).alias("_id")).distinct()
    labels = min_label_components(vertices, edges, max_iter=max_iter)
    return labels.select(
        F.col("_id").alias(id_col), F.col("label").alias("cluster_id")
    )


def min_label_components(
    vertices: DataFrame,
    edges: DataFrame,
    max_iter: int = 50,
    jump_from_round: int = 2,
) -> DataFrame:
    """Connected components by min-label propagation WITH pointer
    jumping: per round each vertex takes the min label over (itself,
    its neighbors' labels), then jumps ``label ← label(label)``. The
    neighbor step alone needs ~diameter rounds (a chain component —
    A~B via one bucket, B~C via another — has diameter proportional to
    its length); the jump step halves the remaining pointer depth, so
    rounds are O(log n) regardless of shape. Exhausting ``max_iter``
    without the Observation reporting zero changes RAISES rather than
    silently returning partial clusters.

    The jump step costs one extra labels self-join (a shuffle) per
    round, and star-edge bucket components typically converge in ≤2
    neighbor rounds — so jumping starts at round ``jump_from_round``
    (0-based): the common case pays nothing extra, pathological chains
    still finish in O(log n).

    ``vertices(_id)``, ``edges(src, dst)`` (directed star edges; the
    reverse direction is added here). Returns ``(_id, label)`` with
    label = component-min id. Per round: two shuffles (neighbor agg +
    jump join) over (id, label) pairs only, per-iteration
    localCheckpoint truncating lineage, previous checkpoints
    unpersisted."""
    labels = vertices.select("_id", F.col("_id").alias("label"))
    und = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()

    from pyspark.sql import Observation

    converged = False
    prev_ckpt: DataFrame | None = None
    try:
        for it in range(max_iter):
            # 1) each vertex adopts the min label among itself+neighbors
            neigh = (
                und.join(labels, und.src == labels._id)
                .groupBy("dst")
                .agg(F.min("label").alias("nl"))
            )
            new = F.least(F.col("label"), F.coalesce(F.col("nl"), F.col("label")))
            stepped = labels.join(neigh, labels._id == neigh.dst, "left").select(
                "_id",
                new.alias("label"),
                F.col("label").alias("_orig"),
            )
            # 2) pointer jump: label ← label(label). label ids are
            # vertex ids, so the lookup is a self-join on the labels
            # frame; jumping halves pointer-chain depth each round.
            if it >= jump_from_round:
                parent = stepped.select(
                    F.col("_id").alias("_pid"), F.col("label").alias("_plabel")
                )
                final = F.least(
                    F.col("label"),
                    F.coalesce(F.col("_plabel"), F.col("label")),
                )
                jumped = stepped.join(
                    parent, stepped.label == parent._pid, "left"
                ).select(
                    "_id",
                    final.alias("label"),
                    (final < F.col("_orig")).cast("long").alias("_chg"),
                )
            else:
                jumped = stepped.select(
                    "_id",
                    "label",
                    (F.col("label") < F.col("_orig")).cast("long")
                    .alias("_chg"),
                )
            # convergence metric piggybacks on the checkpoint job — no
            # separate count() pass per iteration. _chg measures the
            # WHOLE round (neighbor + jump): stopping on a neighbor-only
            # fixpoint could strand a vertex on a stale pointer whose
            # target has since adopted a smaller label.
            obs = Observation()
            labels = jumped.observe(obs, F.sum("_chg").alias("changed")).drop(
                "_chg"
            ).localCheckpoint()  # truncate iteration lineage (SURVEY §4)
            changed = obs.get["changed"] or 0
            # the new checkpoint is materialized now — drop the previous
            # iteration's cached blocks instead of accumulating them
            if prev_ckpt is not None:
                prev_ckpt.unpersist()
            prev_ckpt = labels
            if not changed:
                converged = True
                break
    finally:
        und.unpersist()
    if not converged:
        raise RuntimeError(
            f"min_label_components: did not converge in {max_iter} "
            f"iterations — raise max_iter"
        )
    return labels


# ------------------------------------------------------------ SimHash


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document, fully vectorized over Arrow batches:
    one pandas explode for tokenization, one C-level hash pass
    (``pd.util.hash_array`` — deterministic fixed-key siphash, identical
    on every executor), one ``np.add.at`` scatter for the bit-plane
    accumulate. No per-row or per-token Python."""

    @F.pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        n = len(texts)
        shifts = np.arange(64, dtype=np.uint64)
        toks = texts.reset_index(drop=True).fillna("").str.lower().str.split()
        ex = toks.explode().dropna()
        if not len(ex):
            return pd.Series(np.zeros(n, dtype=np.int64))
        # distinct tokens per doc (the reference of the per-doc `set()`)
        tdf = pd.DataFrame(
            {"row": ex.index.to_numpy(), "tok": ex.to_numpy()}
        ).drop_duplicates()
        hs = pd.util.hash_array(tdf["tok"].to_numpy(dtype=object))
        contrib = (
            2 * ((hs[:, None] >> shifts[None, :]) & 1).astype(np.int8) - 1
        )
        acc = np.zeros((n, 64), dtype=np.int64)
        np.add.at(acc, tdf["row"].to_numpy(), contrib)
        sig = ((acc > 0).astype(np.uint64) << shifts[None, :]).sum(axis=1)
        return pd.Series(sig.astype(np.uint64).view(np.int64))

    return df.select(
        F.col(id_col), _simhash(F.col(text_col)).alias("simhash")
    )


def _simhash_bands(col: Column, n_bands: int) -> list[Column]:
    """Split the 64-bit signature into ``n_bands`` contiguous bit bands
    (widths differ by ≤1). Unsigned shifts so the sign bit is just a
    bit."""
    base, extra = divmod(64, n_bands)
    vals, off = [], 0
    for b in range(n_bands):
        w = base + (1 if b < extra else 0)
        if w >= 64:
            vals.append(col)
        else:
            vals.append(
                F.shiftrightunsigned(col, off).bitwiseAND(F.lit((1 << w) - 1))
            )
        off += w
    return vals


def simhash_near_pairs(
    sim_df: DataFrame,
    max_hamming: int = 3,
    bucket_cap: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """ALL pairs with SimHash Hamming distance ≤ ``max_hamming`` —
    an EXACT contract, via banded multi-table blocking.

    Pigeonhole: split the 64 bits into ``max_hamming + 1`` bands; a
    pair within the radius differs in ≤ max_hamming bit positions, so
    at least one band is bit-identical — every qualifying pair shares
    ≥1 (band_id, band_val) bucket and the banded self-join generates a
    superset of candidates, verified by exact ``bit_count(xor)``.
    (A single prefix block misses any pair differing inside the
    prefix; this replaces that probabilistic recall with a guarantee.)

    Scale notes (100 TB): the exploded blocking relation carries only
    (id, simhash, band_id, band_val) — (max_hamming+1)·|docs| small
    rows; text never shuffles. Pair enumeration is quadratic IN BUCKET
    SIZE: degenerate corpora (e.g. millions of empty docs hashing to
    one signature) blow up one bucket. ``bucket_cap`` is the guardrail:
    buckets with more than cap members are dropped from candidate
    generation (logged via the returned plan's semantics — pairs inside
    a dropped bucket that share no other small band bucket are NOT
    emitted, a documented approximation; default None keeps the exact
    contract). Upstream exact_dedup first is the right fix for the
    degenerate mass — identical texts never reach SimHash."""
    n_bands = max_hamming + 1
    sig = sim_df.select(F.col(id_col).alias("_id"), F.col("simhash"))
    bands = F.array(
        *[
            F.struct(F.lit(i).alias("band_id"), v.alias("band_val"))
            for i, v in enumerate(_simhash_bands(F.col("simhash"), n_bands))
        ]
    )
    blocked = sig.select(
        "_id", "simhash", F.explode(bands).alias("_b")
    ).select(
        "_id",
        "simhash",
        F.col("_b.band_id").alias("band_id"),
        F.col("_b.band_val").alias("band_val"),
    )
    if bucket_cap is not None:
        w = Window.partitionBy("band_id", "band_val")
        blocked = (
            blocked.withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= bucket_cap)
            .drop("_bn")
        )
    a = blocked.select(
        F.col("_id").alias("id_a"),
        F.col("simhash").alias("h_a"),
        "band_id",
        "band_val",
    )
    b = blocked.select(
        F.col("_id").alias("id_b"),
        F.col("simhash").alias("h_b"),
        "band_id",
        "band_val",
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


# --------------------------------------- exact-substring span dedup
#
# Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
# Better"): every occurrence AFTER THE FIRST of any duplicated
# L-token span is removed from the corpus. The reference
# implementation builds one suffix array over the concatenated
# corpus — inherently single-machine. The Spark-native restatement:
# hash every L-token window (linear in corpus tokens), rank
# occurrences per hash (one shuffle keyed by span hash — uniform,
# AQE-splittable), keep rank 1, merge the surviving removal windows
# into maximal per-document intervals (per-doc window, doc-level
# parallelism). Equivalent to the suffix-array formulation for
# fixed L, up to md5 collisions (2^-128 per pair).


def span_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_len: int = 50,
) -> DataFrame:
    """``(id, pos, h)`` — md5 of every L-token sliding window under
    the dedup family's shared tokenization (``norm_text`` + single-
    space split). ``pos`` is the 0-based start token index; documents
    shorter than ``span_len`` tokens emit nothing (no partial spans —
    Lee et al. windows are exactly L). Expr flavor: the per-window
    slice+join+md5 is O(L) interpreted work per token — the DuckDB
    oracle recomputes exactly this rule; :func:`span_hashes_arrow`
    is the bit-equal scale twin."""
    L = int(span_len)
    if L < 2:
        raise ValueError("span_len must be >= 2")
    w = df.select(F.col(id_col), words_of(F.col(text_col)).alias("_w"))
    idx = F.when(
        F.size("_w") >= L, F.sequence(F.lit(1), F.size("_w") - (L - 1))
    ).otherwise(F.array().cast("array<int>"))
    return w.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                idx, lambda i: F.md5(F.concat_ws(" ", F.slice("_w", i, L)))
            )
        ).alias("pos", "h"),
    )


def span_hashes_arrow(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_len: int = 50,
) -> DataFrame:
    """Arrow twin of :func:`span_hashes` — one mapInPandas pass, no
    interpreted higher-order functions; hashlib.md5 over the same
    joined-window bytes (bit-equal, test-pinned). Python regex
    ``[ \\t\\n\\x0b\\f\\r]+`` mirrors Java/RE2 ASCII ``\\s`` on the
    lowercased text, ``strip(' ')`` mirrors Spark ``trim``."""
    L = int(span_len)
    if L < 2:
        raise ValueError("span_len must be >= 2")
    id_field = df.schema[id_col]

    def _spans(batches):
        import hashlib
        import re

        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        for pdf in batches:
            ids, poss, hs = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if not isinstance(t, str):
                    t = ""
                toks = ws.sub(" ", t.lower()).strip(" ").split(" ")
                if len(toks) < L:
                    continue
                joined = " ".join(toks)
                # window [p, p+L) as a byte slice of the joined string:
                # start offset = sum(len)+p separators, tracked
                # incrementally so the pass is O(n) joins, O(n·L)
                # hashed bytes (the same bytes the expr flavor hashes).
                off = 0
                offs = []
                for tk in toks:
                    offs.append(off)
                    off += len(tk) + 1
                # offs are CHARACTER offsets; md5 needs bytes — re-slice
                # on the str (unicode-safe) then encode per window.
                for p in range(len(toks) - L + 1):
                    end_char = (
                        offs[p + L - 1] + len(toks[p + L - 1])
                    )
                    win = joined[offs[p]:end_char]
                    ids.append(i)
                    poss.append(p)
                    hs.append(hashlib.md5(win.encode("utf-8")).hexdigest())
            yield pd.DataFrame({id_col: ids, "pos": poss, "h": hs})

    schema = f"{id_col} {id_field.dataType.simpleString()}, pos int, h string"
    return df.mapInPandas(_spans, schema)


def span_removal_manifest(
    spans: DataFrame, id_col: str = "doc_id", span_len: int = 50
) -> DataFrame:
    """``(id, span_start, span_end, n_tokens)`` — maximal merged
    token intervals to delete. Keeper of each duplicated span = the
    globally smallest ``(id, pos)`` occurrence (deterministic);
    single-occurrence spans survive untouched. Two shuffles: the
    rank window keyed by span hash, then the per-document interval
    merge (running-max + group-start flags, the classic one-pass
    interval union)."""
    L = int(span_len)
    rn = F.row_number().over(
        Window.partitionBy("h").orderBy(id_col, "pos")
    )
    rem = (
        spans.withColumn("_rn", rn)
        .filter(F.col("_rn") > 1)
        .select(
            F.col(id_col),
            F.col("pos").alias("_s"),
            (F.col("pos") + L).alias("_e"),
        )
    )
    wd = Window.partitionBy(id_col).orderBy("_s")
    prev_max = F.max("_e").over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    grp = F.sum(
        F.when(prev_max.isNull() | (F.col("_s") > prev_max), 1).otherwise(0)
    ).over(wd.rowsBetween(Window.unboundedPreceding, 0))
    return (
        rem.withColumn("_grp", grp)
        .groupBy(id_col, "_grp")
        .agg(F.min("_s").alias("span_start"), F.max("_e").alias("span_end"))
        .select(
            F.col(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("n_tokens"),
        )
    )


def span_dedup_manifest(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_len: int = 50,
    use_arrow: bool = False,
) -> DataFrame:
    """ExactSubstr removal manifest over a corpus — see the section
    comment. ``use_arrow`` swaps the window-hash pass for the
    mapInPandas twin (bit-equal; avoids the interpreted per-window
    slice/join HOF that dominates the expr flavor's scan)."""
    mk = span_hashes_arrow if use_arrow else span_hashes
    return span_removal_manifest(
        mk(df, id_col, text_col, span_len), id_col, span_len
    )


def span_dedup_apply(
    df: DataFrame,
    manifest: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Reassemble documents with manifest intervals deleted:
    ``(id, dedup_text, n_tokens_kept)`` over the SAME tokenization
    (the rebuilt text is single-space joined normalized tokens, the
    dedup family's canonical form). The manifest is grouped to one
    small intervals-array row per affected doc before the join, so
    the corpus-side cost is one co-keyed left join plus an
    O(tokens × intervals) filter expression per affected doc;
    untouched docs pass through with a null-array fast path."""
    iv = manifest.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_iv")
    )
    w = df.select(
        F.col(id_col), words_of(F.col(text_col)).alias("_w")
    ).join(iv, id_col, "left")
    kept = F.when(F.col("_iv").isNull(), F.col("_w")).otherwise(
        F.transform(
            F.filter(
                F.transform(
                    F.col("_w"),
                    lambda t, i: F.struct(t.alias("t"), i.alias("i")),
                ),
                lambda s: ~F.exists(
                    F.col("_iv"),
                    lambda v: (s["i"] >= v["span_start"])
                    & (s["i"] < v["span_end"]),
                ),
            ),
            lambda s: s["t"],
        )
    )
    return w.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("dedup_text"),
        F.size(kept).alias("n_tokens_kept"),
    )


# ------------------------------------ exact set-similarity join (VJ)
#
# Vernica, Carey & Li 2010 ("Efficient Parallel Set-Similarity Joins
# Using MapReduce") / the AllPairs-ppjoin family — the EXACT
# counterpart to MinHash-LSH: every pair with Jaccard ≥ t is found
# (no probabilistic recall), yet the candidate join touches only
# PREFIX tokens. Tokens get a global rarest-first total order
# (document frequency asc, token asc); a record of n tokens emits its
# first n − ⌈t·n⌉ + 1 ordered tokens. Completeness: if J(a,b) ≥ t,
# the globally-smallest shared token is provably inside BOTH
# prefixes (any prefix missing it would bound |∩| ≤ ⌈t·n⌉ − 1,
# contradicting |∩| ≥ t·|∪| ≥ t·n) — so the prefix-token equi join
# cannot miss a qualifying pair. Thresholds are RATIONAL
# (t = t_num / t_den): prefix lengths, length pruning and the final
# verification are all integer cross-multiplications — no float
# boundary anywhere, so the all-pairs DuckDB oracle is exact.


def _prefix_tokens(
    sets_: DataFrame, dfreq: DataFrame, t_num: int, t_den: int
) -> DataFrame:
    """``(_id, _n, _t)`` — each record's prefix tokens under the
    shared rarest-first (df asc, token asc) total order; prefix
    length = n − ⌈t·n⌉ + 1 by integer ceil division."""
    tok = sets_.select("_id", "_n", F.explode("_s").alias("_t"))
    ordered = (
        tok.join(dfreq, "_t")
        .groupBy("_id", "_n")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_df", F.col("_t").alias("_tk")))
            ).alias("_ord")
        )
    )
    plen = (
        F.col("_n")
        - F.expr(f"(({t_num} * _n + {t_den} - 1) div {t_den})")
        + F.lit(1)
    ).cast("int")
    return ordered.select(
        "_id",
        "_n",
        F.explode(
            F.transform(F.slice("_ord", 1, plen), lambda s: s["_tk"])
        ).alias("_t"),
    )


def prefix_jaccard_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
) -> DataFrame:
    """Cross-corpus exact set-similarity join — ``(id_l, id_r,
    n_inter, n_union)`` for EVERY left×right pair with word-shingle
    Jaccard ≥ t_num/t_den. The incremental-pipeline primitive the
    self-join can't express: "which of today's crawl docs are
    near-duplicates of anything already in the training set" (then
    :func:`anti_join_near_dups` drops them) — run A×B, never
    (A∪B)², so the standing corpus is never self-paired again.

    Same completeness argument as :func:`prefix_jaccard_pairs`, with
    one extra requirement the cross form makes explicit: both sides'
    prefixes must be computed under ONE shared total order, so
    document frequency is counted over the UNION of the two corpora
    (the theorem needs any common total order; union-df additionally
    keeps candidate buckets rare-token-keyed across both sides).
    All thresholds remain integer cross-multiplications — the
    brute-force A×B DuckDB oracle never sees a prefix."""
    sets_l = _shingle_sets(left, id_col, text_col, shingle_n)
    sets_r = _shingle_sets(right, id_col, text_col, shingle_n)
    dfreq = (
        sets_l.unionAll(sets_r)
        .select(F.explode("_s").alias("_t"))
        .groupBy("_t")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    pl = _prefix_tokens(sets_l, dfreq, t_num, t_den).toDF("id_l", "_nl", "_t")
    pr = _prefix_tokens(sets_r, dfreq, t_num, t_den).toDF("id_r", "_nr", "_t")
    cand = (
        pl.join(pr, "_t")
        # length pruning (exact integer form): J ≥ t needs
        # min·t_den ≥ max·t_num
        .filter(
            (F.col("_nl") * t_den >= F.col("_nr") * t_num)
            & (F.col("_nr") * t_den >= F.col("_nl") * t_num)
        )
        .select("id_l", "id_r")
        .distinct()
    )
    return _verify_jaccard(cand, sets_l, sets_r, t_num, t_den)


def anti_join_near_dups(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
) -> DataFrame:
    """Left rows that are NOT a near-duplicate (Jaccard ≥ t) of ANY
    right row — the admission gate for incremental corpus growth.
    One left-anti join on the matched id set; left columns pass
    through untouched."""
    matched = prefix_jaccard_join(
        left, right, id_col, text_col, shingle_n, t_num, t_den
    ).select(F.col("id_l").alias(id_col)).distinct()
    return left.join(matched, id_col, "left_anti")


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
) -> DataFrame:
    """``(id_a, id_b, n_inter, n_union)`` — ALL pairs with word-
    ``shingle_n``-gram Jaccard ≥ t_num/t_den, exactly.

    Scale shape: (1) shingle-df counts — one exchange capped at
    vocabulary size by partial aggregation; (2) the rarest-first
    re-sort — one shingle-keyed join + one per-doc regroup; (3) the
    candidate join keyed by PREFIX shingles only (rare tokens by
    construction → small, well-spread buckets; the frequent-token
    explosion AllPairs suffers is exactly what the df-ordering
    avoids); (4) verification re-reads the compact (id, set) table
    for candidate ids only. Nothing quadratic materializes unless
    the data is genuinely all-near-duplicate.

    This is :func:`prefix_jaccard_join` of ``df`` with itself, kept to
    ``id_a < id_b``: df counted over ``df ∪ df`` doubles every df, so
    the rarest-first order and the prefixes are the self-join's own,
    and Catalyst pushes the id filter into the prefix-token join."""
    return (
        prefix_jaccard_join(df, df, id_col, text_col, shingle_n, t_num, t_den)
        .filter(F.col("id_l") < F.col("id_r"))
        .select(
            F.col("id_l").alias("id_a"), F.col("id_r").alias("id_b"),
            "n_inter", "n_union",
        )
    )
