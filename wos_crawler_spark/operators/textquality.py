"""Text-analysis operators for the training-data pipeline: language
ID, quality scoring, token counting, document fingerprinting. All pure
Catalyst exprs (codegen'd, oracle-checkable in DuckDB) — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wos_crawler_spark.operators.textdedup import norm_text, words_of

#: Tiny per-language stopword lists for the n-gram/stopword heuristic
#: language ID. Deterministic data, shared with the DuckDB oracle.
STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "for", "with", "on"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "für", "auf", "ein"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "de", "et", "est", "un", "une", "dans", "pour", "que"],
}

#: BPE-ish token regex: word pieces, numbers, or single non-space
#: symbols — a deterministic stand-in for a real tokenizer's pre-split.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def lang_scores(text: Column) -> list[tuple[str, Column]]:
    w = words_of(text)
    return [
        (lang, F.size(F.array_intersect(w, F.array(*[F.lit(s) for s in sw]))))
        for lang, sw in sorted(STOPWORDS.items())
    ]


def lang_id(text: Column) -> Column:
    """Stopword-hit argmax; ties break to the lexicographically first
    language; zero hits → 'und'. Deterministic, SQL-expressible."""
    scores = lang_scores(text)
    best_lang, best_score = scores[0]
    best_lang = F.lit(best_lang)
    for lang, score in scores[1:]:
        better = score > best_score
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(better, score).otherwise(best_score)
    return F.when(best_score > 0, best_lang).otherwise(F.lit("und"))


def token_count_ws(text: Column) -> Column:
    """Whitespace token count. Empty/whitespace-only (or null) text is
    0 tokens — ``split('', ' ')`` yields ``['']`` (size 1), which would
    hand empty documents one phantom word and let them sneak past
    length-based quality filters."""
    n = norm_text(text)
    return F.when(
        n.isNull() | (n == ""), F.lit(0)
    ).otherwise(F.size(words_of(text)))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish regex token count (pre-tokenizer pieces)."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), F.lit(0)))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio features + a composite
    quality score in [0,1] (weights documented inline — deterministic
    contract, not a learned model)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_words = token_count_ws(t)
    avg_word_len = (F.length(norm_text(t)) - (n_words - 1)) / F.greatest(n_words, F.lit(1))
    n_punct = F.size(F.regexp_extract_all(t, F.lit(r"[^\w\s]"), F.lit(0)))
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    all_stop = sorted({w for sw in STOPWORDS.values() for w in sw})
    stop_hits = F.size(
        F.array_intersect(words_of(t), F.array(*[F.lit(s) for s in all_stop]))
    )
    stopword_ratio = stop_hits / F.greatest(n_words, F.lit(1))
    # composite: reward mid-length docs and low punctuation noise
    length_score = F.least(n_words / F.lit(100.0), F.lit(1.0))
    quality = (
        F.lit(0.5) * length_score
        + F.lit(0.3) * (F.lit(1.0) - F.least(punct_ratio * 10, F.lit(1.0)))
        + F.lit(0.2) * F.least(stopword_ratio * 5, F.lit(1.0))
    )
    return df.select(
        "*",
        n_chars.alias("q_n_chars"),
        n_words.alias("q_n_words"),
        F.round(avg_word_len, 4).alias("q_avg_word_len"),
        F.round(punct_ratio, 6).alias("q_punct_ratio"),
        F.round(stopword_ratio, 6).alias("q_stopword_ratio"),
        F.round(quality, 6).alias("q_score"),
    )


#: Gopher repetition-free quality rules require a handful of English
#: function words to appear (Rae et al. 2021 §A1.1 uses
#: the/be/to/of/and/that/have/with — public heuristic).
GOPHER_REQUIRED_STOPWORDS = [
    "the", "be", "to", "of", "and", "that", "have", "with",
]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    min_required_stop: int = 2,
) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021, §A1.1) as pure
    Catalyst exprs: per-rule boolean columns plus the conjunctive
    ``gopher_keep``. Every ratio threshold is evaluated as an INTEGER
    cross-multiplication (``10*n_sym < n_words`` instead of
    ``n_sym/n_words < 0.1``) so the DuckDB oracle can recompute the
    exact same booleans with zero IEEE-boundary risk — the same
    discipline as pipeline_curation's quality gate.

    Rules (names = emitted columns):
      r_word_count     word count within [min_words, max_words]
      r_mean_word_len  mean word length within [min, max] (integral
                       bounds, exact via sum-of-lengths bounds)
      r_symbol_ratio   '#'/ellipsis symbol-to-word ratio < 0.1
      r_bullet_lines   < 90% of lines start with a bullet
      r_ellipsis_lines < 30% of lines end with an ellipsis
      r_alpha_words    > 80% of words contain a letter
      r_stopwords      >= min_required_stop distinct required stopwords

    NULL text is treated as empty (all rules false, keep false) —
    without the coalesce, ``split(NULL)`` yields NULL arrays whose
    ``size`` is -1 and the line-rule booleans go nondeterministic.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    w = words_of(t)
    n_words = token_count_ws(t)
    # norm_text joins words with single spaces, so the word-length sum
    # is its length minus the (n_words-1) separators.
    sum_word_len = F.length(norm_text(t)) - (n_words - F.lit(1))
    lines = F.split(t, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: F.trim(l).startswith("-")
            | F.trim(l).startswith("*")
            | F.trim(l).startswith("•"),
        )
    )
    n_ellipsis_end = F.size(
        F.filter(
            lines,
            lambda l: F.rtrim(l).endswith("...")
            | F.rtrim(l).endswith("…"),
        )
    )
    n_symbols = F.regexp_count(t, F.lit(r"#|\.\.\.|…"))
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("[a-z]")))
    n_stop = F.size(
        F.array_intersect(
            w, F.array(*[F.lit(s) for s in GOPHER_REQUIRED_STOPWORDS])
        )
    )
    rules = {
        "r_word_count": (n_words >= min_words) & (n_words <= max_words),
        "r_mean_word_len": (
            sum_word_len >= n_words * min_mean_word_len
        ) & (sum_word_len <= n_words * max_mean_word_len),
        "r_symbol_ratio": n_symbols * 10 < n_words,
        "r_bullet_lines": n_bullet * 10 < n_lines * 9,
        "r_ellipsis_lines": n_ellipsis_end * 10 < n_lines * 3,
        "r_alpha_words": n_alpha * 5 > n_words * 4,
        "r_stopwords": n_stop >= min_required_stop,
    }
    keep = None
    for c in rules.values():
        keep = c if keep is None else (keep & c)
    return df.select(
        "*",
        *(c.alias(name) for name, c in rules.items()),
        keep.alias("gopher_keep"),
    )


#: Gopher repetition-rule thresholds (Rae et al. 2021 §A1.2, Table A1)
#: as (numerator multiplier, denominator multiplier) pairs encoding
#: "fraction <= num/den" via integer cross-multiplication — e.g. the
#: dup-line rule "remove if > 0.30" keeps iff dup_lines*10 <= n_lines*3.
GOPHER_TOP_NGRAM_THRESHOLDS = {2: (1, 5), 3: (9, 50), 4: (4, 25)}
GOPHER_DUP_NGRAM_THRESHOLDS = {
    5: (3, 20), 6: (7, 50), 7: (13, 100), 8: (3, 25), 9: (11, 100),
    10: (1, 10),
}


def _ngrams(w: Column, n: int) -> Column:
    """Word n-gram occurrence array (NOT deduplicated — repetition
    counting needs every occurrence; textdedup.shingles_from_words
    is the deduplicated twin). Fewer than n words → empty array; the
    ``when`` guard matters because ``sequence(1, size-n+1)`` would
    DESCEND for short docs and fabricate windows."""
    return F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _sum_lengths(arr: Column) -> Column:
    return F.aggregate(
        arr, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )


def _top_run_chars(sorted_arr: Column) -> Column:
    """Characters covered by ALL occurrences of the most frequent
    element of a SORTED array: count * length. A count of 1 is not
    repetition → 0. Ties on count resolve to the lexicographically
    smallest element (runs are scanned in sort order and only a
    STRICTLY longer run displaces the best) — the deterministic
    cross-engine tie-break the DuckDB oracle mirrors with
    ``ORDER BY cnt DESC, gram ASC``."""
    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit("").alias("best"),
        F.lit(0).cast("long").alias("bestrun"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        better = run > acc["bestrun"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, x).otherwise(acc["best"]).alias("best"),
            F.when(better, run).otherwise(acc["bestrun"]).alias("bestrun"),
        )

    fin = F.aggregate(sorted_arr, acc0, step)
    return F.when(
        fin["bestrun"] >= 2, fin["bestrun"] * F.length(fin["best"])
    ).otherwise(F.lit(0).cast("long"))


def _dup_occurrence_chars(sorted_arr: Column) -> Column:
    """Characters covered by every occurrence of elements appearing
    >= 2 times in a SORTED array (Σ_{count(g)>=2} count(g)·len(g)):
    an occurrence is duplicated iff it equals a sort-neighbor. The
    ``when`` guards keep ``element_at`` in-bounds (CaseWhen branches
    evaluate lazily, so the out-of-range probe never runs)."""
    sz = F.size(sorted_arr)

    def dup_len(i: Column) -> Column:
        cur = F.element_at(sorted_arr, i)
        eq_prev = F.when(
            i > 1, cur == F.element_at(sorted_arr, i - 1)
        ).otherwise(F.lit(False))
        eq_next = F.when(
            i < sz, cur == F.element_at(sorted_arr, i + 1)
        ).otherwise(F.lit(False))
        return F.when(eq_prev | eq_next, F.length(cur)).otherwise(
            F.lit(0).cast("long")
        )

    return F.when(sz < 2, F.lit(0).cast("long")).otherwise(
        F.aggregate(
            F.sequence(F.lit(1), sz),
            F.lit(0).cast("long"),
            lambda acc, i: acc + dup_len(i),
        )
    )


def gopher_repetition_rules(
    df: DataFrame, text_col: str = "text", use_arrow: bool = True
) -> DataFrame:
    """Gopher repetition rules (Rae et al. 2021, §A1.2 / Table A1) —
    the companion of :func:`gopher_rules` (§A1.1). Emits the raw
    integer counts, one boolean per rule, and the conjunctive
    ``rep_keep``; every threshold is an integer cross-multiplication
    so the DuckDB oracle recomputes bit-identical booleans (see
    GOPHER_*_THRESHOLDS).

    Two value-identical execution paths (tests pin their equality):

    - ``use_arrow=True`` (default, the scale path): one ``mapInPandas``
      island — per-document Counter passes over the word list, Arrow
      batch transfer, no shuffle. ~0.1–1 ms/doc, linear in words.
    - ``use_arrow=False`` (the Catalyst-expr / snapshot-oracle twin):
      pure expressions. Correct but ~100–1000× slower per document:
      the 9 ``array_sort`` calls evaluate an interpreted lambda
      comparator per comparison (HOFs are CodegenFallback), which
      measures ~0.3–0.7 core-seconds per 150-word doc. Kept because
      it is SQL-shaped (the DuckDB oracle mirrors it) and exercises
      the exact tie-break contract; never run it over a corpus.

    Rules (keep iff fraction <= threshold):
      r_dup_line_frac / r_dup_para_frac      <= 0.30 of lines (paras)
        are repeats of an earlier identical line (para)
      r_dup_line_chars / r_dup_para_chars    <= 0.20 of RAW characters
        sit in those repeated occurrences
      r_top{2,3,4}gram_chars                 chars covered by all
        occurrences of the most frequent word n-gram <= 0.20/0.18/0.16
        of NORMALIZED characters
      r_dup{5..10}gram_chars                 chars covered by every
        occurrence of any repeated word n-gram <= 0.15…0.10

    Contract notes (deterministic, both engines): lines split on
    ``\\n`` and paragraphs on ``\\n\\n`` exactly as stored (empty
    segments count — two blank lines ARE duplicate lines); a repeated
    segment's FIRST occurrence is not a duplicate (count-1 per value,
    matching the public reference implementations of this filter);
    n-grams are over :func:`~wos_crawler_spark.operators.textdedup.
    words_of` normalized words, overlapping occurrences each count
    their full character span; top-n-gram count ties resolve to the
    lexicographically smallest gram; NULL text ≡ empty (all counts 0,
    every rule passes — compose with gopher_rules, whose word-count
    floor rejects empty docs).

    Scale shape: per-document map-side expressions ONLY — no shuffle,
    no UDF, cost ∝ document length (6 sorted n-gram arrays dominate).

    Plan shape matters here: Catalyst's subexpression elimination does
    NOT reach into higher-order-function lambda bodies, so any
    computed array captured inside an ``aggregate``/``transform``
    lambda is RE-EVALUATED once per element — a single-projection
    formulation of these rules re-split and re-sorted the n-gram
    arrays O(words) times per document (measured: minutes for 500
    short docs). The implementation therefore materializes each
    intermediate (word array → sorted n-gram arrays → integer counts)
    as a real column in its own projection, so lambda bodies only ever
    capture attribute references; the chained projections cannot be
    re-inlined by CollapseProject because each materialized column is
    non-cheap and referenced more than once downstream.
    """
    if use_arrow:
        return _gopher_repetition_arrow(df, text_col)
    pre = "_grr_"
    t = F.coalesce(F.col(text_col), F.lit(""))
    ngram_ns = sorted({*GOPHER_TOP_NGRAM_THRESHOLDS, *GOPHER_DUP_NGRAM_THRESHOLDS})

    # stage 0: scalars + segment arrays + normalized word array
    base = df.select(
        "*",
        F.length(t).cast("long").alias("total_chars"),
        F.length(norm_text(t)).cast("long").alias("norm_chars"),
        F.split(t, r"\n").alias(f"{pre}lns"),
        F.split(t, r"\n\n").alias(f"{pre}prs"),
        words_of(t).alias(f"{pre}w"),
    )
    # stage 1: distinct segment arrays + sorted n-gram occurrence
    # arrays, all built from materialized columns
    w = F.col(f"{pre}w")
    grams = base.select(
        "*",
        F.array_distinct(f"{pre}lns").alias(f"{pre}lns_d"),
        F.array_distinct(f"{pre}prs").alias(f"{pre}prs_d"),
        *(
            F.array_sort(_ngrams(w, n)).alias(f"{pre}g{n}")
            for n in ngram_ns
        ),
    )

    # stage 2: integer counts from materialized arrays
    def seg_stats(kind: str, all_c: str, dis_c: str) -> dict[str, Column]:
        segs, dis = F.col(all_c), F.col(dis_c)
        return {
            f"n_{kind}s": F.size(segs).cast("long"),
            f"dup_{kind}s": (F.size(segs) - F.size(dis)).cast("long"),
            f"dup_{kind}_chars": _sum_lengths(segs) - _sum_lengths(dis),
        }

    counts: dict[str, Column] = {
        **seg_stats("line", f"{pre}lns", f"{pre}lns_d"),
        **seg_stats("para", f"{pre}prs", f"{pre}prs_d"),
    }
    for n in GOPHER_TOP_NGRAM_THRESHOLDS:
        counts[f"top{n}gram_chars"] = _top_run_chars(F.col(f"{pre}g{n}"))
    for n in GOPHER_DUP_NGRAM_THRESHOLDS:
        counts[f"dup{n}gram_chars"] = _dup_occurrence_chars(F.col(f"{pre}g{n}"))
    cnt = grams.select("*", *(c.alias(k) for k, c in counts.items()))

    # stage 3: rule booleans (cheap integer cross-multiplications over
    # materialized counts) + conjunctive keep
    total_chars, norm_chars = F.col("total_chars"), F.col("norm_chars")
    rules: dict[str, Column] = {
        "r_dup_line_frac": F.col("dup_lines") * 10 <= F.col("n_lines") * 3,
        "r_dup_para_frac": F.col("dup_paras") * 10 <= F.col("n_paras") * 3,
        "r_dup_line_chars": F.col("dup_line_chars") * 5 <= total_chars,
        "r_dup_para_chars": F.col("dup_para_chars") * 5 <= total_chars,
    }
    for n, (num, den) in GOPHER_TOP_NGRAM_THRESHOLDS.items():
        rules[f"r_top{n}gram_chars"] = (
            F.col(f"top{n}gram_chars") * den <= norm_chars * num
        )
    for n, (num, den) in GOPHER_DUP_NGRAM_THRESHOLDS.items():
        rules[f"r_dup{n}gram_chars"] = (
            F.col(f"dup{n}gram_chars") * den <= norm_chars * num
        )
    keep = None
    for name in rules:
        keep = F.col(name) if keep is None else (keep & F.col(name))
    ruled = cnt.select("*", *(c.alias(k) for k, c in rules.items()))
    return ruled.select("*", keep.alias("rep_keep")).drop(
        *(c for c in ruled.columns if c.startswith(pre))
    )


#: Java regex ``\s`` is the ASCII class [ \t\n\x0B\f\r] (no
#: UNICODE_CHARACTER_CLASS flag in Spark's regexp_replace). The python
#: twin must NOT use python's ``\s`` (unicode-aware on str) or
#: ``.strip()`` (strips unicode whitespace) — both would diverge from
#: norm_text on e.g. NBSP.
_JAVA_WS_RE = None  # compiled lazily on the executor


def _repetition_counts(text) -> dict:
    """Pure-python recomputation of every gopher_repetition_rules
    column for ONE document — shared by the Arrow scale path and the
    test twin. Bit-identical to the Catalyst-expr path by contract
    (tests pin equality): same Java-\\s normalization, same
    keeps-empty splits, same count-including-first dup-gram mass,
    same strictly-greater top-gram tie-break."""
    import re
    from collections import Counter

    global _JAVA_WS_RE
    if _JAVA_WS_RE is None:
        _JAVA_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")

    t = text if isinstance(text, str) else ""
    total_chars = len(t)
    norm = _JAVA_WS_RE.sub(" ", t.lower()).strip(" ")
    out: dict = {"total_chars": total_chars, "norm_chars": len(norm)}
    words = norm.split(" ")

    for kind, sep in (("line", "\n"), ("para", "\n\n")):
        segs = t.split(sep)
        seen: set = set()
        dup = dup_chars = 0
        for s in segs:
            if s in seen:
                dup += 1
                dup_chars += len(s)
            else:
                seen.add(s)
        out[f"n_{kind}s"] = len(segs)
        out[f"dup_{kind}s"] = dup
        out[f"dup_{kind}_chars"] = dup_chars

    def gram_counts(n: int) -> Counter:
        if len(words) < n:
            return Counter()
        return Counter(
            " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
        )

    for n in GOPHER_TOP_NGRAM_THRESHOLDS:
        c = gram_counts(n)
        chars = 0
        if c:
            top = max(c.values())
            if top >= 2:
                best = min(g for g, k in c.items() if k == top)
                chars = top * len(best)
        out[f"top{n}gram_chars"] = chars
    for n in GOPHER_DUP_NGRAM_THRESHOLDS:
        out[f"dup{n}gram_chars"] = sum(
            k * len(g) for g, k in gram_counts(n).items() if k >= 2
        )

    out["r_dup_line_frac"] = out["dup_lines"] * 10 <= out["n_lines"] * 3
    out["r_dup_para_frac"] = out["dup_paras"] * 10 <= out["n_paras"] * 3
    out["r_dup_line_chars"] = out["dup_line_chars"] * 5 <= total_chars
    out["r_dup_para_chars"] = out["dup_para_chars"] * 5 <= total_chars
    for n, (num, den) in GOPHER_TOP_NGRAM_THRESHOLDS.items():
        out[f"r_top{n}gram_chars"] = (
            out[f"top{n}gram_chars"] * den <= out["norm_chars"] * num
        )
    for n, (num, den) in GOPHER_DUP_NGRAM_THRESHOLDS.items():
        out[f"r_dup{n}gram_chars"] = (
            out[f"dup{n}gram_chars"] * den <= out["norm_chars"] * num
        )
    out["rep_keep"] = all(v for k, v in out.items() if k.startswith("r_"))
    return out


def _gopher_repetition_arrow(df: DataFrame, text_col: str) -> DataFrame:
    """Arrow mapInPandas scale path of :func:`gopher_repetition_rules`:
    per-document Counter passes, no shuffle, linear in words."""
    from pyspark.sql import types as T

    count_names = [
        "total_chars", "norm_chars", "n_lines", "dup_lines",
        "dup_line_chars", "n_paras", "dup_paras", "dup_para_chars",
        *(f"top{n}gram_chars" for n in GOPHER_TOP_NGRAM_THRESHOLDS),
        *(f"dup{n}gram_chars" for n in GOPHER_DUP_NGRAM_THRESHOLDS),
    ]
    rule_names = [
        "r_dup_line_frac", "r_dup_para_frac",
        "r_dup_line_chars", "r_dup_para_chars",
        *(f"r_top{n}gram_chars" for n in GOPHER_TOP_NGRAM_THRESHOLDS),
        *(f"r_dup{n}gram_chars" for n in GOPHER_DUP_NGRAM_THRESHOLDS),
        "rep_keep",
    ]
    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(c, T.LongType(), False) for c in count_names]
        + [T.StructField(c, T.BooleanType(), False) for c in rule_names]
    )

    def compute(batches):
        for pdf in batches:
            stats = [_repetition_counts(t) for t in pdf[text_col]]
            out = pdf.copy()
            for k in count_names + rule_names:
                out[k] = [s[k] for s in stats]
            yield out

    return df.mapInPandas(compute, schema=schema)


def doc_fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 hex of normalized text
    (the rolling-hash family's degenerate whole-doc case; windowed
    rolling fingerprints live in textdedup.shingles_from_words +
    xxhash64)."""
    return F.md5(norm_text(text))


def rolling_fingerprints(text: Column, window: int = 8) -> Column:
    """Winnowing-style rolling fingerprints: xxhash64 of each
    ``window``-word shingle → array<long>. Min-sampled variants are a
    downstream array_min over slices. Empty text → empty array (not
    one fingerprint of '').

    Materialization caveat (same as textdedup.shingles_from_words):
    ``text``'s word array is captured inside the transform lambda, so
    pass an attribute or pre-project ``words_of(text)`` in anything
    hot — subexpression elimination does not reach into HOF lambdas."""
    w = words_of(text)
    idx = F.sequence(F.lit(1), F.greatest(F.lit(1), F.size(w) - (window - 1)))
    fps = F.transform(
        idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(w, i, window)))
    )
    return F.when(norm_text(text) == "", F.array().cast("array<bigint>")).otherwise(fps)


#: Unicode script blocks for :func:`script_profile` — explicit
#: codepoint ranges (identical semantics in Java regex and RE2; the
#: \p{Script} syntaxes differ between the engines, ranges do not).
SCRIPT_RANGES: dict[str, str] = {
    "arabic": "[؀-ۿ]",
    "cyrillic": "[Ѐ-ӿ]",
    "devanagari": "[ऀ-ॿ]",
    "greek": "[Ͱ-Ͽ]",
    "han": "[一-鿿]",
    "hangul": "[가-힯]",
    "kana": "[぀-ヿ]",
    "latin": "[A-Za-zÀ-ɏ]",
}


def script_profile(df, text_col: str = "text"):
    """Per-document Unicode script histogram + dominant script — the
    pre-language-ID routing signal (CLD/fastText pipelines branch on
    script before model inference; a Han-dominant page should never
    reach a Latin-ngram LID). Adds ``script_<name>`` counts and
    ``script_dominant`` (ties break to the lexicographically smallest
    script; all-zero → ``'und'``). Pure codegen'd ``regexp_count``
    projection — zero Python, zero shuffles; counts are integers and
    the tie rule is order-free, so the oracle recomputes everything
    from scratch with the same range classes."""
    t = F.col(text_col)
    out = df
    for name, pat in SCRIPT_RANGES.items():
        out = out.withColumn(
            f"script_{name}",
            F.coalesce(F.regexp_count(t, F.lit(pat)), F.lit(0)).cast(
                "long"
            ),
        )
    best_cnt = F.lit(0).cast("long")
    best_name = F.lit("und")
    # ascending name order + STRICT > keeps the smallest name on ties
    for name in sorted(SCRIPT_RANGES):
        c = F.col(f"script_{name}")
        new_best = c > best_cnt
        best_name = F.when(new_best, F.lit(name)).otherwise(best_name)
        best_cnt = F.when(new_best, c).otherwise(best_cnt)
    return out.withColumn("script_dominant", best_name)
