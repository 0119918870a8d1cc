"""Training-data text ops: exact dedup, MinHash LSH, SimHash, prefix
Jaccard pairs, language ID, quality features, token counts,
fingerprints."""

import pytest
from pyspark.sql import functions as F

from wos_crawler_spark.operators import textdedup as td
from wos_crawler_spark.operators import textquality as tq


@pytest.fixture(scope="module")
def corpus(spark):
    """Planted corpus: 20 base docs, near-dup pairs (one-word edits),
    and exact dups (whitespace/case variants)."""
    # disjoint vocabularies per doc → unrelated docs share no shingles
    base = [" ".join(f"w{i * 40 + j}" for j in range(40)) for i in range(20)]
    rows = []
    for i, t in enumerate(base):
        rows.append((i, t))
    # near-dups of docs 0..4: change the last word
    for i in range(5):
        rows.append((100 + i, base[i].rsplit(" ", 1)[0] + " zz"))
    # exact dups of docs 5..7 modulo case/whitespace
    for i in range(5, 8):
        rows.append((200 + i, base[i].upper().replace(" ", "   ")))
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(corpus):
    d = td.exact_dedup(corpus).filter(F.col("n_dups") > 1).collect()
    assert {r["keep_id"] for r in d} == {5, 6, 7}
    survivors = td.exact_dedup_keep(corpus)
    assert survivors.count() == corpus.count() - 3
    assert survivors.filter(F.col("doc_id").isin([205, 206, 207])).count() == 0


def test_minhash_lsh_finds_planted_near_dups(corpus):
    pairs = td.minhash_lsh_pairs(
        corpus, shingle_n=3, k=32, bands=16, t_num=1, t_den=2
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    for i in range(5):
        assert (i, 100 + i) in found, f"missed planted near-dup {i}"
    # jaccard sanity: planted pairs differ by ~3 shingles out of ~38,
    # checked exactly as 0.8 < n_inter / n_union < 1
    for r in pairs:
        if (r["id_a"], r["id_b"]) == (0, 100):
            assert 8 * r["n_union"] < 10 * r["n_inter"] < 10 * r["n_union"]


def test_minhash_no_false_pairs_between_unrelated(corpus):
    pairs = td.minhash_lsh_pairs(
        corpus, shingle_n=3, k=32, bands=16, t_num=1, t_den=2
    ).collect()
    for r in pairs:
        # every surviving pair must be a planted one (a, a+100/a+200)
        assert r["id_b"] % 100 == r["id_a"], (r["id_a"], r["id_b"])
        assert 2 * r["n_inter"] >= r["n_union"]


def test_minhash_lsh_dedup_clusters(corpus):
    """The linear scale path groups each planted dup family into one
    cluster labeled by its min doc_id, and leaves unrelated docs
    singleton."""
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in td.minhash_lsh_dedup(
            corpus, shingle_n=3, k=32, bands=16
        ).collect()
    }
    for i in range(5):  # near-dup families {i, 100+i}
        assert labels[100 + i] == labels[i] == i
    for i in range(5, 8):  # exact-dup families {i, 200+i}
        assert labels[200 + i] == labels[i] == i
    singles = [i for i in range(8, 20)]
    for i in singles:
        assert labels[i] == i
        assert sum(1 for v in labels.values() if v == i) == 1


def test_min_label_components_chain_converges_logarithmically(spark):
    """A 200-vertex CHAIN (diameter 199 — the shape plain min-label
    propagation needs ~diameter rounds for) must converge within
    max_iter=12 thanks to pointer jumping (O(log n) rounds), with every
    vertex labeled by the component min."""
    n = 200
    vertices = spark.range(n).select(F.col("id").alias("_id"))
    edges = spark.createDataFrame(
        [(i, i - 1) for i in range(1, n)], "src long, dst long"
    )
    labels = {
        r["_id"]: r["label"]
        for r in td.min_label_components(vertices, edges, max_iter=12).collect()
    }
    assert labels == {i: 0 for i in range(n)}


def test_min_label_components_raises_on_budget_exhaustion(spark):
    vertices = spark.range(64).select(F.col("id").alias("_id"))
    edges = spark.createDataFrame(
        [(i, i - 1) for i in range(1, 64)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        td.min_label_components(vertices, edges, max_iter=2)


def test_simhash_near_pairs(spark, corpus):
    """Banded blocking is EXACT: every planted near-dup within the
    radius is found (the old single-prefix block was probabilistic)."""
    sim = td.simhash(corpus)
    assert sim.count() == corpus.count()
    sig = {r["doc_id"]: r["simhash"] for r in sim.collect()}
    expected = {
        (a, b)
        for a in sig
        for b in sig
        if a < b and bin((sig[a] ^ sig[b]) & ((1 << 64) - 1)).count("1") <= 8
    }
    pairs = td.simhash_near_pairs(sim, max_hamming=8).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert found == expected  # exact contract vs Python brute force


def test_simhash_banded_blocking_exact_brute_force(spark):
    """Exhaustive equality vs all-pairs Hamming on planted signatures,
    INCLUDING pairs that differ only inside the old 8-bit prefix (the
    recall hole the banded rewrite closes)."""
    from wos_crawler_spark.fixtures.wosgen import splitmix64

    sigs = []
    for i in range(40):
        s = splitmix64(i * 7919)
        sigs.append((i, s))
        # neighbor at controlled distance: flip i%9 bits spread across
        # the word, including the TOP bits for i%3==0 (prefix-differing)
        flips = range(0, (i % 9))
        off = 63 if i % 3 == 0 else 5
        m = 0
        for k in flips:
            m |= 1 << ((off - k * 7) % 64)
        sigs.append((1000 + i, s ^ m))

    def to_i64(u):  # Spark longs are signed
        return u - (1 << 64) if u >= (1 << 63) else u

    df = spark.createDataFrame(
        [(i, to_i64(s)) for i, s in sigs], "doc_id long, simhash long"
    )
    by_id = dict(sigs)
    for radius in (1, 3, 8):
        expected = {
            (a, b)
            for a in by_id
            for b in by_id
            if a < b and bin(by_id[a] ^ by_id[b]).count("1") <= radius
        }
        got = {
            (r["id_a"], r["id_b"])
            for r in td.simhash_near_pairs(df, max_hamming=radius).collect()
        }
        assert got == expected, f"radius={radius}"


def test_simhash_bucket_cap_bounds_degenerate_blocks(spark):
    """bucket_cap drops oversized buckets (documented approximation):
    a degenerate mass of identical signatures stays sub-quadratic."""
    rows = [(i, 0) for i in range(50)] + [(100 + i, 7 + i) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    capped = td.simhash_near_pairs(df, max_hamming=2, bucket_cap=10).collect()
    ids_in_pairs = {r["id_a"] for r in capped} | {r["id_b"] for r in capped}
    assert not any(i < 50 for i in ids_in_pairs)  # degenerate block dropped
    uncapped = td.simhash_near_pairs(df, max_hamming=2).count()
    assert uncapped > len(capped)


def test_ngram_jaccard_allpairs(corpus):
    pairs = td.prefix_jaccard_pairs(corpus, shingle_n=3, t_num=1, t_den=2)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for i in range(5):
        assert (i, 100 + i) in found


def test_blank_text_pairs_across_jaccard_family(spark):
    """NULL, "" and whitespace-only text all shingle to the singleton
    set [""]: every Jaccard pair operator pairs the three blank rows
    with each other at n_inter = n_union = 1, and nothing else."""
    from wos_crawler_spark.operators import dedupindex as di

    words = [" ".join(f"{c}{j}" for j in range(20)) for c in "ab"]
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "  \t "), (4, words[0]), (5, words[1])],
        "doc_id long, text string",
    )
    blank = (1, 2, 3)
    for n in (1, 3):
        want = {(i, j, 1, 1) for i in blank for j in blank if i < j}
        for op in (td.prefix_jaccard_pairs, td.minhash_lsh_pairs):
            got = op(df, shingle_n=n, t_num=1, t_den=2).collect()
            assert set(map(tuple, got)) == want, op.__name__
        # the index queried with its own corpus, its stored tables in
        # another column order (they are read by name): every blank row
        # pairs with every blank row, each text doc only with itself
        idx = di.dedup_index_build(df, shingle_n=n)
        idx.bands = idx.bands.select(*reversed(idx.bands.columns))
        idx.hashes = idx.hashes.select(*reversed(idx.hashes.columns))
        m = 20 - n + 1
        got = di.dedup_index_query(idx, df)
        assert set(map(tuple, got.collect())) == {
            (i, j, 1, 1) for i in blank for j in blank
        } | {(4, 4, m, m), (5, 5, m, m)}


def test_lang_id(spark):
    rows = [
        (1, "the cat sat on the mat and that is that"),
        (2, "der hund ist von der stadt und das ist ein haus"),
        (3, "el perro es de la casa y que bueno es por la noche"),
        (4, "xyzzy plugh qwerty"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r["lang"] for r in df.select("id", tq.lang_id(F.col("text")).alias("lang")).collect()}
    assert out == {1: "en", 2: "de", 3: "es", 4: "und"}


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42 times.")], "id long, text string")
    r = df.select(
        tq.token_count_ws(F.col("text")).alias("ws"),
        tq.token_count_bpe(F.col("text")).alias("bpe"),
    ).first()
    assert r["ws"] == 4
    # hello , world ! 42 times . → 7 BPE-ish pieces
    assert r["bpe"] == 7


def test_quality_features(corpus):
    q = tq.quality_features(corpus)
    rows = q.select("doc_id", "q_n_words", "q_score", "q_punct_ratio").collect()
    for r in rows:
        assert 0.0 <= r["q_score"] <= 1.0
        assert r["q_n_words"] in (40, 41)
        assert r["q_punct_ratio"] == 0.0


def test_gopher_rules_crafted(spark):
    """Each Gopher rule trips on a doc crafted to violate exactly it
    (the fixture corpus has no newlines, so the line-based rules are
    exercised here)."""
    good = "the cat sat with the dog and that was that have to be " * 5
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "\n".join(["- bullet item here ok fine"] * 9 + ["plain"])),
            (3, "short text"),
            (4, "trailing one... \nand two...\nplain line\nlast line"),
            (5, " ".join(["word #"] * 30)),
        ],
        "doc_id long, text string",
    )
    g = {
        r["doc_id"]: r
        for r in tq.gopher_rules(docs).collect()
    }
    assert g[1]["gopher_keep"] and all(
        g[1][c] for c in g[1].asDict() if c.startswith("r_")
    )
    # 9/10 bullet lines: 9*10 < 10*9 is false
    assert not g[2]["r_bullet_lines"] and not g[2]["gopher_keep"]
    assert not g[3]["r_word_count"] and not g[3]["r_stopwords"]
    # 2/4 ellipsis-ended lines >= 30%
    assert not g[4]["r_ellipsis_lines"]
    assert g[1]["r_ellipsis_lines"] and g[1]["r_bullet_lines"]
    # 30 '#' over 60 words: symbol-to-word ratio 0.5 >= 0.1
    assert not g[5]["r_symbol_ratio"] and g[1]["r_symbol_ratio"]


def test_gopher_rules_null_text_is_deterministic(spark):
    """NULL text ≡ empty: every rule a real boolean (split(NULL) would
    otherwise make size() = -1 and line rules nondeterministic), keep
    false."""
    df = spark.createDataFrame([(1, None), (2, "")], "doc_id long, text string")
    for r in tq.gopher_rules(df).collect():
        d = r.asDict()
        assert d["gopher_keep"] is False
        assert all(
            v in (True, False) for k, v in d.items() if k.startswith("r_")
        )


def test_paragraph_dedup_global(spark):
    """Corpus-global keep-first: later occurrences of a paragraph drop
    wherever they appear; docs reassemble in original order; a fully
    duplicated doc survives with empty text."""
    docs = spark.createDataFrame(
        [
            (1, "A\n\nB\n\nC"),
            (2, "B\n\nD"),        # B seen in doc 1
            (3, "C\n\nC\n\nE"),   # C seen in doc 1; 2nd C intra-doc dup
            (4, "A\n\nB"),        # everything seen earlier
            (5, None),            # NULL -> one empty paragraph ''
            (6, ""),              # '' paragraph now a duplicate of 5's
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in td.paragraph_dedup(docs).collect()
    }
    assert out[1]["dedup_text"] == "A\n\nB\n\nC"
    assert (out[1]["n_paras_in"], out[1]["n_paras_kept"]) == (3, 3)
    assert out[2]["dedup_text"] == "D" and out[2]["n_paras_kept"] == 1
    assert out[3]["dedup_text"] == "E"
    assert (out[4]["n_paras_in"], out[4]["n_paras_kept"]) == (2, 0)
    assert out[4]["dedup_text"] == ""
    assert out[5]["n_paras_kept"] == 1 and out[5]["dedup_text"] == ""
    assert out[6]["n_paras_kept"] == 0


def test_paragraph_dedup_partitioning_invariant(spark):
    """Keeper choice is (id, pos)-ordered, not partition-ordered."""
    rows = [(i, f"P{i % 7}\n\nQ{i % 5}") for i in range(40)]
    df1 = spark.createDataFrame(rows, "doc_id long, text string")
    df2 = df1.repartition(13)
    a = sorted(td.paragraph_dedup(df1).collect())
    b = sorted(td.paragraph_dedup(df2).collect())
    assert a == b
    # exactly 7 P-paragraphs + 5 Q-paragraphs survive corpus-wide
    assert sum(r["n_paras_kept"] for r in a) == 12


def _repetition_twin(text: str | None) -> dict:
    """Pure-python twin of tq.gopher_repetition_rules for one doc —
    independent recomputation of every emitted column."""
    import re
    from collections import Counter

    t = text or ""
    total_chars = len(t)
    norm = re.sub(r"\s+", " ", t.lower()).strip()
    norm_chars = len(norm)
    words = norm.split(" ")

    def seg(pattern: str) -> tuple[int, int, int]:
        segs = re.split(pattern, t)
        seen: set[str] = set()
        dup = dup_chars = 0
        for s in segs:
            if s in seen:
                dup += 1
                dup_chars += len(s)
            else:
                seen.add(s)
        return len(segs), dup, dup_chars

    def ngrams(n: int) -> list[str]:
        if len(words) < n:
            return []
        return [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]

    out: dict = {"total_chars": total_chars, "norm_chars": norm_chars}
    (out["n_lines"], out["dup_lines"], out["dup_line_chars"]) = seg(r"\n")
    (out["n_paras"], out["dup_paras"], out["dup_para_chars"]) = seg(r"\n\n")
    for n in tq.GOPHER_TOP_NGRAM_THRESHOLDS:
        c = Counter(ngrams(n))
        chars = 0
        if c:
            top = max(c.values())
            best = min(g for g, k in c.items() if k == top)
            if top >= 2:
                chars = top * len(best)
        out[f"top{n}gram_chars"] = chars
    for n in tq.GOPHER_DUP_NGRAM_THRESHOLDS:
        c = Counter(ngrams(n))
        out[f"dup{n}gram_chars"] = sum(
            k * len(g) for g, k in c.items() if k >= 2
        )
    out["r_dup_line_frac"] = out["dup_lines"] * 10 <= out["n_lines"] * 3
    out["r_dup_para_frac"] = out["dup_paras"] * 10 <= out["n_paras"] * 3
    out["r_dup_line_chars"] = out["dup_line_chars"] * 5 <= total_chars
    out["r_dup_para_chars"] = out["dup_para_chars"] * 5 <= total_chars
    for n, (num, den) in tq.GOPHER_TOP_NGRAM_THRESHOLDS.items():
        out[f"r_top{n}gram_chars"] = (
            out[f"top{n}gram_chars"] * den <= norm_chars * num
        )
    for n, (num, den) in tq.GOPHER_DUP_NGRAM_THRESHOLDS.items():
        out[f"r_dup{n}gram_chars"] = (
            out[f"dup{n}gram_chars"] * den <= norm_chars * num
        )
    out["rep_keep"] = all(v for k, v in out.items() if k.startswith("r_"))
    return out


def test_gopher_repetition_crafted(spark):
    """Hand-computed counts for each rule family."""
    docs = spark.createDataFrame(
        [
            # 4 lines, 'a b c' twice more after its first -> dup 2,
            # dup chars 10
            (1, "a b c\nx y z\na b c\na b c"),
            # paragraphs: 'p one' repeated -> 1 dup para, 5 dup chars
            (2, "p one\n\np two\n\np one"),
            # top 2-gram 'the cat' x2 -> 14 chars
            (3, "the cat the cat sat"),
            # 5-gram 'a b c d e' twice (disjoint) -> 2*9=18 dup chars
            (4, "a b c d e z a b c d e"),
            (5, "all words distinct here now truly"),
        ],
        "doc_id long, text string",
    )
    g = {
        r["doc_id"]: r.asDict()
        for r in tq.gopher_repetition_rules(docs).collect()
    }
    assert (g[1]["n_lines"], g[1]["dup_lines"], g[1]["dup_line_chars"]) == (4, 2, 10)
    # 2/4 dup lines > 0.30 and 10/23 chars > 0.20 -> both trip
    assert not g[1]["r_dup_line_frac"] and not g[1]["r_dup_line_chars"]
    assert (g[2]["n_paras"], g[2]["dup_paras"], g[2]["dup_para_chars"]) == (3, 1, 5)
    assert not g[2]["r_dup_para_frac"]  # 1/3 > 0.30
    assert g[3]["top2gram_chars"] == 14  # 'the cat' x2
    assert not g[3]["r_top2gram_chars"]  # 14/19 > 0.20
    assert g[4]["dup5gram_chars"] == 18
    assert not g[4]["r_dup5gram_chars"]  # 18/21 > 0.15
    assert g[5]["rep_keep"] and all(
        v for k, v in g[5].items() if k.startswith("r_")
    )


def test_gopher_repetition_matches_python_twin(spark):
    """Property check: 60 seeded randomized docs (small vocab to force
    repetition, newlines and blank lines included) — every emitted
    column equals the independent python recomputation."""
    import random

    rng = random.Random(42)
    vocab = ["alpha", "beta", "gamma", "delta", "x", "yy", "#", "the"]
    docs = []
    for i in range(60):
        n_lines = rng.randint(0, 6)
        lines = []
        for _ in range(n_lines + 1):
            k = rng.randint(0, 12)
            lines.append(" ".join(rng.choice(vocab) for _ in range(k)))
        sep = rng.choice(["\n", "\n\n", "\n"])
        docs.append((i, sep.join(lines)))
    docs.append((900, None))
    docs.append((901, ""))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {
        r["doc_id"]: r.asDict()
        for r in tq.gopher_repetition_rules(df).collect()
    }
    texts = dict(docs)
    for doc_id, row in rows.items():
        twin = _repetition_twin(texts[doc_id])
        for col, expected in twin.items():
            assert row[col] == expected, (
                f"doc {doc_id} col {col}: spark={row[col]} twin={expected} "
                f"text={texts[doc_id]!r}"
            )


def test_gopher_repetition_expr_equals_arrow(spark):
    """The Catalyst-expr twin (use_arrow=False, the shape the DuckDB
    oracle mirrors) and the Arrow mapInPandas scale path emit
    bit-identical rows — schema order included."""
    import random

    rng = random.Random(7)
    vocab = ["a", "bb", "the", "zz", "#"]
    docs = [
        (1, "a b c\nx y z\na b c\na b c"),
        (2, "p one\n\np two\n\np one"),
        (3, "the cat the cat sat"),
        (4, None),
        (5, ""),
    ]
    for i in range(6, 26):
        lines = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 8)))
            for _ in range(rng.randint(1, 4))
        ]
        docs.append((i, rng.choice(["\n", "\n\n"]).join(lines)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    arrow = sorted(tq.gopher_repetition_rules(df, use_arrow=True).collect())
    expr = sorted(tq.gopher_repetition_rules(df, use_arrow=False).collect())
    assert [r.asDict() for r in arrow] == [r.asDict() for r in expr]


def test_fingerprint_invariance(spark):
    df = spark.createDataFrame(
        [(1, "Some  Text\there"), (2, "some text here")], "id long, text string"
    )
    fps = [r["fp"] for r in df.select(tq.doc_fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_rolling_fingerprints(spark):
    df = spark.createDataFrame([(1, " ".join(f"w{i}" for i in range(20)))], "id long, text string")
    arr = df.select(tq.rolling_fingerprints(F.col("text"), 8).alias("r")).first()["r"]
    assert len(arr) == 13  # 20 - 8 + 1
    assert len(set(arr)) == 13


def test_empty_text_zero_tokens_low_quality(spark):
    """Empty/whitespace docs: 0 whitespace tokens (split('') yields ['']
    — must not count a phantom word), quality near floor, and no
    phantom rolling fingerprint."""
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real words here")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in tq.quality_features(df).select(
            "doc_id", "q_n_words", "q_score"
        ).collect()
    }
    assert rows[1]["q_n_words"] == 0 and rows[2]["q_n_words"] == 0
    assert rows[1]["q_score"] <= 0.3  # fails a typical quality gate
    assert rows[3]["q_n_words"] == 3
    fp = df.select(
        "doc_id", tq.rolling_fingerprints(F.col("text"), 2).alias("r")
    ).collect()
    by_id = {r["doc_id"]: r["r"] for r in fp}
    assert by_id[1] == [] and by_id[2] == []
    assert len(by_id[3]) == 2


def test_citation_links_case_insensitive_doi(spark):
    """An uppercase CR DOI must still link to the lowercase DI."""
    from wos_crawler_spark.operators.normalize import citation_links
    from wos_crawler_spark.operators.parse_plaintext import parse_pages

    a = (
        "PT J\nTI citing\nCR Smith J, 2000, J EX, V1, P1, "
        "DOI 10.1000/ABC\nUT WOS:1\nER"
    )
    b = "PT J\nTI cited\nDI 10.1000/abc\nUT WOS:2\nER"
    pages = spark.createDataFrame(
        [("u1", a), ("u2", b)], "url string, text string"
    )
    links = citation_links(parse_pages(pages)).collect()
    assert len(links) == 1
    assert links[0]["citing_uid"] == "1" and links[0]["cited_uid"] == "2"
    assert links[0]["doi"] == "10.1000/ABC"  # original bytes kept


def test_script_profile(spark):
    import re

    from wos_crawler_spark.operators.textquality import (
        SCRIPT_RANGES,
        script_profile,
    )

    rows = [
        (0, "plain english text"),
        (1, "Привет мир"),
        (2, "你好世界 hi"),          # han 4 > latin 2
        (3, "hi 你好"),              # latin 2 = han 2 → tie → 'han'
        (4, "12345 !!!"),            # no script → 'und'
        (5, None),
        (6, "مرحبا بالعالم"),
        (7, "γεια σου"),
        (8, "안녕하세요"),
        (9, "こんにちは カタカナ"),
        (10, "नमस्ते"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.asDict() for r in script_profile(df).collect()}
    for i, t in rows:
        for name, pat in SCRIPT_RANGES.items():
            want = len(re.findall(pat, t)) if t is not None else 0
            assert got[i][f"script_{name}"] == want, (i, name)
    assert got[0]["script_dominant"] == "latin"
    assert got[1]["script_dominant"] == "cyrillic"
    assert got[2]["script_dominant"] == "han"
    assert got[3]["script_dominant"] == "han"   # tie: 'han' < 'latin'
    assert got[4]["script_dominant"] == "und"
    assert got[5]["script_dominant"] == "und"
    assert got[6]["script_dominant"] == "arabic"
    assert got[7]["script_dominant"] == "greek"
    assert got[8]["script_dominant"] == "hangul"
    assert got[9]["script_dominant"] == "kana"
    assert got[10]["script_dominant"] == "devanagari"
