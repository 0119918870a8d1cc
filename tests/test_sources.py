"""Sources: export-dir scan (S7), seed file scan (S1), pages reader
with pushed-down filters."""

from pyspark.sql import functions as F

from wos_crawler_spark.fixtures import wosgen
from wos_crawler_spark.fixtures.synth import gen_pages_pdf
from wos_crawler_spark.operators.parse_plaintext import parse_pages
from wos_crawler_spark.sources import (
    read_export_dir,
    read_pages,
    read_seeds,
    write_normalized,
    write_pages,
)


def test_export_dir_scan_feeds_parser(spark, tmp_path):
    """A directory of field-tagged .txt exports parses identically to
    the same payloads in a pages table (S7 == crawl path)."""
    exp = tmp_path / "exports"
    exp.mkdir()
    n = 6
    payloads = [wosgen.export_payload(i, n) for i in range(n)]
    # two files of three records each (reference: 500-record batches)
    (exp / "1-3.txt").write_text("\n".join(payloads[:3]), encoding="utf-8")
    (exp / "4-6.txt").write_text("\n".join(payloads[3:]), encoding="utf-8")

    pages = read_export_dir(spark, str(exp))
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    parsed = parse_pages(pages)
    uids = sorted(r["unique_id"] for r in parsed.select("unique_id").collect())
    expect_pdf = gen_pages_pdf(list(range(n)), n)
    expect = sorted(
        r["unique_id"]
        for r in parse_pages(
            spark.createDataFrame(expect_pdf)
        ).select("unique_id").collect()
    )
    assert uids == expect and len(uids) == n


BIB = """@article{ ISI:000111111100001,
Author = {Leung, Tom},
Title = {{First entry}},
Year = {{2018}},
Unique-ID = {{ISI:000111111100001}},
}

@article{ ISI:000111111100002,
Author = {Solo, Han},
Title = {{Second entry}},
Year = {{2019}},
Unique-ID = {{ISI:000111111100002}},
}
"""


def test_bibtex_dir_scan_feeds_bib_parser(spark, tmp_path):
    """read_bibtex_dir returns the pages shape, so parse_bib_pages runs
    on it directly and finds the same records as parse_bib_text."""
    from wos_crawler_spark.operators.parse_bibtex import (
        parse_bib_pages,
        parse_bib_text,
    )
    from wos_crawler_spark.sources import read_bibtex_dir

    exp = tmp_path / "bib"
    exp.mkdir()
    (exp / "savedrecs.bib").write_text(BIB, encoding="utf-8")
    pages = read_bibtex_dir(spark, str(exp))
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    uids = sorted(r["unique_id"] for r in parse_bib_pages(pages).collect())
    assert uids == sorted(r["unique_id"] for r in parse_bib_text(BIB))
    assert len(uids) == 2


def test_seed_file_scan(spark, tmp_path):
    f = tmp_path / "seeds.txt"
    f.write_text(
        "TS=(machine learning) AND PY=2018\n\nAU=(Smith, J)\n", encoding="utf-8"
    )
    seeds = read_seeds(spark, str(f)).collect()
    assert len(seeds) == 2  # blank line skipped
    by_q = {r["query"]: r for r in seeds}
    assert by_q["TS=(machine learning) AND PY=2018"]["term"] == "machine learning"
    assert by_q["AU=(Smith, J)"]["term"] == "AU=(Smith, J)"


def test_pages_reader_pushes_filters(spark, tmp_path):
    src = str(tmp_path / "pages")
    spark.createDataFrame(gen_pages_pdf(list(range(50)), 50)).write.parquet(src)
    df = read_pages(spark, src, langs=["en"], columns=["url", "lang"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "lang" in pushed  # the filter reached the parquet scan
    rows = df.collect()
    assert rows and all(r["lang"] == "en" for r in rows)
    # column pruning reaches the scan
    assert "ReadSchema" in plan and "html" not in plan.split("ReadSchema")[1][:200]


def test_pages_and_normalized_sinks(spark, tmp_path):
    """S6/S8: wave-partitioned pages append + per-table normalized
    store append round-trip."""
    pages = spark.createDataFrame(gen_pages_pdf(list(range(20)), 20))
    dest = str(tmp_path / "pages_store")
    write_pages(pages, dest, wave=0)
    write_pages(pages.limit(5), dest, wave=1)
    back = spark.read.parquet(dest)
    assert back.count() == 25
    assert back.filter(F.col("wave") == 1).count() == 5

    parsed = parse_pages(pages)
    from wos_crawler_spark.operators.normalize import normalize_all

    tables = normalize_all(parsed)
    root = str(tmp_path / "store")
    write_normalized(tables, root)
    docs = spark.read.parquet(f"{root}/documents")
    assert docs.count() == 20
    assert docs.select("unique_id").distinct().count() == 20


def test_iceberg_conditional_path(spark, tmp_path):
    """Jars are absent in this sandbox: iceberg_available must say so,
    the generated MERGE/DDL SQL must carry the spec'd layout, and the
    auto dispatcher must fall back to the parquet sink."""
    from wos_crawler_spark.operators.normalize import normalize_all
    from wos_crawler_spark.sources import iceberg as ib

    assert ib.iceberg_available(spark) is False
    m = ib.merge_into_sql("cat.db.documents", "_staging_documents")
    assert "MERGE INTO cat.db.documents" in m
    assert "ON t.unique_id = s.unique_id" in m
    assert "WHEN NOT MATCHED THEN INSERT *" in m
    ddl = ib.create_pages_table_sql("cat.db.pages")
    assert "USING iceberg" in ddl
    assert "PARTITIONED BY (days(warc_ts), bucket(256, url))" in ddl
    assert "bucket(256, url_hash)" in ib.create_seen_table_sql()

    pages = spark.createDataFrame(gen_pages_pdf(list(range(5)), 5))
    tables = normalize_all(parse_pages(pages))
    root = str(tmp_path / "auto_store")
    ib.write_normalized_auto(tables, root, spark)  # parquet fallback
    assert spark.read.parquet(f"{root}/documents").count() == 5


def test_normalized_sink_collapses_intra_batch_duplicates(spark, tmp_path):
    """The same record parsed from two mirror URLs in ONE batch must
    land once everywhere — children included (a fan-out here is
    unrepairable later: the anti-join only blocks future inserts)."""
    from wos_crawler_spark.operators.normalize import normalize_all

    payload = wosgen.export_payload(0, 10)
    pages = spark.createDataFrame(
        [("https://a.org/rec/0", payload), ("https://b.org/rec/0", payload)],
        "url string, text string",
    )
    parsed = parse_pages(pages)
    single = normalize_all(parse_pages(pages.limit(1)))
    expected = {name: df.count() for name, df in single.items()}
    root = str(tmp_path / "dupstore")
    write_normalized(normalize_all(parsed), root)
    for name, want in expected.items():
        got = spark.read.parquet(f"{root}/{name}").count()
        # url differs between the two copies of `documents`; children
        # carry no url and must match the single-parse counts exactly
        assert got == want, (name, got, want)


def test_normalized_sink_is_idempotent(spark, tmp_path):
    """A5/S8: re-writing the same wave changes nothing — the sink
    anti-joins on stored unique_ids before appending (the sandbox twin
    of Iceberg MERGE INTO ... WHEN NOT MATCHED)."""
    from wos_crawler_spark.operators.normalize import normalize_all

    pages = spark.createDataFrame(gen_pages_pdf(list(range(12)), 12))
    parsed = parse_pages(pages).cache()
    tables = normalize_all(parsed)
    root = str(tmp_path / "store")
    write_normalized(tables, root)
    first = {
        name: spark.read.parquet(f"{root}/{name}").count() for name in tables
    }
    # same wave again — counts must not move
    write_normalized(normalize_all(parsed), root)
    for name in tables:
        assert spark.read.parquet(f"{root}/{name}").count() == first[name], name
    # a new wave with overlap: only the 6 new documents' rows land
    pages2 = spark.createDataFrame(gen_pages_pdf(list(range(6, 18)), 18))
    write_normalized(normalize_all(parse_pages(pages2)), root)
    docs = spark.read.parquet(f"{root}/documents")
    assert docs.count() == 18
    assert docs.select("unique_id").distinct().count() == 18
    parsed.unpersist()


def test_keys_sidecar_written_and_used(spark, tmp_path):
    """The S8 anti-join side reads the compact _keys sidecar, not the
    full store (O(keys) per wave instead of O(store))."""
    from wos_crawler_spark.operators.normalize import normalize_all
    from wos_crawler_spark.sources.exports import _existing_keys

    pages = spark.createDataFrame(gen_pages_pdf(list(range(8)), 8))
    tables = normalize_all(parse_pages(pages))
    root = str(tmp_path / "sidecar_store")
    write_normalized(tables, root)
    # sidecar exists, carries exactly the stored key set...
    keys = spark.read.parquet(f"{root}/documents/_keys")
    assert {r["unique_id"] for r in keys.collect()} == {
        r["unique_id"]
        for r in spark.read.parquet(f"{root}/documents")
        .select("unique_id").collect()
    }
    # ...is INVISIBLE to readers of the main table (underscore dir)...
    assert spark.read.parquet(f"{root}/documents").count() == 8
    # ...and is what the next wave's anti-join actually reads
    existing = _existing_keys(spark, f"{root}/documents")
    assert all("/_keys/" in f for f in existing.inputFiles())
    assert existing.count() == 8


def test_keys_sidecar_repairs_legacy_store(spark, tmp_path):
    """A store written before the sidecar existed gets repaired on
    first touch: keys derived once from the store, idempotence keeps
    holding."""
    from wos_crawler_spark.operators.normalize import normalize_all
    from wos_crawler_spark.sources.exports import _existing_keys

    pages = spark.createDataFrame(gen_pages_pdf(list(range(10)), 10))
    tables = normalize_all(parse_pages(pages))
    root = str(tmp_path / "legacy_store")
    # simulate the pre-sidecar sink: raw appends, no _keys
    for name, df in tables.items():
        df.write.mode("append").parquet(f"{root}/{name}")
    # overlapping second wave through the new sink
    pages2 = spark.createDataFrame(gen_pages_pdf(list(range(5, 15)), 15))
    write_normalized(normalize_all(parse_pages(pages2)), root)
    docs = spark.read.parquet(f"{root}/documents")
    assert docs.count() == 15
    assert docs.select("unique_id").distinct().count() == 15
    # sidecar now exists and carries the full repaired key set
    existing = _existing_keys(spark, f"{root}/documents")
    assert existing.count() == 15
    assert all("/_keys/" in f for f in existing.inputFiles())
