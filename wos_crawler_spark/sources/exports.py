"""Sources (SURVEY.md §2.1 S1/S7 + the pages table reader).

Reference behaviors re-expressed:

- S7 export-dir scan: the reference globs ``{output}/**/*.txt`` and
  feeds each file to ``ref:wos_crawler/parsers/plaintext/
  plaintext_parser.py::parse`` †. Here one shared reader,
  ``_read_export_files`` (``spark.read.text(..., wholetext=True)`` +
  ``input_file_name()``), gives one row per export file, shaped like
  the ``pages`` table, for every flavor: ``read_export_dir`` (.txt),
  ``read_tab_dir`` (.tab.txt) and ``read_bibtex_dir`` (.bib) differ
  only in the glob, so the parse operators consume crawl output and
  on-disk exports identically.
- S1 seed scan: one WoS advanced query per line →
  ``seeds(query_id, query, term, priority)``.
- pages reader: parquet in the sandbox; the production table is
  Iceberg ``PARTITIONED BY (days(warc_ts), bucket(256, url))`` — the
  ``days``/``lang`` filter args below become partition/data filters
  that prune at the scan (verify via PushedFilters in ``.explain``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _read_export_files(spark: SparkSession, pattern: str) -> DataFrame:
    """The one export-file reader: every file matching ``pattern`` → a
    pages-shaped row (url = file URI, text = whole file). wholetext
    keeps the record grammar intact for the parse UDF."""
    df = spark.read.text(pattern, wholetext=True)
    return df.select(
        F.input_file_name().alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("value").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


def read_export_dir(spark: SparkSession, path: str) -> DataFrame:
    """S7: directory of WoS field-tagged ``.txt`` export files → a
    pages-shaped DataFrame for operators/parse_plaintext.parse_pages.
    Each file holds ≤500 records (the reference's batch size)."""
    return _read_export_files(spark, f"{path}/*.txt")


def read_tab_dir(spark: SparkSession, path: str) -> DataFrame:
    """S7 (tab-delimited flavor): ``.tab.txt`` export files (header row
    of field tags + one row per record), one pages-shaped row per file
    for operators/parse_tab.parse_tab_pages."""
    return _read_export_files(spark, f"{path}/*.tab.txt")


def read_bibtex_dir(spark: SparkSession, path: str) -> DataFrame:
    """S7 (BibTeX flavor): ``.bib`` export files, one pages-shaped row
    per file for operators/parse_bibtex.parse_bib_pages."""
    return _read_export_files(spark, f"{path}/*.bib")


def read_seeds(spark: SparkSession, path: str, priority: int = 100) -> DataFrame:
    """S1: seed query file, one advanced query per line. ``term`` is
    the parenthesized TS=() payload when present (the predicate the
    sandbox seed-match join evaluates), else the whole line."""
    lines = spark.read.text(path)
    q = F.trim(F.col("value"))
    term = F.regexp_extract(q, r"TS=\(([^)]*)\)", 1)
    return (
        lines.filter(F.length(q) > 0)
        .select(
            F.monotonically_increasing_id().alias("query_id"),
            q.alias("query"),
            F.when(term != "", term).otherwise(q).alias("term"),
            F.lit(priority).alias("priority"),
        )
    )


def write_pages(pages: DataFrame, path: str, wave: int | None = None) -> None:
    """S6: the export-file sink. The reference writes one ``.txt`` per
    500-record export batch (``ref:...wos_advanced_query_spider.py::
    download_file`` †); here a wave's fetched pages append to the pages
    store partitioned by ``wave`` (+ production: ``bucket(256, url)``
    in the Iceberg spec — hidden partitioning replaces the filename
    convention). Parquet-append in the sandbox; ``writeTo(...).append()``
    on Iceberg."""
    df = pages.withColumn("wave", F.lit(wave)) if wave is not None else pages
    df.write.mode("append").partitionBy("wave").parquet(path)


def write_normalized(tables: dict[str, DataFrame], root: str) -> None:
    """S8: the relational-store sink — IDEMPOTENT per document (A5).
    The reference commits one ORM session per export file into SQLite
    (``ref:wos_crawler/model/__init__.py::get_engine/get_session`` †)
    and skips records whose unique_id already exists; here each
    normalized table (documents, authors, ...) appends to its own
    parquet/Iceberg table after dropping rows whose ``unique_id`` is
    already stored, so re-running a wave writes nothing new.

    Scale notes: the existing-keys side is a column-pruned scan of
    unique_id only (never the document payload), and the anti-join is
    a broadcast when the store is small / shuffle-hash at scale. In
    production this whole function is one Iceberg ``MERGE INTO ... ON
    unique_id WHEN NOT MATCHED THEN INSERT`` per table (see
    sources/iceberg.py) — snapshot-isolated, no read-modify-write race.
    Intra-batch duplicates (the same unique_id parsed from two mirror
    URLs in one wave — byte-identical re-parses) are collapsed for
    EVERY table: documents on unique_id, child tables by full row
    (their rows are set-semantics per document: author ranks, keyword
    sets, distinct cited refs — a duplicate full row can only be the
    re-parse). Without the child-side dedup the cross-batch anti-join
    cannot repair the fan-out: it only blocks FUTURE inserts.

    The existing-keys side is a compact ``{table}/_keys`` parquet
    SIDECAR (leading underscore → invisible to readers of the main
    table, like ``_SUCCESS``): each wave appends only its NEW keys, so
    the anti-join side is O(distinct docs) key rows read once — NOT a
    full re-scan + distinct of every table's store per wave
    (O(waves·store) over a crawl). A store written before the sidecar
    existed is repaired in place on first touch (one full key scan,
    then never again). The sidecar is an optimization of the SAME
    contract — losing it costs one repair scan, never correctness."""
    for name, df in tables.items():
        path = f"{root}/{name}"
        out = df
        if "unique_id" in df.columns:
            if name == "documents":
                out = out.dropDuplicates(["unique_id"])
            else:
                out = out.dropDuplicates()
            existing = _existing_keys(df.sparkSession, path)
            if existing is not None:
                out = out.join(existing, "unique_id", "left_anti")
            # the batch feeds TWO writes (data + new sidecar keys) —
            # persist so the parse/dedup/anti-join runs once, not twice
            out = out.persist()
            out.write.mode("append").parquet(path)
            out.select("unique_id").distinct().write.mode("append").parquet(
                f"{path}/_keys"
            )
            out.unpersist()
        else:
            out.write.mode("append").parquet(path)


def _existing_keys(spark: SparkSession, path: str) -> DataFrame | None:
    """Stored-key set for the S8 sink's anti-join: the ``_keys``
    sidecar when present; a legacy (pre-sidecar) store is repaired by
    deriving the keys once and writing them down. ``None`` = nothing
    stored yet. Keys in the sidecar are unique across batches by
    construction (each batch appends post-anti-join keys only)."""
    from pyspark.sql.utils import AnalysisException

    try:
        return spark.read.parquet(f"{path}/_keys")
    except AnalysisException:
        pass
    try:
        keys = spark.read.parquet(path).select("unique_id").distinct()
    except AnalysisException:
        return None  # first write — nothing stored yet
    keys.write.mode("overwrite").parquet(f"{path}/_keys")
    return spark.read.parquet(f"{path}/_keys")


def read_pages(
    spark: SparkSession,
    path: str,
    langs: list[str] | None = None,
    since_ts: str | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """The engine's input table (input_hint shape). Filter args are
    applied BEFORE any downstream operator so Catalyst pushes them
    into the scan (partition pruning on the Iceberg layout; row-group
    pruning on parquet)."""
    df = spark.read.parquet(path)
    if langs:
        df = df.filter(F.col("lang").isin(langs))
    if since_ts:
        df = df.filter(F.col("warc_ts") >= F.lit(since_ts).cast("timestamp"))
    if columns:
        df = df.select(*columns)
    return df
