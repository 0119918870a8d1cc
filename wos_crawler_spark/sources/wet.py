"""WET source — Common Crawl's text-conversion sibling of WARC
(ISO 28500 record framing, ``WARC-Type: conversion``). The round's
input_hint is an Iceberg table of Common-Crawl-style pages; WET files
are how that text actually arrives from a crawl, so this module is
the ingest seam: WET bytes → the engine's page-table shape
``(url, warc_ts, text, n_bytes)``.

Reference seam: the single-node crawler reads exported result files
from a directory (SURVEY §2.1 S7 — txt/tab/bib scans); WET is the
web-scale analog of those export serializations, parsed with the same
discipline (header block + length-framed payload, byte-exact text).

Format (public spec): each record is ``WARC/1.0\\r\\n``, header lines
``Name: value\\r\\n``, blank line, then EXACTLY ``Content-Length``
bytes of payload, then ``\\r\\n\\r\\n``. Payload text may itself
contain ``WARC/1.0`` lines — records MUST be walked by
Content-Length, never split on the magic (the classic WET-parsing
bug; test-pinned here). Files lead with a ``warcinfo`` record.

Scale shape: files are the parallelism unit — a Common Crawl segment
is ~10^5 WET files, and ``read_wet`` maps one task per file via the
binaryFile source (one Arrow pass per file, zero shuffles), which is
exactly how production Spark jobs walk CC dumps. Malformed records
degrade gracefully: the parser resyncs to the next record magic and
keeps going (one corrupt record cannot kill a 400 MB file's task,
mirroring parse_xml's per-file try/except contract).

One framing, two record types: a single walker (``_walk``) frames
every record by Content-Length for both WET ``conversion`` and WARC
``response`` records; the two formats differ only in the payload
reader each passes it. Likewise one record builder, one file builder,
one blob→rows ``mapInPandas``, one ``binaryFile`` reader and one
url-sorted serializer serve both formats.

Determinism: serialization sorts records by url within each group;
parsing preserves file order; text survives byte-identical (the
Content-Length framing is computed on UTF-8 octets, not characters).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MAGIC = b"WARC/1.0\r\n"
_HDR_END = b"\r\n\r\n"


# ------------------------------------------------------------ builders


def _record(warc_type: str, fields: Iterable[tuple[str, object]], payload: bytes) -> bytes:
    """One ISO 28500 record: ``WARC-Type``, then ``fields`` in order,
    then ``Content-Length`` (the payload's octet count) last."""
    head = "".join(
        f"{k}: {v}\r\n"
        for k, v in (("WARC-Type", warc_type), *fields, ("Content-Length", len(payload)))
    ).encode("utf-8")
    return _MAGIC + head + b"\r\n" + payload + b"\r\n\r\n"


def _file_bytes(fmt: str, records: Iterable[bytes]) -> bytes:
    """A whole file: the leading ``warcinfo`` record naming ``fmt``,
    then the already-built records."""
    info = _record(
        "warcinfo",
        (("Content-Type", "application/warc-fields"),),
        f"software: wos_crawler_spark\r\nformat: {fmt}\r\n".encode("utf-8"),
    )
    return info + b"".join(records)


def wet_record_bytes(url: str, date: str, text: str) -> bytes:
    """One ``conversion`` record. ``date`` is the WARC-Date string
    (``yyyy-MM-ddTHH:mm:ssZ``); ``text`` is framed by its UTF-8 octet
    length."""
    return _record(
        "conversion",
        (("WARC-Target-URI", url), ("WARC-Date", date), ("Content-Type", "text/plain")),
        (text or "").encode("utf-8"),
    )


def wet_file_bytes(records: Iterable[tuple[str, str, str]]) -> bytes:
    """A whole WET file: leading ``warcinfo`` record, then one
    ``conversion`` record per ``(url, date, text)``."""
    return _file_bytes("WET", (wet_record_bytes(u, d, t) for (u, d, t) in records))


# -------------------------------------------------------------- parser


def _walk(blob: bytes, warc_type: str, read) -> Iterator:
    """Walk one blob by Content-Length, yielding ``read(headers,
    payload)`` for every well-framed record of ``warc_type``
    (``headers`` keyed by lower-cased name). Malformed records —
    undecodable header, missing/invalid Content-Length, truncated
    payload, or a payload ``read`` rejects with ``ValueError`` — resync
    to the next record magic after this one instead of raising."""
    pos = 0
    n = len(blob)
    while True:
        pos = blob.find(_MAGIC, pos)
        if pos < 0:
            return
        hdr_start = pos + len(_MAGIC)
        hdr_end = blob.find(_HDR_END, hdr_start)
        if hdr_end < 0:
            return
        try:
            headers = {}
            for line in blob[hdr_start:hdr_end].decode("utf-8").split(
                "\r\n"
            ):
                k, _, v = line.partition(":")
                headers[k.strip().lower()] = v.strip()
            length = int(headers["content-length"])
            if length < 0:
                raise ValueError(length)
        except (KeyError, ValueError, UnicodeDecodeError):
            pos = hdr_start  # resync past this magic
            continue
        body_start = hdr_end + len(_HDR_END)
        body_end = body_start + length
        if body_end > n:
            pos = hdr_start  # truncated payload — resync
            continue
        if headers.get("warc-type") == warc_type:
            try:
                rec = read(headers, blob[body_start:body_end])
            except ValueError:  # rejected payload — resync
                pos = hdr_start
                continue
            yield rec
        pos = body_end


def _read_conversion(headers: dict, payload: bytes) -> tuple[str, str, str, int]:
    """A non-UTF-8 payload raises UnicodeDecodeError: ``_walk`` resyncs."""
    return (
        headers.get("warc-target-uri", ""),
        headers.get("warc-date", ""),
        payload.decode("utf-8"),
        len(payload),
    )


def parse_wet_bytes(
    blob: bytes,
) -> Iterator[tuple[str, str, str, int]]:
    """Walk one WET blob by Content-Length, yielding
    ``(url, warc_date, text, n_bytes)`` for every well-formed
    ``conversion`` record. Malformed records (missing/invalid
    Content-Length, truncated payload, undecodable header or text)
    resync to the next record magic instead of raising."""
    return _walk(blob, "conversion", _read_conversion)


# ---------------------------------------------------- DataFrame plumbing

_PARSED_SCHEMA = "url string, warc_date string, text string, n_bytes long"


def _parse_blobs(df: DataFrame, bytes_col: str, parse, schema: str) -> DataFrame:
    """Binary blob column → one row per record ``parse(blob)`` yields,
    as ``schema``; one Arrow pass, zero shuffles, NULL blobs skipped."""
    names = [f.split()[0] for f in schema.split(",")]

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = (bytes(b) for b in pdf[bytes_col] if b is not None)
            yield pd.DataFrame([r for b in blobs for r in parse(b)], columns=names)

    return df.mapInPandas(_parse, schema)


def parse_wet(df: DataFrame, bytes_col: str = "content") -> DataFrame:
    """Parse a binary WET-blob column into records — one Arrow pass,
    zero shuffles; each input row (file) fans out to its records."""
    return _parse_blobs(df, bytes_col, parse_wet_bytes, _PARSED_SCHEMA)


def with_warc_ts(parsed: DataFrame) -> DataFrame:
    """Attach the page-table timestamp: ``warc_ts`` parsed from the
    WARC-Date string (NULL if malformed — try_, never a task kill)."""
    return parsed.withColumn(
        "warc_ts",
        F.try_to_timestamp(
            F.col("warc_date"), F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'")
        ),
    )


def _read_dir(spark: SparkSession, path: str, parse) -> DataFrame:
    """Directory of blob files → ``parse``'s rows with ``warc_date``
    replaced by ``warc_ts``; only the blob column is read."""
    parsed = parse(spark.read.format("binaryFile").load(path).select("content"))
    return with_warc_ts(parsed).select("url", "warc_ts", *parsed.columns[2:])


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """WET directory → page table ``(url, warc_ts, text, n_bytes)``.
    One task per file (binaryFile source; files ARE the parallelism
    unit over a crawl dump), column-pruned to the blob."""
    return _read_dir(spark, path, parse_wet)


def _serialize(
    df: DataFrame, group_col: str, url_col: str, out_col: str, build
) -> DataFrame:
    """One blob ``build(pdf)`` per ``group_col`` value — ``(group,
    out_col binary)``; records sort by url within the group first so
    the blob is deterministic regardless of upstream partitioning."""

    def _build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(url_col, kind="mergesort")
        return pd.DataFrame({group_col: [key[0]], out_col: [build(pdf)]})

    gtype = df.schema[group_col].dataType.simpleString()
    return df.groupBy(group_col).applyInPandas(
        _build, f"{group_col} {gtype}, {out_col} binary"
    )


def serialize_wet(
    df: DataFrame,
    group_col: str,
    url_col: str = "url",
    date_col: str = "warc_date",
    text_col: str = "text",
) -> DataFrame:
    """Inverse plumbing (and fixture builder): one WET blob per
    ``group_col`` value — ``(group, wet binary)``. Records sort by
    url within the group so the blob is deterministic regardless of
    upstream partitioning."""
    def build(pdf: pd.DataFrame) -> bytes:
        return wet_file_bytes(zip(pdf[url_col], pdf[date_col], pdf[text_col].fillna("")))

    return _serialize(df, group_col, url_col, "wet", build)


# ------------------------------------------- WARC response records
#
# The raw sibling of WET: ``WARC-Type: response`` records carry the
# full HTTP response (status line, headers, blank line, body bytes) as
# the Content-Length-framed payload. This is how the input_hint's
# ``html:binary`` column actually arrives from a crawl — WET delivers
# the text side, this delivers the raw side that htmltext/htmllinks
# consume. Same framing walk, same resync-on-malformed discipline;
# the HTTP body is NEVER decoded (html is binary by contract —
# make_valid_utf8 happens downstream, per htmllinks' rules).


def warc_response_record_bytes(
    url: str, date: str, status: int, ctype: str, body: bytes
) -> bytes:
    """One ``response`` record wrapping an HTTP/1.1 response. The
    WARC Content-Length frames the WHOLE HTTP message (status line +
    headers + CRLFCRLF + body) — the spec's block, and the classic
    off-by-headers bug when people frame only the body."""
    http_head = (
        f"HTTP/1.1 {status} X\r\n"
        f"Content-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\n"
    ).encode("utf-8")
    return _record(
        "response",
        (
            ("WARC-Target-URI", url),
            ("WARC-Date", date),
            ("Content-Type", "application/http;msgtype=response"),
        ),
        http_head + b"\r\n" + body,
    )


def warc_file_bytes(
    records: Iterable[tuple[str, str, int, str, bytes]],
) -> bytes:
    """A whole WARC file: warcinfo, then one ``response`` record per
    ``(url, date, status, content_type, body_bytes)``."""
    return _file_bytes(
        "WARC",
        (warc_response_record_bytes(u, d, s, c, b) for (u, d, s, c, b) in records),
    )


def _read_response(headers: dict, payload: bytes) -> tuple:
    """Lenient HTTP envelope parse: no header terminator or an
    unparseable status line leaves status/ctype None and the body as
    whatever follows the terminator (the whole payload without one)."""
    status: object = None
    ctype: object = None
    body = payload
    he = payload.find(_HDR_END)
    if he >= 0:
        body = payload[he + len(_HDR_END):]
        try:
            lines = payload[:he].decode("latin-1").split("\r\n")
            parts = lines[0].split(" ")
            if parts[0].startswith("HTTP/") and len(parts) >= 2:
                status = int(parts[1])
            for line in lines[1:]:
                k, _, v = line.partition(":")
                if k.strip().lower() == "content-type":
                    ctype = v.strip()
        except (ValueError, IndexError):
            status = None
    return (
        headers.get("warc-target-uri", ""),
        headers.get("warc-date", ""),
        status,
        ctype,
        body,
        len(body),
    )


def parse_warc_bytes(
    blob: bytes,
) -> Iterator[tuple[str, str, object, object, bytes, int]]:
    """Walk one WARC blob by Content-Length, yielding ``(url,
    warc_date, status, content_type, html, n_bytes)`` for every
    ``response`` record. The HTTP envelope is parsed leniently: a
    payload with no header terminator or an unparseable status line
    yields (None, None, whole payload) — a fetched page is never
    dropped for a mangled envelope, mirroring the crawl loop's
    never-lose-a-fetch contract; only record-level malformation
    (bad/missing WARC Content-Length, truncation) resyncs."""
    return _walk(blob, "response", _read_response)


_WARC_SCHEMA = (
    "url string, warc_date string, status int, content_type string, "
    "html binary, n_bytes long"
)


def parse_warc(df: DataFrame, bytes_col: str = "content") -> DataFrame:
    """Binary WARC-blob column → response records; one Arrow pass,
    zero shuffles, html stays binary."""
    return _parse_blobs(df, bytes_col, parse_warc_bytes, _WARC_SCHEMA)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC directory → raw page table ``(url, warc_ts, status,
    content_type, html, n_bytes)`` — the input_hint shape with html
    binary. One task per file."""
    return _read_dir(spark, path, parse_warc)


def serialize_warc(
    df: DataFrame,
    group_col: str,
    url_col: str = "url",
    date_col: str = "warc_date",
    status_col: str = "status",
    ctype_col: str = "content_type",
    html_col: str = "html",
) -> DataFrame:
    """Inverse plumbing / fixture builder: one WARC blob per group,
    records url-sorted for partitioning-invariant bytes."""
    def build(pdf: pd.DataFrame) -> bytes:
        heads = (pdf[c] for c in (url_col, date_col, status_col, ctype_col))
        html = (bytes(b) if b is not None else b"" for b in pdf[html_col])
        return warc_file_bytes(zip(*heads, html))

    return _serialize(df, group_col, url_col, "warc", build)
