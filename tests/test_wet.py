"""WET source: Content-Length framing (payloads containing the record
magic survive), byte-exact unicode round trips, malformed-record
resync, the file-per-task reader, and serialize determinism."""

import pytest
from pyspark.sql import functions as F

from wos_crawler_spark.sources.wet import (
    parse_wet,
    parse_wet_bytes,
    read_wet,
    serialize_wet,
    wet_file_bytes,
    wet_record_bytes,
    with_warc_ts,
)

D = "2020-06-01T12:34:56Z"


def test_magic_inside_payload_survives():
    """The classic WET bug: a payload containing 'WARC/1.0\\r\\n' must
    not split the record — Content-Length framing is authoritative."""
    evil = "line one\r\nWARC/1.0\r\nWARC-Type: conversion\r\n\r\nfake"
    blob = wet_file_bytes(
        [("https://a", D, evil), ("https://b", D, "plain")]
    )
    got = list(parse_wet_bytes(blob))
    assert [(u, t) for u, _, t, _ in got] == [
        ("https://a", evil),
        ("https://b", "plain"),
    ]


def test_unicode_framed_by_octets():
    t = "héllo wörld — 日本語 ☃"
    blob = wet_file_bytes([("https://u", D, t)])
    (u, d, text, nb) = next(iter(parse_wet_bytes(blob)))
    assert text == t
    assert nb == len(t.encode("utf-8"))
    assert nb > len(t)  # chars < octets for this payload


def test_malformed_records_resync():
    good = wet_record_bytes("https://ok", D, "fine")
    bad_len = (
        b"WARC/1.0\r\n"
        b"WARC-Type: conversion\r\n"
        b"WARC-Target-URI: https://bad\r\n"
        b"Content-Length: notanumber\r\n\r\nbody\r\n\r\n"
    )
    missing_len = (
        b"WARC/1.0\r\n"
        b"WARC-Type: conversion\r\n"
        b"WARC-Target-URI: https://bad2\r\n\r\nbody\r\n\r\n"
    )
    truncated = wet_record_bytes("https://cut", D, "x" * 100)[:-60]
    for noise in (bad_len, missing_len):
        got = list(parse_wet_bytes(noise + good))
        assert [u for u, *_ in got] == ["https://ok"], noise
    got = list(parse_wet_bytes(good + truncated))
    assert [u for u, *_ in got] == ["https://ok"]


def test_empty_and_null_payloads():
    blob = wet_file_bytes([("https://e", D, "")])
    (u, _, text, nb) = next(iter(parse_wet_bytes(blob)))
    assert (text, nb) == ("", 0)
    assert list(parse_wet_bytes(b"")) == []
    assert list(parse_wet_bytes(b"garbage no magic")) == []


def test_roundtrip_through_files(spark, tmp_path):
    rows = [
        (f"https://ex.com/{i:03d}", D, f"doc {i} body — π {'x' * i}")
        for i in range(40)
    ]
    # two files, interleaved records
    (tmp_path / "a.wet").write_bytes(wet_file_bytes(rows[::2]))
    (tmp_path / "b.wet").write_bytes(wet_file_bytes(rows[1::2]))
    got = read_wet(spark, str(tmp_path)).collect()
    assert sorted((r["url"], r["text"]) for r in got) == sorted(
        (u, t) for u, _, t in rows
    )
    ts = {r["warc_ts"] for r in got}
    assert len(ts) == 1 and next(iter(ts)) is not None
    assert all(
        r["n_bytes"] == len(r["text"].encode("utf-8")) for r in got
    )


def test_serialize_parse_identity_and_determinism(spark):
    rows = [
        (i, f"https://ex.com/{i}", D, f"text {i} ü{i}")
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "grp long, url string, warc_date string, text string"
    ).withColumn("grp", F.col("grp") % 3)
    a = serialize_wet(df.repartition(1), "grp").collect()
    b = serialize_wet(df.repartition(7), "grp").collect()
    assert sorted((r["grp"], bytes(r["wet"])) for r in a) == sorted(
        (r["grp"], bytes(r["wet"])) for r in b
    )
    parsed = with_warc_ts(parse_wet(serialize_wet(df, "grp"), "wet"))
    assert sorted(
        (r["url"], r["text"]) for r in parsed.collect()
    ) == sorted((u, t) for _, u, _, t in rows)
    assert parsed.filter(F.col("warc_ts").isNull()).count() == 0


def test_bad_date_yields_null_ts_not_error(spark):
    blob = wet_file_bytes([("https://x", "not-a-date", "t")])
    df = spark.createDataFrame([(blob,)], "content binary")
    got = with_warc_ts(parse_wet(df)).collect()
    assert len(got) == 1 and got[0]["warc_ts"] is None


def test_fuzz_roundtrip_byte_exact(spark):
    """500 seeded adversarial payloads — unicode planes, control
    chars, CRLF runs, embedded record magics, header-shaped lines,
    empty docs — must round-trip byte-exact through serialize→parse
    (Content-Length framing is the only authority)."""
    import random

    rng = random.Random(20260819)
    alphabet = (
        "abc xyz\t\r\n"
        "WARC/1.0\r\n"
        "Content-Length: 7\r\n"
        "émojis: \U0001f600☃ 日本語 Ж א"
    )
    rows = []
    for i in range(500):
        n = rng.randrange(0, 120)
        payload = "".join(rng.choice(alphabet) for _ in range(n))
        rows.append((i, f"https://fz/{i}", D, payload))
    df = spark.createDataFrame(
        rows, "grp long, url string, warc_date string, text string"
    ).withColumn("grp", F.col("grp") % 7)
    parsed = parse_wet(serialize_wet(df, "grp"), "wet").collect()
    got = {r["url"]: (r["text"], r["n_bytes"]) for r in parsed}
    assert len(got) == 500
    for _, u, _, t in rows:
        assert got[u] == (t, len(t.encode("utf-8"))), u


# ------------------------------------------------------- WARC responses


def test_warc_roundtrip_binary_exact(spark):
    from wos_crawler_spark.sources.wet import (
        parse_warc,
        serialize_warc,
        with_warc_ts,
    )

    rows = [
        # body containing the record magic AND an HTTP-looking line —
        # must survive (Content-Length framing is the only authority)
        ("https://a.com/1", "2024-01-01T00:00:00Z", 200, "text/html",
         b"<html>WARC/1.0\r\nHTTP/1.1 500 fake</html>"),
        ("https://a.com/2", "2024-01-01T01:00:00Z", 404, "text/html",
         b""),
        # binary body with invalid utf-8 — html is binary, never decoded
        ("https://a.com/3", "2024-01-01T02:00:00Z", 200,
         "application/pdf", bytes([0xFF, 0xFE, 0x00, 0x89, 0x50])),
    ]
    df = spark.createDataFrame(
        [(u, d, s, c, b, "g") for u, d, s, c, b in rows],
        "url string, warc_date string, status int, content_type string,"
        " html binary, g string",
    )
    parsed = with_warc_ts(parse_warc(serialize_warc(df, "g"), "warc"))
    got = {
        r["url"]: (
            r["status"], r["content_type"], bytes(r["html"]),
            r["n_bytes"], r["warc_ts"] is not None,
        )
        for r in parsed.collect()
    }
    assert got == {
        u: (s, c, b, len(b), True) for u, d, s, c, b in rows
    }


def test_warc_lenient_http_envelope_and_resync():
    from wos_crawler_spark.sources.wet import (
        _MAGIC,
        parse_warc_bytes,
        warc_file_bytes,
        warc_response_record_bytes,
    )

    good = warc_response_record_bytes(
        "https://x/1", "2024-01-01T00:00:00Z", 200, "text/html", b"ok"
    )
    # payload with NO http header terminator: whole payload becomes
    # the body, status/ctype None — the page is never dropped
    raw = b"RAWBYTES-NO-HTTP-HEAD"
    mangled = (
        _MAGIC
        + (
            "WARC-Type: response\r\n"
            "WARC-Target-URI: https://x/2\r\n"
            "WARC-Date: 2024-01-01T00:00:00Z\r\n"
            f"Content-Length: {len(raw)}\r\n"
        ).encode()
        + b"\r\n" + raw + b"\r\n\r\n"
    )
    # record with a LYING Content-Length (overruns file) resyncs and
    # the following good record still parses
    truncated = (
        _MAGIC
        + b"WARC-Type: response\r\nWARC-Target-URI: https://x/3\r\n"
        + b"Content-Length: 999999\r\n\r\nshort"
    )
    out = list(parse_warc_bytes(mangled + truncated + good))
    assert [(r[0], r[2], r[4]) for r in out] == [
        ("https://x/2", None, raw),
        ("https://x/1", 200, b"ok"),
    ]
    # a full file leads with warcinfo, which must not be emitted
    f = warc_file_bytes(
        [("https://x/4", "2024-01-01T00:00:00Z", 301, "text/html", b"x")]
    )
    recs = list(parse_warc_bytes(f))
    assert len(recs) == 1 and recs[0][2] == 301


def test_read_warc_feeds_html_pipeline(spark, tmp_path):
    from pyspark.sql import functions as F

    from wos_crawler_spark.operators.htmllinks import links_from_pages
    from wos_crawler_spark.sources.wet import read_warc, serialize_warc

    html = b'<html><a href="/next">n</a><a href="https://e.org/p">e</a></html>'
    df = spark.createDataFrame(
        [("https://a.com/x", "2024-01-01T00:00:00Z", 200, "text/html",
          html, "g")],
        "url string, warc_date string, status int, content_type string,"
        " html binary, g string",
    )
    d = str(tmp_path / "warc")
    # write the blob as a real file the binaryFile source can read
    blob = serialize_warc(df, "g").first()["warc"]
    import pathlib
    pathlib.Path(d).mkdir()
    pathlib.Path(d, "part-0.warc").write_bytes(bytes(blob))
    pages = read_warc(spark, d)
    links = links_from_pages(pages)
    assert {r["dst_url"] for r in links.collect()} == {
        "https://a.com/next", "https://e.org/p"
    }
    assert pages.first()["status"] == 200


def test_one_walker_splits_mixed_blob_and_resyncs_on_bad_text():
    """WET and WARC share one framing walk: over a blob mixing both
    record types, parse_wet_bytes yields exactly the conversions and
    parse_warc_bytes exactly the responses. A conversion whose payload
    is not UTF-8 is not emitted; the walk resyncs past its magic, so
    the next well-formed record still parses."""
    from wos_crawler_spark.sources.wet import (
        _MAGIC,
        parse_warc_bytes,
        warc_response_record_bytes,
    )

    bad = b"caf\xe9 latin-1"
    not_utf8 = (
        _MAGIC
        + b"WARC-Type: conversion\r\nWARC-Target-URI: https://bad\r\n"
        + f"Content-Length: {len(bad)}\r\n\r\n".encode()
        + bad
        + b"\r\n\r\n"
    )
    blob = wet_file_bytes([("https://c/1", D, "one")]) + b"".join(
        [
            warc_response_record_bytes("https://r/1", D, 200, "text/html", b"<p>1"),
            not_utf8,
            wet_record_bytes("https://c/2", D, "two"),
            warc_response_record_bytes("https://r/2", D, 404, "text/html", b""),
        ]
    )
    assert list(parse_wet_bytes(blob)) == [
        ("https://c/1", D, "one", 3),
        ("https://c/2", D, "two", 3),
    ]
    assert [(u, s, b) for u, _, s, _, b, _ in parse_warc_bytes(blob)] == [
        ("https://r/1", 200, b"<p>1"),
        ("https://r/2", 404, b""),
    ]
