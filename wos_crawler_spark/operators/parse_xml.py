"""WoS XML export parser (SURVEY.md §2.4 P14 note — the export form's
XML flavor; same field tags, same ORM mapping in the reference).

Format: ``<records>`` of ``<REC>`` elements; each field is
``<field tag="XX">`` holding one ``<item>`` per line-item — the item
structure mirrors the plaintext grammar's tag-line + continuation
lines exactly, so the shared ``_assemble_record`` yields IDENTICAL
normalized rows (including ``extracted_text`` bytes) for a record
exported as XML vs plaintext vs tab (pinned in tests/test_parser.py).

Spark-first: the shared export parse operator (one ``mapInPandas``)
over whole-file rows, stdlib ``xml.etree`` (C-accelerated expat) per
file — the per-file parse is the reduced unit, same shape as the
other three parsers.
"""

from __future__ import annotations

from xml.etree import ElementTree

from pyspark.sql import DataFrame

from wos_crawler_spark.operators.parse_plaintext import (
    SKIP_TAGS,
    _assemble_record,
    _parse_export_pages,
    _per_file,
)


def parse_xml_text(text: str, url: str | None = None) -> list[dict]:
    """Parse one XML export payload → record dicts. A malformed or
    truncated file yields [] (degrade like the plaintext/tab/bibtex
    parsers — one bad page must not abort the whole Spark job)."""
    try:
        root = ElementTree.fromstring(text)
    except ElementTree.ParseError:
        return []
    out = []
    for rec_el in root.iter("REC"):
        fields: dict[str, list[str]] = {}
        for f_el in rec_el.iter("field"):
            tag = f_el.get("tag", "")
            if not tag or tag in SKIP_TAGS:
                continue
            items = [it.text or "" for it in f_el.iter("item")]
            if items:
                fields[tag] = items
        out.append(_assemble_record(fields, url))
    return out


def parse_xml_pages(
    pages: DataFrame, text_col: str = "text", url_col: str = "url"
) -> DataFrame:
    """``pages(url, text, ...)`` where text is a whole XML export file
    → one parsed-document row per ``<REC>``."""
    return _parse_export_pages(pages, text_col, url_col, _per_file(parse_xml_text))
