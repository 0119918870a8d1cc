"""WoS tab-delimited export parser (SURVEY.md §2.4 P14 note — the
reference's download form offers "Tab-delimited (Win/Mac, UTF-8)"
alongside plaintext/BibTeX; its parser maps the same field tags onto
the same ORM models).

Format: first line = tab-separated 2-char field tags; each subsequent
line = one record, one cell per tag. List tags (AU/AF/CR/C1) pack
their items with ``'; '`` in the cell; multi-line scalars are already
space-joined; absent fields are empty cells.

Spark-first: the SAME output schema as the plaintext parser
(:data:`PARSED_DOC_SCHEMA` via the shared ``_assemble_record``), so
downstream normalization and the byte-pinned ``extracted_text``
serialization are parser-agnostic — a record exported as plaintext and
as tab yields IDENTICAL rows including extracted_text bytes (pinned in
tests/test_parser.py). Parsing is a per-file Python pass (split lines,
then cells per record), run by the shared export parse operator like
the XML and BibTeX flavors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wos_crawler_spark.operators.parse_plaintext import (
    LIST_TAGS,
    SKIP_TAGS,
    _assemble_record,
    _parse_export_pages,
    _per_file,
)


def parse_tab_text(text: str, url: str | None = None) -> list[dict]:
    """Parse one tab-export payload → record dicts (pure-Python entry
    for tests; the Spark operator batches this shape via pandas)."""
    lines = [ln for ln in text.lstrip("﻿").split("\n") if ln.strip()]
    if not lines:
        return []
    header = [t.strip() for t in lines[0].split("\t")]
    out = []
    for ln in lines[1:]:
        cells = ln.split("\t")
        fields: dict[str, list[str]] = {}
        for tag, cell in zip(header, cells):
            cell = cell.strip()
            if not cell or tag in SKIP_TAGS:
                continue
            if tag in LIST_TAGS:
                fields[tag] = [s.strip() for s in cell.split("; ") if s.strip()]
            else:
                fields[tag] = [cell]
        out.append(_assemble_record(fields, url))
    return out


def parse_tab_pages(
    pages: DataFrame, text_col: str = "text", url_col: str = "url"
) -> DataFrame:
    """``pages(url, text, ...)`` where text is a whole tab-export file
    → one parsed-document row per record (same plan shape as
    parse_pages: one mapInPandas, column-pruned input)."""
    return _parse_export_pages(pages, text_col, url_col, _per_file(parse_tab_text))
