"""WoS BibTeX export parser (SURVEY.md §2.4 P14).

Reference behavior: ``ref:wos_crawler/parsers/bibtex/bibtex_parser.py`` †
uses ``dep:bibtexparser::BibTexParser(common_strings=True)`` plus
``customization.convert_to_unicode`` (LaTeX → unicode de-escape) and maps
WoS export field names (``unique-id``, ``times-cited``, and-separated
``author``, newline-separated ``cited-references``, …) onto the same ORM
models as the plaintext parser.

Spark-first: the shared export parse operator (one ``mapInPandas``)
with the SAME output schema as the plaintext parser
(:data:`PARSED_DOC_SCHEMA`), so downstream
normalization is parser-agnostic. The entry tokenizer is a small
balanced-brace scanner (bibtexparser is not in the image; the grammar
subset WoS emits is fixed), and the LaTeX de-escape table is explicit
data — the byte contract for unicode fixtures.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from wos_crawler_spark.operators.parse_plaintext import (
    _assemble_record,
    _parse_export_pages,
    _per_file,
)

#: LaTeX → unicode de-escape table (applied longest-first). Pinned by
#: tests/fixtures/bibtex — the byte contract for accents.
LATEX_UNESCAPE = [
    ("{\\'e}", "é"),
    ("{\\'a}", "á"),
    ("{\\'o}", "ó"),
    ("{\\'i}", "í"),
    ("{\\'u}", "ú"),
    ('{\\"u}', "ü"),
    ('{\\"o}', "ö"),
    ('{\\"a}', "ä"),
    ("{\\`a}", "à"),
    ("{\\`e}", "è"),
    ("{\\^o}", "ô"),
    ("{\\~n}", "ñ"),
    ("{\\c c}", "ç"),
    ("{\\ss}", "ß"),
    ("\\&", "&"),
    ("---", "—"),
    ("--", "–"),
]


def latex_unescape(s: str) -> str:
    for k, v in LATEX_UNESCAPE:
        s = s.replace(k, v)
    return s


_ENTRY_HEAD_RE = re.compile(r"@(\w+)\s*\{\s*([^,\s{}]+)\s*,")
_FIELD_KEY_RE = re.compile(r"\s*([\w\-]+)\s*=\s*")
_ENTRY_END_RE = re.compile(r"\s*(\}|@|\Z)")
_BARE_VAL_RE = re.compile(r"[^,\n]*")
_COMMA_RE = re.compile(r"\s*,")


def _scan_braced(s: str, pos: int) -> tuple[str, int]:
    """Read a balanced-brace or quoted or bare value starting at pos.
    Pos-based matching throughout — slicing the remaining payload per
    field would be O(n²) memcpy over a 500-record export page."""
    if pos < len(s) and s[pos] == "{":
        depth = 0
        start = pos
        while pos < len(s):
            if s[pos] == "{":
                depth += 1
            elif s[pos] == "}":
                depth -= 1
                if depth == 0:
                    return s[start + 1 : pos], pos + 1
            pos += 1
        return s[start + 1 :], len(s)
    if pos < len(s) and s[pos] == '"':
        end = s.find('"', pos + 1)
        if end == -1:
            return s[pos + 1 :], len(s)
        return s[pos + 1 : end], end + 1
    # bare value up to comma / newline
    m = _BARE_VAL_RE.match(s, pos)
    return m.group(0).strip(), m.end()


def parse_bibtex_entries(text: str) -> list[dict]:
    """Tokenize a .bib payload into (entry_type, citekey, fields) dicts.
    Field names lowercased; values brace-stripped + LaTeX de-escaped.
    Entry heads are searched only OUTSIDE the previous entry's consumed
    span — an '@misc{x,' inside a braced abstract is field content,
    not a record."""
    entries = []
    search_from = 0
    while True:
        m = _ENTRY_HEAD_RE.search(text, search_from)
        if not m:
            break
        etype, citekey = m.group(1).lower(), m.group(2)
        if etype in ("comment", "string", "preamble"):
            search_from = m.end()
            continue
        pos = m.end()
        fields: dict[str, str] = {}
        while pos < len(text):
            # end of entry? (next non-space is '}', '@', or EOF)
            em = _ENTRY_END_RE.match(text, pos)
            if em and em.group(1) in ("}", "@", ""):
                break
            km = _FIELD_KEY_RE.match(text, pos)
            if not km:
                break
            key = km.group(1).lower()
            val, pos = _scan_braced(text, km.end())
            val = re.sub(r"\s*\n\s*", "\n", val)  # keep \n list separators
            fields[key] = val
            cm = _COMMA_RE.match(text, pos)
            if cm:
                pos = cm.end()
        entries.append({"type": etype, "citekey": citekey, "fields": fields})
        search_from = pos
    return entries


def _outer_pair_matches(v: str) -> bool:
    """True iff v's first '{' closes at v's last character."""
    depth = 0
    for i, ch in enumerate(v):
        if ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
            if depth == 0:
                return i == len(v) - 1
    return False


def _strip_outer_braces(v: str) -> str:
    # only strip when the leading '{' actually matches the trailing '}'
    # — '{DNA} sequencing with {RNA}' must NOT lose its protections
    while v.startswith("{") and v.endswith("}") and _outer_pair_matches(v):
        v = v[1:-1]
    return v


def _clean(v: str | None) -> str | None:
    if v is None:
        return None
    return latex_unescape(_strip_outer_braces(v)).replace("\n", " ").strip() or None


def _bib_to_tag_fields(entry: dict) -> dict:
    """Map a WoS-export BibTeX entry onto the plaintext tag-field dict,
    then reuse the shared record assembly (same schema, same
    extracted_text byte contract)."""
    fl = entry["fields"]
    _cleaned: dict = {}

    def c(key):
        # memoized: _clean runs the 17-pass latex_unescape over
        # multi-KB values — every call site probes then uses the value
        if key not in _cleaned:
            _cleaned[key] = _clean(fl.get(key))
        return _cleaned[key]

    tag: dict = {}
    pt = {"article": "J", "inproceedings": "C", "book": "B"}.get(entry["type"], "J")
    tag["PT"] = [pt]
    # wrapped author fields carry \n from the \s*\n\s* rewrite — a
    # break inside a name must become a space, not survive into
    # full_name / the extracted_text byte stream
    raw_author = _strip_outer_braces(fl.get("author", "")).replace("\n", " ")
    authors = [
        a.strip() for a in re.split(r"\s+and\s+", raw_author) if a.strip()
    ]
    authors = [latex_unescape(a) for a in authors]
    if authors:
        tag["AU"] = authors
        tag["AF"] = authors
    if c("title"):
        tag["TI"] = [c("title")]
    if c("journal"):
        tag["SO"] = [c("journal").upper()]
    if c("language"):
        tag["LA"] = [c("language")]
    if c("type"):
        tag["DT"] = [c("type")]
    if c("keywords"):
        tag["DE"] = [c("keywords")]
    if c("keywords-plus"):
        tag["ID"] = [c("keywords-plus")]
    if c("abstract"):
        tag["AB"] = [c("abstract")]
    if "affiliation" in fl:
        affs = [
            latex_unescape(a.strip())
            for a in _strip_outer_braces(fl["affiliation"]).split("\n")
            if a.strip()
        ]
        tag["C1"] = affs
    if c("funding-acknowledgement"):
        tag["FU"] = [c("funding-acknowledgement")]
    if c("funding-text"):
        tag["FX"] = [c("funding-text")]
    if "cited-references" in fl:
        refs = [
            latex_unescape(r.strip())
            for r in _strip_outer_braces(fl["cited-references"]).split("\n")
            if r.strip()
        ]
        tag["CR"] = refs
    for bibkey, t in [
        ("number-of-cited-references", "NR"),
        ("times-cited", "TC"),
        ("usage-count-since-2013", "U2"),
        ("usage-count-last-180-days", "U1"),
        ("publisher", "PU"),
        ("issn", "SN"),
        ("eissn", "EI"),
        ("journal-iso", "JI"),
        ("month", "PD"),
        ("year", "PY"),
        ("volume", "VL"),
        ("number", "IS"),
        ("doi", "DI"),
        ("web-of-science-categories", "WC"),
        ("research-areas", "SC"),
    ]:
        if c(bibkey):
            tag[t] = [c(bibkey)]
    pages = c("pages")
    if pages:
        bp, _, ep = pages.partition("–")  # '--' already de-escaped to –
        if not ep:
            bp, _, ep = pages.partition("-")
        tag["BP"] = [bp.strip()]
        if ep.strip():
            tag["EP"] = [ep.strip()]
    uid = c("unique-id") or entry["citekey"]
    if uid:
        tag["UT"] = [re.sub(r"^ISI:", "WOS:", uid)]
    return tag


def parse_bib_text(text: str, url: str | None = None) -> list[dict]:
    """Pure-Python entry: one .bib payload → parsed record dicts with
    the shared PARSED_DOC_SCHEMA keys."""
    return [
        _assemble_record(_bib_to_tag_fields(entry), url)
        for entry in parse_bibtex_entries(text)
    ]


def parse_bib_pages(pages: DataFrame, text_col: str = "text", url_col: str = "url") -> DataFrame:
    """Spark operator: pages of .bib payloads → parsed documents."""
    return _parse_export_pages(pages, text_col, url_col, _per_file(parse_bib_text))
