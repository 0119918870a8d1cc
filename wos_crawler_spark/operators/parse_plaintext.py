"""Vectorized WoS field-tagged plaintext parser (SURVEY.md §2.4 P1–P13, P15;
numeric casts P10 are int() try/except twins of try_cast, PD/PY stay
textual/int per P12).

Reference behavior: ``ref:wos_crawler/parsers/plaintext/plaintext_parser.py::
parse_single`` † — a line-oriented state machine: a line starting with a
2-char tag + space opens a field, lines starting with 3 spaces continue
it, ``ER`` ends a record, ``FN``/``VR`` header and ``EF`` trailer are
skipped (SURVEY.md F6).

Spark-first re-expression: ONE ``mapInPandas`` UDF per the input_hint
("vectorized pandas/Arrow UDFs, no per-row Python"). The line-level hot
path (splitting, tag detection, record segmentation, continuation
joining) is fully vectorized with pandas ``.str`` ops + groupby; only
the per-record struct assembly (authors × affiliations, funding, cited
refs — dozens of items per record) runs in plain Python over already-
reduced data.

The ``extracted_text`` column is the byte-identity contract
(BASELINE.json input_hint): a deterministic canonical re-serialization
of the parsed record, pinned by golden fixtures in
``tests/fixtures/plaintext/`` (policy documented at
:data:`CANONICAL_TAG_ORDER`).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

# ---------------------------------------------------------------- grammar

#: Tags whose every line (initial or 3-space continuation) is a distinct
#: item (reference keeps them as lists: authors, refs, addresses).
LIST_TAGS = frozenset({"AU", "AF", "CR", "C1"})

#: Multi-line scalar tags are joined with a single space (title,
#: abstract, funding text, ... — reference joins with ' ').
#: ``'; '``-separated multi-value scalars, split after joining (P6/P7).
SEMI_SPLIT_TAGS = frozenset({"DE", "ID", "WC", "SC"})

#: Header/trailer tags the parser skips (F6).
SKIP_TAGS = frozenset({"FN", "VR", "EF"})

#: Canonical serialization order for ``extracted_text`` (P15) — the tag
#: order of a WoS field-tagged export. Byte contract: for each present
#: tag, emit ``"{tag} {first}"`` then one ``"   {item}"`` line per extra
#: list item (scalars have already been space-joined); terminate the
#: record with a lone ``ER`` line; join lines with ``\n``.
CANONICAL_TAG_ORDER = (
    "PT AU AF TI SO LA DT DE ID AB C1 RP EM FU FX CR NR TC Z9 U1 U2 "
    "PU PI PA SN EI J9 JI PD PY VL IS BP EP DI PG WC SC GA UT"
).split()

AUTHOR_SCHEMA = T.StructType(
    [
        T.StructField("rank", T.IntegerType()),
        T.StructField("first_name", T.StringType()),
        T.StructField("last_name", T.StringType()),
        T.StructField("full_name", T.StringType()),
        T.StructField("affiliations", T.ArrayType(T.StringType())),
        T.StructField("is_reprint", T.BooleanType()),
    ]
)

FUNDING_SCHEMA = T.StructType(
    [
        T.StructField("agent", T.StringType()),
        T.StructField("numbers", T.ArrayType(T.StringType())),
    ]
)

REFERENCE_SCHEMA = T.StructType(
    [
        T.StructField("first_author", T.StringType()),
        T.StructField("pub_year", T.IntegerType()),
        T.StructField("journal", T.StringType()),
        T.StructField("volume", T.StringType()),
        T.StructField("start_page", T.StringType()),
        T.StructField("doi", T.StringType()),
    ]
)

#: Flat output schema of the parse operator: one row per WoS record
#: (SURVEY.md §1.2 nested document schema, flattened at the top level,
#: keyed by source ``url``).
PARSED_DOC_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("unique_id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("abstract", T.StringType()),
        T.StructField("journal", T.StringType()),
        T.StructField("journal_iso", T.StringType()),
        T.StructField("publisher", T.StringType()),
        T.StructField("volume", T.StringType()),
        T.StructField("issue", T.StringType()),
        T.StructField("start_page", T.StringType()),
        T.StructField("end_page", T.StringType()),
        T.StructField("pub_year", T.IntegerType()),
        T.StructField("pub_month_day", T.StringType()),
        T.StructField("document_type", T.StringType()),
        T.StructField("doi", T.StringType()),
        T.StructField("issn", T.StringType()),
        T.StructField("eissn", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("funding_text", T.StringType()),
        T.StructField("reference_num", T.IntegerType()),
        T.StructField("cited_times", T.IntegerType()),
        T.StructField("usage_count", T.IntegerType()),
        T.StructField("authors", T.ArrayType(AUTHOR_SCHEMA)),
        T.StructField("keywords", T.ArrayType(T.StringType())),
        T.StructField("keywords_plus", T.ArrayType(T.StringType())),
        T.StructField("categories", T.ArrayType(T.StringType())),
        T.StructField("research_areas", T.ArrayType(T.StringType())),
        T.StructField("fundings", T.ArrayType(FUNDING_SCHEMA)),
        T.StructField("references", T.ArrayType(REFERENCE_SCHEMA)),
        T.StructField("extracted_text", T.StringType()),
    ]
)

_OUT_COLS = [f.name for f in PARSED_DOC_SCHEMA.fields]


# ------------------------------------------------- vectorized line pass


_EMPTY_FIELDS = ["file_idx", "record_idx", "tag", "items"]
_DROP_TAGS = SKIP_TAGS | {"ER"}


def _segment_fields(texts: pd.Series) -> pd.DataFrame:
    """Line→field reduction for a batch of export payloads.

    Returns one row per (file_idx, record_idx, tag) with the field's
    raw item list (one item per initial/continuation line).

    Perf shape (this is ~all of the parse cost at scale): ONE python
    pass over the lines (tag/continuation classification — pandas
    ``.str`` chains cost 6 such passes), then O(n) numpy index math
    for record numbering + tag forward-fill, then contiguous-run
    splitting for the per-(record, tag) item lists — a WoS field is
    one initial line plus its continuations, so groups are runs in
    line order and need no groupby (pandas ``groupby().agg(list)``
    walked 700k+ groups in pure Python and was ~85% of parse time).
    """
    file_ids: list = []
    lines: list[str] = []
    for idx, t in zip(texts.index, texts.tolist()):
        if not isinstance(t, str):
            t = ""
        # strip a LEADING byte-order mark only — a U+FEFF embedded in
        # field content is data and must survive to extracted_text
        if t.startswith("﻿"):
            t = t.lstrip("﻿")
        ls = t.split("\n")
        lines.extend(ls)
        file_ids.extend([idx] * len(ls))

    n = len(lines)
    if n == 0:
        return pd.DataFrame(columns=_EMPTY_FIELDS)

    tag_at: list = [None] * n  # tag string on tag-opening lines
    values: list = [""] * n
    is_er = np.zeros(n, dtype=bool)
    has_tag = np.zeros(n, dtype=bool)
    nonempty = np.zeros(n, dtype=bool)
    for j, s in enumerate(lines):
        if s.endswith("\r"):
            s = s.rstrip("\r")
        if not s:
            continue
        nonempty[j] = True
        tagged = False
        c0 = s[0]
        if c0 != " " and "A" <= c0 <= "Z" and len(s) >= 2:
            c1 = s[1]
            if ("A" <= c1 <= "Z" or "0" <= c1 <= "9") and (
                len(s) == 2 or s[2] == " "
            ):
                tg = s[:2]
                tag_at[j] = tg
                has_tag[j] = True
                tagged = True
                if tg == "ER":
                    is_er[j] = True
        if tagged or s.startswith("   "):
            values[j] = s[3:]
        else:
            # malformed continuation (2-space/tab/flush-left wrap):
            # keep the content intact instead of blindly chopping the
            # first 3 characters off real data
            values[j] = s.lstrip(" \t")

    arange = np.arange(n)
    fi = np.asarray(file_ids)
    new_file = np.ones(n, dtype=bool)
    new_file[1:] = fi[1:] != fi[:-1]

    # record index per file: lines after an ER belong to the next record
    er_i = is_er.astype(np.int64)
    exc = np.cumsum(er_i) - er_i
    file_start = np.maximum.accumulate(np.where(new_file, arange, -1))
    record_idx = exc - exc[file_start]

    # forward-fill the current tag within each (file, record): a row's
    # tag is the latest tag line at or before it, unless that line
    # precedes the row's group start (then there is no open tag yet)
    new_group = new_file.copy()
    new_group[1:] |= record_idx[1:] != record_idx[:-1]
    group_start = np.maximum.accumulate(np.where(new_group, arange, -1))
    last_tag = np.maximum.accumulate(np.where(has_tag, arange, -1))
    valid = (last_tag >= group_start) & nonempty

    kidx = np.flatnonzero(valid)
    eff_tags = [tag_at[last_tag[k]] for k in kidx]
    keep_mask = np.fromiter(
        (t not in _DROP_TAGS for t in eff_tags), dtype=bool, count=len(eff_tags)
    )
    kidx = kidx[keep_mask]
    if len(kidx) == 0:
        return pd.DataFrame(columns=_EMPTY_FIELDS)
    tg_k = [t for t, m in zip(eff_tags, keep_mask) if m]
    val_k = [values[k] for k in kidx]
    fi_k = fi[kidx]
    ri_k = record_idx[kidx]

    tg_arr = np.asarray(tg_k, dtype=object)
    new_run = np.ones(len(kidx), dtype=bool)
    new_run[1:] = (
        (fi_k[1:] != fi_k[:-1])
        | (ri_k[1:] != ri_k[:-1])
        | (tg_arr[1:] != tg_arr[:-1])
    )
    starts = np.flatnonzero(new_run)
    ends = np.append(starts[1:], len(kidx))
    fields = pd.DataFrame(
        {
            "file_idx": fi_k[starts],
            "record_idx": ri_k[starts],
            "tag": tg_arr[starts],
            "items": [val_k[a:b] for a, b in zip(starts, ends)],
        }
    )
    # a tag split into non-adjacent runs inside one record (never in
    # well-formed exports) still merges to ONE row, preserving the
    # original line order — byte-identity safety net
    if fields.duplicated(["file_idx", "record_idx", "tag"]).any():
        fields = (
            fields.groupby(["file_idx", "record_idx", "tag"], sort=False)["items"]
            .agg(lambda ls: [x for sub in ls for x in sub])
            .reset_index(name="items")
        )
    return fields


# ------------------------------------------------- per-record assembly


def _split_outside_brackets(s: str, sep: str = ";") -> list[str]:
    parts: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in s:
        if ch == "[":
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
        if ch == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def _parse_int(v: str | None) -> int | None:
    if v is None:
        return None
    try:
        return int(v.strip())
    except (ValueError, AttributeError):
        return None


_C1_RE = re.compile(r"^\[(.*?)\]\s*(.*)$")
_FU_RE = re.compile(r"^(.*?)\s*\[([^\]]*)\]$")
_YEAR_RE = re.compile(r"^\d{4}$")


def _parse_authors(fields: dict) -> list[dict]:
    """P3: `Last, First` split + rank from position (AF preferred over AU)."""
    af = fields.get("AF") or fields.get("AU") or []
    au = fields.get("AU") or []
    authors = []
    for i, name in enumerate(af):
        last, sep, first = name.partition(", ")
        authors.append(
            {
                "rank": i + 1,
                "first_name": first if sep else None,
                "last_name": last if sep else name,
                "full_name": name,
                "affiliations": [],
                "is_reprint": False,
            }
        )
    # C1: "[Name1; Name2] address." maps addresses to bracketed authors;
    # un-bracketed address applies to every author (P4).
    by_name = {a["full_name"]: a for a in authors}
    for line in fields.get("C1") or []:
        m = _C1_RE.match(line)
        if m:
            addr = m.group(2)
            for nm in m.group(1).split(";"):
                a = by_name.get(nm.strip())
                if a is not None and addr not in a["affiliations"]:
                    a["affiliations"].append(addr)
        else:
            for a in authors:
                if line not in a["affiliations"]:
                    a["affiliations"].append(line)
    # RP: "Name, I (reprint author), address" flags the reprint author (P5).
    rp = fields.get("RP")
    if rp:
        head = rp.split(" (reprint author)", 1)[0]
        rp_names = {n.strip() for n in head.split(";")}
        for i, a in enumerate(authors):
            short = au[i] if i < len(au) else None
            if a["full_name"] in rp_names or (short and short in rp_names):
                a["is_reprint"] = True
    return authors


def _parse_fundings(fu: str | None) -> list[dict]:
    """P8: `Agency [g1, g2]; Agency2 [g3]` -> (agent, numbers[])."""
    if not fu:
        return []
    out = []
    for part in _split_outside_brackets(fu):
        m = _FU_RE.match(part)
        if m:
            agent = m.group(1).strip()
            numbers = [n.strip() for n in m.group(2).split(",") if n.strip()]
        else:
            agent, numbers = part, []
        out.append({"agent": agent, "numbers": numbers})
    return out


def _parse_reference(line: str) -> dict:
    """P9: positional CR split with V/P/DOI prefix detection."""
    parts = [p.strip() for p in line.split(", ")]
    ref = {
        "first_author": None,
        "pub_year": None,
        "journal": None,
        "volume": None,
        "start_page": None,
        "doi": None,
    }
    rest = []
    for i, p in enumerate(parts):
        if i == 0:
            ref["first_author"] = p
        elif ref["pub_year"] is None and _YEAR_RE.match(p):
            ref["pub_year"] = int(p)
        elif p.startswith("DOI "):
            ref["doi"] = p[4:]
        # V/P slots require a DIGIT after the prefix — ^V\w+/^P\w+ would
        # swallow single-token journals (PEDIATRICS → start_page
        # 'EDIATRICS', VACCINE → volume 'ACCINE'), which are common in
        # real WoS exports
        elif re.match(r"^V\d", p) and ref["volume"] is None:
            ref["volume"] = p[1:]
        elif re.match(r"^P\d", p) and ref["start_page"] is None:
            ref["start_page"] = p[1:]
        else:
            rest.append(p)
    if rest:
        ref["journal"] = rest[0]
    return ref


def serialize_extracted_text(fields: dict) -> str:
    """Canonical byte-pinned serialization (P15). ``fields`` maps tag →
    list-of-items (list tags) or joined string (scalar tags)."""
    lines: list[str] = []
    for tag in CANONICAL_TAG_ORDER:
        if tag not in fields:
            continue
        v = fields[tag]
        items = v if isinstance(v, list) else [v]
        if not items:
            continue
        lines.append(f"{tag} {items[0]}")
        lines.extend(f"   {it}" for it in items[1:])
    lines.append("ER")
    return "\n".join(lines)


def _assemble_record(fields: dict, url: str | None) -> dict:
    """fields: tag → list of raw items. Scalars get space-joined here;
    the record is keyed by its source ``url``."""
    f: dict = {}
    for tag, items in fields.items():
        if tag in LIST_TAGS:
            f[tag] = items
        else:
            f[tag] = " ".join(items)

    def g(tag):
        return f.get(tag) or None

    def semi(tag):
        v = g(tag)
        return [s.strip() for s in v.split(";") if s.strip()] if v else []

    ut = g("UT")
    # usage_count: U2 (since-2013 usage) preferred, U1 fallback — the
    # fallback triggers only when U2 is ABSENT, not when it is a
    # legitimate 0 (explicit None check; `or` would treat `U2 0` as
    # missing). Pinned by tests/fixtures golden `usage_u2_zero`.
    _u2 = _parse_int(g("U2"))
    usage = _u2 if _u2 is not None else _parse_int(g("U1"))
    rec = {
        "url": url,
        "unique_id": re.sub(r"^WOS:", "", ut) if ut else None,  # P11
        "title": g("TI"),
        "abstract": g("AB"),
        "journal": g("SO"),
        "journal_iso": g("JI"),
        "publisher": g("PU"),
        "volume": g("VL"),
        "issue": g("IS"),
        "start_page": g("BP"),
        "end_page": g("EP"),
        "pub_year": _parse_int(g("PY")),
        "pub_month_day": g("PD"),
        "document_type": g("DT"),
        "doi": g("DI"),
        "issn": g("SN"),
        "eissn": g("EI"),
        "language": g("LA"),
        "funding_text": g("FX"),
        "reference_num": _parse_int(g("NR")),
        "cited_times": _parse_int(g("TC")),
        "usage_count": usage,
        "authors": _parse_authors(f),
        "keywords": semi("DE"),
        "keywords_plus": semi("ID"),
        "categories": semi("WC"),
        "research_areas": semi("SC"),
        "fundings": _parse_fundings(g("FU")),
        "references": [_parse_reference(r) for r in f.get("CR") or []],
        "extracted_text": serialize_extracted_text(f),
    }
    # P13: derive PG if absent — kept derivable, not stored (schema has
    # start/end page; page count is `try_cast(EP)-try_cast(BP)+1`).
    return rec


def parse_export_text(text: str, url: str | None = None) -> list[dict]:
    """Parse one export payload (possibly multi-record) → record dicts.
    Pure-Python entry for tests and the simulator oracle."""
    return _export_records(pd.Series([text]), [url])


def _export_records(texts: pd.Series, urls) -> list[dict]:
    """Records of a batch of payloads (``texts`` range-indexed,
    ``urls[i]`` the url of ``texts[i]``): the vectorized line pass,
    then per-record assembly."""
    fields_df = _segment_fields(texts)
    if fields_df.empty:
        return []
    # rows arrive in line order from _segment_fields, so (file, record)
    # groups are contiguous runs and file/record keys are already
    # sorted — no pandas groupby iteration needed
    fi = fields_df["file_idx"].to_numpy()
    ri = fields_df["record_idx"].to_numpy()
    tags = fields_df["tag"].to_numpy(dtype=object)
    items = fields_df["items"].to_numpy(dtype=object)
    new = np.ones(len(fi), dtype=bool)
    new[1:] = (fi[1:] != fi[:-1]) | (ri[1:] != ri[:-1])
    starts = np.flatnonzero(new)
    ends = np.append(starts[1:], len(fi))
    return [
        _assemble_record(dict(zip(tags[a:b], items[a:b])), urls[fi[a]])
        for a, b in zip(starts, ends)
    ]


# ------------------------------------------------------- Spark operator


def _parse_export_pages(
    pages: DataFrame, text_col: str, url_col: str, records
) -> DataFrame:
    """The one parse operator of every export flavor: ``pages`` pruned
    to ``(url_col, text_col)``, one ``mapInPandas`` whose batches go
    through ``records(texts, urls)`` → PARSED_DOC_SCHEMA rows."""

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = records(
                pdf[text_col].reset_index(drop=True), pdf[url_col].tolist()
            )
            if recs:
                yield pd.DataFrame(recs, columns=_OUT_COLS)

    return pages.select(url_col, text_col).mapInPandas(_parse, PARSED_DOC_SCHEMA)


def _per_file(parse_text):
    """``records(texts, urls)`` for a flavor parsed one whole file at a
    time by ``parse_text(text, url)``; a NULL text parses as ``""``."""
    return lambda texts, urls: [
        rec for text, url in zip(texts, urls) for rec in parse_text(text or "", url)
    ]


def parse_pages(pages: DataFrame, text_col: str = "text", url_col: str = "url") -> DataFrame:
    """``pages(url, text, ...)`` → one parsed-document row per WoS record.

    mapInPandas keeps the whole parse Arrow-batched; upstream column
    pruning means only (url, text) are scanned (verify: ReadSchema in
    ``.explain``)."""
    return _parse_export_pages(pages, text_col, url_col, _export_records)
