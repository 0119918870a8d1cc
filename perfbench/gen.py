"""Seeded input generator for the benchmark workloads.

Everything is plain Python driven by one ``random.Random`` per
(workload, seed), so a seed always yields the same bytes. The engine
only ever sees the tables built from these lists; the simulator oracle
reads the same lists.

Why each workload uses its values is recorded next to the presets at
the bottom of this file (``DEEP``, ``EXPORTS``).
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass

from wos_crawler_spark.fixtures import wosgen

WORDS = (
    "spark frontier crawl parse query data batch wave token bucket bloom "
    "filter shuffle partition join scan merge sort window hash group key "
    "order row column table index vector text page host link seed robot"
).split()

HOT_HOST = "hot.example.com"
JUNK_TAILS = ("logo.jpg", "style.css", "paper.pdf", "a/b/c/d/e/f/g/h/i/j/k/l/m/n")


@dataclass(frozen=True)
class CrawlParams:
    n_pages: int
    #: registrable domains and live hosts spread over them (eTLD+1
    #: politeness merges the hosts of one domain)
    n_domains: int
    n_hosts: int
    #: share of page urls on the single hot host
    hot_share: float
    #: exact UT accession seeds, each matching one page: ``seed_uts`` on
    #: served pages, ``seed_dead`` on pages of the dead hosts
    seed_uts: int
    seed_dead: int
    #: out-links per page
    fanout: int
    #: out-link target mix (the rest point at existing pages); each page
    #: gets round(fan-out x the three shares) non-page links
    dangling_share: float  # missing page on a live host -> miss + retries
    dead_share: float  # page on a dead host -> miss, backoff quarantine
    n_dead_hosts: int
    #: pages of the dead hosts: in the searchable corpus (seeds can
    #: match them) but never served, so every fetch of one misses
    dead_pages: int
    junk_share: float  # asset / over-deep url -> dropped by the URL gate
    #: hosts with wildcard robots rules
    robots_hosts: int


@dataclass(frozen=True)
class ExportParams:
    #: export queries and their record counts: one size per query, drawn
    #: from ``n_queries`` equal strata of [query_min, query_max]
    n_queries: int
    query_min: int
    query_max: int
    #: records per export request: a query of n records is exported as
    #: n // batch full pages and one tail page of n % batch records
    batch: int
    #: export flavors generated; every flavor carries the same records
    #: so their parses can be compared record by record
    flavors: tuple[str, ...]


@dataclass
class CrawlWorld:
    pages: list[tuple[str, str, str]]  # (url, text, lang): the corpus
    served: set[str]  # urls the fetch side holds
    links: list[tuple[str, str]]  # (src_url, dst_url)
    robots: list[tuple[str, str, bool, int]]  # (host, pattern, allow, len)
    seeds: list[tuple[int, str, int]]  # (query_id, term, priority)


def _rng(seed: int, salt: str) -> random.Random:
    digest = hashlib.sha256(f"{salt}:{seed}".encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "little"))


def _record_base(seed: int) -> int:
    """First record id of a seed: distinct seeds get distinct records."""
    return (seed % 100_000) * 10_000_000


def _export_text(ids: list[int], n_total: int) -> str:
    return (
        "FN Clarivate Analytics Web of Science\nVR 1.0\n"
        + "\n\n".join(wosgen.wos_record(i, n_total) for i in ids)
        + "\n\nEF\n"
    )


def _crawl_text(rng: random.Random, rid: int) -> str:
    """A one-record export page: title and abstract words (what the
    seed terms match) and the UT accession (what exact seeds match)."""
    ti = " ".join(rng.choice(WORDS) for _ in range(rng.randint(4, 8)))
    ab = " ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 24)))
    return (
        "FN Clarivate Analytics Web of Science\nVR 1.0\nPT J\n"
        f"TI {ti}\nAB {ab}\nUT WOS:{rid:015d}\nER\n\nEF\n"
    )


def crawl_world(p: CrawlParams, seed: int) -> CrawlWorld:
    rng = _rng(seed, "crawl")
    domains = [f"d{k}.co.uk" for k in range(p.n_domains)]
    hosts = [
        f"s{j}.{domains[j % p.n_domains]}" for j in range(p.n_hosts)
    ]
    dead_hosts = [f"gone{k}.farm" for k in range(p.n_dead_hosts)]
    base = _record_base(seed)

    def host_for() -> str:
        return HOT_HOST if rng.random() < p.hot_share else rng.choice(hosts)

    def path_for(i: int) -> str:
        return f"/paper/{rng.choice(WORDS)}-{rng.choice(WORDS)}/{i}"

    urls = [f"https://{host_for()}{path_for(i)}" for i in range(p.n_pages)]
    dead_urls = [
        f"https://{dead_hosts[i % len(dead_hosts)]}{path_for(p.n_pages + i)}"
        for i in range(p.dead_pages)
    ]
    pages = [
        (url, _crawl_text(rng, base + i), ("en", "zh", "de", "es")[i % 4])
        for i, url in enumerate(urls + dead_urls)
    ]

    # every page gets the same number of non-page links (the rounded
    # share of its fan-out); only their kind is drawn, so the hits of
    # the wave that expands a page do not vary with chance.
    miss_share = p.dangling_share + p.dead_share + p.junk_share
    links: list[tuple[str, str]] = []
    for i, src in enumerate(urls):
        n_miss = round(p.fanout * miss_share)
        for k in range(p.fanout):
            r = rng.random() * miss_share
            if k >= n_miss:
                dst = urls[rng.randrange(p.n_pages)]
            elif r < p.dangling_share:
                dst = f"https://{host_for()}/paper/missing-{i}/{k}"
            elif r - p.dangling_share < p.dead_share and dead_urls:
                dst = rng.choice(dead_urls)
            else:
                dst = f"https://{host_for()}/static/{rng.choice(JUNK_TAILS)}"
            links.append((src, dst))

    # RFC 9309 wildcard rules: every ruled host blocks one title word
    # and any session-id url, and re-allows one sub-pattern (the longer
    # allow wins), so both wildcard matching and precedence are used.
    robots = []
    ruled = [HOT_HOST] + hosts[: max(0, p.robots_hosts - 1)]
    for h in ruled:
        w = rng.choice(WORDS)
        for pat, allow in (
            (f"/paper/{w}-*", False),
            (f"/paper/{w}-{rng.choice(WORDS)}/*", True),
            ("/*?session=", False),
            ("/*.pdf$", False),
            ("/", True),
        ):
            robots.append((h, pat, allow, len(pat)))

    picks = sorted(rng.sample(range(p.n_pages), p.seed_uts)) + sorted(
        rng.sample(range(p.n_pages, p.n_pages + p.dead_pages), p.seed_dead)
    )
    seeds = [(k, f"WOS:{base + i:015d}", 50 + k % 7) for k, i in enumerate(picks)]
    return CrawlWorld(pages=pages, served=set(urls), links=links, robots=robots, seeds=seeds)


_SERIAL = {
    "plaintext": _export_text,
    "tab": wosgen.tab_export_payload,
    "xml": wosgen.xml_export_payload,
}


@dataclass
class ExportWorld:
    pages: list[tuple[str, str, str]]  # (flavor, url, text)
    n_records: int  # records per flavor


def export_world(p: ExportParams, seed: int) -> ExportWorld:
    """Export pages of every flavor; each flavor holds the same records."""
    rng = _rng(seed, "exports")
    base = _record_base(seed)
    span = p.query_max - p.query_min + 1
    queries = [
        rng.randint(
            p.query_min + j * span // p.n_queries,
            p.query_min + (j + 1) * span // p.n_queries - 1,
        )
        for j in range(p.n_queries)
    ]
    sizes = []
    for n in queries:
        sizes += [p.batch] * (n // p.batch) + ([n % p.batch] if n % p.batch else [])
    total = sum(sizes)
    pages = []
    start = base
    for pg, n in enumerate(sizes):
        ids = list(range(start, start + n))
        start += n
        for f in p.flavors:
            text = _SERIAL[f](ids, base + total)
            pages.append((f, f"https://exports.example.org/{f}/page-{pg}", text))
    return ExportWorld(pages=pages, n_records=total)


# ---------------------------------------------------------------- presets

#: crawl_deep -- per-wave fixed cost and cross-wave state. 56 exact-UT
#: seeds start 56 urls, and a fixed fan-out of 3 grows the frontier
#: about 3x per wave, so few rows flow and the per-wave cost shows.
#: One link of every page leaves the page set: it dangles (15/32 of
#: them: misses and retries), leads to the dead host (12/32) or is junk
#: (5/32: the URL gate drops it). The fixed fan-out and link mix keep
#: url and hit counts steady across seeds. 8 of the seeds hit pages of
#: the dead host, so wave 0 already misses there and backoff
#: quarantines the host from wave 1 on. 30% of urls sit on one hot host
#: and 60 hosts fold into 20 registrable domains (the eTLD+1 politeness
#: key); 10 hosts have wildcard robots rules.
DEEP = CrawlParams(
    n_pages=8_000, n_domains=20, n_hosts=60, hot_share=0.30,
    seed_uts=48, seed_dead=8,
    fanout=3,
    dangling_share=0.15, dead_share=0.12, n_dead_hosts=1, dead_pages=40,
    junk_share=0.05, robots_hosts=10,
)

#: parse_exports -- parse rate. The reference spider exports a query in
#: requests of 500 records (``for start in range(1, count+1, 500)``,
#: SURVEY.md S5; ``sources/exports.py``: files of <=500 records), so a
#: query's pages are full 500-record pages plus one partial tail page.
#: The query sizes are this benchmark's choice: 8 queries of 501-999
#: records each, one per stratum, so every query gives one full page
#: and one tail of 1-499 records. The page count is then fixed and the
#: record total (about 6,000 per flavor) barely moves between seeds, so
#: run times compare across seeds. Every flavor carries the same records.
EXPORTS = ExportParams(
    n_queries=8, query_min=501, query_max=999, batch=500,
    flavors=("plaintext", "tab", "xml"),
)
