"""The two workloads, crawl_deep and parse_exports: table set-up, one
timed run, the output check of that run, and the traced run.

Every workload is a closed loop: one client in the driver runs one job
after another and starts the next only when the previous one is done.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import shutil
import statistics
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench import gen
from wos_crawler_spark.operators import checkpoint as ckpt
from wos_crawler_spark.operators.parse_plaintext import parse_pages
from wos_crawler_spark.operators.parse_tab import parse_tab_pages
from wos_crawler_spark.operators.parse_xml import parse_xml_pages
from wos_crawler_spark.plans.crawl import (
    CrawlConfig,
    prepare_fetch_side,
    prepare_links_side,
    run_crawl,
)

#: backoff rule thresholds of crawl_deep (shared by engine and simulator)
DEEP_BACKOFF = dict(min_fetches=3, err_pct=25, factor=2, quarantine_pct=80)
#: leading waves of every crawl that are its warm-up, not timed
WARM_WAVES = 1
#: fields of each committed wave's metrics.json checked against the
#: simulator; next_start_ts carries the wave's schedule timestamps
WAVE_METRIC_KEYS = (
    "wave", "scheduled", "hits", "misses", "retried", "expanded", "next_start_ts",
)


def crawl_config(p: gen.CrawlParams, work: str) -> CrawlConfig:
    """crawl_deep: the map-side admission gates (wildcard robots, URL
    gate, eTLD+1 politeness on the literal public-suffix subset) plus
    the cross-wave state of a long crawl: OPIC priority,
    backoff, a checkpoint every wave, wave caches released, and the
    Bloom sketch probed in dedup (the default).

    Two waves, not eight, one OPIC round per wave instead of three, and
    no trap guard (its eager trap-count job adds ~1.5 s a wave): a wave
    costs 10-15 s on 4 cores, and the benchmark's time budget (48 runs
    in 3420 s) allows one warm-up wave and one timed wave per run.
    Backoff still acts, because seeds on the dead host miss in wave 0.
    """
    return CrawlConfig(
        delay_s=1.0, max_waves=2, max_depth=8, max_retries=2,
        rows_per_bucket=1_000, bloom_capacity=4 * p.n_pages,
        robots_wildcards=True, url_gate=True, politeness_domain=True,
        opic_priority=True, opic_iters=1, backoff=True, backoff_kwargs=DEEP_BACKOFF,
        ckpt_dir=os.path.join(work, "ckpt"), keep_wave_caches=False,
    )


@dataclass
class CrawlTables:
    pages: DataFrame
    seeds: DataFrame
    links: DataFrame
    robots: DataFrame | None
    pages_fetch: DataFrame
    links_kv: DataFrame

    def release(self) -> None:
        for df in (self.pages, self.pages_fetch, self.links_kv):
            df.unpersist()


def crawl_tables(spark: SparkSession, world: gen.CrawlWorld, parts: int) -> CrawlTables:
    """Engine input tables plus the join-side layout, all materialized:
    ``pages`` is the searchable corpus seeds match against, the fetch
    side holds only the served pages. The layout stands in for tables
    stored bucketed by url / src_url, so it is set-up, not crawl work."""
    import pandas as pd

    pdf = pd.DataFrame(world.pages, columns=["url", "text", "lang"])
    pdf["served"] = pdf["url"].isin(world.served)
    pages = (
        spark.createDataFrame(pdf, "url string, text string, lang string, served boolean")
        .withColumn("warc_ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
        .repartition(parts)
        .persist()
    )
    pages.count()
    links = spark.createDataFrame(
        pd.DataFrame(world.links, columns=["src_url", "dst_url"]),
        "src_url string, dst_url string",
    )
    robots = (
        spark.createDataFrame(
            world.robots,
            "host string, rule_prefix string, allow boolean, rule_len int",
        )
        if world.robots
        else None
    )
    seeds = spark.createDataFrame(
        world.seeds, "query_id long, term string, priority int"
    )
    pages_fetch = prepare_fetch_side(pages.filter("served"), parts, with_text=True)
    pages_fetch.count()
    links_kv = prepare_links_side(links, parts)
    links_kv.count()
    return CrawlTables(pages, seeds, links, robots, pages_fetch, links_kv)


@dataclass
class CrawlRun:
    wall_s: float
    #: driver wall time of each wave (WaveResult.wall_s)
    wave_walls: list[float]
    wave_counts: list[tuple[int, int, int]]  # (wave, scheduled, hits)
    #: sorted (wave, url_hash) of every fetch
    fetched_hashes: list[tuple[int, int]]
    #: each committed wave's metrics.json, WAVE_METRIC_KEYS only
    wave_metrics: list[dict]


def run_crawl_once(
    spark: SparkSession, t: CrawlTables, cfg: CrawlConfig, tracer=None
) -> CrawlRun:
    """One crawl: the ``run_crawl`` call, which commits every wave to
    the checkpoint, then the untimed read-back of the committed seen
    set and per-wave metrics. With a ``tracer``, the call runs inside a
    ``crawl`` span."""
    shutil.rmtree(cfg.ckpt_dir, ignore_errors=True)
    with tracer.span("crawl") if tracer else contextlib.nullcontext():
        t0 = time.perf_counter()
        res = run_crawl(
            spark, t.pages, t.seeds, t.links, t.robots, cfg,
            pages_fetch=t.pages_fetch, links_prepped=t.links_kv,
        )
        wall = time.perf_counter() - t0
    last = ckpt.latest_wave(cfg.ckpt_dir)
    rows = ckpt.read_seen(spark, cfg.ckpt_dir, last).collect()
    return CrawlRun(
        wall_s=wall,
        wave_walls=[w.wall_s for w in res.waves],
        wave_counts=[(w.wave, w.scheduled, w.hits) for w in res.waves],
        fetched_hashes=sorted((r["wave"], r["url_hash"]) for r in rows),
        wave_metrics=[
            _wave_metrics(ckpt.read_metrics(cfg.ckpt_dir, w))
            for w in range(last + 1)
        ],
    )


def _wave_metrics(m: dict) -> dict:
    out = {k: m[k] for k in WAVE_METRIC_KEYS}
    out["next_start_ts"] = round(out["next_start_ts"], 6)
    return out


# ------------------------------------------------------------- oracle


@dataclass
class CrawlOracle:
    wave_counts: list[tuple[int, int, int]]
    fetch_order: list[tuple]
    fetched_hashes: list[tuple[int, int]]
    wave_metrics: list[dict]
    #: export bytes of the fetched pages (the crawl's parse input), per wave
    hit_bytes: list[int]

    def mismatch(self, run: CrawlRun) -> str | None:
        """None when ``run`` equals the simulator replay, else why not."""
        if run.wave_counts != self.wave_counts:
            return f"wave counts {run.wave_counts} != {self.wave_counts}"
        if run.fetched_hashes != self.fetched_hashes:
            return "per-wave fetched url set differs from the simulator"
        if run.wave_metrics != self.wave_metrics:
            return f"wave metrics {run.wave_metrics} != {self.wave_metrics}"
        return None


def url_meta(spark: SparkSession, urls: set[str]) -> dict[str, tuple[str, int, str]]:
    """url -> (url_canon, url_hash, host), computed by the engine's own
    canonicalization (the simulator never re-hashes)."""
    from wos_crawler_spark.functions.urlnorm import with_url_canon

    rows = with_url_canon(
        spark.createDataFrame([(u,) for u in sorted(urls)], "url string")
    ).collect()
    return {r["url"]: (r["url_canon"], r["url_hash"], r["host"]) for r in rows}


def crawl_oracle(
    spark: SparkSession, world: gen.CrawlWorld, cfg: CrawlConfig
) -> CrawlOracle:
    """``plans.simulator.simulate_crawl`` on the generated inputs."""
    from wos_crawler_spark.plans.simulator import simulate_crawl

    page_texts = {u: t for u, t, _ in world.pages}
    links: dict[str, list[str]] = {}
    for s, d in world.links:
        links.setdefault(s, []).append(d)
    robots: dict[str, list] = {}
    for h, pat, allow, ln in world.robots:
        robots.setdefault(h, []).append((pat, allow, ln))
    meta = url_meta(spark, set(page_texts) | {d for _, d in world.links})
    domain_map: dict[str, str] = {}
    if cfg.politeness_domain:
        from wos_crawler_spark.operators.blocklist import (
            DEFAULT_PUBLIC_SUFFIXES,
            psl_parse_rules,
            registrable_domain_python,
        )

        parsed = psl_parse_rules(cfg.psl_rules or DEFAULT_PUBLIC_SUFFIXES)
        domain_map = {
            h: registrable_domain_python(h, parsed) or h
            for h in {m[2] for m in meta.values()}
        }
    sim = simulate_crawl(
        pages_urls=world.served, page_texts=page_texts,
        seeds=world.seeds, links=links, robots=robots, url_meta=meta,
        delay_s=cfg.delay_s, quota=cfg.quota, max_waves=cfg.max_waves,
        max_depth=cfg.max_depth, max_retries=cfg.max_retries,
        rows_per_bucket=cfg.rows_per_bucket,
        robots_wildcards=cfg.robots_wildcards, trap_cap=cfg.trap_cap,
        trap_keep=cfg.trap_keep, url_gate=cfg.url_gate,
        url_gate_kwargs=cfg.url_gate_kwargs, backoff=cfg.backoff,
        backoff_kwargs=cfg.backoff_kwargs,
        politeness_domain=cfg.politeness_domain, domain_map=domain_map,
        opic_priority=cfg.opic_priority, opic_iters=cfg.opic_iters,
        opic_scale=cfg.opic_scale,
    )
    counts: dict[int, list[int]] = {}
    for f in sim.fetches:
        c = counts.setdefault(f.wave, [0, 0])
        c[0] += 1
        c[1] += int(f.hit)
    sorted_counts = [(w, c[0], c[1]) for w, c in sorted(counts.items())]
    return CrawlOracle(
        wave_counts=sorted_counts,
        fetch_order=sim.fetch_order,
        fetched_hashes=sorted((f.wave, f.url_hash) for f in sim.fetches),
        wave_metrics=expected_wave_metrics(sim.fetches, links, domain_map, cfg),
        hit_bytes=[
            sum(len(page_texts[f.url].encode()) for f in sim.fetches if f.hit and f.wave == w)
            for w, _, _ in sorted_counts
        ],
    )


def expected_wave_metrics(fetches, links, domain_map, cfg: CrawlConfig) -> list[dict]:
    """What ``run_crawl`` commits to each wave's metrics.json, derived
    from the simulator's fetches:

    - ``retried``: misses whose next attempt is within ``max_retries``
      (a fetch's attempt is the number of earlier fetches of its url);
    - ``expanded``: out-links of the wave's hits (every hit expands: a
      fetch of wave w has depth <= w < max_waves <= max_depth);
    - ``next_start_ts``: the wave's last scheduled slot plus the gap the
      simulator uses, the largest delay in force (backoff_python over
      the scheduling keys' stats of the earlier waves).
    """
    from wos_crawler_spark.operators.backoff import backoff_python

    assert cfg.max_waves <= cfg.max_depth
    by_wave: dict[int, list] = {}
    for f in fetches:
        by_wave.setdefault(f.wave, []).append(f)
    stats: dict[str, list[int]] = {}  # scheduling key -> [sched, miss]
    tries: dict[int, int] = {}  # url_hash -> fetches so far
    out = []
    for w in sorted(by_wave):
        fs = by_wave[w]
        eff: dict[str, float] = {}
        if cfg.backoff and stats:
            eff, _ = backoff_python(
                {k: tuple(v) for k, v in stats.items()}, cfg.delay_s, None,
                **cfg.backoff_kwargs,
            )
        retried = 0
        for f in fs:
            attempt = tries.get(f.url_hash, 0)
            tries[f.url_hash] = attempt + 1
            retried += int(not f.hit and attempt + 1 <= cfg.max_retries)
        hits = [f for f in fs if f.hit]
        out.append(_wave_metrics({
            "wave": w, "scheduled": len(fs), "hits": len(hits),
            "misses": len(fs) - len(hits), "retried": retried,
            "expanded": sum(len(links.get(f.url, ())) for f in hits),
            "next_start_ts": max(f.scheduled_ts for f in fs)
            + max([cfg.delay_s, *eff.values()]),
        }))
        for f in fs:
            st = stats.setdefault(domain_map.get(f.host, f.host), [0, 0])
            st[0] += 1
            st[1] += int(not f.hit)
    return out


# ------------------------------------------------------------- parse


PARSERS = {
    "plaintext": parse_pages,
    "tab": parse_tab_pages,
    "xml": parse_xml_pages,
}


def export_tables(
    spark: SparkSession, world: gen.ExportWorld, flavors, parts: int
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """All export pages in one persisted table, and one ``(url, text)``
    view of it per flavor. Pages are dealt to ``parts`` partitions
    largest first, each to the partition with the fewest bytes of its
    flavor so far, so every parse task gets the same share of the work
    whatever the seed."""
    import pandas as pd

    load = {(f, k): 0 for f in flavors for k in range(parts)}
    rows = []
    for f, url, text in sorted(world.pages, key=lambda r: (-len(r[2]), r[1])):
        k = min(range(parts), key=lambda k: (load[(f, k)], k))
        load[(f, k)] += len(text)
        rows.append((k, f, url, text))
    allp = (
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["part", "flavor", "url", "text"]),
            "part int, flavor string, url string, text string",
        )
        .repartitionByRange(parts, "part")
        .persist()
    )
    allp.count()
    views = {
        f: allp.filter(F.col("flavor") == f).select("url", "text") for f in flavors
    }
    return allp, views


def parse_digest(parsed: DataFrame) -> tuple[int, int, int]:
    """(records, xor of per-record digests, extracted_text bytes) in
    one job; equal digests across flavors mean every record's
    ``extracted_text`` agrees."""
    row = parsed.agg(
        F.count(F.lit(1)),
        F.bit_xor(F.xxhash64("unique_id", "extracted_text")),
        F.sum(F.octet_length("extracted_text")),
    ).first()
    return int(row[0]), int(row[1] or 0), int(row[2] or 0)


# ------------------------------------------------------------- workloads


@dataclass
class RunResult:
    wall_s: float  # the timed part
    error: str | None
    warm_s: float = 0.0  # untimed warm-up part of the run, if any


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _median_wall(runs: list[RunResult]) -> float:
    ok = [r.wall_s for r in runs if r.error is None]
    return statistics.median(ok or [r.wall_s for r in runs])


#: per-layer metrics of the traced run, with their units
LAYER_METRICS = {
    "admission.s": "s", "admission.rows_in": "count",
    "admission.keep_ratio": "ratio", "admission.shuffle_mb": "MB",
    "schedule.s": "s", "schedule.shuffle_mb": "MB", "schedule.task_skew": "ratio",
    "fetch.s": "s", "fetch.hit_ratio": "ratio", "fetch.shuffle_mb": "MB",
    "expand.s": "s", "expand.rows_out": "count",
    "priority.s": "s", "priority.jobs": "count", "priority.edges": "count",
    "priority.growth": "ratio",
    "state.s": "s", "state.hosts": "count", "state.quarantined": "count",
    "tail.sketch_s": "s", "tail.sketch_bytes": "bytes", "tail.seen_s": "s",
    "tail.ckpt_write_s": "s", "tail.ckpt_mb": "MB", "tail.restore_s": "s",
    "tail.storage_mb_per_wave": "MB",
    "crawl.jobs_per_wave": "count", "crawl.tasks_per_wave": "count",
    "crawl.idle_share": "ratio", "crawl.executor_cpu_s": "s",
    "crawl.gc_s": "s", "crawl.spill_mb": "MB",
    "sketch.bloom.build_s": "s", "sketch.cuckoo.build_s": "s",
    "sketch.bloom.probe_s": "s", "sketch.cuckoo.probe_s": "s",
    "sketch.bloom.bytes": "bytes", "sketch.cuckoo.bytes": "bytes",
    "parse.plaintext.s": "s", "parse.tab.s": "s", "parse.xml.s": "s",
    "parse.records": "count", "parse.python_mb": "MB",
    "parse.executor_cpu_s": "s",
    "trace.run_s": "s", "trace.coverage": "ratio",
}


def _layer_metrics(values: dict) -> dict:
    """Every per-layer metric, 0 where the workload does not run it."""
    unknown = set(values) - set(LAYER_METRICS)
    if unknown:
        raise KeyError(f"undeclared layer metrics {sorted(unknown)}")
    return {k: _m(values.get(k, 0.0), u) for k, u in LAYER_METRICS.items()}


class CrawlBench:
    def __init__(self, spark, info, seed, work) -> None:
        self.spark, self.seed, self.work = spark, seed, work
        self.parts = info["shuffle_partitions"]
        self.params = gen.DEEP
        self.tables: CrawlTables | None = None

    def release(self) -> None:
        if self.tables is not None:
            self.tables.release()
            self.tables = None

    def generate(self) -> None:
        self.world = gen.crawl_world(self.params, self.seed)

    def build(self) -> None:
        self.tables = crawl_tables(self.spark, self.world, self.parts)
        self.cfg = crawl_config(self.params, self.work)

    def warm(self) -> None:
        """Start the Python workers and load the sketch code in them with
        one distributed Bloom build over the pages' url hashes. The
        crawl's own first wave finishes the warm-up (see ``run``)."""
        from wos_crawler_spark.functions.urlnorm import with_url_canon
        from wos_crawler_spark.operators.bloom import build_bloom

        build_bloom(
            with_url_canon(self.tables.pages.select("url")), "url_hash",
            capacity=self.cfg.bloom_capacity,
        )

    def prepare_oracle(self) -> None:
        self.oracle = crawl_oracle(self.spark, self.world, self.cfg)

    def _run(self, tracer=None) -> tuple[RunResult, CrawlRun | None]:
        try:
            run = run_crawl_once(self.spark, self.tables, self.cfg, tracer)
        except Exception as e:  # a crawl that raises counts as failed
            return RunResult(0.0, f"{type(e).__name__}: {e}"), None
        timed = sum(run.wave_walls[WARM_WAVES:])
        return RunResult(timed, self.oracle.mismatch(run), run.wall_s - timed), run

    def run(self) -> RunResult:
        """One crawl, checked whole against the simulator. Its first
        wave runs cold in a fresh JVM and is the warm-up; the waves
        after it are timed (a separate warm-up crawl would cost ~28 s a
        run, which the benchmark's budget of 48 runs in 3420 s cannot
        carry)."""
        return self._run()[0]

    def end_to_end(self, runs, setup_s: float, peak_rss_mb: float) -> dict:
        run_s = _median_wall(runs)
        timed = self.oracle.wave_counts[WARM_WAVES:]
        hit_mb = sum(self.oracle.hit_bytes[WARM_WAVES:]) / (1 << 20)
        return {
            "setup_s": _m(setup_s, "s"),
            "run_s": _m(run_s, "s"),
            "urls_per_s": _m(sum(c[1] for c in timed) / run_s, "1/s"),
            "wave_s": _m(run_s / len(timed), "s"),
            # one WoS record per fetched page
            "records_per_s": _m(sum(c[2] for c in timed) / run_s, "1/s"),
            "parse_mb_per_s": _m(hit_mb / run_s, "MB/s"),
            "peak_rss_mb": _m(peak_rss_mb, "MB"),
        }

    def traced(self) -> tuple[dict, int, int]:
        from perfbench import replay as rp
        from perfbench import session
        from perfbench.trace import (
            Tracer,
            fold_event_log,
            heaviest_stage_skew,
            idle_share,
            subtree,
        )

        from wos_crawler_spark.functions.urlnorm import with_url_canon
        from wos_crawler_spark.operators.cuckoo import build_sharded_cuckoo

        # warm up with an untraced one-wave crawl, so no layer pays the
        # JIT, and load the cuckoo code into the Python workers, so the
        # sketch comparison does not charge it to the cuckoo build
        run_crawl_once(self.spark, self.tables, dataclasses.replace(self.cfg, max_waves=1))
        build_sharded_cuckoo(
            with_url_canon(self.tables.pages.select("url")), "url_hash",
            capacity=self.cfg.bloom_capacity,
        )
        tr = Tracer()
        failed = 0
        t = self.tables
        with tr.span("replay") as replay_span:
            rep = rp.replay_crawl(
                self.spark, tr, t.pages, t.seeds, t.pages_fetch, t.links_kv,
                t.robots, self.cfg,
            )
        if rep.wave_counts != self.oracle.wave_counts:
            failed += 1
            print(f"# replay wave counts {rep.wave_counts} != {self.oracle.wave_counts}")
        elif rep.fetch_order != self.oracle.fetch_order:
            failed += 1
            print("# replay fetch order differs from the simulator")
        res, run = self._run(tr)
        if res.error:
            failed += 1
            print(f"# traced crawl failed: {res.error}")
        elif run.wave_counts != rep.wave_counts:
            failed += 1
            print(f"# replay wave counts {rep.wave_counts} != run_crawl's {run.wave_counts}")
        session.stop(self.spark)
        stats = fold_event_log(os.path.join(self.work, "events"), tr)
        tr.write(os.path.join(self.work, "spans.jsonl"))

        def layer(name, step=None):
            spans = [
                s for s in tr.named(name)
                if step is None or s.attrs.get("step") == step
            ]
            agg = None
            for s in spans:
                st = subtree(tr, stats, s)
                if agg is None:
                    agg = st
                else:
                    agg.add(st)
            return sum(s.dur for s in spans), spans, agg

        aux = sum(
            s.dur for s in tr.spans
            if s.name in rp.AUX and s.parent == replay_span.id
        )
        crawl_wall = replay_span.dur - aux
        covered = sum(
            s.dur for s in tr.spans
            if s.parent == replay_span.id and s.name in rp.LAYERS
        )
        coverage = covered / crawl_wall if crawl_wall > 0 else 0.0
        if coverage < 0.9:
            failed += 1
            print(f"# layer spans cover {coverage:.3f} < 0.9 of the replayed crawl")

        w = rep.waves
        v: dict = {}
        adm_s, _, adm = layer("admission")
        rows_in = sum(x["rows_in"] for x in w)
        v.update({
            "admission.s": adm_s, "admission.rows_in": rows_in,
            "admission.keep_ratio": sum(x["rows_kept"] for x in w) / rows_in,
            "admission.shuffle_mb": adm.shuffle_write_mb,
        })
        sch_s, _, sch = layer("schedule")
        v.update({
            "schedule.s": sch_s, "schedule.shuffle_mb": sch.shuffle_write_mb,
            "schedule.task_skew": heaviest_stage_skew(sch.stage_task_s),
        })
        fet_s, _, fet = layer("fetch")
        v.update({
            "fetch.s": fet_s,
            "fetch.hit_ratio": sum(x["hits"] for x in w) / sum(x["scheduled"] for x in w),
            "fetch.shuffle_mb": fet.shuffle_write_mb,
        })
        pri_s, pri_spans, pri = layer("priority")
        v.update({
            "expand.s": layer("expand")[0],
            "expand.rows_out": sum(x["rows_out"] for x in w),
            "priority.s": pri_s, "priority.jobs": pri.jobs,
            "priority.edges": w[-1]["edges"],
            "priority.growth": pri_spans[-1].dur / pri_spans[0].dur,
            "state.s": layer("state")[0],
            "state.hosts": w[-1]["hosts"],
            "state.quarantined": max(x.get("quarantined", 0) for x in w),
        })
        v["tail.sketch_s"] = layer("tail", "sketch")[0]
        v["tail.sketch_bytes"] = w[-1]["sketch_bytes"]
        v["tail.seen_s"] = layer("tail", "seen")[0]
        v["tail.ckpt_write_s"] = layer("tail", "ckpt_write")[0]
        v["tail.ckpt_mb"] = sum(x["ckpt_mb"] for x in w)
        v["tail.restore_s"] = rep.restore_s
        sm = rep.storage_mb
        v["tail.storage_mb_per_wave"] = (sm[-1] - sm[0]) / (len(sm) - 1)
        crawl_span = tr.named("crawl")[0]
        cr = subtree(tr, stats, crawl_span)
        n_waves = len(rep.wave_counts)
        v.update({
            "crawl.jobs_per_wave": cr.jobs / n_waves,
            "crawl.tasks_per_wave": cr.tasks / n_waves,
            "crawl.idle_share": idle_share(cr.task_windows, crawl_span.start, crawl_span.end),
            "crawl.executor_cpu_s": cr.cpu_s, "crawl.gc_s": cr.gc_s,
            "crawl.spill_mb": cr.spill_mb,
        })
        for kind, m in rep.sketch.items():
            for k in ("build_s", "probe_s", "bytes"):
                v[f"sketch.{kind}.{k}"] = m[k]
        # the traced crawl's timed waves, comparable with untraced run_s
        v["trace.run_s"] = res.wall_s
        v["trace.coverage"] = coverage
        return _layer_metrics(v), 2, failed


class ParseBench:
    def __init__(self, spark, info, seed, work) -> None:
        self.spark, self.seed, self.work = spark, seed, work
        self.parts = info["shuffle_partitions"]
        self.params = gen.EXPORTS
        self.table: DataFrame | None = None

    def release(self) -> None:
        if self.table is not None:
            self.table.unpersist()
            self.table = None

    def generate(self) -> None:
        self.world = gen.export_world(self.params, self.seed)
        self.n_records = self.world.n_records
        self.n_pages = len(self.world.pages)
        self.in_bytes = sum(len(t.encode()) for _, _, t in self.world.pages)

    def build(self) -> None:
        self.table, self.views = export_tables(
            self.spark, self.world, self.params.flavors, self.parts
        )

    def warm(self) -> None:
        self._parse_all()

    def prepare_oracle(self) -> None:
        pass

    def _parse_all(self, tracer=None) -> dict:
        out = {}
        for f, df in self.views.items():
            with tracer.span("parse", flavor=f) if tracer else contextlib.nullcontext():
                out[f] = parse_digest(PARSERS[f](df))
        return out

    def _check(self, digests: dict) -> str | None:
        if len(set(digests.values())) != 1:
            return f"flavors disagree: {digests}"
        n = next(iter(digests.values()))[0]
        if n != self.n_records:
            return f"{n} records parsed, {self.n_records} generated"
        return None

    def run(self, tracer=None) -> RunResult:
        t0 = time.perf_counter()
        try:
            digests = self._parse_all(tracer)
        except Exception as e:
            return RunResult(0.0, f"{type(e).__name__}: {e}")
        return RunResult(time.perf_counter() - t0, self._check(digests))

    def end_to_end(self, runs, setup_s: float, peak_rss_mb: float) -> dict:
        run_s = _median_wall(runs)
        flavors = len(self.params.flavors)
        return {
            "setup_s": _m(setup_s, "s"),
            "run_s": _m(run_s, "s"),
            # every export page is one url; one parse pass per flavor
            "urls_per_s": _m(self.n_pages / run_s, "1/s"),
            "wave_s": _m(run_s / flavors, "s"),
            "records_per_s": _m(flavors * self.n_records / run_s, "1/s"),
            "parse_mb_per_s": _m(self.in_bytes / (1 << 20) / run_s, "MB/s"),
            "peak_rss_mb": _m(peak_rss_mb, "MB"),
        }

    def traced(self) -> tuple[dict, int, int]:
        from perfbench import session
        from perfbench.trace import Tracer, fold_event_log, subtree

        tr = Tracer()
        with tr.span("pass") as top:
            res = self.run(tr)
        session.stop(self.spark)
        stats = fold_event_log(os.path.join(self.work, "events"), tr)
        tr.write(os.path.join(self.work, "spans.jsonl"))
        v = {}
        for s in tr.named("parse"):
            v[f"parse.{s.attrs['flavor']}.s"] = s.dur
        allp = subtree(tr, stats, top)
        v.update({
            "parse.records": len(self.params.flavors) * self.n_records,
            "parse.python_mb": allp.python_mb,
            "parse.executor_cpu_s": allp.cpu_s,
            "trace.run_s": top.dur,
            "trace.coverage": tr.total("parse") / top.dur,
        })
        if res.error:
            print(f"# traced parse failed: {res.error}")
        return _layer_metrics(v), 1, int(res.error is not None)


def make(name: str, spark, info: dict, seed: int, work: str):
    cls = ParseBench if name == "parse_exports" else CrawlBench
    return cls(spark, info, seed, work)
