"""Layer-by-layer replay of one crawl for the traced run.

The replay walks the same wave loop as ``plans.crawl.run_crawl`` for
the crawl_deep configuration, but through each layer's public
function in turn, and forces every layer's output inside that layer's
span so lazy work is charged to the layer that planned it. Its
per-wave (scheduled, hits) counts must equal ``run_crawl``'s, which
keeps the replay honest.

Layers: ``seed`` (init_frontier), ``state`` (backoff plan and stats
fold), ``admission`` (robots, URL gate, seen dedup),
``schedule`` (politeness), ``fetch`` (the pages join), ``expand``
(expansion and retries), ``priority`` (OPIC) and ``tail`` (sketch,
seen union, checkpoint). Spans named ``check``, ``compare`` and
``restore`` hold work outside the crawl (output read-back, the
Bloom/cuckoo comparison, the timed checkpoint read after the last
wave) and are left out of the replay's crawl time.

Only the crawl_deep configuration is walked: checkpoint, backoff, OPIC,
URL gate and eTLD+1 politeness on, one-bank Bloom prefilter, no quota,
trap guard or PSL rules.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench.trace import Tracer
from wos_crawler_spark.functions.urlnorm import with_url_canon
from wos_crawler_spark.operators import checkpoint as ckpt
from wos_crawler_spark.operators.bloom import build_bloom
from wos_crawler_spark.operators.cuckoo import build_sharded_cuckoo
from wos_crawler_spark.operators.dedup import dedup_frontier, mark_maybe_seen
from wos_crawler_spark.operators.politeness import schedule_wave
from wos_crawler_spark.operators.robots import robots_filter
from wos_crawler_spark.plans.crawl import (
    FRONTIER_COLS,
    CrawlConfig,
    expand_frontier,
    init_frontier,
)

LAYERS = ("seed", "state", "admission", "schedule", "fetch", "expand", "priority", "tail")
AUX = ("check", "compare", "restore")


@dataclass
class Replay:
    wave_counts: list[tuple[int, int, int]] = field(default_factory=list)
    fetch_order: list[tuple] = field(default_factory=list)
    #: per-wave layer counters, in wave order
    waves: list[dict] = field(default_factory=list)
    storage_mb: list[float] = field(default_factory=list)
    restore_s: float = 0.0
    sketch: dict = field(default_factory=dict)


def storage_mb(spark: SparkSession) -> float:
    """Bytes held by cached RDD blocks, memory plus disk, in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1 << 20)


def _dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / (1 << 20)


def _part_metrics(fetched: DataFrame, rec) -> DataFrame:
    """The per-partition counter frame ``run_wave`` checkpoints."""
    return fetched.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count(F.lit(1)).alias("scheduled"),
        F.count("_page_hit").alias("hits"),
        (F.count(F.lit(1)) - F.count("_page_hit")).alias("misses"),
        rec.alias("parsed_docs"),
        F.sum(F.when(F.col("lineage").startswith("seed:"), 1).otherwise(0)).alias("from_seed"),
        F.sum(F.when(F.col("lineage").startswith("link:"), 1).otherwise(0)).alias("from_link"),
        F.sum(F.col("dont_filter").cast("long")).alias("from_retry"),
        F.sum(
            F.when(F.col("text").isNotNull(), F.octet_length("text")).otherwise(0)
        ).alias("payload_bytes"),
    )


def replay_crawl(
    spark: SparkSession,
    tr: Tracer,
    pages: DataFrame,
    seeds: DataFrame,
    pages_kv: DataFrame,
    links_kv: DataFrame,
    robots: DataFrame | None,
    cfg: CrawlConfig,
) -> Replay:
    from wos_crawler_spark.operators.backoff import backoff_plan, fold_host_stats
    from wos_crawler_spark.operators.blocklist import registrable_domain
    from wos_crawler_spark.operators.linkgraph import opic_int
    from wos_crawler_spark.operators.urlgate import url_keep_expr

    shutil.rmtree(cfg.ckpt_dir, ignore_errors=True)
    out = Replay()
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # every per-host dim in this workload is far below the threshold
    bcast = True
    probe = "_page_hit"
    # politeness, backoff stats and quarantine all key on the
    # scheduling unit, the registrable domain
    sched_key = F.coalesce(registrable_domain(F.col("host")), F.col("host"))

    with tr.span("seed"):
        frontier = init_frontier(seeds, pages).localCheckpoint()
        frontier_n = frontier.count()

    seen = None
    bloom = None
    host_stats = None
    hit_log = None
    wave_start = 0.0
    sketches = {"bloom": None, "cuckoo": None}
    for wave in range(cfg.max_waves):
        if not frontier_n:
            break
        layer: dict = {"wave": wave, "rows_in": frontier_n}
        eff_delays, eff_gap, bo = None, cfg.delay_s, None

        if host_stats is not None:
            with tr.span("state", wave=wave, step="plan"):
                bo = backoff_plan(
                    host_stats, cfg.delay_s, None, **cfg.backoff_kwargs
                ).cache()
                max_eff, _ = bo.agg(F.max("crawl_delay"), F.count(F.lit(1))).first()
                eff_gap = max(cfg.delay_s, float(max_eff or 0.0))
                quar = bo.filter(F.col("quarantined")).select(F.col("host").alias("_qkey"))
                layer["quarantined"] = quar.count()
                frontier = (
                    frontier.withColumn("_sched_dom", sched_key)
                    .join(F.broadcast(quar), F.col("_sched_dom") == F.col("_qkey"), "left_anti")
                    .drop("_sched_dom")
                    .localCheckpoint()
                )
                layer["rows_in"] = frontier.count()
                eff_delays = bo.select("host", "crawl_delay")

        with tr.span("admission", wave=wave):
            allowed = robots_filter(
                frontier, robots, wildcards=cfg.robots_wildcards, broadcast_dims=bcast
            )
            bypass = allowed.filter(F.col("dont_filter"))
            filtered = allowed.filter(~F.col("dont_filter")).filter(
                url_keep_expr(F.col("url_canon"), **cfg.url_gate_kwargs)
            )
            fresh = dedup_frontier(filtered, seen, bloom, intra=False)
            candidates = fresh.unionByName(bypass).cache()
            layer["rows_kept"] = candidates.count()

        with tr.span("schedule", wave=wave):
            sched = schedule_wave(
                candidates.withColumn("_true_host", F.col("host")).withColumn(
                    "host", sched_key
                ),
                delay_s=cfg.delay_s, wave_start=wave_start,
                rows_per_bucket=cfg.rows_per_bucket, dedup_intra=True,
                host_delays=eff_delays, broadcast_dims=bcast,
            )
            sched = sched.withColumn("host", F.col("_true_host")).drop("_true_host").cache()
            sched.count()

        with tr.span("fetch", wave=wave):
            fetched = sched.join(pages_kv, "url", "left").cache()
            rec = F.sum(
                F.when(
                    F.col(probe).isNotNull() & F.col("text").isNotNull(),
                    F.regexp_count(F.col("text"), F.lit(r"(?m)^ER[ \t]*$")),
                ).otherwise(F.lit(0))
            )
            scheduled_n, hits_n, max_ts, _ = fetched.agg(
                F.count(F.lit(1)), F.count(probe), F.max("scheduled_ts"), rec
            ).first()
            sched.unpersist()
        out.wave_counts.append((wave, scheduled_n, hits_n))
        layer.update(scheduled=scheduled_n, hits=hits_n)
        wave_start = (max_ts + eff_gap) if max_ts is not None else wave_start
        hits = fetched.filter(F.col(probe).isNotNull())
        misses = fetched.filter(F.col(probe).isNull())
        seen_delta = fetched.select("url_hash").withColumn("wave", F.lit(wave))

        with tr.span("check", wave=wave):
            rows = fetched.select("url", "scheduled_ts", "host", "url_hash").collect()
            rows.sort(key=lambda r: (r[1], r[2], r[3]))
            out.fetch_order += [(wave, r[0], round(r[1], 6)) for r in rows]
            delta_keys = np.array([r[3] for r in rows], dtype=np.int64)

        with tr.span("expand", wave=wave):
            retries = (
                misses.select(FRONTIER_COLS)
                .withColumn("attempt", F.col("attempt") + 1)
                .withColumn("dont_filter", F.lit(True))
                .filter(F.col("attempt") <= cfg.max_retries)
            )
            expansions = expand_frontier(hits, links_kv, wave, cfg.max_depth)
            next_frontier = (
                expansions.unionByName(retries.select(FRONTIER_COLS))
                .coalesce(parts)
                .localCheckpoint()
            )
            layer["rows_out"] = next_frontier.count()

        with tr.span("priority", wave=wave):
            wave_hits = hits.select("url", "url_canon")
            hit_log = (
                wave_hits if hit_log is None else hit_log.unionByName(wave_hits)
            ).localCheckpoint()
            e0 = hit_log.join(links_kv, hit_log.url == links_kv.src_url).select(
                F.col("url_canon").alias("src"), F.col("dst_url").alias("url")
            )
            edges = with_url_canon(e0).select("src", F.col("url_canon").alias("dst"))
            if not edges.isEmpty():
                scores = opic_int(edges, n_iter=cfg.opic_iters, scale=cfg.opic_scale)
                next_frontier = (
                    next_frontier.join(scores, next_frontier.url_canon == scores.node, "left")
                    .withColumn(
                        "priority",
                        F.coalesce(F.col("importance").cast("int"), F.col("priority")),
                    )
                    .select(FRONTIER_COLS)
                    .localCheckpoint()
                )
                next_frontier.count()
            layer["edges"] = edges.count()

        with tr.span("state", wave=wave, step="fold"):
            host_stats = fold_host_stats(
                host_stats, fetched.withColumn("host", sched_key), probe
            )
            ckpt.write_host_stats(cfg.ckpt_dir, wave, host_stats)
            host_stats = ckpt.read_host_stats(spark, cfg.ckpt_dir, wave)
            layer["hosts"] = host_stats.count()

        with tr.span("tail", wave=wave, step="sketch"):
            wave_bloom = build_bloom(
                seen_delta, "url_hash", capacity=cfg.bloom_capacity, fpp=cfg.bloom_fpp
            )
            bloom = bloom.merge(wave_bloom) if bloom is not None else wave_bloom
            layer["sketch_bytes"] = len(bloom.to_bytes())
        with tr.span("tail", wave=wave, step="ckpt_write"):
            ckpt.commit_wave(
                cfg.ckpt_dir, wave, next_frontier, seen_delta, bloom.to_bytes(),
                metrics=None, part_metrics=_part_metrics(fetched, rec),
            )
            ckpt.write_metrics(
                cfg.ckpt_dir, wave,
                {"wave": wave, "scheduled": scheduled_n, "hits": hits_n,
                 "next_start_ts": wave_start},
            )
            layer["ckpt_mb"] = _dir_mb(ckpt.wave_dir(cfg.ckpt_dir, wave))
        with tr.span("tail", wave=wave, step="seen"):
            frontier = ckpt.read_frontier(spark, cfg.ckpt_dir, wave)
            seen = ckpt.read_seen(spark, cfg.ckpt_dir, wave)
            frontier_n = frontier.count()

        _compare_sketches(tr, cfg, seen_delta, next_frontier, delta_keys, sketches)
        if bo is not None:
            bo.unpersist()
        candidates.unpersist()
        fetched.unpersist()
        out.storage_mb.append(storage_mb(spark))
        out.waves.append(layer)

    last = ckpt.latest_wave(cfg.ckpt_dir)
    with tr.span("restore") as sp:
        ckpt.read_frontier(spark, cfg.ckpt_dir, last).count()
        ckpt.read_seen(spark, cfg.ckpt_dir, last).count()
        ckpt.read_bloom_bytes(cfg.ckpt_dir, last)
        ckpt.read_metrics(cfg.ckpt_dir, last)
        ckpt.read_host_stats(spark, cfg.ckpt_dir, last).count()
    out.restore_s = sp.dur
    out.sketch = {
        kind: {
            "build_s": sum(
                s.dur for s in tr.named("sketch")
                if s.attrs == {"kind": kind, "step": "build"}
            ),
            "probe_s": sum(
                s.dur for s in tr.named("sketch")
                if s.attrs == {"kind": kind, "step": "probe"}
            ),
            "bytes": len(f.to_bytes()),
        }
        for kind, f in sketches.items()
    }
    return out


def _compare_sketches(tr, cfg, seen_delta, next_frontier, delta_keys, acc) -> None:
    """Build a Bloom and a cuckoo sketch of the same capacity from the
    wave's seen delta with the engine's distributed builds
    (``build_bloom``, ``build_sharded_cuckoo``, as ``run_crawl`` does
    for ``seen_filter`` bloom or cuckoo) and fold each into its
    cross-wave sketch; then probe the next frontier against each with
    ``mark_maybe_seen``, the probe the next wave's dedup runs. Each
    build and probe is forced in its own ``sketch`` span."""
    with tr.span("compare"):
        for kind in ("bloom", "cuckoo"):
            with tr.span("sketch", kind=kind, step="build"):
                if kind == "bloom":
                    f = build_bloom(
                        seen_delta, "url_hash",
                        capacity=cfg.bloom_capacity, fpp=cfg.bloom_fpp,
                    )
                else:
                    f = build_sharded_cuckoo(
                        seen_delta, "url_hash",
                        capacity=cfg.bloom_capacity, n_shards=cfg.bloom_banks,
                    )
                acc[kind] = f if acc[kind] is None else acc[kind].merge(f)
            with tr.span("sketch", kind=kind, step="probe"):
                mark_maybe_seen(next_frontier, acc[kind]).filter("maybe_seen").count()
            if not acc[kind].might_contain(delta_keys).all():
                raise AssertionError(f"{kind} sketch lost a seen key")
