"""Host-level link-graph analytics over the crawl's links table:
degrees, PageRank, and rank-driven frontier prioritization.

The reference crawler walks WoS result pages in query order; a
web-frontier scheduler instead prioritizes by link-graph authority
(the classic crawl-ordering result: Cho, Garcia-Molina & Page 1998 —
PageRank-ordered crawling finds important pages first). This module
gives the W1 priority-queue frontier (operators/politeness.py) a
principled priority: PageRank over the HOST graph.

Scale design:

- The URL-level graph at 10^10 URLs is too big to iterate cheaply —
  but crawl scheduling happens per host anyway (politeness), so the
  operator first collapses links to the host graph (one agg shuffle;
  hosts are ~10^7 even at full web scale) and iterates there.
- Each PageRank iteration is one join (ranks ⋈ edges on src) + one
  agg (sum contribs by dst) — the textbook two-shuffle iteration over
  ``(node, rank)`` pairs only; per-iteration ``localCheckpoint``
  truncates lineage exactly like ``min_label_components``.
- Dangling mass (nodes with no out-links) is folded back uniformly
  each iteration; its sum is a one-row aggregate (driver scalar —
  same bounded-collect class as the Bloom fold).

Cross-engine determinism: floating-point PageRank is sum-order
dependent, so every contribution is rounded to 12 dp before the sum
and every rank to ``round_dp`` (default 9) after each iteration.
Host-graph sums aggregate ≤ fan-in terms of magnitude ≤ 1 with ulp
~1e-16, so accumulated error stays orders of magnitude below both
rounding grids — Spark and the unrolled-CTE DuckDB oracle produce
bit-identical ranks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wos_crawler_spark.functions.urlnorm import url_host
from wos_crawler_spark.operators.checkpoint import release


def host_edges(
    links: DataFrame, src_col: str = "src_url", dst_col: str = "dst_url"
) -> DataFrame:
    """Collapse URL-level links to the weighted host graph
    ``(src, dst, weight)``; self-loops dropped (a host linking to
    itself says nothing about authority and inflates its own rank)."""
    e = links.select(
        url_host(F.col(src_col)).alias("src"),
        url_host(F.col(dst_col)).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return e.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("weight"))


def degrees(edges: DataFrame) -> DataFrame:
    """Per-node ``(node, out_degree, in_degree)`` — distinct-neighbor
    degrees over the (already aggregated) edge list."""
    outd = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    ind = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        outd.join(ind, "node", "full")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def pagerank(
    edges: DataFrame,
    n_iter: int = 5,
    damping: float = 0.85,
    round_dp: int = 9,
) -> DataFrame:
    """``(node, rank)`` after ``n_iter`` power iterations with uniform
    teleport and uniform dangling-mass redistribution. Unweighted
    (each distinct out-edge carries rank/out_degree — the classic
    formulation, and the one the SQL oracle unrolls)."""
    ed = edges.select("src", "dst").distinct().localCheckpoint()
    nodes = (
        ed.select(F.col("src").alias("node"))
        .unionByName(ed.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank: empty edge set (no nodes to rank)")
    outd = ed.groupBy("src").agg(F.count(F.lit(1)).alias("outd"))

    ranks = nodes.select(
        "node", F.round(F.lit(1.0 / n), round_dp).alias("rank")
    ).localCheckpoint()
    dangling = nodes.join(ed.select("src").distinct(),
                          nodes.node == F.col("src"), "left_anti")

    for _ in range(n_iter):
        dm = (
            ranks.join(F.broadcast(dangling), "node", "semi")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
        )
        contribs = (
            ed.join(ranks, ed.src == ranks.node)
            .join(outd, "src")
            .select(
                "dst",
                F.round(F.col("rank") / F.col("outd"), 12).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        new_rank = F.round(
            F.lit((1.0 - damping) / n)
            + F.lit(damping)
            * (F.coalesce(F.col("s"), F.lit(0.0)) + F.lit(dm / n)),
            round_dp,
        )
        prev = ranks
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .select("node", new_rank.alias("rank"))
            .localCheckpoint()
        )
        prev.unpersist()
    return ranks


def rank_priority(frontier: DataFrame, ranks: DataFrame,
                  key_col: str = "host",
                  broadcast_ranks: bool = True) -> DataFrame:
    """Attach ``priority`` = PageRank of ``key_col`` (unknown keys get
    the teleport floor, not zero — a never-seen page should still beat
    a known-junk one).

    Key choice decides what the priority can influence downstream:
    URL-keyed ranks (pagerank over the raw links graph) drive the W1
    per-host quota in ``schedule_wave`` — the Cho/Garcia-Molina/Page
    crawl ordering proper, picking WHICH of a host's queued URLs get
    this wave's slots. Host-keyed ranks are constant within a host, so
    they cannot reorder the per-host quota; they are the wave-ADMISSION
    signal (which hosts' backlogs to admit) and the cheap option at
    10^10 URLs. Host-rank dims broadcast by definition; URL-keyed rank
    tables at full scale are frontier-sized — pass
    ``broadcast_ranks=False`` for a key-partitioned join instead."""
    floor = ranks.agg(F.min("rank")).first()[0] or 0.0
    r = ranks.select(F.col("node").alias(key_col),
                     F.col("rank").alias("priority"))
    if broadcast_ranks:
        r = F.broadcast(r)
    return frontier.join(r, key_col, "left").fillna({"priority": floor})


def hits(
    edges: DataFrame,
    n_iter: int = 5,
    round_dp: int = 9,
) -> DataFrame:
    """``(node, hub, auth)`` after ``n_iter`` HITS iterations
    (Kleinberg 1999): authorities gather hub mass over in-edges, hubs
    gather the NEW authority mass over out-edges — the web-graph
    complement to :func:`pagerank` for crawl prioritization (a good
    hub page is worth fetching because its outlinks are good
    authorities, even when its own PageRank is modest).

    **L1 normalization** (divide by the score sum), not Kleinberg's
    L2: no sqrt, so :func:`pagerank`'s deterministic rounding
    protocol carries over verbatim — per-edge contributions rounded
    to 12 dp before the sum, scores to ``round_dp`` after each
    normalize, giving ~1e-14 cross-engine divergence that a final
    6-dp output round absorbs (the unrolled-CTE oracle mirrors every
    expression). The fixed point is the same principal eigenvector
    direction; only the scale convention differs (scores sum to 1).

    Shuffle shape per iteration: two edge-keyed join+agg exchanges
    over (node, score) pairs only — edges/scores, never text — plus
    two driver-scale normalization sums; ``localCheckpoint`` per
    iteration truncates lineage exactly like pagerank."""
    ed = edges.select("src", "dst").distinct().localCheckpoint()
    nodes = (
        ed.select(F.col("src").alias("node"))
        .unionByName(ed.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("hits: empty edge set (no nodes to score)")

    init = F.round(F.lit(1.0 / n), round_dp)
    scores = nodes.select(
        "node", init.alias("hub"), init.alias("auth")
    ).localCheckpoint()

    for _ in range(n_iter):
        # authorities from hubs (in-edge gather)
        araw = (
            ed.join(
                scores.select(F.col("node").alias("src"), "hub"), "src"
            )
            .select("dst", F.round(F.col("hub"), 12).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        a_df = nodes.join(
            araw, nodes.node == araw.dst, "left"
        ).select("node", F.coalesce(F.col("s"), F.lit(0.0)).alias("ar"))
        sa = a_df.agg(F.sum("ar")).first()[0]
        a_df = a_df.select(
            "node", F.round(F.col("ar") / F.lit(sa), round_dp).alias("auth")
        )
        # hubs from the NEW authorities (out-edge gather)
        hraw = (
            ed.join(
                a_df.select(F.col("node").alias("dst"), "auth"), "dst"
            )
            .select("src", F.round(F.col("auth"), 12).alias("c"))
            .groupBy("src")
            .agg(F.sum("c").alias("s"))
        )
        h_df = nodes.join(
            hraw, nodes.node == hraw.src, "left"
        ).select("node", F.coalesce(F.col("s"), F.lit(0.0)).alias("hr"))
        sh = h_df.agg(F.sum("hr")).first()[0]
        h_df = h_df.select(
            "node", F.round(F.col("hr") / F.lit(sh), round_dp).alias("hub")
        )
        prev = scores
        scores = (
            h_df.join(a_df, "node").select("node", "hub", "auth")
            .localCheckpoint()
        )
        prev.unpersist()
    return scores


def opic(
    edges: DataFrame,
    n_iter: int = 5,
    round_dp: int = 9,
) -> DataFrame:
    """``(node, importance, cash, history)`` — synchronous OPIC
    (Abiteboul, Preda & Cobena 2003, "Adaptive On-Line Page
    Importance Computation"): the importance estimate crawlers
    schedule by WITHOUT a separate offline PageRank batch. Every node
    starts with cash 1/n; each round, every node banks its cash into
    its history and distributes it equally over its out-edges
    (dangling cash redistributes uniformly — the paper's virtual
    page); importance after T rounds is the banked history plus
    residual cash, normalized by the total banked mass.

    Differences from :func:`pagerank` worth having both: no damping
    (OPIC's virtual page plays that role), and the HISTORY integral
    smooths the estimate over rounds — a new high-cash node ranks
    below an old consistently-cashed one, which is exactly the
    freshness bias a crawl scheduler wants.

    Same deterministic cross-engine protocol as pagerank: 12-dp
    per-edge contributions, ``round_dp`` state per round, one
    edge-keyed (node, cash) exchange + a driver-scale dangling sum
    per round, ``localCheckpoint`` lineage truncation. Conservation
    (Σcash = 1 every round, ΣH = t) is pinned by tests."""
    ed = edges.select("src", "dst").distinct().localCheckpoint()
    nodes = (
        ed.select(F.col("src").alias("node"))
        .unionByName(ed.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("opic: empty edge set")
    outd = ed.groupBy("src").agg(F.count(F.lit(1)).alias("outd"))
    dangling = nodes.join(
        ed.select("src").distinct(), nodes.node == F.col("src"), "left_anti"
    )

    state = nodes.select(
        "node",
        F.round(F.lit(1.0 / n), round_dp).alias("cash"),
        F.lit(0.0).alias("history"),
    ).localCheckpoint()

    for _ in range(n_iter):
        dm = (
            state.join(F.broadcast(dangling), "node", "semi")
            .agg(F.coalesce(F.sum("cash"), F.lit(0.0)))
            .first()[0]
        )
        contribs = (
            ed.join(state.select("node", "cash"), ed.src == F.col("node"))
            .join(outd, "src")
            .select(
                "dst",
                F.round(F.col("cash") / F.col("outd"), 12).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        prev = state
        state = (
            state.join(contribs, state.node == contribs.dst, "left")
            .select(
                "node",
                F.round(
                    F.coalesce(F.col("s"), F.lit(0.0))
                    + F.lit(dm / n),
                    round_dp,
                ).alias("cash"),
                F.round(
                    F.col("history") + F.col("cash"), round_dp
                ).alias("history"),
            )
            .localCheckpoint()
        )
        prev.unpersist()

    total_h = state.agg(F.sum("history")).first()[0]
    return state.select(
        "node",
        F.round(
            (F.col("history") + F.col("cash")) / F.lit(total_h + 1.0),
            round_dp,
        ).alias("importance"),
        "cash",
        "history",
    )


def opic_int(
    edges: DataFrame, n_iter: int = 3, scale: int = 1_000_000
) -> DataFrame:
    """``(node, importance)`` — INTEGER-exact synchronous OPIC
    (Abiteboul, Preda & Cobena 2003), the crawl-PRIORITY variant of
    :func:`opic`: all cash lives in integer units of ``1/scale``, so
    the result is bit-identical across Spark, the python simulator
    twin (:func:`opic_int_python` — CrawlConfig.opic_priority's
    fetch-order parity rests on it) and an unrolled-CTE SQL oracle —
    no floating-point rounding protocol needed, and the importance
    integers drop straight into the frontier's int ``priority``.

    Protocol (every division is a floor; all remainders are
    conserved, never dropped):

    - every node starts with ``scale // n`` units; the seed remainder
      opens the undistributed pool,
    - per round: each node banks its cash into history, then
      distributes ``cash // outd`` per out-edge; per-node residues,
      dangling nodes' whole cash and the carried pool pour into the
      round's pool, of which every node receives ``pool // n`` (the
      paper's uniform virtual page) with the remainder carrying over,
    - importance = history + final cash ∈ [0, (n_iter+1)·scale] —
      pick ``scale`` so that bound fits the consumer (int32 for the
      frontier priority: ``(n_iter+1)·scale < 2^31``) and resolution
      survives the node count (``scale >> n``).

    Scale shape mirrors :func:`opic`: per round one edge-keyed
    exchange (contributions) + two driver-scalar aggregates (dangling
    sum, residue sum); state is ``(node, cash, history)`` longs with
    per-round ``localCheckpoint`` lineage truncation; every
    intermediate checkpoint is released before returning, so only the
    result's own state stays (``checkpoint.release`` frees it)."""
    if n_iter < 1 or scale < 1:
        raise ValueError("n_iter and scale must be >= 1")
    ed = edges.select("src", "dst").distinct().localCheckpoint()
    nodes = (
        ed.select(F.col("src").alias("node"))
        .unionByName(ed.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("opic_int: empty edge set")
    outd = ed.groupBy("src").agg(F.count(F.lit(1)).alias("outd"))
    dangling = nodes.join(
        ed.select("src").distinct(), nodes.node == F.col("src"), "left_anti"
    )

    unit = scale // n
    pool = scale - n * unit
    state = nodes.select(
        "node",
        F.lit(unit).cast("long").alias("cash"),
        F.lit(0).cast("long").alias("history"),
    ).localCheckpoint()

    for _ in range(n_iter):
        dm = (
            state.join(F.broadcast(dangling), "node", "semi")
            .agg(F.coalesce(F.sum("cash"), F.lit(0)))
            .first()[0]
        )
        # `div` = exact integral division on longs (F.floor(a/b) would
        # round-trip through double — loses exactness past 2^53 at
        # production scales)
        resid = (
            state.join(outd, state.node == outd.src)
            .agg(
                F.coalesce(
                    F.sum(
                        F.col("cash")
                        - F.col("outd") * F.expr("cash div outd")
                    ),
                    F.lit(0),
                )
            )
            .first()[0]
        )
        pool_in = pool + int(dm) + int(resid)
        share = pool_in // n
        pool = pool_in - share * n
        contribs = (
            ed.join(state.select("node", "cash"), ed.src == F.col("node"))
            .join(outd, "src")
            .select("dst", F.expr("cash div outd").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        prev = state
        state = (
            state.join(contribs, state.node == contribs.dst, "left")
            .select(
                "node",
                (F.coalesce(F.col("s"), F.lit(0)) + F.lit(share))
                .cast("long")
                .alias("cash"),
                (F.col("history") + F.col("cash")).cast("long").alias("history"),
            )
            .localCheckpoint()
        )
        release(prev)

    release(ed)
    release(nodes)
    return state.select(
        "node", (F.col("history") + F.col("cash")).cast("long").alias("importance")
    )


def opic_int_python(
    edges: list[tuple[str, str]], n_iter: int = 3, scale: int = 1_000_000
) -> dict[str, int]:
    """Pure-python twin of :func:`opic_int` — identical integer
    protocol (the crawl simulator's priority source under
    CrawlConfig.opic_priority; fetch-order parity is the contract)."""
    if n_iter < 1 or scale < 1:
        raise ValueError("n_iter and scale must be >= 1")
    ed = sorted(set(edges))
    if not ed:
        raise ValueError("opic_int: empty edge set")
    outs: dict[str, list[str]] = {}
    nodes_s: set[str] = set()
    for s, d in ed:
        outs.setdefault(s, []).append(d)
        nodes_s.add(s)
        nodes_s.add(d)
    nodes = sorted(nodes_s)
    n = len(nodes)
    unit = scale // n
    pool = scale - n * unit
    cash = {v: unit for v in nodes}
    hist = {v: 0 for v in nodes}
    for _ in range(n_iter):
        pool_in = pool
        new_cash = {v: 0 for v in nodes}
        for v in nodes:
            c = cash[v]
            deg = len(outs.get(v, ()))
            if deg == 0:
                pool_in += c
            else:
                q = c // deg
                for d in outs[v]:
                    new_cash[d] += q
                pool_in += c - q * deg
        share = pool_in // n
        pool = pool_in - share * n
        for v in nodes:
            hist[v] += cash[v]
            cash[v] = new_cash[v] + share
    return {v: hist[v] + cash[v] for v in nodes}
