"""Host-level link-graph analytics over the crawl's links table:
degrees, three link-graph scorers (PageRank, HITS and integer OPIC)
and rank-driven frontier prioritization.

The reference crawler walks WoS result pages in query order; a
web-frontier scheduler instead prioritizes by link-graph authority
(the classic crawl-ordering result: Cho, Garcia-Molina & Page 1998 —
PageRank-ordered crawling finds important pages first). This module
gives the W1 priority-queue frontier (operators/politeness.py) its
priority: PageRank or HITS hubs/authorities over the HOST graph, and
integer OPIC (Abiteboul, Preda & Cobena 2003), the online importance
estimate the crawl's score-driven frontier uses
(``CrawlConfig.opic_priority``).

Scale design:

- The URL-level graph at 10^10 URLs is too big to iterate cheaply —
  but crawl scheduling happens per host anyway (politeness), so
  :func:`host_edges` first collapses links to the host graph (one agg
  shuffle; hosts are ~10^7 even at full web scale).
- Every scorer runs on one graph prep (:func:`_graph`): the distinct
  edges and the node table with each node's out-degree, both
  checkpointed once, and the node count (an empty edge set raises
  :class:`EmptyGraphError`).
- Every scorer iterates in one round loop (:func:`_rounds`) over a
  per-node state. A round gathers contributions with one edge join
  over ``(node, score)`` pairs only — never text; PageRank and OPIC
  carry the out-degree on the state, so dangling nodes are the rows
  with ``outd == 0`` and no degree or dangling frame is joined.
  Dangling mass, HITS's normalization sums and OPIC's pool are
  one-row aggregates (driver scalars — the same bounded-collect class
  as the Bloom fold).
- Each round's state is a ``localCheckpoint`` (lineage truncation).
  The loop frees the state a round replaces, and the prep's tables,
  with ``checkpoint.release`` — ``DataFrame.unpersist`` does not free
  a localCheckpoint — so only the result's own state stays.

Cross-engine determinism: floating-point PageRank and HITS are
sum-order dependent, so every contribution is rounded to 12 dp before
the sum and every score to ``round_dp`` (default 9) after each round.
Host-graph sums aggregate ≤ fan-in terms of magnitude ≤ 1 with ulp
~1e-16, so accumulated error stays orders of magnitude below both
rounding grids — Spark and the unrolled-CTE DuckDB oracles produce
bit-identical scores. Integer OPIC needs no rounding protocol: its
cash is integer units, bit-identical across Spark, its python twin
and its SQL oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
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


class EmptyGraphError(ValueError):
    """The edge set a scorer was given is empty. A caller that treats
    "no edges yet" as a normal state catches this, not ``ValueError``,
    so bad arguments still raise."""


def _graph(edges: DataFrame) -> tuple[DataFrame, DataFrame, int]:
    """The prep every scorer shares: the distinct ``(src, dst)`` edges,
    the ``(node, outd)`` table of every endpoint with its out-degree
    (0 for a dangling node), both checkpointed, and the node count.
    Raises :class:`EmptyGraphError` on an empty edge set — the node
    count doubles as the emptiness test, so callers need no probe."""
    ed = edges.select("src", "dst").distinct().localCheckpoint()
    nodes = (
        ed.select(F.col("src").alias("node"), F.lit(1).alias("o"))
        .unionByName(ed.select(F.col("dst").alias("node"), F.lit(0).alias("o")))
        .groupBy("node")
        .agg(F.sum("o").alias("outd"))
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        release(ed)
        release(nodes)
        raise EmptyGraphError("empty edge set (no nodes to score)")
    return ed, nodes, n


def _rounds(
    ed: DataFrame,
    state: DataFrame,
    n_iter: int,
    step: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """``n_iter`` rounds of ``state = step(state)``, each round's state
    checkpointed. The state a round replaces is released — the first
    round's initial state is a projection of the prep's node table, so
    that table goes with it — and the edge table after the last round,
    so only the returned state's own checkpoint stays."""
    for _ in range(n_iter):
        prev, state = state, step(state).localCheckpoint()
        release(prev)
    release(ed)
    return state


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
    ed, nodes, n = _graph(edges)

    def step(ranks: DataFrame) -> DataFrame:
        dm = (
            ranks.filter(F.col("outd") == 0)
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
        )
        contribs = (
            ed.join(ranks, ed.src == ranks.node)
            .select("dst", F.round(F.col("rank") / F.col("outd"), 12).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        new_rank = F.round(
            F.lit((1.0 - damping) / n)
            + F.lit(damping)
            * (F.coalesce(F.col("s"), F.lit(0.0)) + F.lit(dm / n)),
            round_dp,
        )
        return ranks.join(contribs, ranks.node == contribs.dst, "left").select(
            "node", "outd", new_rank.alias("rank")
        )

    ranks = nodes.select(
        "node", "outd", F.round(F.lit(1.0 / n), round_dp).alias("rank")
    )
    return _rounds(ed, ranks, n_iter, step).select("node", "rank")


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

    Per round: two edge-keyed join+agg exchanges plus two driver-scale
    normalization sums, in the shared round loop."""
    ed, nodes, n = _graph(edges)

    def step(scores: DataFrame) -> DataFrame:
        # authorities from hubs (in-edge gather)
        araw = (
            ed.join(scores.select(F.col("node").alias("src"), "hub"), "src")
            .select("dst", F.round(F.col("hub"), 12).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        a_df = scores.join(araw, scores.node == araw.dst, "left").select(
            "node", F.coalesce(F.col("s"), F.lit(0.0)).alias("ar")
        )
        sa = a_df.agg(F.sum("ar")).first()[0]
        a_df = a_df.select(
            "node", F.round(F.col("ar") / F.lit(sa), round_dp).alias("auth")
        )
        # hubs from the NEW authorities (out-edge gather)
        hraw = (
            ed.join(a_df.select(F.col("node").alias("dst"), "auth"), "dst")
            .select("src", F.round(F.col("auth"), 12).alias("c"))
            .groupBy("src")
            .agg(F.sum("c").alias("s"))
        )
        h_df = scores.join(hraw, scores.node == hraw.src, "left").select(
            "node", F.coalesce(F.col("s"), F.lit(0.0)).alias("hr")
        )
        sh = h_df.agg(F.sum("hr")).first()[0]
        h_df = h_df.select(
            "node", F.round(F.col("hr") / F.lit(sh), round_dp).alias("hub")
        )
        return h_df.join(a_df, "node").select("node", "hub", "auth")

    init = F.round(F.lit(1.0 / n), round_dp)
    scores = nodes.select("node", init.alias("hub"), init.alias("auth"))
    return _rounds(ed, scores, n_iter, step)


def opic_int(
    edges: DataFrame, n_iter: int = 3, scale: int = 1_000_000
) -> DataFrame:
    """``(node, importance)`` — INTEGER-exact synchronous OPIC
    (Abiteboul, Preda & Cobena 2003, "Adaptive On-Line Page Importance
    Computation"), the importance estimate crawlers schedule by without
    a separate offline PageRank batch: all cash lives in integer units
    of ``1/scale``, so the result is bit-identical across Spark, the
    python simulator twin (:func:`opic_int_python` —
    CrawlConfig.opic_priority's fetch-order parity rests on it) and an
    unrolled-CTE SQL oracle — no floating-point rounding protocol
    needed, and the importance integers drop straight into the
    frontier's int ``priority``.

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

    No damping (the virtual page plays that role), and the HISTORY
    integral smooths the estimate over rounds — a new high-cash node
    ranks below an old consistently-cashed one, the freshness bias a
    crawl scheduler wants.

    Per round: one driver scalar (the cash that travels no edge) and
    one edge-keyed exchange (contributions), over ``(node, outd, cash,
    history)`` longs in the shared round loop."""
    if n_iter < 1 or scale < 1:
        raise ValueError("n_iter and scale must be >= 1")
    ed, nodes, n = _graph(edges)
    unit = scale // n
    pool = scale - n * unit
    # `div` = exact integral division on longs (F.floor(a/b) would
    # round-trip through double — loses exactness past 2^53 at
    # production scales)
    quota = F.expr("cash div outd")

    def step(state: DataFrame) -> DataFrame:
        nonlocal pool
        kept = F.when(F.col("outd") == 0, F.col("cash")).otherwise(
            F.col("cash") - F.col("outd") * quota
        )
        pool_in = pool + state.agg(F.sum(kept)).first()[0]
        share = pool_in // n
        pool = pool_in - share * n
        contribs = (
            ed.join(state, ed.src == state.node)
            .select("dst", quota.alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        return state.join(contribs, state.node == contribs.dst, "left").select(
            "node",
            "outd",
            (F.coalesce(F.col("s"), F.lit(0)) + F.lit(share))
            .cast("long")
            .alias("cash"),
            (F.col("history") + F.col("cash")).cast("long").alias("history"),
        )

    state = nodes.select(
        "node",
        "outd",
        F.lit(unit).cast("long").alias("cash"),
        F.lit(0).cast("long").alias("history"),
    )
    return _rounds(ed, state, n_iter, step).select(
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
