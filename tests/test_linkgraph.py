"""Link-graph analytics: host-edge aggregation, degrees, PageRank
(mass conservation, dangling redistribution, python-twin equality),
HITS and integer OPIC (python-twin equality), the scorers' checkpoint
release, rank-driven frontier priority."""

import pytest
from pyspark.sql import functions as F

from wos_crawler_spark.operators.linkgraph import (
    degrees,
    hits,
    host_edges,
    opic_int,
    opic_int_python,
    pagerank,
    rank_priority,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _pagerank_twin(pairs, n_iter=5, d=0.85, dp=9):
    """Pure-python mirror of the operator's rounded power iteration."""
    edges = sorted(set(pairs))
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    n = len(nodes)
    outd = {}
    for s, _ in edges:
        outd[s] = outd.get(s, 0) + 1
    rank = {v: round(1.0 / n, dp) for v in nodes}
    for _ in range(n_iter):
        dm = sum(rank[v] for v in nodes if v not in outd)
        contrib = {}
        for s, t in edges:
            contrib[t] = contrib.get(t, 0.0) + round(rank[s] / outd[s], 12)
        rank = {
            v: round((1 - d) / n + d * (contrib.get(v, 0.0) + dm / n), dp)
            for v in nodes
        }
    return rank


def test_host_edges(spark):
    links = spark.createDataFrame(
        [
            ("https://a.com/1", "https://b.com/x"),
            ("https://a.com/2", "https://b.com/y"),   # same host pair
            ("https://a.com/3", "https://a.com/4"),   # self loop dropped
            ("https://c.com/", "https://a.com/"),
        ],
        "src_url string, dst_url string",
    )
    got = {(r.src, r.dst): r.weight for r in host_edges(links).collect()}
    assert got == {("a.com", "b.com"): 2, ("c.com", "a.com"): 1}


def test_degrees(spark):
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "c")])
    got = {r.node: (r.out_degree, r.in_degree) for r in degrees(e).collect()}
    assert got == {"a": (2, 0), "b": (1, 1), "c": (0, 2)}


def test_pagerank_conserves_mass_and_ranks_authority(spark):
    # star: everyone links to 'hub', hub links back to one node
    pairs = [("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "a")]
    r = {x.node: x.rank for x in pagerank(_edges(spark, pairs), 10).collect()}
    assert abs(sum(r.values()) - 1.0) < 1e-6
    # hub and its sole out-neighbor trade the recirculated mass while
    # converging; both dominate the leaf nodes at every iteration count
    top2 = sorted(r, key=r.get, reverse=True)[:2]
    assert set(top2) == {"hub", "a"}
    assert r["b"] == r["c"] < min(r["hub"], r["a"])


def test_pagerank_matches_python_twin(spark):
    # deterministic pseudo-random digraph incl. a dangling node chain
    pairs = [(f"h{i % 13}", f"h{(i * 7 + 3) % 17}") for i in range(60)]
    got = {x.node: x.rank for x in pagerank(_edges(spark, pairs), 5).collect()}
    assert got == _pagerank_twin(pairs, 5)


def test_pagerank_dangling(spark):
    # b has no out-links: its mass must recirculate, not vanish
    r = {x.node: x.rank
         for x in pagerank(_edges(spark, [("a", "b")]), 8).collect()}
    assert abs(sum(r.values()) - 1.0) < 1e-6
    assert r["b"] > r["a"]


def test_rank_priority(spark):
    ranks = spark.createDataFrame(
        [("big.com", 0.5), ("small.com", 0.1)], "node string, rank double"
    )
    frontier = spark.createDataFrame(
        [(1, "big.com"), (2, "small.com"), (3, "new.com")],
        "id long, host string",
    )
    got = {r.id: r.priority
           for r in rank_priority(frontier, ranks).collect()}
    assert got[1] == 0.5 and got[2] == 0.1
    assert got[3] == 0.1  # unknown host gets the floor, not 0


def test_pagerank_empty_graph_raises(spark):
    empty = spark.createDataFrame([], "src string, dst string")
    with pytest.raises(ValueError, match="empty edge set"):
        pagerank(empty)


def test_url_rank_drives_quota(spark):
    """URL-keyed PageRank feeding schedule_wave's W1 quota: the
    host's single slot goes to its highest-ranked URL."""
    from wos_crawler_spark.operators.politeness import schedule_wave

    # u_hot is linked by three pages; u_cold by one
    links = [("a", "u_hot"), ("b", "u_hot"), ("c", "u_hot"), ("a", "u_cold")]
    ranks = pagerank(spark.createDataFrame(links, "src string, dst string"), 8)
    frontier = spark.createDataFrame(
        [("u_hot", "h.com", 11, 0), ("u_cold", "h.com", 22, 0)],
        "url string, host string, url_hash long, discovered_wave int",
    )
    prio = rank_priority(frontier, ranks, key_col="url")
    hot = {r.url: r.priority for r in prio.collect()}
    assert hot["u_hot"] > hot["u_cold"]
    picked = schedule_wave(prio, delay_s=0.1, quota=1).collect()
    assert [r.url for r in picked] == ["u_hot"]


def _hits_twin(pairs, n_iter):
    nodes = sorted({n for e in pairs for n in e})
    n = len(nodes)
    hub = {v: round(1.0 / n, 9) for v in nodes}
    auth = dict(hub)
    edges = sorted(set(pairs))
    for _ in range(n_iter):
        ar = {v: 0.0 for v in nodes}
        for s, d in edges:
            ar[d] += round(hub[s], 12)
        sa = sum(ar.values())
        auth = {v: round(ar[v] / sa, 9) for v in nodes}
        hr = {v: 0.0 for v in nodes}
        for s, d in edges:
            hr[s] += round(auth[d], 12)
        sh = sum(hr.values())
        hub = {v: round(hr[v] / sh, 9) for v in nodes}
    return hub, auth


def test_hits_python_twin_and_semantics(spark):
    # hub -> {a1, a2, a3}; a1..a3 also pointed at by spokes; one
    # isolated-ish edge pair
    pairs = (
        [("hub", f"a{i}") for i in (1, 2, 3)]
        + [(f"s{j}", f"a{(j % 3) + 1}") for j in range(4)]
        + [("x", "y")]
    )
    df = spark.createDataFrame(pairs, "src string, dst string")
    got = {
        r.node: (round(r.hub, 6), round(r.auth, 6))
        for r in hits(df, n_iter=4).collect()
    }
    hub_t, auth_t = _hits_twin(pairs, 4)
    want = {
        v: (round(hub_t[v], 6), round(auth_t[v], 6)) for v in hub_t
    }
    assert got == want
    # semantics: 'hub' is the best hub; authorities dominate spokes'
    # auth; pure-authority nodes have zero hub mass
    assert got["hub"][0] == max(v[0] for v in got.values())
    assert all(got[f"a{i}"][1] > got["hub"][1] for i in (1, 2, 3))
    assert got["a1"][0] == 0.0 and got["y"][0] == 0.0


def test_hits_empty_raises(spark):
    df = spark.createDataFrame([], "src string, dst string")
    with pytest.raises(ValueError):
        hits(df)


def test_opic_python_twin_and_conservation(spark):
    pairs = (
        [("hub", f"a{i}") for i in (1, 2, 3)]
        + [(f"s{j}", "hub") for j in range(4)]
        + [("a1", "sink")]  # sink is dangling
    )
    n_iter, scale = 5, 1_000_000
    df = spark.createDataFrame(pairs, "src string, dst string")
    got = {r.node: r.importance for r in opic_int(df, n_iter, scale).collect()}
    assert got == opic_int_python(pairs, n_iter, scale)
    # conservation: each of the n_iter+1 banked cash vectors sums to
    # scale minus a pool remainder below n
    lost = (n_iter + 1) * scale - sum(got.values())
    assert 0 <= lost < (n_iter + 1) * len(got)
    # the hub (pointed at by 4 spokes) outranks every spoke
    assert all(got["hub"] > got[f"s{j}"] for j in range(4))


def test_opic_empty_raises(spark):
    df = spark.createDataFrame([], "src string, dst string")
    with pytest.raises(ValueError, match="empty edge set"):
        opic_int(df)


@pytest.mark.parametrize("n_iter", [2, 8])
@pytest.mark.parametrize("scorer", [pagerank, hits, opic_int],
                         ids=["pagerank", "hits", "opic_int"])
def test_scorer_releases_its_checkpoints(spark, scorer, n_iter):
    """Every round's superseded state and the graph prep are freed
    (``DataFrame.unpersist`` does not free a localCheckpoint): only the
    result's own state stays persistent, whatever the round count."""
    pairs = [(f"h{i % 13}", f"h{(i * 7 + 3) % 17}") for i in range(60)]
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    scorer(_edges(spark, pairs), n_iter=n_iter).collect()
    assert len(set(jsc.getPersistentRDDs().keySet()) - before) <= 1
