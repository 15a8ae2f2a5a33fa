"""Link-graph centrality operators the scheduler's host budgets run on:
pagerank, trustrank and OPIC (batch and one adaptive round at a time), each
pinned against a pure-Python twin on a hand graph."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

# 1↔2 core, 3→1 feeder, 4 dangling (out-degree 0: mass must redistribute),
# 5 isolated (teleport-only rank via the node universe)
PR_EDGES = [(1, 2), (2, 1), (3, 1), (1, 4)]
PR_NODES = [1, 2, 3, 4, 5]


def _pagerank_py(edges, nodes, n_iter=8, damping=0.85):
    out: dict[int, list] = {}
    for s, d in set(edges):
        out.setdefault(s, []).append(d)
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        m = sum(rank[v] for v in nodes if v not in out)
        contrib: dict[int, float] = {v: 0.0 for v in nodes}
        for s, dsts in out.items():
            for d in dsts:
                contrib[d] += rank[s] / len(dsts)
        # operator contract: each iterate is quantized to 9 dp (resets
        # accumulation-order drift below the grid — round-5 determinism)
        rank = {
            v: round((1.0 - damping) / n + damping * (contrib[v] + m / n), 9)
            for v in nodes
        }
    return rank


def test_pagerank_matches_power_iteration_twin(spark):
    from dataset_crawler_spark.operators.graph import pagerank

    edges = spark.createDataFrame(PR_EDGES, "src long, dst long")
    nodes = spark.createDataFrame([(v,) for v in PR_NODES], "node long")
    got = {r.node: r.rank for r in pagerank(edges, nodes=nodes).collect()}
    want = _pagerank_py(PR_EDGES, PR_NODES)
    assert set(got) == set(want)
    for v in PR_NODES:
        assert abs(got[v] - want[v]) < 1e-12
    # total mass is conserved (dangling redistribution leaks nothing) up to
    # the per-iterate 9-dp quantization residue (≤ n·0.5e-9 per iteration)
    assert abs(sum(got.values()) - 1.0) < len(PR_NODES) * 1e-9
    # structure: 1 (two in-links incl. the core loop) outranks the feeder 3
    # and the isolated 5
    assert got[1] > got[3] > 0
    assert got[1] > got[5]


def test_pagerank_partitioning_invariance(spark):
    from dataset_crawler_spark.operators.graph import pagerank

    edges = spark.createDataFrame(PR_EDGES, "src long, dst long")
    one = {r.node: r.rank for r in pagerank(edges.coalesce(1)).collect()}
    many = {r.node: r.rank for r in pagerank(edges.repartition(5)).collect()}
    assert set(one) == set(many)
    for v in one:
        assert abs(one[v] - many[v]) < 1e-12


def _trustrank_py(edges, nodes, trusted, n_iter=8, damping=0.85):
    out: dict[int, list] = {}
    for s, d in set(edges):
        out.setdefault(s, []).append(d)
    tel = {v: (1.0 / len(trusted) if v in trusted else 0.0) for v in nodes}
    rank = dict(tel)
    for _ in range(n_iter):
        m = sum(rank[v] for v in nodes if v not in out)
        contrib: dict[int, float] = {v: 0.0 for v in nodes}
        for s, dsts in out.items():
            for d in dsts:
                contrib[d] += rank[s] / len(dsts)
        rank = {
            v: (1.0 - damping) * tel[v] + damping * (contrib[v] + m * tel[v])
            for v in nodes
        }
    return rank


def test_trustrank_matches_python_twin(spark):
    from dataset_crawler_spark.operators.graph import trustrank

    edges = spark.createDataFrame(PR_EDGES, "src long, dst long")
    nodes = spark.createDataFrame([(v,) for v in PR_NODES], "node long")
    trusted = spark.createDataFrame([(3,)], "node long")
    got = {
        r.node: r.trust
        for r in trustrank(edges, trusted, nodes=nodes).collect()
    }
    want = _trustrank_py(PR_EDGES, PR_NODES, {3})
    assert set(got) == set(want)
    for v in PR_NODES:
        assert abs(got[v] - want[v]) < 1e-12
    # total trust is conserved (dangling mass redistributes along teleport)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # spam-demotion property: the isolated node 5 is reachable from no
    # trusted seed → trust EXACTLY 0 (pagerank gives it teleport mass)
    assert got[5] == 0.0
    # trust flows 3→1→{2,4}: everything downstream of the seed is positive
    assert got[1] > 0 and got[2] > 0 and got[4] > 0


def test_trustrank_empty_seed_raises(spark):
    from dataset_crawler_spark.operators.graph import trustrank

    edges = spark.createDataFrame(PR_EDGES, "src long, dst long")
    # seed 99 is outside the node universe → effective seed set is empty
    trusted = spark.createDataFrame([(99,)], "node long")
    with pytest.raises(ValueError, match="no trusted seed"):
        trustrank(edges, trusted)


def test_trustrank_strategy_invariance(spark):
    from dataset_crawler_spark.operators.graph import trustrank

    edges = spark.createDataFrame(PR_EDGES, "src long, dst long")
    trusted = spark.createDataFrame([(1,), (3,)], "node long")
    small = {r.node: r.trust for r in trustrank(edges, trusted).collect()}
    big = {
        r.node: r.trust
        for r in trustrank(edges, trusted, broadcast_threshold=0).collect()
    }
    assert small.keys() == big.keys()
    for v in small:
        assert abs(small[v] - big[v]) < 1e-12


def _opic_py(edges, nodes, n_rounds=8):
    out: dict[int, list] = {}
    for s, d in set(edges):
        out.setdefault(s, []).append(d)
    n = len(nodes)
    cash = {v: 1.0 / n for v in nodes}
    hist = {v: 0.0 for v in nodes}
    for _ in range(n_rounds):
        m = sum(cash[v] for v in nodes if v not in out)
        recv = {v: 0.0 for v in nodes}
        for s, dsts in out.items():
            for d in dsts:
                recv[d] += cash[s] / len(dsts)
        hist = {v: hist[v] + cash[v] for v in nodes}
        cash = {v: recv[v] + m / n for v in nodes}
    return {v: (hist[v] + cash[v]) / (n_rounds + 1) for v in nodes}


def test_opic_matches_python_twin(spark):
    from dataset_crawler_spark.operators.graph import opic

    edges = spark.createDataFrame(PR_EDGES, "src long, dst long")
    nodes = spark.createDataFrame([(v,) for v in PR_NODES], "node long")
    got = {r.node: r.importance for r in opic(edges, nodes=nodes).collect()}
    want = _opic_py(PR_EDGES, PR_NODES)
    assert set(got) == set(want)
    for v in PR_NODES:
        assert abs(got[v] - want[v]) < 1e-12
    # cash conservation: total importance is exactly the invariant 1
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # the 1↔2 core accumulates the most cash history
    assert got[1] == max(got.values())


def test_hits_opic_strategy_invariance(spark):
    """broadcast_threshold=0 forces the repartition(key).cache() path; the
    default rides broadcast joins — values must be identical either way
    (same contract pagerank pins via test_pagerank_partitioning_invariance).
    The HITS half went with the operator; the name is kept for history."""
    from dataset_crawler_spark.operators.graph import opic

    edges = spark.createDataFrame(PR_EDGES, "src long, dst long")
    o_small = {r.node: r.importance for r in opic(edges).collect()}
    o_big = {
        r.node: r.importance
        for r in opic(edges, broadcast_threshold=0).collect()
    }
    assert o_small.keys() == o_big.keys()
    for v in o_small:
        assert abs(o_small[v] - o_big[v]) < 1e-12


def _opic_online_py(edges, nodes, fetch_sets):
    """Pure-Python adaptive-OPIC twin: per round only the fetched subset
    banks cash and distributes it; fetched dangling mass spreads uniformly."""
    out: dict[int, list] = {}
    for s, d in set(edges):
        out.setdefault(s, []).append(d)
    n = len(nodes)
    cash = {v: 1.0 / n for v in nodes}
    hist = {v: 0.0 for v in nodes}
    for fetched in fetch_sets:
        m = sum(cash[v] for v in fetched if v not in out)
        recv = {v: 0.0 for v in nodes}
        for u in fetched:
            for d in out.get(u, []):
                recv[d] += cash[u] / len(out[u])
        hist = {v: hist[v] + (cash[v] if v in fetched else 0.0) for v in nodes}
        cash = {
            v: (0.0 if v in fetched else cash[v]) + recv[v] + m / n for v in nodes
        }
    return cash, hist


def test_opic_step_full_fetch_equals_synchronous(spark):
    """Stepping with fetched = EVERY node must reproduce the synchronous
    variant exactly — the adaptive update degenerates to opic()."""
    from dataset_crawler_spark.operators.graph import opic, opic_step

    edges = spark.createDataFrame(PR_EDGES, "src long, dst long")
    nodes = spark.createDataFrame([(v,) for v in PR_NODES], "node long")
    n = len(PR_NODES)
    state = nodes.select(
        "node", F.lit(1.0 / n).alias("cash"), F.lit(0.0).alias("hist")
    )
    k = 4
    for _ in range(k):
        state = opic_step(state, edges, nodes).localCheckpoint(eager=False)
    got = {
        r.node: (r.hist + r.cash) / (k + 1)
        for r in state.collect()
    }
    want = {r.node: r.importance for r in opic(edges, nodes=nodes, n_rounds=k).collect()}
    assert set(got) == set(want)
    for v in PR_NODES:
        assert abs(got[v] - want[v]) < 1e-12


def test_opic_step_partial_fetch_matches_python_twin(spark):
    from dataset_crawler_spark.operators.graph import opic_step

    edges = spark.createDataFrame(PR_EDGES, "src long, dst long")
    nodes = spark.createDataFrame([(v,) for v in PR_NODES], "node long")
    n = len(PR_NODES)
    fetch_sets = [{1, 4}, {2, 5}, {3}, {1, 2, 3}]
    state = nodes.select(
        "node", F.lit(1.0 / n).alias("cash"), F.lit(0.0).alias("hist")
    )
    for fs in fetch_sets:
        fetched = spark.createDataFrame([(v,) for v in sorted(fs)], "node long")
        state = opic_step(state, edges, fetched).localCheckpoint(eager=False)
    rows = state.collect()
    got_c = {r.node: r.cash for r in rows}
    got_h = {r.node: r.hist for r in rows}
    want_c, want_h = _opic_online_py(PR_EDGES, PR_NODES, fetch_sets)
    for v in PR_NODES:
        assert abs(got_c[v] - want_c[v]) < 1e-12
        assert abs(got_h[v] - want_h[v]) < 1e-12
    # cash conservation: the invariant that makes the estimate consistent
    assert abs(sum(got_c.values()) - 1.0) < 1e-9
