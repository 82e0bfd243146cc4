"""Fixed-point PageRank: the Spark iterative-join loop must reproduce a
straightforward pure-Python fixed-point evaluation exactly (that's the
whole point of integer arithmetic — no tolerance, bit equality), and the
known structure of a star graph must rank the hub first."""

import pytest

from monster_etl_spark.operators import graph
from monster_etl_spark.operators.graph import pagerank_fixed_point

BASE = 10**12


def _reference(edges, iterations=5, d=85):
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    out_deg = {}
    for a, _ in edges:
        out_deg[a] = out_deg.get(a, 0) + 1
    rank = {v: BASE // n for v in nodes}
    tele = ((100 - d) * BASE) // (100 * n)
    for _ in range(iterations):
        in_sum = {v: 0 for v in nodes}
        for a, b in edges:
            in_sum[b] += rank[a] // out_deg[a]
        rank = {v: tele + (d * in_sum[v]) // 100 for v in nodes}
    return rank


@pytest.mark.parametrize(
    "cap", [graph.DRIVER_EDGE_CAP, 0], ids=["driver", "distributed"]
)
def test_pagerank_matches_reference_exactly(spark, monkeypatch, cap):
    # both tiers (numpy on the driver, and the distributed join loop that
    # a zero cap forces) on an asymmetric directed graph incl. a dangling
    # node (4 has no out-edges)
    monkeypatch.setattr(graph, "DRIVER_EDGE_CAP", cap)
    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (2, 4), (5, 3), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank_fp"] for r in pagerank_fixed_point(df).collect()}
    assert got == _reference(edges)


def test_pagerank_star_hub_ranks_first(spark):
    spokes = list(range(2, 12))
    edges = [(1, s) for s in spokes] + [(s, 1) for s in spokes]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = {r["node"]: r["rank_fp"] for r in pagerank_fixed_point(df).collect()}
    hub = rows.pop(1)
    assert all(hub > v for v in rows.values())
    spoke_vals = set(rows.values())
    assert len(spoke_vals) == 1  # symmetric spokes tie exactly
