"""Connected components vs a brute-force Python union-find, on random
graphs and the handmade shapes that stress label propagation."""

import random

import pytest
from pyspark.sql import functions as F

from monster_etl_spark.operators import graph
from monster_etl_spark.operators.graph import connected_components, dedup_survivors


def _uf_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # fully compress, then label = min of component
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    out = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def _check(spark, monkeypatch, edges):
    nodes = sorted({x for e in edges for x in e})
    expected = _uf_components(edges, nodes)
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    # both the driver union-find fast path and the distributed propagation
    # path must produce the identical min-label result
    got_fast = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    monkeypatch.setattr(graph, "DRIVER_EDGE_CAP", 0)
    got_dist = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got_fast == expected
    assert got_dist == expected


def test_two_triangles_and_a_chain(spark, monkeypatch):
    _check(
        spark,
        monkeypatch,
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (20, 21), (21, 22), (22, 23)],
    )


def test_long_chain(spark, monkeypatch):
    # worst case for label propagation: diameter = n
    _check(spark, monkeypatch, [(i, i + 1) for i in range(0, 15)])


def test_random_graph_matches_union_find(spark, monkeypatch):
    rng = random.Random(42)
    nodes = list(range(100))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, monkeypatch, edges)


def test_null_endpoint_same_rows_on_both_tiers(spark, monkeypatch):
    """A NULL endpoint sends the default call to the distributed loop
    (the driver union-find cannot order NULL against ids), so both calls
    give the components plus the one ``(NULL, NULL)`` row."""
    pairs = spark.createDataFrame([(1, 2), (2, None), (3, 4)], "doc_a bigint, doc_b bigint")
    want = [(None, None), (1, 1), (2, 1), (3, 3), (4, 3)]

    def rows():
        got = connected_components(pairs).collect()
        return sorted((tuple(r) for r in got), key=lambda t: (t[0] is not None, t))

    assert rows() == want
    monkeypatch.setattr(graph, "DRIVER_EDGE_CAP", 0)
    assert rows() == want


def test_dedup_survivors(spark):
    df = spark.createDataFrame([(i, f"d{i}") for i in range(6)], "doc_id bigint, text string")
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], "doc_a bigint, doc_b bigint")
    kept = sorted(r["doc_id"] for r in dedup_survivors(df, pairs, "doc_id").collect())
    # cluster {0,1,2} -> keep 0; {4,5} -> keep 4; 3 untouched
    assert kept == [0, 3, 4]


def test_connected_components_reliable_checkpoint(spark, tmp_path, monkeypatch):
    """checkpoint_dir knob: the distributed min-label path with a RELIABLE
    checkpoint (file:/ here; HDFS/object store on a cluster) must produce
    the same components as the default localCheckpoint path, and must
    actually write RDD checkpoint data under the dir (executor-loss
    durability — round-3 verdict #4)."""
    import os

    from monster_etl_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)], "doc_a: long, doc_b: long"
    )
    ckpt = str(tmp_path / "ckpt")
    monkeypatch.setattr(graph, "DRIVER_EDGE_CAP", 0)
    local = {(r.node, r.component) for r in connected_components(pairs).collect()}
    reliable = {
        (r.node, r.component)
        for r in connected_components(pairs, checkpoint_dir=ckpt).collect()
    }
    assert reliable == local
    assert {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)} <= reliable
    # reliable checkpoint data actually landed on the shared FS
    found = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert found, "no checkpoint files written under checkpoint_dir"


def test_pagerank_reliable_checkpoint_matches(spark, tmp_path):
    from monster_etl_spark.operators.graph import pagerank_fixed_point

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 2)], "src: long, dst: long"
    )
    a = {(r.node, r.rank_fp) for r in pagerank_fixed_point(edges, iterations=3).collect()}
    b = {
        (r.node, r.rank_fp)
        for r in pagerank_fixed_point(
            edges, iterations=3, checkpoint_dir=str(tmp_path / "ck2")
        ).collect()
    }
    assert a == b


def test_bfs_hops_chain_cycle_and_bounds(spark):
    from pyspark.sql import functions as F

    from monster_etl_spark.operators.graph import bfs_hops

    # chain 1-2-3-4-5-6 plus a cycle 10-11-12-10 and an isolated seed 99
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (11, 12), (12, 10)],
        "doc_a long, doc_b long",
    )
    seeds = spark.createDataFrame([(1,), (10,), (99,)], "node long")
    got = {r["node"]: r["hop"] for r in bfs_hops(pairs, seeds, max_hops=3).collect()}
    assert got == {
        1: 0, 10: 0, 99: 0,          # seeds, isolated one included
        2: 1, 11: 1, 12: 1,          # cycle reached both ways at hop 1
        3: 2, 4: 3,                  # chain cut off by max_hops=3 (5,6 absent)
    }
    # first visit wins over a longer alternative path
    tri = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "doc_a long, doc_b long")
    s1 = spark.createDataFrame([(1,)], "node long")
    got2 = {r["node"]: r["hop"] for r in bfs_hops(tri, s1, max_hops=5).collect()}
    assert got2 == {1: 0, 2: 1, 3: 1}
    # early exit: empty frontier long before max_hops (no error, same result)
    got3 = {r["node"]: r["hop"] for r in bfs_hops(tri, s1, max_hops=50).collect()}
    assert got3 == got2


def test_driver_tier_probe_names_its_jobs(spark):
    """Every driver tier's bounded collect (the edge probe of PageRank
    and connected components, the k-means and PQ fit probes) runs under
    a job description naming the probe and its cap, then restores the
    caller's description."""
    from monster_etl_spark import metrics
    from monster_etl_spark.operators import similarity as sim
    from monster_etl_spark.operators.graph import pagerank_fixed_point

    sc = spark.sparkContext
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "doc_a long, doc_b long")
    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 5), 0.5]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    probes = [
        ("edge", lambda: pagerank_fixed_point(edges)),
        ("edge", lambda: connected_components(pairs)),
        ("k-means fit", lambda: sim.kmeans_centroids(emb, n_centroids=2)),
        ("PQ fit", lambda: sim.pq_codebooks(emb, m=2, n_codes=2)),
    ]
    sc.setJobDescription("caller")
    try:
        for label, build in probes:
            before = metrics.snapshot(spark)
            build()
            jobs = metrics.jobs(before, metrics.snapshot(spark))
            assert jobs
            prefix = f"driver-tier {label} probe: collect <= "
            assert all(j["desc"].startswith(prefix) for j in jobs), (label, jobs)
            assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    assert sc.getLocalProperty("spark.job.description") is None
