"""Iterative graph primitives on DataFrames.

Near-dup pipelines end with "pick one survivor per duplicate *cluster*",
and clusters are the connected components of the pair graph. With no graph
library in scope, components are computed by iterative min-label
propagation over joins — the standard map-reduce formulation:

    label(n) <- min(label(n), min over neighbors m of label(m))

repeated until fixpoint. Converges in O(graph diameter) rounds; near-dup
graphs are collections of small cliques, so the loop is short. Each round
is one join + aggregate; ``localCheckpoint`` truncates the plan lineage so
the DAG does not grow with iterations (the classic iterative-Spark trap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from monster_etl_spark.localrel import bounded_collect, local_df, spark_round

#: Edge cap of the driver tiers of ``connected_components`` and
#: ``pagerank_fixed_point``: one collect instead of O(diameter) joins, or
#: ~2.1 s of PageRank checkpoints and joins at sf0.1 (profile_query.py).
#: Read at call time; tests set it to 0 to force the distributed loops.
DRIVER_EDGE_CAP = 1_000_000


def _ensure_checkpoint_dir(df: DataFrame, checkpoint_dir: str | None) -> None:
    """Point the context at ``checkpoint_dir`` ONCE per operator call.

    ``SparkContext.setCheckpointDir`` mints a fresh UUID subdirectory on
    every invocation, so calling it per truncation (i.e. per iteration)
    would scatter one subdirectory per round — and reliable checkpoint
    files are not garbage-collected by default, so a long run would leak
    one full label-set snapshot per iteration across as many dirs. One
    call per CC/PageRank invocation keeps all of the run's snapshots in a
    single subdirectory; for long-lived applications enable
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (best-effort
    GC when the RDD is dereferenced) or delete the run's subdirectory
    after the job."""
    if checkpoint_dir is not None:
        df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)


def _truncate_lineage(df: DataFrame, checkpoint_dir: str | None, eager: bool = True) -> DataFrame:
    """Lineage-truncation point for the iterative loops.

    Default (``checkpoint_dir=None``): ``localCheckpoint`` — blocks live
    on executors; fast, but an executor loss mid-run kills the job since
    the lineage needed to recompute them was truncated. With
    ``checkpoint_dir`` set (an HDFS/object-store/shared-FS URI), a
    RELIABLE ``checkpoint``: blocks survive executor loss, which is the
    durability a long CC/PageRank run on a 1000-executor cluster needs
    (any single executor is likely to be lost during a multi-hour job).
    The caller must have pointed the context at the dir already via
    ``_ensure_checkpoint_dir`` — exactly once per operator call, NOT per
    truncation (see that helper for the leak this avoids)."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    return df.checkpoint(eager=eager)


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, component) for every node in ``pairs``; the component id is
    the minimum node id in the component (deterministic, engine-agnostic).

    Size-adaptive: near-dup pair graphs are tiny relative to the corpus
    (pairs ~ duplicates, not documents), so when the edge count is at most
    ``DRIVER_EDGE_CAP`` the components are solved with a driver-side
    union-find — one job instead of O(diameter) iterative joins. Larger
    graphs use distributed min-label propagation. Both paths produce the
    identical min-label result (cross-checked in tests, which set
    ``DRIVER_EDGE_CAP`` to 0 to force the distributed path). A graph with
    a NULL endpoint also takes the distributed path, whose result keeps
    one ``(NULL, NULL)`` row.

    Raises if the distributed fixpoint is not reached within ``max_iter``
    rounds (a diameter larger than max_iter — raise the bound for
    pathological chain-shaped graphs).

    ``checkpoint_dir``: pass a shared-FS/object-store URI to make every
    lineage-truncation point a RELIABLE checkpoint instead of the
    default executor-local ``localCheckpoint`` — required for runs long
    enough that executor loss is expected (see ``_truncate_lineage``).
    """
    # a NULL endpoint falls through to the distributed loop, like PageRank's
    got = _collect_edges(pairs, src, dst)
    if got is not None:
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(*got):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp: dict = {}
        for n in list(parent):
            comp.setdefault(find(n), []).append(n)
        rows = [(n, min(members)) for members in comp.values() for n in members]
        node_type = _node_type(pairs, src, dst)
        schema = T.StructType(
            [T.StructField("node", node_type), T.StructField("component", node_type)]
        )
        # Arrow-built LocalRelation: the plain createDataFrame(list) is
        # pickled-RDD-backed and re-runs a 32-task Python-worker wave on
        # EVERY downstream broadcast build of the component table
        # (measured ~0.5 s/eval inside q_corpus_curation — round-11)
        return local_df(pairs.sparkSession, rows, schema)

    _ensure_checkpoint_dir(pairs, checkpoint_dir)
    edges = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    edges = _truncate_lineage(edges, checkpoint_dir, eager=True)

    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    labels = _truncate_lineage(labels, checkpoint_dir, eager=True)

    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges.b == labels.node)
            .groupBy(edges.a.alias("n"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neigh, labels.node == neigh.n, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"),
            )
        )
        new_labels = _truncate_lineage(new_labels, checkpoint_dir, eager=True)
        changed = (
            new_labels.alias("new")
            .join(labels.alias("old"), "node")
            .filter(F.col("new.label") != F.col("old.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select("node", F.col("label").alias("component"))
    raise RuntimeError(f"connected_components did not converge in {max_iter} iterations")


def dedup_survivors(
    df: DataFrame, pairs: DataFrame, id_col: str, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """Keep one row per near-dup cluster: the row whose id IS the component
    label (the cluster minimum), plus every row not in any pair."""
    comps = connected_components(pairs, src, dst)
    losers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def bfs_hops(
    pairs: DataFrame,
    seeds: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    seed_col: str = "node",
    max_hops: int = 6,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """``(node, hop)``: minimum edge distance from ANY seed over the
    undirected pair graph, breadth-first, bounded by ``max_hops``.

    The traversal primitive the dedup/contamination graphs need beyond
    components: "everything within k hops of these known-bad documents"
    (contamination blast radius, takedown propagation, seed-set
    expansion). Deterministic: first visit = minimum hop, seeds at 0;
    nodes further than ``max_hops`` (or unreachable) are absent.

    Scale posture: each round is ONE frontier-x-edges equi-join plus a
    ``left_anti`` against the visited set — paths are never
    materialized (the transitive-closure blowup an adjacency-matrix or
    path-enumeration formulation hits); state is |visited| rows and the
    per-round shuffle is |frontier expansions|. Lineage is truncated
    every round (``localCheckpoint``, or a RELIABLE checkpoint under
    ``checkpoint_dir`` for executor-loss survival — see
    ``_truncate_lineage``), and an empty frontier exits early via a
    1-row probe, so cost is O(reached diameter), not ``max_hops``."""
    _ensure_checkpoint_dir(pairs, checkpoint_dir)
    edges = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    edges = _truncate_lineage(edges, checkpoint_dir, eager=True)

    visited = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).alias("hop"))
    )
    visited = _truncate_lineage(visited, checkpoint_dir, eager=True)
    frontier = visited.select("node")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.node") == F.col("e.a"))
            .select(F.col("e.b").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(h).alias("hop"))
        )
        nxt = _truncate_lineage(nxt, checkpoint_dir, eager=True)
        if not nxt.take(1):
            break
        visited = _truncate_lineage(
            visited.union(nxt), checkpoint_dir, eager=True
        )
        frontier = nxt.select("node")
    return visited


def _node_type(edges: DataFrame, src: str, dst: str):
    """Node type of a driver-tier result: the union-coerced type of BOTH
    endpoint columns, exactly as the distributed paths' union(...).distinct()
    resolves it (src-only typing would silently narrow dst ids)."""
    return (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .schema["node"]
        .dataType
    )


def _collect_edges(edges: DataFrame, src: str, dst: str):
    """The driver tiers' edge probe: ``(s_list, d_list)``, or ``None``
    when there are more than ``DRIVER_EDGE_CAP`` edges or any endpoint
    is null (the distributed join semantics handle nulls; the driver
    tier does not reproduce them)."""
    cols = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    tbl = bounded_collect(cols, DRIVER_EDGE_CAP, "edge")
    if tbl is None:
        return None
    s, d = tbl.column("_s"), tbl.column("_d")
    if s.null_count or d.null_count:
        return None
    return s.to_pylist(), d.to_pylist()


def _pagerank_driver(
    edges: DataFrame,
    s_list: list,
    d_list: list,
    iterations: int,
    d: int,
    base: int,
    src: str,
    dst: str,
) -> DataFrame:
    """Driver-tier fixed-point PageRank: the same integer recurrence as
    the distributed loop (floor division on non-negative longs == SQL
    ``div``; per-node in-sums are exact integer scatter-adds, so no
    fold-order question exists). numpy int64 arithmetic wraps like Java
    longs; the recurrence keeps every value <= ~100*base, far below
    overflow for the documented ``base``."""
    import numpy as np

    schema = T.StructType(
        [
            T.StructField("node", _node_type(edges, src, dst)),
            T.StructField("rank_fp", T.LongType()),
            T.StructField("rank", T.DoubleType()),
        ]
    )
    spark = edges.sparkSession
    nodes = sorted(set(s_list) | set(d_list))
    n = len(nodes)
    if n == 0:
        return local_df(spark, [], schema)
    idx = {v: i for i, v in enumerate(nodes)}
    s_idx = np.fromiter((idx[v] for v in s_list), dtype=np.int64, count=len(s_list))
    d_idx = np.fromiter((idx[v] for v in d_list), dtype=np.int64, count=len(d_list))
    out_deg = np.zeros(n, dtype=np.int64)
    np.add.at(out_deg, s_idx, 1)
    deg_per_edge = out_deg[s_idx]
    tele = ((100 - d) * base) // (100 * n)
    ranks = np.full(n, base // n, dtype=np.int64)
    for _ in range(iterations):
        contrib = ranks[s_idx] // deg_per_edge
        in_sum = np.zeros(n, dtype=np.int64)
        np.add.at(in_sum, d_idx, contrib)
        ranks = tele + (d * in_sum) // 100
    fb = float(base)
    rows = [
        (v, int(r), spark_round(int(r) / fb, 6)) for v, r in zip(nodes, ranks)
    ]
    return local_df(spark, rows, schema)


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping_pct: int = 85,
    base: int = 10**12,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """PageRank over a directed edge list in FIXED-POINT integer
    arithmetic: ranks are scaled to ``base`` (1.0 == 10^12) and every
    step uses only long addition/multiplication and floor division, so
    the result is bit-identical on any engine and any partitioning — an
    iterative algorithm that can be HASH-verified against an unrolled-CTE
    SQL oracle, where float PageRank could only ever be approximately
    compared. (Floor division sheds up to ``out_deg`` units of 1e-12 mass
    per node per round — a deterministic variant, documented, not drift.)

        r0(n)   = base div N
        r_{k+1} = ((100 - d) * base) div (100 * N)
                  + (d * sum over in-neighbors m of r_k(m) div out_deg(m)) div 100

    Dangling nodes (no out-edges) keep their rank but contribute nothing —
    standard simplified PageRank; symmetrize the edge list to avoid them.

    Scale shape: each round is one equi-join of the rank table with the
    edge list plus one map-side-combinable sum — the canonical iterative-
    join loop. The plan grows linearly with ``iterations`` (no
    checkpointing needed at <=10 rounds); for long runs insert
    ``localCheckpoint`` every ~10 rounds as ``connected_components`` does.

    Returns (node, rank_fp, rank) — the exact fixed-point long and the
    convenience double ``rank_fp / base`` rounded 6dp. ``checkpoint_dir``
    upgrades the edge materialization to a reliable checkpoint (see
    ``_truncate_lineage``).

    Size-adaptive (round-11): when the edge list has at most
    ``DRIVER_EDGE_CAP`` rows and no ``checkpoint_dir`` is given, it is
    collected once (the same edge probe as ``connected_components``'
    union-find path) and the identical integer recurrence runs in numpy
    on the driver — every step is long addition/multiplication and floor
    division on non-negative values, so the driver result is
    bit-identical BY CONSTRUCTION, not merely within a rounding band.
    This replaces the edge/deg/rank checkpoints, the count job, and the
    ``iterations``-deep join chain (~2.1 s of driver-synchronous
    materialization at sf0.1, tools/profile_query.py) with one collect.
    Larger graphs keep the distributed loop; tests set
    ``DRIVER_EDGE_CAP`` to 0 to force it.
    """
    got = None if checkpoint_dir is not None else _collect_edges(edges, src, dst)
    if got is not None:
        return _pagerank_driver(
            edges, got[0], got[1], iterations, int(damping_pct), base, src, dst
        )
    # Materialize the edge list ONCE before iterating: every round joins
    # it, and so do nodes/deg — without this the edge lineage (often an
    # expensive derivation, e.g. the Apriori pair mine feeding
    # text_token_pagerank) re-executes per iteration. Same discipline as
    # connected_components' localCheckpoint.
    _ensure_checkpoint_dir(edges, checkpoint_dir)
    e = _truncate_lineage(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")), checkpoint_dir
    )
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    ).distinct()
    deg = e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("out_deg"))

    d = int(damping_pct)
    # out_deg is a property of the edge's SOURCE: attach it to the edge
    # list ONCE instead of re-joining `deg` inside every round (round-11;
    # guide §2.4 — one whole join per iteration removed). Partition by
    # the probe key before checkpointing: LogicalRDD preserves the
    # physical partitioning, so the per-round rank join needs no exchange
    # on this (much larger) side.
    e_deg = _truncate_lineage(
        e.select(F.col("src").alias("node"), "dst")
        .join(deg, "node")
        .repartition(F.col("node")),
        checkpoint_dir,
    )
    # n_nodes is ONE scalar: resolve it on the driver (bounded collect,
    # the same contract as the centroid-array collects) and fold the
    # teleport term into a literal — the old per-round
    # BroadcastNestedLoopJoin of a 1-row aggregate, and the nodes-distinct
    # subtree it re-ran, disappear from every iteration. All arithmetic
    # stays in the same integer domain, so ranks are bit-identical.
    n_nodes = nodes.count()
    safe_n = max(1, n_nodes)  # n_nodes == 0 -> ranks is empty; value unused
    tele = F.lit(((100 - d) * base) // (100 * safe_n)).cast("long")
    ranks = _truncate_lineage(
        nodes.repartition(F.col("node")).select(
            "node", F.lit(base // safe_n).cast("long").alias("rank_fp")
        ),
        checkpoint_dir,
    )
    for _ in range(iterations):
        contrib = ranks.join(e_deg, "node").select(
            F.col("dst").alias("node"), F.expr("rank_fp div out_deg").alias("c")
        )
        in_sum = contrib.groupBy("node").agg(F.sum("c").alias("in_sum"))
        ranks = (
            ranks.drop("rank_fp")
            .join(in_sum, "node", "left")
            .select(
                "node",
                (tele + F.expr(f"({d} * coalesce(in_sum, 0)) div 100")).alias("rank_fp"),
            )
        )
    return ranks.select(
        "node",
        "rank_fp",
        F.round(F.col("rank_fp").cast("double") / F.lit(float(base)), 6).alias("rank"),
    )
