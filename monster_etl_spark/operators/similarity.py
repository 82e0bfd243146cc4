"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k — exact, O(|Q| x |N|); correct shape for
a small query set against a large corpus when the corpus side stays
distributed and the query side is broadcast. Scale path: sign-LSH (random
hyperplane simplified to axis sign patterns) bucketing so candidates meet
only inside buckets.

All arithmetic is element-wise double math via built-in higher-order
functions (``zip_with``/``aggregate``) — JVM-side, no Python UDFs.
Similarities are rounded (6dp) so results are deterministic across
summation strategies and oracle-checkable in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from monster_etl_spark.localrel import bounded_collect
from monster_etl_spark.operators.partitioning import spread as _spread
from monster_etl_spark.pyworkers import map_in_pandas
from monster_etl_spark.sql import quote_ident

SIGN_LSH_DIMS = 8  # first b dims' sign bits form the bucket key


# --- Expression builders ---------------------------------------------------
# Every builder takes column NAMES and parses one Spark-SQL string: the
# Column-API construction of a cosine is ~50 py4j round trips, the parsed
# string one, and both give the same Catalyst tree (HOF lambdas, double
# literals via the 0.0D suffix). The JVM fold order ``acc + x*y`` from
# 0.0, index ascending, is the one the Arrow and driver tiers replay
# bit for bit (:func:`_left_fold`).


def _qid(name: str) -> str:
    """Backtick-quote a plain or dot-qualified column reference. Each
    '.'-separated segment is one identifier (callers write qualified refs
    as "a.vec"); a column whose NAME contains a dot must be renamed
    first."""
    return ".".join(quote_ident(part) for part in name.split("."))


def _as_double_sql(a: str) -> str:
    return f"transform({a}, x -> CAST(x AS DOUBLE))"


def _dot_sql(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def _norm_sql(a: str) -> str:
    return f"sqrt(aggregate({a}, 0.0D, (acc, x) -> acc + x * x))"


def _cosine_sql(a: str, b: str) -> str:
    da, db = _as_double_sql(a), _as_double_sql(b)
    return f"({_dot_sql(da, db)} / nullif({_norm_sql(da)} * {_norm_sql(db)}, 0.0D))"


def _as_double(a: str) -> Column:
    return F.expr(_as_double_sql(_qid(a)))


def dot(a: str, b: str) -> Column:
    """Sequential-fold dot product (index order, deterministic).

    Measured fastest of the JVM-side strategies (512k x d=64, local):
    aggregate(zip_with) 2.0 s vs aggregate(transform+element_at) 2.4 s
    vs a fully unrolled 64-term element_at expression 6.1 s (bounds
    checks per term and an expression tree too large to codegen well).
    The interpreted-HOF constant factor is the known cost; the
    step-change beyond it is the Arrow select-then-rescore kernel
    (``brute_force_topk_arrow`` / ``ivf_topk_arrow``), the two audited
    named exceptions to the JVM-only policy."""
    return F.expr(_dot_sql(_qid(a), _qid(b)))


def norm(a: str) -> Column:
    return F.expr(_norm_sql(_qid(a)))


def cosine(a: str, b: str) -> Column:
    return F.expr(_cosine_sql(_qid(a), _qid(b)))


def _fold_col(a: Column, b: Column, cast: bool = False) -> Column:
    """:func:`dot`'s fold over Column operands, for the folds that run
    inside another higher-order function, where an operand is a lambda
    variable or a slice and has no column name. ``cast`` casts ``a``'s
    elements to double inside the multiply lambda."""
    mul = (lambda x, y: x.cast("double") * y) if cast else (lambda x, y: x * y)
    return F.aggregate(F.zip_with(a, b, mul), F.lit(0.0), lambda acc, x: acc + x)


_TOPK_SCHEMA = "query_id long, neighbor_id long, cosine_sim double, rank long"


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """The ranking tail every top-k operator shares: number each query's
    candidates by (cosine_sim desc, neighbor_id asc) — ties break on the
    neighbor id, so results are deterministic — keep ranks <= k, and
    return (query_id, neighbor_id, cosine_sim, rank)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Plan shape: corpus stays partitioned; the (small) query set is
    broadcast, so the cross product is a broadcast-nested-loop with no
    shuffle of the corpus. Ranking is a window partitioned by query —
    the only shuffle is on query_id (|Q| keys). Ties break on neighbor id
    for determinism. Self-matches are excluded.
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = _spread(corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")))
    if broadcast_queries:
        q = F.broadcast(q)
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("qv", "nv"), 6).alias("cosine_sim"),
        )
    )
    return _topk(scored, k)


def sign_bucket(vec: str, dims: int = SIGN_LSH_DIMS) -> Column:
    """LSH bucket key: sign bits of the first ``dims`` components, as a
    string like ``"10110010"``. Equivalent to random-hyperplane LSH with
    axis-aligned planes — deterministic and SQL-expressible."""
    vec = _qid(vec)
    cases = ", ".join(
        f"CASE WHEN CAST(element_at({vec}, {i + 1}) AS DOUBLE) >= 0 THEN '1' ELSE '0' END"
        for i in range(dims)
    )
    return F.expr(f"concat({cases})")


def multiprobe_buckets(vec: str, dims: int = SIGN_LSH_DIMS) -> Column:
    """Multi-probe LSH probe set: the exact sign pattern plus every
    1-bit-flipped pattern (``dims + 1`` probes). Probing neighbors in
    sign-space recovers most of the recall lost to bucketing WITHOUT
    growing corpus-side buckets — only the (small) query side fans out,
    so the join stays linear in bucket sizes."""
    vec = _qid(vec)

    def bit_sql(i: int) -> str:
        return f"CASE WHEN CAST(element_at({vec}, {i + 1}) AS DOUBLE) >= 0 THEN 1 ELSE 0 END"

    def pattern_sql(flip: int) -> str:
        return "concat(" + ", ".join(
            f"CAST({f'1 - ({bit_sql(i)})' if i == flip else bit_sql(i)} AS STRING)"
            for i in range(dims)
        ) + ")"

    probes = ", ".join(pattern_sql(f) for f in [-1, *range(dims)])
    return F.expr(f"array({probes})")


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dims: int = SIGN_LSH_DIMS,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k: exact cosine ranking *within* the query's sign-LSH
    bucket. The join is an equi-join on the bucket key — shuffle-partitioned
    by bucket, linear in bucket sizes, never all-pairs. Recall is traded via
    ``dims`` (fewer bits -> bigger buckets -> higher recall) and recovered
    via ``multiprobe`` (query also probes all 1-bit-neighbor buckets; a
    (query, neighbor) pair still meets at most once since the corpus side
    keeps a single bucket)."""
    if multiprobe:
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.explode(multiprobe_buckets(vec_col, dims)).alias("bucket"),
        )
    else:
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            sign_bucket(vec_col, dims).alias("bucket"),
        )
    c = _spread(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("nv"),
            sign_bucket(vec_col, dims).alias("bucket"),
        )
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("qv", "nv"), 6).alias("cosine_sim"),
        )
    )
    return _topk(scored, k)


def auto_sign_dims(n_rows: int, target_bucket: int = 16, lo: int = 8, hi: int = 24) -> int:
    """Sign-bit count that keeps expected bucket size ~``target_bucket``:
    ~log2(N / target). Bucket sizes, not corpus size, set the pair-join
    work (sum of bucket² ~ N * bucket_size with fixed-size buckets — vs
    N²/2^dims when dims is pinned while N grows). Measured at the
    200k-vector sf10 corpus: dims=8 268.7 s, dims=12 18.4 s, dims=14
    5.7 s — all three return the IDENTICAL 570k >=0.95-cosine pairs
    (such pairs agree on leading sign bits with overwhelming margin, so
    more bits shrink buckets without recall loss at this threshold)."""
    import math

    return max(lo, min(hi, int(math.log2(max(n_rows, 1) / target_bucket + 1))))


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dims: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= threshold), found
    within sign-LSH buckets (a >=0.95 pair almost always agrees on leading
    sign bits; exactness within the bucket). Returns (id_a, id_b, cosine_sim).

    ``dims=None`` scales the bucket-bit count with the corpus
    (:func:`auto_sign_dims` — one count job), keeping bucket sizes and
    therefore pair-join work linear in N; pass an int to pin it (the
    registry query pins SIGN_LSH_DIMS so its static SQL oracle mirrors
    the same buckets)."""
    if dims is None:
        dims = auto_sign_dims(df.count())
    v = _spread(
        df.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("vec"),
            sign_bucket(vec_col, dims).alias("bucket"),
        )
    )
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vid") < F.col("b.vid")))
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            F.round(cosine("a.vec", "b.vec"), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


IVF_CENTROIDS = 16
IVF_PROBES = 4
IVF_KMEANS_ITERS = 3
# Row cap for the DRIVER-side Lloyd fit (round-11; guide §1.2 "the
# distributed algorithm"): a k-means fit over a few thousand vectors is
# pure fixed overhead as a distributed loop — ~15 driver-synchronous jobs
# (probes, per-round broadcast builds, eager checkpoints) each paying
# planning + scheduling latency, measured 2.3 s of knn_ivf's 3.1 s at
# sf0.1 (2,000 x 64 corpus; tools/profile_query.py). Below this many FIT
# rows the fit collects the (already unit-normalized / sub-sliced)
# vectors in ONE Arrow job and runs the identical Lloyd recurrence in
# numpy on the driver: dots are exact left folds (:func:`_left_fold`), rounding is
# the Spark shortest-decimal-repr HALF_UP (see tools/tie_sweep.py), ties
# and empty-cell dropout replicate the struct-ordering semantics, so the
# centroids are the same values the distributed loop emits (oracle-gated
# at every driver sf). Same size-adaptive precedent as
# graph.DRIVER_EDGE_CAP and the OPQ sample collect; the cap bounds driver
# memory (131072 x 64 doubles = 67 MB) and large corpora keep the
# distributed loop. Read at call time; tests set it to 0 to force the
# distributed loop.
KMEANS_DRIVER_FIT_CAP = 131_072

# Width cap for the fixed-dimension wide-aggregate mean fast path in the
# Lloyd loops (kmeans_centroids / pq_codebooks). d parallel avg() buffers
# stop paying for themselves well before the codegen field budget:
# measured on knn_ivf at sf0.1, the d=64 wide aggregate runs 3.6 s vs
# 2.2-2.5 s for the explode path (and raising codegen.maxFields does not
# rescue it), while knn_pq's 8-wide subspace aggregate wins 2.88 vs 3.17.
# So: narrow fixed-dim corpora (PQ subspaces, low-d vectors) take the
# one-exchange wide path; everything else keeps the explode path.
KMEANS_WIDE_DIM_CAP = 16

#: cell count below which two-level assignment cannot win: per-row cost is
#: ~(1 + sup_probes) * sqrt(cells) dots vs ``cells`` flat, so the crossover
#: is cells ~ 25 at sup_probes=4; 64 adds margin for the index-build jobs.
#: Below it "auto" stays flat WITHOUT a count job — the guard is what keeps
#: the default small-cell kNN paths (IVF_CENTROIDS=16) zero-overhead.
TWO_LEVEL_MIN_CELLS = 64

#: super-cells probed per row in two-level assignment (boundary vectors'
#: true cell often lives in a runner-up super: measured 64% flat-agreement
#: at probes=1 vs 95%+ at probes=4 — see two_level_assign).
TWO_LEVEL_SUP_PROBES = 4

#: the ARROW kernel's own "auto" crossover: BLAS makes the flat N x cells
#: GEMM so cheap that two-level only pays above ~1k cells (measured on
#: 200k x 64: 0.84x at 447 cells, 8.0x at 2048, 17.5x at 31.6k — SCALE.md
#: round-9). The JVM paths keep the 64-cell gate; explicit
#: assignment="two_level" bypasses this.
ARROW_TWO_LEVEL_MIN_CELLS = 1024

#: corpus size at which ``tier="auto"`` routes the IVF kNN entry points
#: to the Arrow/BLAS kernel (``ivf_topk_arrow``). Measured (SCALE.md
#: round 10, decorrelated 64-dim corpus, auto knobs): the JVM HOF tier
#: scales at alpha 1.48 across the sf10 -> sf100e decade and reads
#: 1374 s vs the Arrow kernel's 399 s at 2M rows (3.4x, widening with
#: scale — interpreted per-row expression trees lose cache locality as
#: the centroid pool grows), while end-to-end Arrow was already 1.14x
#: at sf0.1 and 1.34x at sf1. The crossover sits at the same 100k-row
#: line as TWO_LEVEL_AUTO_MIN_ROWS: below it both tiers are
#: sub-second-to-seconds and the JVM tier keeps byte-identical
#: oracle-pinned plans with zero driver-side collects; at or above it
#: the Arrow tier's bounded collects (queries + centroid table, by
#: contract) buy the measured 2-3x and the better exponent. Explicit
#: ``tier="jvm"`` / ``tier="arrow"`` always bypass the route (e.g. for
#: environments without Arrow).
ARROW_TIER_MIN_ROWS = 100_000

#: ``n_probes=None`` resolves to ``max(base, round(cells * FRACTION))``
#: (capped): holding the probed FRACTION of the corpus constant keeps
#: recall scale-invariant, where a fixed probe count makes it shrink by
#: construction as auto-cells grows ~sqrt(N). Anchor and evidence
#: (SCALE.md round-10 addendum): the default 4/447 fraction (~0.009) at
#: sf10 read recall 0.13; at sf100e the fixed default's fraction fell
#: to 4/1414 and recall to 0.115, while probes=13 (= this rule: round(
#: 1414 * 0.009)) restored the fraction and read recall 0.145 at
#: marginal cost (421 s vs 399 s — assignment dominates, probing is
#: cheap). The cap bounds the per-query probe-set/LUT width at extreme
#: cell counts (65536 auto-cells ceiling -> 256 probes, still ~0.4% of
#: cells); callers needing more recall there raise probes explicitly.
IVF_PROBE_FRACTION = 0.009
IVF_PROBE_CAP = 256


def resolve_probes(n_probes: int | None, n_cells: int, base: int = IVF_PROBES,
                   extra: int = 0) -> int:
    """Resolve the ``n_probes`` knob: an explicit count passes through;
    ``None`` holds the probed fraction of cells constant —
    ``max(base, round(cells * IVF_PROBE_FRACTION)) + extra``, capped at
    :data:`IVF_PROBE_CAP`. At the oracle-pinned registry index
    (IVF_CENTROIDS=16 cells) this resolves to exactly ``base + extra``
    (the pre-knob defaults), so registry plans and hashes are
    unchanged; ``extra`` is the IVF-PQ entry points' +2 margin for
    compounding pruning + quantization losses."""
    if n_probes is not None:
        return n_probes
    by_fraction = int(round(n_cells * IVF_PROBE_FRACTION))
    return max(base, min(by_fraction, IVF_PROBE_CAP)) + extra


def resolve_tier(tier: str | None, n_rows: int | None) -> str | None:
    """Resolve the execution-tier knob: ``"auto"`` routes to the Arrow
    kernel at or above :data:`ARROW_TIER_MIN_ROWS` corpus rows and
    stays on the JVM expression tier below (measured basis on the
    constant); explicit ``"jvm"``/``"arrow"`` pass through. ``n_rows``
    None (the zero-count fast path) resolves "auto" to "jvm"."""
    if tier != "auto":
        return tier
    return "arrow" if n_rows is not None and n_rows >= ARROW_TIER_MIN_ROWS else "jvm"


def _centroid_array(cent: DataFrame) -> DataFrame:
    """Collapse a (cent_id, cv) centroid table into ONE row holding the
    sorted ``array<struct<cent_id,cv>>`` — the broadcastable form that lets
    nearest-centroid assignment run as a narrow projection (crossJoin with
    a 1-row broadcast preserves row count; the argmax is per-row
    higher-order-function arithmetic, no shuffle, no window)."""
    return cent.agg(
        F.array_sort(F.collect_list(F.struct("cent_id", "cv"))).alias("cents")
    )


def _with_unit(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    """Append a unit-normalized double copy of ``vec_col`` (null for
    zero-norm vectors, which have no direction).

    CollapseProject trap: a ``transform(vec, x -> x / norm_expr)`` lambda
    would get the norm AGGREGATE inlined into its body (Catalyst collapses
    single-use aliases without knowing lambda bodies run per element),
    re-running the norm |vec| times per row. ``zip_with`` against
    ``array_repeat(norm, size)`` keeps the norm in argument position —
    evaluated once per row no matter how projections collapse."""
    vnorm = F.expr(_norm_sql(_as_double_sql(_qid(vec_col))))
    return df.withColumn(
        out_col,
        F.when(
            vnorm > 0,
            F.zip_with(
                F.col(vec_col),
                F.array_repeat(vnorm, F.size(F.col(vec_col))),
                lambda x, n: x.cast("double") / n,
            ),
        ),
    )


def _scored_cents(vec: Column) -> Column:
    """Per-row (c_sim, -cent_id, cent_id) structs for every centroid in the
    broadcast ``cents`` array. Centroids are UNIT vectors, so ordering by
    plain dot product equals ordering by cosine for any (non-negated)
    input scaling — the input vector is deliberately NOT normalized here:
    per-row normalization would be inlined into this per-centroid lambda
    by CollapseProject and recomputed k times per row. One zip_with + one
    aggregate per centroid (the cast rides inside the multiply lambda) is
    the minimal interpreted-lambda count. Struct field order makes
    lexicographic max/sort mean "highest similarity, ties to the lowest
    cent_id"; ``c_sim`` is NOT a cosine (unnormalized) — use it only to
    rank cells for one fixed input vector."""
    return _scored_structs(F.col("cents"), vec, "cent_id")


def _spark_round(x: float, scale: int = 9) -> float:
    """Driver replica of Spark's ``round(double, n)`` — see
    :func:`monster_etl_spark.localrel.spark_round`."""
    from monster_etl_spark.localrel import spark_round

    return spark_round(x, scale)


def _left_fold():
    """The JVM's dot-product fold for numpy: ``fold(a, b)`` sums ``a * b``
    over the LAST axis (broadcasting the rest) as ``acc + x*y`` from 0.0,
    index ascending — the order of ``aggregate(zip_with(a, b, *), 0.0,
    +)`` — so the Arrow and driver tiers reproduce the JVM tier's doubles
    bit for bit. ``np.sum`` and ``@`` reorder the additions and do not.
    ``fold(V[:, None], C[None])`` is the all-pairs form.

    A factory, not a module-level function: a kernel that captures the
    returned ``fold`` ships it by value (it references only ``np``), so
    Python workers never import this package."""
    import numpy as np

    def fold(a, b):
        acc = 0.0
        for j in range(np.shape(a)[-1]):
            acc = acc + a[..., j] * b[..., j]
        return acc

    return fold


_fold = _left_fold()


def _collect_fit_rows(df: DataFrame, label: str):
    """The driver Lloyd fits' probe over a ``(cid, v)`` fit set: ``(ids,
    V)`` sorted by id, or ``None`` when the set exceeds
    ``KMEANS_DRIVER_FIT_CAP`` rows or is ragged (the distributed loop
    handles both). The vectors are collected AFTER all Spark-side
    derivation (double cast / unit normalization), so the driver sees
    bit-identical doubles."""
    import numpy as np

    cols = df.select(F.col("cid").alias("_fid"), F.col("v").alias("_fv"))
    tbl = bounded_collect(cols, KMEANS_DRIVER_FIT_CAP, label)
    if tbl is None:
        return None
    n = tbl.num_rows
    if n == 0:
        return [], None
    col = tbl.column("_fv").combine_chunks()
    if col.null_count:
        # null VECTORS: the distributed paths drop them (filter /
        # posexplode-of-null); keep that one semantic there
        return None
    if col.flatten().null_count:
        # null ELEMENTS propagate as SQL nulls through the fold, not as
        # NaN — only the distributed tier reproduces that
        return None
    import pyarrow.compute as pc

    lengths = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    if len(set(lengths.tolist())) != 1:
        return None
    d = int(lengths[0])
    if d == 0:
        return None
    V = np.asarray(col.flatten().to_numpy(zero_copy_only=False), dtype=np.float64).reshape(n, d)
    ids = tbl.column("_fid").to_pylist()
    order = np.argsort(np.asarray(ids)) if isinstance(ids[0], (int, float)) else sorted(
        range(n), key=ids.__getitem__
    )
    order = np.asarray(order)
    return [ids[int(i)] for i in order], V[order]


def _local_cent_df(spark, cent_ids, cvs) -> DataFrame:
    """(cent_id, cv) as an Arrow-built **LocalRelation** — NOT the plain
    ``createDataFrame(list)`` path, whose pickled-RDD backing re-runs a
    Python deserialization job on every downstream broadcast build
    (measured 0.51 s/eval vs 0.11 s for the LocalRelation, and each knn
    query broadcasts the centroid table several times)."""
    import pyarrow as pa

    tbl = pa.table(
        {
            "cent_id": pa.array([int(c) for c in cent_ids], pa.int64()),
            "cv": pa.array(cvs, pa.list_(pa.float64())),
        }
    )
    return spark.createDataFrame(tbl)


def _local_books_df(spark, rows) -> DataFrame:
    """(sub_id, cent_id, cv) codebooks as an Arrow-built LocalRelation
    (see :func:`_local_cent_df` for why not ``createDataFrame(list)``)."""
    import pyarrow as pa

    tbl = pa.table(
        {
            "sub_id": pa.array([r[0] for r in rows], pa.int32()),
            "cent_id": pa.array([int(r[1]) for r in rows], pa.int64()),
            "cv": pa.array([r[2] for r in rows], pa.list_(pa.float64())),
        }
    )
    return spark.createDataFrame(tbl)


def _kmeans_driver_fit(spark, ids, V, n_centroids: int, iters: int) -> DataFrame:
    """Driver-tier spherical Lloyd loop — the identical recurrence as the
    distributed loop below (seed = lowest-id unit vectors rounded 9dp;
    assign = argmax exact-left-fold dot, ties to the lowest cent_id, NaN
    greatest first — numpy's first-max IS the struct-ordering winner;
    mean -> renormalize with an exact-left-fold norm -> 9dp
    shortest-repr HALF_UP round; empty and zero-norm cells drop out).
    Mean summation uses numpy's pairwise sum over id-sorted members — a
    different fold order than any one shuffle layout, inside the same
    9dp-rounding band that already makes the distributed result
    partition-order-reproducible (and DuckDB-oracle-equal)."""
    import numpy as np

    if V is None or V.shape[0] == 0:
        return _local_cent_df(spark, [], [])
    k = min(n_centroids, V.shape[0])
    cent_ids = list(range(1, k + 1))
    C = np.array([[_spark_round(x) for x in row] for row in V[:k]], dtype=np.float64)
    for _ in range(iters):
        assign = np.argmax(_fold(V[:, None], C[None]), axis=1)
        new_ids: list[int] = []
        new_rows: list[np.ndarray] = []
        for j, cid_ in enumerate(cent_ids):
            members = V[assign == j]
            if members.shape[0] == 0:
                continue
            mv = members.sum(axis=0) / members.shape[0]
            mnorm = float(_fold(mv, mv)) ** 0.5
            if not mnorm > 0:
                continue
            new_ids.append(cid_)
            new_rows.append(np.array([_spark_round(x) for x in mv / mnorm]))
        if not new_rows:
            return _local_cent_df(spark, [], [])
        cent_ids = new_ids
        C = np.vstack(new_rows)
    return _local_cent_df(
        spark, cent_ids, [[float(x) for x in row] for row in C]
    )


def _pq_driver_fit(spark, ids, V, m: int, n_codes: int, iters: int) -> DataFrame:
    """Driver-tier PQ codebook fit: per-subspace Euclidean Lloyd with the
    identical recurrence as the distributed loop (seed = lowest-id
    sub-slices rounded 9dp; assign = argmax of exact-left-fold
    ``sv.cv - 0.5*|cv|^2`` with ``c2`` the exact left fold of the ROUNDED
    codebook, ties to the lowest cent_id; mean -> 9dp round; empty cells
    drop). Sub-slicing moves no arithmetic — the slices are the same
    doubles ``_sub_rows`` emits."""
    import numpy as np

    if V is None or V.shape[0] == 0:
        return _local_books_df(spark, [])
    d = V.shape[1]
    dsub = d // m
    out_rows: list[tuple[int, int, list[float]]] = []
    for s in range(m):
        start = s * dsub
        stop = d if s == m - 1 else start + dsub
        Vs = V[:, start:stop]
        k = min(n_codes, Vs.shape[0])
        cent_ids = list(range(1, k + 1))
        C = np.array([[_spark_round(x) for x in row] for row in Vs[:k]], dtype=np.float64)
        for _ in range(iters):
            if C.shape[0] == 0:
                break
            c2 = _fold(C, C)
            scores = _fold(Vs[:, None], C[None]) - 0.5 * c2[None, :]
            assign = np.argmax(scores, axis=1)
            new_ids: list[int] = []
            new_rows: list[np.ndarray] = []
            for j, cid_ in enumerate(cent_ids):
                members = Vs[assign == j]
                if members.shape[0] == 0:
                    continue
                mv = members.sum(axis=0) / members.shape[0]
                new_ids.append(cid_)
                new_rows.append(np.array([_spark_round(x) for x in mv]))
            cent_ids = new_ids
            C = np.vstack(new_rows) if new_rows else np.empty((0, stop - start))
        out_rows.extend(
            (s, int(c), [float(x) for x in row]) for c, row in zip(cent_ids, C)
        )
    return _local_books_df(spark, out_rows)


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = IVF_CENTROIDS,
    iters: int = IVF_KMEANS_ITERS,
    checkpoint_every: int = 1,
    fit_fraction: float = 1.0,
) -> DataFrame:
    """Deterministic spherical-k-means centroids, all-DataFrame Lloyd
    iterations: seed with the ``n_centroids`` lowest-id vectors, then
    ``iters`` rounds of (assign each vector to its most-cosine-similar
    centroid, recompute each centroid as the element-wise mean of its
    members).

    Spherical form: vectors are unit-normalized ONCE up front (zero-norm
    vectors are excluded — they have no direction) and centroids are kept
    unit-normalized, so every similarity in the loop is a single dot
    product instead of a full cosine (~3x fewer interpreted-lambda
    invocations — the dominant constant factor of HOF math). Centroid
    DIRECTIONS are identical to cosine-against-raw-means: assignment by
    cosine is invariant to centroid scaling.

    Scale shape per round: the centroid table collapses to a 1-row array
    (``_centroid_array``) and broadcasts; assignment is then a NARROW
    projection (per-row argmax over k structs — no groupBy, no window, the
    corpus is never shuffled for assignment); the only shuffle per round is
    the mean recompute (posexplode -> groupBy(cent, pos) -> avg, map-side
    combinable, linear in corpus size x dims). Every
    ``checkpoint_every``-th round the 16-row centroid table is
    ``localCheckpoint``-ed (eager): the materialization job is trivially
    cheap, while skipping it nests each round's plan as a broadcast
    subquery of the next — measured 3-4x slower end-to-end at sf0.1.
    Components are rounded (9dp) so the result is reproducible across
    partition orders. Cells that lose all members drop out (k shrinks,
    never grows). Returns (cent_id, cv) with ``cv`` a unit vector.

    ``fit_fraction`` < 1 fits the Lloyd loop on a deterministic hash
    sample of the corpus (salted-md5 on the id — reproducible across
    engines and layouts) instead of every vector: the per-round cost
    drops from N x cells to S x cells while assignment quality is
    statistically unchanged for cells with >> 1/fraction members. This
    is the documented mitigation for the semantic-dedup N^1.5 balance
    point — at real scale, fit centroids on a sample and RAISE the cell
    count so the pair join's sum-of-cell² term stays bounded (measured
    in SCALE.md's second-decade section).
    """
    base = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("raw"))

    def _prep(src: DataFrame) -> DataFrame:
        out = (
            _with_unit(src, "raw", "v")
            .filter(F.col("v").isNotNull())
            .select("cid", "v")
        )
        if fit_fraction < 1.0:
            from monster_etl_spark.operators.sampling import HASH_SPACE, sample_hash

            cutoff = int(fit_fraction * HASH_SPACE)
            out = out.filter(sample_hash(F.col("cid"), salt="kmfit") < cutoff)
        return out

    # driver tier (round-11): when the fit set is small enough to collect
    # (<= KMEANS_DRIVER_FIT_CAP rows, fixed-dim), ONE Arrow job replaces
    # the whole distributed Lloyd loop's ~15 driver-synchronous jobs —
    # same recurrence, same values (see _kmeans_driver_fit). The collect
    # side skips ``_spread``'s round-robin exchange (it exists for the
    # loop's parallelism, not for a single funnel-to-driver job).
    # Oversized or ragged fit sets fall through to the distributed loop
    # unchanged.
    got = _collect_fit_rows(_prep(base), "k-means fit")
    if got is not None:
        ids, V = got
        return _kmeans_driver_fit(corpus.sparkSession, ids, V, n_centroids, iters)
    v = _prep(_spread(base))
    dim = None
    if iters > 0:
        # every Lloyd round rescans the vectors; cache them for the loop
        # (MEMORY_AND_DISK default — spills instead of OOM at scale, the
        # same contract MLlib's k-means uses for its input)
        v = v.persist()
        # Fixed-dimension probe: when every vector shares one NARROW
        # length (<= KMEANS_WIDE_DIM_CAP), each mean recompute below runs
        # as ONE wide aggregate (d avg columns, map-side combinable, a
        # single exchange on cent_id) instead of posexplode ->
        # groupBy(cent, pos) -> groupBy(cent) — two exchanges and an
        # N x d row explode per Lloyd round (round-11; guide §2.4/§2.3).
        # The limit-1 pre-probe keeps the common over-cap case (document
        # embeddings, d=64+) at one metadata-cheap job: only a head row
        # inside the cap pays the full min/max pass. Ragged and wide
        # corpora keep the explode path — behavior unchanged there.
        head = v.select(F.size("v").alias("s")).first()
        if head is not None and head["s"] is not None and 0 < head["s"] <= KMEANS_WIDE_DIM_CAP:
            probe = v.agg(
                F.min(F.size("v")).alias("lo"), F.max(F.size("v")).alias("hi")
            ).first()
            if probe["lo"] is not None and probe["lo"] == probe["hi"]:
                dim = int(probe["lo"])
    # seed ranks via a single-row collect_list aggregate rather than a
    # row_number window: same deterministic ids, but no unpartitioned
    # WindowExec (its "all data to a single partition" warning is noise —
    # only n_centroids rows reach this — yet reads like a plan defect)
    cent = (
        v.orderBy("cid")
        .limit(n_centroids)
        .agg(F.array_sort(F.collect_list(F.struct("cid", "v"))).alias("seeds"))
        .select(F.posexplode("seeds").alias("idx", "s"))
        .select(
            (F.col("idx") + 1).cast("long").alias("cent_id"),
            F.transform("s.v", lambda x: F.round(x, 9)).alias("cv"),
        )
    )
    for it in range(iters):
        # narrow argmax assignment: 1-row broadcast of the centroid array,
        # per-row HOF max — the corpus is not shuffled to pick its centroid
        best = (
            v.crossJoin(F.broadcast(_centroid_array(cent)))
            .select(
                "cid",
                "v",
                F.array_max(_scored_cents(F.col("v"))).getField("cent_id").alias("cent_id"),
            )
        )
        if dim is not None:
            # fixed-dim fast path: one exchange (map-side-combinable avg
            # per component), no explode — same means, same 9dp rounding
            means_wide = best.groupBy("cent_id").agg(
                *[F.avg(F.col("v")[p]).alias(f"_m{p}") for p in range(dim)]
            )
            mv = F.array(*[F.col(f"_m{p}") for p in range(dim)])
            cent = means_wide.select("cent_id", mv.alias("mv"))
        else:
            means = (
                best.select("cent_id", F.posexplode("v").alias("pos", "val"))
                .groupBy("cent_id", "pos")
                .agg(F.avg("val").alias("m"))
            )
            cent = (
                means.groupBy("cent_id")
                .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
                .select(
                    "cent_id",
                    F.transform("pm", lambda s: s.getField("m")).alias("mv"),
                )
            )
        cent = (
            # re-normalize the mean (spherical k-means): unit centroids keep
            # the next round's similarity a plain dot product
            cent.withColumn("_mnorm", norm("mv"))
            .filter(F.col("_mnorm") > 0)
            .select(
                "cent_id",
                F.transform("mv", lambda x: F.round(x / F.col("_mnorm"), 9)).alias("cv"),
            )
        )
        if (it + 1) % checkpoint_every == 0 or (it + 1) == iters:
            cent = cent.localCheckpoint(eager=True)
    if iters > 0:
        # the final centroids are checkpoint-materialized; the cached
        # vectors are no longer referenced
        v.unpersist(blocking=False)
    return cent


def _ivf_assign(
    df: DataFrame,
    cent_arr: DataFrame,
    idc: str,
    vecc: str,
    keep_vec: str,
    top: int,
    two_level: DataFrame | None = None,
    sup_probes: int = 4,
) -> DataFrame:
    """Cell assignment against a broadcast 1-row centroid array: top=1 ->
    (id, unit vec, cent_id); top=n -> one exploded row per probed cell.

    Cells are ranked by dot(raw vector, unit centroid) — order-equal to
    cosine, with NO per-row normalization (which CollapseProject would
    inline into the per-centroid lambda and recompute k times); two
    projections because referencing ``vecc`` while re-aliasing it in one
    select trips Spark's lateral-column-alias resolution when combined
    with explode. The UNIT vector rides along as ``keep_vec`` (referenced
    once outside any lambda -> computed once per row even after
    projection collapse), so downstream pair scoring is a single dot.

    ``two_level`` (a broadcast :func:`_two_level_index` row) swaps the
    flat N x cells ranking for the coarse-then-fine quantizer — ~(1 +
    ``sup_probes``) * sqrt(cells) dots per row, the measured sf10 cure
    for the flat argmax's N^1.5 wall (328 s flat vs 20 s two-level,
    identical pairs). Same output schema either way; the two-level
    forms are APPROXIMATE (documented in their helpers)."""
    if two_level is not None:
        # same two-projection discipline as the flat path below: compute
        # the cell/probe column while ``vecc`` still resolves to the RAW
        # vector, THEN re-alias ``_u`` — one select would resolve ``vecc``
        # as a lateral alias of the new unit column (and trip Spark's
        # LateralColumnAliasReference assertion under explode)
        scored = _with_unit(df.crossJoin(two_level), vecc, "_u")
        if top == 1:
            return (
                scored.withColumn("_cell", _two_level_cells(F.col(vecc), sup_probes))
                .select(F.col(idc), F.col("_u").alias(keep_vec), F.col("_cell").alias("cent_id"))
            )
        return (
            scored.withColumn("_probes", _two_level_probe_ids(F.col(vecc), sup_probes, top))
            .select(
                F.col(idc),
                F.col("_u").alias(keep_vec),
                F.explode("_probes").alias("cent_id"),
            )
        )
    scored = _with_unit(df.crossJoin(cent_arr), vecc, "_u")
    if top == 1:
        return (
            scored.withColumn(
                "_cell", F.array_max(_scored_cents(F.col(vecc))).getField("cent_id")
            )
            .select(F.col(idc), F.col("_u").alias(keep_vec), F.col("_cell").alias("cent_id"))
        )
    # top-n probes: sort descending (reverse of ascending lexicographic
    # struct sort), slice, explode — still a narrow projection
    probes = F.slice(F.reverse(F.array_sort(_scored_cents(F.col(vecc)))), 1, top)
    return (
        scored.withColumn("_probes", F.transform(probes, lambda s: s.getField("cent_id")))
        .select(
            F.col(idc),
            F.col("_u").alias(keep_vec),
            F.explode("_probes").alias("cent_id"),
        )
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int | None = IVF_CENTROIDS,
    n_probes: int | None = None,
    kmeans_iters: int = IVF_KMEANS_ITERS,
    assignment: str = "auto",
    sup_probes: int = TWO_LEVEL_SUP_PROBES,
    fit_fraction: float | None = None,
    tier: str = "auto",
) -> DataFrame:
    """IVF-style approximate top-k: the corpus is inverted into
    ``n_centroids`` cells (nearest-centroid assignment); a query probes its
    ``n_probes`` closest cells and ranks exactly within them.

    Centroids come from ``kmeans_centroids`` (deterministic Lloyd
    refinement; ``kmeans_iters=0`` degrades to the raw lowest-id seed).
    Scale shape: the centroid table collapses to a 1-row array and
    broadcasts; BOTH assignments (corpus cell, query probe set) are narrow
    per-row projections — argmax / top-``n_probes`` over k structs via
    higher-order functions, so neither side is shuffled or windowed to
    find its cells; the probe join is an equi-join on cell id, so
    per-query work is linear in the probed cells, never the full corpus.
    Deterministic given the corpus; recall is tested against the exact
    brute-force ranking, and the registry query carries a FULL-pipeline
    DuckDB oracle (queries/similarity_queries.py::KNN_IVF_SQL) that
    replays the fixed-seed k-means and both assignments in SQL.

    100x-scale knobs (all resolved by :func:`_resolve_ivf_knobs`, the
    SemDeDup auto rules): ``n_centroids=None`` scales cells ~sqrt(N) —
    a fixed cell count makes in-cell pair work N²/k; ``assignment="auto"``
    swaps BOTH flat N x cells rankings (corpus argmax AND query probe
    sets) for the two-level coarse quantizer at >= 100k corpus rows and
    >= 64 cells (measured sf10, 200k rows x 447 auto cells: flat corpus
    assignment is the dominant term; two-level is ~(1+sup_probes) *
    sqrt(cells) dots/row); ``fit_fraction=None`` sample-bounds the Lloyd
    fit whenever the corpus was counted; ``n_probes=None`` holds the
    probed fraction of cells constant (:func:`resolve_probes` — a
    fixed count makes recall SHRINK as auto-cells grows ~sqrt(N));
    ``tier="auto"`` routes the whole call to :func:`ivf_topk_arrow` at
    or above :data:`ARROW_TIER_MIN_ROWS` corpus rows (round-10 soak:
    the JVM HOF tier reads alpha 1.48 and 3.4x the Arrow kernel's wall
    at 2M rows, widening with scale — results are bit-identical, so
    only the physical strategy changes). The oracle-pinned default
    (``n_centroids=16`` < TWO_LEVEL_MIN_CELLS) takes none of these
    paths — no count job, flat exact JVM plan, byte-identical results.
    """
    requested_assignment = assignment
    n_centroids, assignment, fit_fraction, tier = _resolve_ivf_knobs(
        corpus, n_centroids, assignment, fit_fraction, tier
    )
    n_probes = resolve_probes(n_probes, n_centroids)
    if tier == "arrow":
        # Knobs are fully resolved — the Arrow twin re-resolves on
        # explicit values with NO second count job. One asymmetry to
        # replicate: the Arrow kernel's BLAS flat GEMM is so cheap that
        # its own "auto" assignment keeps flat below
        # ARROW_TWO_LEVEL_MIN_CELLS (1024) where the JVM gate is 64 —
        # apply that gate here since the Arrow path will see an
        # explicit (already-resolved) assignment string.
        if (
            requested_assignment == "auto"
            and assignment == "two_level"
            and n_centroids < ARROW_TWO_LEVEL_MIN_CELLS
        ):
            assignment = "flat"
        return ivf_topk_arrow(
            queries, corpus, id_col, vec_col, k, n_centroids, n_probes,
            kmeans_iters, fit_fraction, assignment, sup_probes,
        )
    cent = kmeans_centroids(
        corpus, id_col, vec_col, n_centroids, kmeans_iters, fit_fraction=fit_fraction
    )
    cent_arr = F.broadcast(_centroid_array(cent))
    tl = F.broadcast(_two_level_index(cent)) if assignment == "two_level" else None
    c_assigned = _ivf_assign(
        _spread(corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"))),
        cent_arr, "neighbor_id", "nv", "nv", 1, two_level=tl, sup_probes=sup_probes,
    )
    q_assigned = _ivf_assign(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        cent_arr, "query_id", "qv", "qv", n_probes, two_level=tl, sup_probes=sup_probes,
    )
    scored = (
        q_assigned.join(c_assigned, "cent_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            # both sides are unit vectors: cosine == plain dot (one HOF
            # aggregate per pair instead of three)
            F.round(dot("qv", "nv"), 6).alias("cosine_sim"),
        )
    )
    return _topk(scored, k)


def auto_centroids(n_rows: int) -> int:
    """Cell count ~ sqrt(N), clamped: keeps expected CELL size ~ sqrt(N)
    too, so within-cell pair work is N^1.5 instead of the N²/k quadratic a
    FIXED k degenerates to as the corpus grows (SemDeDup itself scales its
    cluster count with corpus size). Measured: sf1 semantic dedup 47s with
    k=16 -> ~17s with auto k=141, identical verdicts."""
    return max(4, min(65536, int(round(n_rows**0.5))))


#: corpus size at which ``assignment="auto"`` switches from the exact flat
#: argmax to the two-level coarse quantizer. Measured at sf10 (200k rows,
#: 2048 cells): flat 328 s vs two-level 20 s with IDENTICAL >=0.95 pairs
#: (SCALE.md round-3); below this the flat argmax is both exact and cheap.
TWO_LEVEL_AUTO_MIN_ROWS = 100_000


def resolve_assignment(assignment: str, n_rows: int, n_cells: int | None = None) -> str:
    """Resolve the ``assignment`` knob: ``"auto"`` picks the exact flat
    argmax below :data:`TWO_LEVEL_AUTO_MIN_ROWS` rows and the two-level
    coarse quantizer at or above it (the N x cells flat assignment is
    the measured N^1.5 scale-killer — round-3 SCALE.md alpha 1.44);
    explicit ``"flat"``/``"two_level"`` pass through unchanged. When
    ``n_cells`` is known, "auto" additionally stays flat below
    :data:`TWO_LEVEL_MIN_CELLS` cells — two-level costs MORE dots per
    row than a small flat argmax."""
    if assignment == "auto":
        if n_cells is not None and n_cells < TWO_LEVEL_MIN_CELLS:
            return "flat"
        return "two_level" if n_rows >= TWO_LEVEL_AUTO_MIN_ROWS else "flat"
    return assignment


def _resolve_ivf_knobs(
    corpus: DataFrame,
    n_centroids: int | None,
    assignment: str,
    fit_fraction: float | None,
    tier: str | None = None,
) -> tuple:
    """Shared knob resolution for the kNN index builders (``ivf_topk``,
    ``ivf_topk_arrow``, ``ivfpq_topk``) — the same auto rules SemDeDup
    uses (``semantic_dup_pairs``), factored so every IVF-family entry
    point dispatches identically:

    - ``n_centroids=None`` -> ``auto_centroids`` (~sqrt(N)): a FIXED cell
      count degenerates in-cell scoring to N²/k as the corpus grows;
    - ``assignment="auto"`` -> two-level coarse quantization at or above
      :data:`TWO_LEVEL_AUTO_MIN_ROWS` rows AND :data:`TWO_LEVEL_MIN_CELLS`
      cells (the flat N x cells argmax is the measured sf10 scale-killer:
      328 s flat vs 20 s two-level, identical pairs);
    - ``fit_fraction=None`` -> sample-bounded Lloyd fit
      (max(PER_CELL * cells, MIN_SAMPLE) vectors) whenever the corpus was
      counted anyway — without it each Lloyd round is its own N x cells
      pass.

    - ``tier="auto"`` (round-10 verdict #1) -> the Arrow/BLAS kernel at
      or above :data:`ARROW_TIER_MIN_ROWS` corpus rows (measured: JVM
      HOF alpha 1.48 and 3.4x slower than Arrow at 2M rows), the JVM
      expression tier below; ``None`` skips tier resolution entirely
      (callers that ARE a tier, e.g. ``ivf_topk_arrow``).

    ZERO-OVERHEAD fast path: an explicit ``n_centroids`` below
    :data:`TWO_LEVEL_MIN_CELLS` (the registry's oracle-pinned
    IVF_CENTROIDS=16) resolves flat + JVM with NO count job and an
    exact full fit — plans for every oracle-pinned query are
    byte-identical to the pre-knob code. A small explicit index is the
    small-corpus contract, so tier="auto" resolves "jvm" there without
    counting; any caller that needs the count anyway (auto cells, auto
    assignment, or tier="auto" with a large explicit index) shares ONE
    count job for all four knobs. Returns (n_centroids, assignment,
    fit_fraction, tier).
    """
    small_explicit = (
        n_centroids is not None and n_centroids < TWO_LEVEL_MIN_CELLS
    )
    if assignment == "auto" and small_explicit:
        assignment = "flat"
    if tier == "auto" and small_explicit:
        tier = "jvm"
    if n_centroids is None or assignment == "auto" or tier == "auto":
        n_rows = corpus.count()
        if n_centroids is None:
            n_centroids = auto_centroids(n_rows)
        assignment = resolve_assignment(assignment, n_rows, n_centroids)
        tier = resolve_tier(tier, n_rows)
        if fit_fraction is None:
            target = max(SEMANTIC_FIT_PER_CELL * n_centroids, SEMANTIC_FIT_MIN_SAMPLE)
            fit_fraction = min(1.0, target / max(1, n_rows))
    if fit_fraction is None:
        fit_fraction = 1.0
    return n_centroids, assignment, fit_fraction, tier


#: auto fit-sample sizing: fit the Lloyd loop on ~max(PER_CELL * cells,
#: MIN_SAMPLE) vectors. Every Lloyd round costs sample x cells dots, so an
#: UNSAMPLED fit is itself the N x cells scale-killer the two-level
#: assignment removes (measured at sf10: auto two-level assignment alone
#: cut 270 s -> 188 s; the remaining ~180 s was 3 Lloyd rounds x 200k x 447
#: cells). PER_CELL=64 keeps >=64 expected members per cell in the fit —
#: centroid means are statistically stable — while all registry SFs
#: (<=20k vectors) stay below MIN_SAMPLE and keep the exact full fit.
SEMANTIC_FIT_MIN_SAMPLE = 20_000
SEMANTIC_FIT_PER_CELL = 64


def _cell_pairs_arrow(threshold: float):
    """Per-cell near-duplicate pair kernel for ``applyInPandas`` — the
    SemDeDup pair step's Arrow twin (the third audited Python-eval
    exception, same discipline as ``brute_force_topk_arrow``):

    - SELECT with one float64 GEMM per cell chunk (``U_chunk @ U.T``),
      thresholded at ``threshold - 5e-7 - 1e-9`` — 5e-7 covers the
      6-dp HALF_UP round the JVM applies before ITS filter, 1e-9
      dwarfs the fold-order |GEMM - sequential| gap (<= d * eps *
      partial-sum magnitude ~ 1e-14 for unit vectors at d=64);
    - RESCORE every surviving pair with the exact JVM fold: products
      left-to-right, ``acc + x`` from 0.0 — bit-identical doubles to
      ``dot()``'s aggregate(zip_with), so downstream JVM round+filter
      reproduces the self-join path EXACTLY (asserted in
      tests/test_similarity.py).

    Rows arrive already unit-normalized (``_with_unit`` runs JVM-side;
    doubles cross Arrow losslessly). Pairs emit with ``id_a < id_b``
    via an ascending id sort inside the cell. Chunked GEMM bounds the
    mask at ``4096 x cell_rows`` so a skewed giant cell cannot blow
    worker memory (the cell-size distribution itself is bounded by the
    ~sqrt(N) centroid recipe upstream)."""

    margin = 5e-7 + 1e-9
    fold = _fold  # captured, so the kernel ships it by value

    def _pairs(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        vid = pdf["vid"].to_numpy()
        order = np.argsort(vid)
        vid = vid[order].astype("int64")
        out_a, out_b, out_s = [vid[:0]], [vid[:0]], [np.zeros(0)]
        if n >= 2:
            U = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf["u"].to_numpy()[order]]
            )
            thr = threshold - margin
            col = np.arange(n)[None, :]
            for i0 in range(0, n, 4096):
                i1 = min(i0 + 4096, n)
                g = U[i0:i1] @ U.T
                mask = (g >= thr) & (col > np.arange(i0, i1)[:, None])
                ci, cj = np.nonzero(mask)
                ia = i0 + ci
                out_a.append(vid[ia])
                out_b.append(vid[cj])
                out_s.append(fold(U[ia], U[cj]))  # the JVM fold, exactly
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine_sim": np.concatenate(out_s),
            }
        )

    return _pairs


def semantic_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int | None = None,
    kmeans_iters: int = IVF_KMEANS_ITERS,
    fit_fraction: float | None = None,
    assignment: str = "auto",
    sup_probes: int = 4,
    pair_engine: str = "jvm",
) -> DataFrame:
    """SemDeDup-style candidate pairs: embed-space near-duplicates found
    WITHIN k-means cells (Abbas et al. 2023 — semantic dedup prunes pairs
    by clustering first; cross-cell near-dups are the documented
    approximation, exactly as in the paper). Returns (id_a, id_b,
    cosine_sim) with id_a < id_b, cosine >= threshold.

    ``n_centroids=None`` (default) scales the cell count with the corpus
    (``auto_centroids``: ~sqrt(N)) at the cost of one count job — the
    paper's own recipe, and the difference between N^1.5 and N²/k pair
    work at 100 TB. Pass an int to pin it.

    ``assignment="auto"`` (default) resolves via :func:`resolve_assignment`:
    exact flat argmax below :data:`TWO_LEVEL_AUTO_MIN_ROWS`, two-level
    coarse quantizer above — the flat N x cells assignment is the
    measured N^1.5 term (sf10: 328 s flat vs 20 s two-level, identical
    pairs), so the 100x-scale caller must not get it by default.

    ``fit_fraction=None`` (default) bounds the Lloyd fit to a
    deterministic hash sample of ~max(SEMANTIC_FIT_PER_CELL * cells,
    SEMANTIC_FIT_MIN_SAMPLE) vectors — without it every Lloyd round is
    its own N x cells pass and the fit, not the assignment, owns the
    N^1.5 asymptote (measured, see the constants' comment). All registry
    SFs fall under the sample floor and keep the exact full fit, so
    oracle hashes are unchanged; pass an explicit fraction to pin.

    Scale shape: centroid fit + assignment are the IVF machinery (1-row
    broadcast centroid array, narrow per-row argmax — the corpus is never
    shuffled to find its cell); the pair join is an equi-join on cell id,
    so candidate work is sum of squared CELL sizes, never corpus², and
    both unit-vector sides make the pair score one dot product."""
    if n_centroids is None or assignment == "auto" or fit_fraction is None:
        n_rows = corpus.count()
        if n_centroids is None:
            n_centroids = auto_centroids(n_rows)
        assignment = resolve_assignment(assignment, n_rows, n_centroids)
        if fit_fraction is None:
            target = max(SEMANTIC_FIT_PER_CELL * n_centroids, SEMANTIC_FIT_MIN_SAMPLE)
            fit_fraction = min(1.0, target / max(1, n_rows))
    cent = kmeans_centroids(
        corpus, id_col, vec_col, n_centroids, kmeans_iters, fit_fraction=fit_fraction
    )
    if assignment == "two_level":
        # coarse-then-fine argmax: ~(1 + sup_probes) * sqrt(cells) dots
        # per row instead of cells — the N x cells assignment is the
        # dominant term at scale (measured at sf10 / 2048 cells: flat
        # 328 s vs two-level 20 s, IDENTICAL 570k >=0.95 pairs out the
        # other end — near-identical vectors make identical probe
        # decisions, so PAIR recall survives even where absolute cell
        # agreement drops). The "auto" default lands here at or above
        # TWO_LEVEL_AUTO_MIN_ROWS; the oracle-pinned registry query runs
        # far below it, so its exact flat argmax is unchanged.
        cells = two_level_assign(corpus, cent, id_col, vec_col, sup_probes=sup_probes)
        v = (
            _with_unit(
                _spread(corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("raw"))),
                "raw", "u",
            )
            .filter(F.col("u").isNotNull())
            .join(cells.select(F.col(id_col).alias("vid"), F.col("cell_id").alias("_cell")), "vid")
            .select("vid", "u", "_cell")
            .repartition(F.col("_cell"))
        )
    else:
        cent_arr = F.broadcast(_centroid_array(cent))
        v = (
            _with_unit(
                _spread(
                    corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("raw"))
                ).crossJoin(cent_arr),
                "raw",
                "u",
            )
            .filter(F.col("u").isNotNull())
            .withColumn("_cell", F.array_max(_scored_cents(F.col("raw"))).getField("cent_id"))
            .select("vid", "u", "_cell")
            # explicit pre-shuffle on the join key: both self-join sides read
            # ONE ReusedExchange instead of each re-running the k-means
            # assignment subtree (same trick as the shingle-index self-join)
            .repartition(F.col("_cell"))
        )
    if pair_engine == "arrow":
        # one grouped shuffle on the cell id (groupBy supplies it — the
        # explicit repartition above is reused as its exchange), then the
        # per-cell GEMM select + exact-fold rescore kernel; the JVM
        # round+filter below is IDENTICAL to the self-join path's, so
        # both engines emit the same rows bit-for-bit
        raw = v.groupBy("_cell").applyInPandas(
            _cell_pairs_arrow(threshold),
            schema="id_a long, id_b long, cosine_sim double",
        )
        return raw.select(
            "id_a", "id_b", F.round(F.col("cosine_sim"), 6).alias("cosine_sim")
        ).filter(F.col("cosine_sim") >= threshold)
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, (F.col("a._cell") == F.col("b._cell")) & (F.col("a.vid") < F.col("b.vid")))
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            F.round(dot("a.u", "b.u"), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int | None = None,
    kmeans_iters: int = IVF_KMEANS_ITERS,
    pair_engine: str = "jvm",
) -> DataFrame:
    """Full semantic-dedup verdict per document: (id, rep_id, keep) where
    ``rep_id`` is the minimum id of the document's near-duplicate
    component (itself when unduplicated) and ``keep`` marks the one
    survivor per component. Pairs from ``semantic_dup_pairs``
    (``n_centroids=None`` -> corpus-scaled cell count); components from
    the size-adaptive connected-components operator (driver union-find
    for small pair graphs, distributed min-label propagation above 1M
    edges)."""
    from monster_etl_spark.operators.graph import connected_components

    pairs = semantic_dup_pairs(
        corpus, id_col, vec_col, threshold, n_centroids, kmeans_iters,
        pair_engine=pair_engine,
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    ids = corpus.select(F.col(id_col).alias("id"))
    return (
        ids.join(comp.withColumnRenamed("node", "id"), "id", "left")
        .select(
            "id",
            F.coalesce(F.col("component"), F.col("id")).alias("rep_id"),
            (F.coalesce(F.col("component"), F.col("id")) == F.col("id")).alias("keep"),
        )
    )


def brute_force_topk_blocked(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_blocks: int = 8,
) -> DataFrame:
    """Exhaustive cosine top-k for LARGE query sets — the formulation that
    replaces ``brute_force_topk`` when |Q| no longer broadcasts. The
    corpus is hashed into ``n_blocks`` disjoint blocks; each query row is
    replicated to every block (a narrow posexplode — the REPLICATED side
    is the per-row-cheap one, the corpus is never duplicated); the pair
    generation is then an EQUI-join on block id, so the n_q x n_c work
    spreads evenly over n_blocks x shuffle-partitions tasks with no
    single task holding more than |Q| x |corpus|/n_blocks pairs.

    Two-stage ranking keeps the shuffle bounded: a per-(query, block)
    partial top-k first (each window sees only a block's candidates),
    then the global top-k merges n_blocks x k rows per query — the same
    partial->final shape as a combinable aggregate, never one window
    over all |corpus| candidates of a query. Results are identical to
    ``brute_force_topk`` (asserted in tests); at 1000 executors pick
    n_blocks ~ cluster cores / |Q|-batch so blocks stay cache-sized."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("block"),
    )
    c = _spread(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("nv"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("block"),
        )
    )
    scored = (
        q.join(c, "block")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "block",
            "query_id",
            "neighbor_id",
            F.round(cosine("qv", "nv"), 6).alias("cosine_sim"),
        )
    )
    wb = Window.partitionBy("query_id", "block").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    partial = scored.withColumn("prank", F.row_number().over(wb)).filter(
        F.col("prank") <= k
    )
    return _topk(partial, k)


def brute_force_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k via an Arrow-vectorized numpy kernel — the
    measured constant-factor answer to the interpreted-HOF cost of
    ``brute_force_topk`` (same results, same oracle; equality asserted
    in tests).

    Plan shape mirrors the JVM path: the BOUNDED query set (the side
    ``brute_force_topk`` broadcasts) is collected once to a q x d
    float64 matrix and shipped to workers by closure; the corpus
    streams through ``mapInPandas`` — a NARROW transformation, the
    corpus never shuffles — where each Arrow batch scores all q x batch
    pairs with vectorized float64 ops and emits only each query's
    per-batch top-k candidates plus every pair within 1e-6 of the k-th
    best raw score (any pair further below is strictly beaten by >= k
    in-batch pairs even after 6dp rounding, so dropping it is lossless).
    The final global rank is a window over <= n_batches x q x (k+ties)
    candidate rows, shuffled on query_id only.

    Bit-parity with the JVM path (and so with the shared DuckDB
    oracle) at BLAS speed, via select-then-rescore: the full q x batch
    score matrix is a float64 GEMM (BLAS reassociates the sum — bit-
    close, not bit-equal, so it is used ONLY to pick candidates, with
    the slack widened to absorb the reassociation error, bounded by
    ~d*eps << 1e-9), and the <= q x (k+ties) KEPT pairs are then
    rescored with the dot product and norms accumulated SEQUENTIALLY
    over the index j — vectorized across pairs, fold order across
    terms — reproducing ``aggregate(zip_with(...))`` exactly in IEEE
    float64. The 6dp HALF_UP rounding stays JVM-side (``F.round`` over
    the emitted raw scores).

    Zero-norm vectors score NULL in the JVM path (sorted last, never in
    a top-k when >= k real candidates exist); the kernel masks them out
    of the candidate stream entirely — identical results under that
    same condition.

    This is an audited named exception to the "Python eval only
    in multimodal/untar" policy (see tests/test_explain.py): here the
    Arrow kernel IS the operator — a vectorized numeric inner loop that
    built-in column functions only express as interpreted higher-order
    folds (measured ~10x slower at sf0.1; see QUERIES.md).
    """
    got = _collect_queries(queries, id_col, vec_col)
    if got is None:
        return queries.sparkSession.createDataFrame([], _TOPK_SCHEMA)
    return _arrow_topk(corpus, id_col, vec_col, _brute_kernel(*got, k), k)


def _collect_queries(queries: DataFrame, id_col: str, vec_col: str):
    """Query-side prelude of the Arrow kernels: ONE bounded collect (the
    side the JVM paths broadcast; q x d doubles) as ``(query ids as
    int64, q x d float64 matrix)``. NULL-vector query rows are dropped —
    the JVM paths score them NULL — and an empty set returns ``None``, so
    the caller answers with an empty frame of the output schema."""
    import numpy as np

    rows = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).collect()
    rows = [r for r in rows if r.qv is not None]
    if not rows:
        return None
    return (
        np.asarray([r.query_id for r in rows], dtype=np.int64),
        np.asarray([list(r.qv) for r in rows], dtype=np.float64),
    )


def _arrow_topk(corpus: DataFrame, id_col: str, vec_col: str, kernel, k: int) -> DataFrame:
    """Stream the corpus through ``kernel`` — a NARROW ``mapInPandas``
    pass, the corpus never shuffles — and rank the emitted
    ``(query_id, neighbor_id, raw_sim)`` candidates JVM-side: the 6dp
    HALF_UP round, then :func:`_topk` (the one shuffle, on query_id, over
    <= n_batches x q x (k+ties) rows). NULL corpus vectors score NULL in
    the JVM paths (sorted last); the kernels never see them."""
    c = _spread(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("nv")
        ).where(F.col("nv").isNotNull())
    )
    cand = map_in_pandas(c, kernel, "query_id long, neighbor_id long, raw_sim double")
    return _topk(
        cand.select(
            "query_id", "neighbor_id", F.round(F.col("raw_sim"), 6).alias("cosine_sim")
        ),
        k,
    )


def _brute_kernel(qid_arr, qm, k: int):
    """The exact-cosine select-then-rescore kernel of
    :func:`brute_force_topk_arrow` over the collected queries ``(qid_arr,
    qm)``. References no module-level name (the fold is captured), so
    cloudpickle ships it by value."""
    import numpy as np

    fold = _fold
    q_norm = np.sqrt(fold(qm, qm))  # fold order: bit-parity with norm()
    # 1e-6 covers a 6dp rounded tie on either side; the rest absorbs
    # the GEMM-vs-fold reassociation error (~d*eps, < 1e-12 here)
    slack = 2e-6

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            nid = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            nm = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["nv"]])
            n_b = len(nid)
            # selection pass: BLAS GEMM, approximate only in the last ulps
            cos = qm @ nm.T
            with np.errstate(divide="ignore", invalid="ignore"):
                cos /= q_norm[:, None]
                cos /= np.sqrt((nm * nm).sum(axis=1))[None, :]
            cos[~np.isfinite(cos)] = -np.inf  # zero-norm -> never a candidate
            cos[qid_arr[:, None] == nid[None, :]] = -np.inf  # self-match
            if n_b > k:
                kth = np.partition(cos, n_b - k, axis=1)[:, n_b - k]
                keep = cos >= (kth - slack)[:, None]
                keep &= np.isfinite(cos)
            else:
                keep = np.isfinite(cos)
            qi, ni = np.nonzero(keep)
            # rescore pass: only the kept pairs, in the JVM fold order
            qk, nk = qm[qi], nm[ni]
            yield pd.DataFrame(
                {
                    "query_id": qid_arr[qi],
                    "neighbor_id": nid[ni],
                    "raw_sim": fold(qk, nk) / (q_norm[qi] * np.sqrt(fold(nk, nk))),
                }
            )

    return kernel


def _np_super_index(cm, n_super: int | None = None):
    """Driver-side numpy twin of :func:`_two_level_index` over an
    already-collected (n_cent, dims) unit-centroid matrix: a
    metadata-scale spherical mini-Lloyd (same shape as the JVM fit —
    lowest-id seeds, 2 rounds, 9dp-rounded unit means, empty supers
    drop out) returning ``(sm, sup_members)`` where ``sm`` is the
    (n_super, dims) super-centroid matrix and ``sup_members[s]`` is the
    int64 index array of the centroids assigned to super ``s``. Cost is
    cells x supers — centroid-table-scale, never touches the corpus.
    ``np.argmax`` ties go to the lowest index = the lowest cent_id
    (centroids arrive sorted by id), the JVM tie rule."""
    import math

    import numpy as np

    n_cent = cm.shape[0]
    if n_super is None:
        n_super = max(2, int(math.sqrt(n_cent)))
    n_super = min(n_super, n_cent)
    sm = cm[:n_super].copy()
    for _ in range(2):
        assign = (cm @ sm.T).argmax(axis=1)
        rows = []
        for s in range(sm.shape[0]):
            mem = cm[assign == s]
            if not len(mem):
                continue  # empty super drops, like the JVM Lloyd loop
            m = mem.mean(axis=0)
            nrm = float(np.sqrt((m * m).sum()))
            if nrm > 0:
                rows.append(np.round(m / nrm, 9))
        if not rows:
            break
        sm = np.stack(rows)
    assign = (cm @ sm.T).argmax(axis=1)
    sup_members = [
        np.nonzero(assign == s)[0].astype(np.int64) for s in range(sm.shape[0])
    ]
    return sm, sup_members


def ivf_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int | None = IVF_CENTROIDS,
    n_probes: int | None = None,
    kmeans_iters: int = IVF_KMEANS_ITERS,
    fit_fraction: float | None = None,
    assignment: str = "auto",
    sup_probes: int = TWO_LEVEL_SUP_PROBES,
) -> DataFrame:
    """``ivf_topk`` with the cell assignment + in-cell scoring fused into
    one Arrow-vectorized numpy kernel — same centroids (the JVM
    ``kmeans_centroids`` fit, unchanged), bit-identical results (equality
    asserted in tests), one fewer shuffle (the JVM path's cell equi-join
    disappears: each corpus batch is assigned AND scored in a single
    narrow ``mapInPandas`` pass, so only <= q x (k+ties) candidate rows
    ever shuffle, for the final rank on query_id).

    ``n_centroids=None`` / ``fit_fraction=None`` / ``assignment="auto"``
    resolve exactly as in :func:`ivf_topk` (auto ~sqrt(N) cells,
    sample-bounded Lloyd fit, two-level coarse quantization at >= 100k
    rows AND >= 64 cells — registry defaults with IVF_CENTROIDS=16 stay
    on the exact flat GEMM with NO count job, so oracle-pinned plans are
    unchanged). The two-level form is TWO CHAINED GEMMs inside the same
    ``mapInPandas`` pass: corpus batch x ~sqrt(cells) supers (coarse,
    stable top-``sup_probes``), then batch x probed-super members (fine,
    one GEMM per probed super group) — O(N^1.25 d) assignment FLOPs
    instead of the flat GEMM's O(N^1.5 d) at auto cells ~ sqrt(N), the
    same asymptotic cure :func:`two_level_assign` gives the JVM paths.
    The super index is the driver-side numpy twin of
    :func:`_two_level_index` (:func:`_np_super_index`, centroid-table
    scale). Same contracts as the JVM two-level: approximate (a vector
    whose true cell lives outside every probed super misassigns; with
    ``sup_probes`` >= supers the pool is ALL cells and the result is
    bit-identical to the flat kernel — asserted in tests), empty-pool
    rows fall back to the flat argmax. QUERY probes stay exact flat
    (queries are the bounded side; q x cells dots driver-side is never
    a scale term, and exact probes strictly improve recall).

    Bit-parity uses the same select-then-rescore discipline as
    ``brute_force_topk_arrow``: BLAS GEMMs pick candidate cells/pairs
    (slack-widened — the assignment slack scales with the row norm since
    cell scores are dot(raw vec, unit centroid), unbounded), then every
    kept candidate is rescored with fold-order accumulation (acc = acc +
    x*y, j ascending), reproducing the JVM ``aggregate(zip_with(...))``
    exactly: cell argmax ties break to the lowest cent_id (the JVM's
    (c_sim, -cent_id) lexicographic max), query probe sets use the same
    fold-order scores driver-side, and pair scores are fold dots of the
    same unit vectors (elementwise x/norm in IEEE double). 6dp rounding
    stays JVM-side.

    Same zero-norm contract as the other Arrow kernel: the JVM path
    scores zero-norm vectors NULL (sorted last); the kernel drops them —
    identical whenever every query has >= k real candidates in its
    probed cells. An audited named exception to the Python-eval policy
    (tests/test_explain.py): the vectorized kernel IS the operator.

    Measured end-to-end (local[32], warm): 1.14x at sf0.1, 1.34x at sf1
    — the shared JVM k-means fit is the floor; the Arrow advantage
    applies to the assignment+scoring phase, so the end-to-end gap
    widens with corpus size while the fit stays bounded (sampled
    dictionary, see ``kmeans_centroids``).
    """
    import numpy as np

    requested = assignment
    n_centroids, assignment, fit_fraction, _ = _resolve_ivf_knobs(
        corpus, n_centroids, assignment, fit_fraction
    )
    n_probes = resolve_probes(n_probes, n_centroids)
    # The BLAS flat GEMM moves the N x cells constant far below the
    # interpreted-HOF path the JVM's 64-cell gate was measured against,
    # so the Arrow crossover sits higher: measured on 200k x 64 (idle
    # box), two-level assignment is 0.84x at 447 cells but 8.0x at 2048
    # and 17.5x at 31.6k (SCALE.md round-9). "auto" therefore stays on
    # the exact flat kernel below _ARROW_TWO_LEVEL_MIN_CELLS; an
    # explicit assignment="two_level" is honored at any cell count.
    if (
        requested == "auto"
        and assignment == "two_level"
        and n_centroids < ARROW_TWO_LEVEL_MIN_CELLS
    ):
        assignment = "flat"
    cent_rows = kmeans_centroids(
        corpus, id_col, vec_col, n_centroids, kmeans_iters, fit_fraction=fit_fraction
    ).collect()
    got = _collect_queries(queries, id_col, vec_col)
    if not cent_rows or got is None:  # nothing to probe, or no queries
        return queries.sparkSession.createDataFrame([], _TOPK_SCHEMA)
    cent_rows.sort(key=lambda r: r.cent_id)
    cent_ids = np.asarray([r.cent_id for r in cent_rows], dtype=np.int64)
    cm = np.asarray([list(r.cv) for r in cent_rows], dtype=np.float64)
    kernel = _ivf_kernel(
        *got, cent_ids, cm, n_probes, k, sup_probes if assignment == "two_level" else None
    )
    return _arrow_topk(corpus, id_col, vec_col, kernel, k)


def _ivf_kernel(qid_arr, qm, cent_ids, cm, n_probes: int, k: int, sup_probes=None):
    """The fused assign-and-score kernel of :func:`ivf_topk_arrow`. The
    query probe sets and unit vectors are computed here, driver-side, in
    the JVM fold order. ``sup_probes`` selects two-level assignment over
    the centroid-table-scale super index (:func:`_np_super_index`, built
    here once); ``None`` keeps the flat argmax. References no
    module-level name (the fold is captured), so cloudpickle ships it by
    value."""
    import numpy as np

    fold = _fold
    n_q, n_cent = len(qid_arr), len(cent_ids)
    qc = fold(qm[:, None], cm[None])  # query x centroid scores
    q_norm = np.sqrt(fold(qm, qm))
    probe_mask = np.zeros((n_q, n_cent), dtype=bool)
    for qi in range(n_q):
        order = np.lexsort((cent_ids, -qc[qi]))  # c_sim desc, cent_id asc
        probe_mask[qi, order[:n_probes]] = True
    with np.errstate(divide="ignore", invalid="ignore"):
        qu = qm / q_norm[:, None]
    live_q = q_norm > 0  # zero-norm queries score NULL in the JVM path
    slack = 2e-6  # cosine selection: 6dp tie + GEMM reassociation error
    sm = sup_members = None
    n_sup = 0
    if sup_probes is not None:
        sm, sup_members = _np_super_index(cm)
        n_sup = min(sup_probes, sm.shape[0])

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            nid = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            nm = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["nv"]])
            n_b = len(nid)
            n_norm = np.sqrt(fold(nm, nm))  # fold order (parity with norm())

            # cell assignment: GEMM selection (slack ~ row norm, since
            # |dot(raw, unit cent)| <= |row|), fold-order rescore,
            # argmax with ties to the lowest cent_id
            a_slack = 1e-9 * (1.0 + n_norm)
            if sm is not None:
                # coarse GEMM over ~sqrt(cells) supers; stable argsort
                # breaks score ties to the lowest super index (= lowest
                # sup_id, the JVM rule)
                gs = nm @ sm.T
                top_s = np.argsort(-gs, axis=1, kind="stable")[:, :n_sup]
                probe_sup = np.zeros((n_b, sm.shape[0]), bool)
                probe_sup[np.arange(n_b)[:, None], top_s] = True
                # fine GEMMs: one per probed super group, batch rows x
                # member cells — the chained-GEMM form of the pooled
                # argmax; select-then-rescore discipline is shared with
                # the flat branch below
                rowmax = np.full(n_b, -np.inf)
                fine = []
                for s_i, mem in enumerate(sup_members):
                    rows_s = np.nonzero(probe_sup[:, s_i])[0]
                    if not rows_s.size or not mem.size:
                        continue
                    sub = nm[rows_s] @ cm[mem].T
                    np.maximum.at(rowmax, rows_s, sub.max(axis=1))
                    fine.append((rows_s, mem, sub))
                ri_l, ci_l = [], []
                for rows_s, mem, sub in fine:
                    rr, cc = np.nonzero(
                        sub >= (rowmax[rows_s] - a_slack[rows_s])[:, None]
                    )
                    ri_l.append(rows_s[rr])
                    ci_l.append(mem[cc])
                # rows whose probed supers ALL lost their members: flat
                # fallback over every cell (same contract as
                # _two_level_cells — dropping the row would lose its
                # neighbors, worse than the full scan for a rare orphan)
                orphan = np.nonzero(~np.isfinite(rowmax))[0]
                if orphan.size:
                    sub = nm[orphan] @ cm.T
                    rr, cc = np.nonzero(
                        sub >= (sub.max(axis=1) - a_slack[orphan])[:, None]
                    )
                    ri_l.append(orphan[rr])
                    ci_l.append(cc.astype(np.int64))
                ri = np.concatenate(ri_l) if ri_l else np.zeros(0, np.int64)
                ci = np.concatenate(ci_l) if ci_l else np.zeros(0, np.int64)
            else:
                g = nm @ cm.T
                ri, ci = np.nonzero(g >= (g.max(axis=1) - a_slack)[:, None])
            acc = fold(nm[ri], cm[ci])
            order = np.lexsort((cent_ids[ci], -acc, ri))
            uniq, first = np.unique(ri[order], return_index=True)
            # row i -> centroid INDEX; -1 = unassignable (NaN vector,
            # candidate set empty) -> excluded below, never misaligned
            cell = np.full(n_b, -1, dtype=np.int64)
            cell[uniq] = ci[order][first]

            # in-cell scoring: candidate iff the query probes this row's
            # cell; unit-vector GEMM selection, fold-order rescore
            with np.errstate(divide="ignore", invalid="ignore"):
                nu = nm / n_norm[:, None]
            cand = probe_mask[:, np.where(cell >= 0, cell, 0)]  # n_q x n_b
            cand &= live_q[:, None] & ((n_norm > 0) & (cell >= 0))[None, :]
            cand &= qid_arr[:, None] != nid[None, :]
            cos = qu @ nu.T
            cos[~cand] = -np.inf
            cos[~np.isfinite(cos)] = -np.inf
            if n_b > k:
                kth = np.partition(cos, n_b - k, axis=1)[:, n_b - k]
                keep = cos >= (kth - slack)[:, None]
                keep &= np.isfinite(cos)
            else:
                keep = np.isfinite(cos)
            qi, ni = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "query_id": qid_arr[qi],
                    "neighbor_id": nid[ni],
                    "raw_sim": fold(qu[qi], nu[ni]),
                }
            )

    return kernel


def covariance_moments(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Upper-triangle exact covariance of the embedding dimensions —
    DECIMAL(18,9) per-element casts so products (DECIMAL(37,18)) and sums
    are exact and partition-order independent. Narrow pair expansion
    (d²/2 structs per row, no shuffle), one map-side-combinable (i, j)
    aggregate; see ``queries.similarity_queries.embedding_covariance``
    for the hash-matched SQL twin. Returns (dim_i, dim_j, cov) 1-based.
    """
    v = _qid(vec_col)
    pairs = emb.select(
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(1, size({v})), i ->
                     transform(sequence(i, size({v})), j ->
                       struct(i AS i, j AS j,
                         CAST(CAST(element_at({v}, i) AS DECIMAL(18,9))
                              * CAST(element_at({v}, j) AS DECIMAL(18,9))
                              AS DECIMAL(38,18)) AS xy))))"""
            )
        ).alias("p")
    ).select("p.i", "p.j", "p.xy")
    sums = pairs.groupBy("i", "j").agg(F.sum("xy").alias("sxy"))
    dims = emb.select(F.posexplode(vec_col).alias("pos", "v")).select(
        (F.col("pos") + 1).alias("d"), F.col("v").cast("decimal(18,9)").alias("x")
    )
    means = dims.groupBy("d").agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"))
    mi = means.select(F.col("d").alias("i"), F.col("sx").alias("sx_i"), "n")
    mj = means.select(F.col("d").alias("j"), F.col("sx").alias("sx_j"))
    cov = (
        F.col("sxy").cast("double")
        - F.col("sx_i").cast("double") * F.col("sx_j").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    return (
        sums.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            F.col("i").cast("long").alias("dim_i"),
            F.col("j").cast("long").alias("dim_j"),
            cov.alias("cov"),
        )
    )


def pca_project(
    emb: DataFrame,
    k: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed PCA, the canonical two-phase shape: (1) the d x d
    covariance reduces across the cluster (``covariance_moments`` — one
    corpus pass, map-side combinable); (2) eigendecomposition runs on the
    driver over the d² matrix (numpy `eigh` — metadata-sized, the same
    design point as the manifest collect); (3) projection is a narrow
    per-row dot product against the top-``k`` eigenvectors shipped as
    broadcast literals. The corpus is read twice and never shuffled.

    Deterministic: `eigh` is deterministic for a fixed matrix (which the
    exact-decimal covariance guarantees), and each component's sign is
    canonicalized (largest-|loading| coordinate made positive) so the
    output does not flip between runs. Centering uses the exact per-dim
    means. Returns (id, pc1..pck) with 6dp rounding.
    """
    import numpy as np

    cov_rows = covariance_moments(emb, vec_col).collect()
    d = max(r["dim_j"] for r in cov_rows)
    cov = np.zeros((d, d))
    for r in cov_rows:
        cov[r["dim_i"] - 1, r["dim_j"] - 1] = r["cov"]
        cov[r["dim_j"] - 1, r["dim_i"] - 1] = r["cov"]
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order]  # d x k
    for c in range(comps.shape[1]):
        pivot = int(np.argmax(np.abs(comps[:, c])))
        if comps[pivot, c] < 0:
            comps[:, c] = -comps[:, c]
    mean_rows = (
        emb.select(F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.avg(F.col("v").cast("double")).alias("m"))
        .collect()
    )
    mu = np.zeros(d)
    for r in mean_rows:
        mu[r["pos"]] = r["m"]

    # (x - mu) . w == x . w - mu . w: the mean shift folds into a scalar
    # offset, so the per-row work is one zip_with dot product
    out_cols = [F.col(id_col)]
    for c in range(comps.shape[1]):
        weights = F.array(*[F.lit(float(x)) for x in comps[:, c]])
        dot_xw = _fold_col(_as_double(vec_col), weights)
        offset = float(mu @ comps[:, c])
        out_cols.append(F.round(dot_xw - F.lit(offset), 6).alias(f"pc{c + 1}"))
    return emb.select(*out_cols)


# --- Product Quantization (PQ) approximate top-k --------------------------

PQ_SUBSPACES = 8
PQ_CODES = 16
PQ_KMEANS_ITERS = 2
PQ_SHORTLIST_FACTOR = 12  # ADC shortlist size = k * this, before exact re-rank
# map key for (subspace, centroid) -> one int; codebooks are far smaller
PQ_KEY_STRIDE = 1 << 20


def _sub_rows(df: DataFrame, id_col: str, vec_col: str, m: int) -> DataFrame:
    """(id, sub_id, sv): each vector split into ``m`` contiguous sub-vectors
    (last subspace takes any remainder dimension). Narrow — one slice per
    subspace, no shuffle."""
    d = F.size(F.col(vec_col))
    dsub = (d / m).cast("int")  # floor
    rows = df.select(
        F.col(id_col).alias("cid"),
        _as_double(vec_col).alias("v"),
        dsub.alias("dsub"),
        d.alias("d"),
    )
    return rows.select(
        "cid",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.slice(
                    F.col("v"),
                    s * F.col("dsub") + 1,
                    F.when(s == m - 1, F.col("d") - s * F.col("dsub")).otherwise(
                        F.col("dsub")
                    ),
                ),
            )
        ).alias("sub_id", "sv"),
    )


def _pq_cent_array(cent: DataFrame) -> DataFrame:
    """1-row broadcastable array of ALL subspace codebooks:
    array<struct<sub_id, cent_id, cv, c2>> (c2 = |cv|^2 precomputed so the
    L2 argmin is a single fused dot per candidate)."""
    return cent.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "sub_id",
                    "cent_id",
                    "cv",
                    F.aggregate(
                        F.col("cv"), F.lit(0.0), lambda acc, x: acc + x * x
                    ).alias("c2"),
                )
            )
        ).alias("cents")
    )


def _pq_best_code(sv: Column, sub_id: Column) -> Column:
    """argmin_c ||sv - c||^2 over the row's subspace codebook, expressed as
    argmax (sv.c - 0.5*|c|^2) so only the codebook's own norms are needed.
    Ties break to the lowest cent_id via struct ordering."""
    scored = F.transform(
        F.filter(F.col("cents"), lambda c: c.getField("sub_id") == sub_id),
        lambda c: F.struct(
            (_fold_col(sv, c.getField("cv")) - 0.5 * c.getField("c2")).alias("score"),
            (-c.getField("cent_id")).alias("neg_id"),
            c.getField("cent_id").alias("cent_id"),
        ),
    )
    return F.array_max(scored).getField("cent_id")


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_SUBSPACES,
    n_codes: int = PQ_CODES,
    iters: int = PQ_KMEANS_ITERS,
    fit_fraction: float = 1.0,
) -> DataFrame:
    """Euclidean (not spherical) k-means codebooks for all ``m`` PQ
    subspaces, fitted simultaneously in ONE Lloyd loop: the grouped
    centroid table is keyed (sub_id, cent_id) and collapses to a single
    broadcast array, so each round is one narrow argmin pass over the
    (id, sub) rows plus one map-side-combinable mean — m never multiplies
    the number of jobs. Seeds are the ``n_codes`` lowest-id vectors'
    sub-slices (deterministic, id-stable). Returns (sub_id, cent_id, cv)
    with components rounded 9dp for partition-order reproducibility.

    ``fit_fraction`` < 1 fits the Lloyd loop on the same deterministic
    hash sample ``kmeans_centroids`` uses (salted-md5 on the id): at
    scale an UNSAMPLED codebook fit costs N x m x n_codes dots per
    round, the PQ twin of the coarse fit the IVF knobs already bound.
    Codebook quality is statistically unchanged when every code keeps
    >> 1 members in the sample; the registry's oracle-pinned defaults
    pass 1.0 and keep the exact full fit (plans byte-identical).
    """
    if fit_fraction < 1.0:
        from monster_etl_spark.operators.sampling import HASH_SPACE, sample_hash

        cutoff = int(fit_fraction * HASH_SPACE)
        # sample WHOLE VECTORS (filter on the id before the sub split):
        # every subspace sees the same sampled rows, as the coarse fit
        # does; seeds are then the n_codes lowest SAMPLED ids so every
        # seed exists among the fit rows
        corpus_fit = corpus.filter(
            sample_hash(F.col(id_col), salt="pqfit") < cutoff
        )
    else:
        corpus_fit = corpus
    # driver tier (round-11): same one-Arrow-job replacement as
    # kmeans_centroids — the WHOLE vectors are collected (bounded) and
    # sub-sliced in numpy (slicing moves no arithmetic), so the ~15
    # probe/broadcast/checkpoint jobs of the distributed subspace loop
    # collapse to one. Oversized/ragged fit sets keep the loop.
    got = _collect_fit_rows(
        corpus_fit.select(F.col(id_col).alias("cid"), _as_double(vec_col).alias("v")),
        "PQ fit",
    )
    if got is not None:
        ids, V = got
        return _pq_driver_fit(corpus.sparkSession, ids, V, m, n_codes, iters)
    sub = _spread(_sub_rows(corpus_fit, id_col, vec_col, m))
    dim = None
    if iters > 0:
        sub = sub.persist()
        # fixed-dimension probe (same shape + limit-1 pre-probe as
        # kmeans_centroids): when every vector shares one length AND the
        # SUBSPACE width (the aggregate's column count, d/m-ish) is under
        # KMEANS_WIDE_DIM_CAP, each Lloyd round's mean recompute
        # collapses to ONE wide aggregate on (sub_id, cent_id) — no
        # posexplode, one exchange instead of two (round-11)

        def _sub_w(d: int) -> int:
            return max(d // m, d - (m - 1) * (d // m))

        head = corpus_fit.select(F.size(F.col(vec_col)).alias("s")).first()
        if (
            head is not None
            and head["s"] is not None
            and 0 < head["s"]
            and _sub_w(head["s"]) <= KMEANS_WIDE_DIM_CAP
        ):
            probe = corpus_fit.agg(
                F.min(F.size(F.col(vec_col))).alias("lo"),
                F.max(F.size(F.col(vec_col))).alias("hi"),
            ).first()
            if probe["lo"] is not None and probe["lo"] == probe["hi"]:
                dim = int(probe["lo"])
    cent = (
        sub.filter(
            F.col("cid").isin(
                # bounded: n_codes lowest ids — collected via limit on the
                # tiny distinct-id projection, not a corpus sort (of the
                # FIT set, so every seed exists among the sampled rows)
                [r[0] for r in corpus_fit.select(id_col).orderBy(id_col).limit(n_codes).collect()]
            )
        )
        .groupBy("sub_id")
        .agg(F.array_sort(F.collect_list(F.struct("cid", "sv"))).alias("seeds"))
        .select("sub_id", F.posexplode("seeds").alias("idx", "s"))
        .select(
            "sub_id",
            (F.col("idx") + 1).cast("long").alias("cent_id"),
            F.transform("s.sv", lambda x: F.round(x, 9)).alias("cv"),
        )
    )
    for it in range(iters):
        best = sub.crossJoin(F.broadcast(_pq_cent_array(cent))).select(
            "cid",
            "sub_id",
            "sv",
            _pq_best_code(F.col("sv"), F.col("sub_id")).alias("cent_id"),
        )
        if dim is not None:
            # fixed-dim fast path: every sub-vector of subspace s has a
            # known length (dsub, or d - (m-1)*dsub for the last), so the
            # per-(sub, cent) mean is a single wide aggregate sliced to
            # the subspace's length — one exchange, no explode
            dsub = dim // m
            last_len = dim - (m - 1) * dsub
            max_len = max(dsub, last_len)
            means_wide = best.groupBy("sub_id", "cent_id").agg(
                *[
                    F.avg(F.try_element_at(F.col("sv"), F.lit(p + 1))).alias(f"_m{p}")
                    for p in range(max_len)
                ]
            )
            mv = F.slice(
                F.array(*[F.round(F.col(f"_m{p}"), 9) for p in range(max_len)]),
                1,
                F.when(F.col("sub_id") == m - 1, F.lit(last_len)).otherwise(
                    F.lit(dsub)
                ),
            )
            cent = means_wide.select(
                "sub_id", "cent_id", mv.alias("cv")
            ).localCheckpoint(eager=True)
        else:
            cent = (
                best.select("sub_id", "cent_id", F.posexplode("sv").alias("pos", "val"))
                .groupBy("sub_id", "cent_id", "pos")
                .agg(F.avg("val").alias("mval"))
                .groupBy("sub_id", "cent_id")
                .agg(F.array_sort(F.collect_list(F.struct("pos", "mval"))).alias("pm"))
                .select(
                    "sub_id",
                    "cent_id",
                    F.transform("pm", lambda s: F.round(s.getField("mval"), 9)).alias("cv"),
                )
                .localCheckpoint(eager=True)
            )
    if iters > 0:
        sub.unpersist(blocking=False)
    return cent


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_SUBSPACES,
) -> DataFrame:
    """Quantize: (id, codes array<long> of length m). THIS is PQ's scale
    story — at 100 TB the float vectors (d doubles/row) compress to m
    small codes/row; every downstream scoring pass reads codes, never
    vectors. Fully narrow: broadcast codebooks, all ``m`` per-row argmins
    computed inside one projection (round-11: the former
    explode -> groupBy(cid) reassembly shuffled N x m rows corpus-wide;
    this removes that exchange outright — guide §2.4). The sub-slice
    expressions are byte-identical to ``_sub_rows``'s, so codes are
    unchanged."""
    # _spread: on a single-split corpus the per-row interpreted argmin
    # (and everything narrow above it — the ADC scoring pass rides this
    # scan) otherwise runs as ONE task; measured 1.5 s serial on knn_pq
    # at sf0.1 (tools/profile_query.py stage 45) vs ~0.1 s spread over
    # the cores. No-op at scale (round-11; guide §2.6 stragglers).
    rows = _spread(
        corpus.select(F.col(id_col).alias("cid"), _as_double(vec_col).alias("v"))
    ).crossJoin(F.broadcast(_pq_cent_array(codebooks)))
    d = F.size(F.col("v"))
    dsub = (d / m).cast("int")  # floor, as in _sub_rows
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: _pq_best_code(
            F.slice(
                F.col("v"),
                s * dsub + 1,
                F.when(s == m - 1, d - s * dsub).otherwise(dsub),
            ),
            s,
        ),
    )
    return rows.select(F.col("cid").alias(id_col), codes.alias("codes"))


def _query_luts(
    queries: DataFrame, books: DataFrame, id_col: str, vec_col: str, m: int, qv: str
) -> DataFrame:
    """(qid, lut): each query's ADC lookup table, a map from ``sub_id *
    PQ_KEY_STRIDE + cent_id`` to dot(query sub-slice, codeword), built as
    one narrow map over the broadcast codebook array per query row (no
    explode, no exchange for |Q| rows of output; round-11). The
    sub-slice is :func:`_sub_rows`'s; ``qv`` names the double query
    vector inside the plan."""
    qrows = queries.select(
        F.col(id_col).alias("qid"), _as_double(vec_col).alias(qv)
    ).crossJoin(F.broadcast(_pq_cent_array(books)))
    qd = F.size(F.col(qv))
    qdsub = (qd / m).cast("int")  # floor, as in _sub_rows
    lut_entries = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            (c.getField("sub_id") * PQ_KEY_STRIDE + c.getField("cent_id")).alias("key"),
            _fold_col(
                F.slice(
                    F.col(qv),
                    c.getField("sub_id") * qdsub + 1,
                    F.when(
                        c.getField("sub_id") == m - 1,
                        qd - c.getField("sub_id") * qdsub,
                    ).otherwise(qdsub),
                ),
                c.getField("cv"),
            ).alias("dp"),
        ),
    )
    return qrows.select("qid", F.map_from_entries(lut_entries).alias("lut"))


def _adc_sum(m: int) -> Column:
    """Asymmetric-distance score of a ``codes`` row against the ``lut``
    of the query it is paired with: the sum of its ``m`` table lookups."""
    return F.aggregate(
        F.zip_with(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.col("codes"),
            lambda s, c: F.element_at(F.col("lut"), s * PQ_KEY_STRIDE + c),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = PQ_SUBSPACES,
    n_codes: int = PQ_CODES,
    kmeans_iters: int = PQ_KMEANS_ITERS,
    shortlist_factor: int = PQ_SHORTLIST_FACTOR,
) -> DataFrame:
    """PQ/ADC approximate top-k with exact re-rank: fit codebooks, encode
    the corpus once, build each query's lookup table (its dot product
    against every codebook entry — m*n_codes doubles per query), score
    every (query, corpus) pair as m map lookups instead of d multiplies
    (asymmetric distance computation), shortlist the top
    ``k * shortlist_factor`` per query, and re-rank ONLY the shortlist by
    true cosine — the standard IVF-PQ deployment shape (Jégou et al.
    2011): quantized scores find the neighborhood, exact math orders it.

    Scale shape: the LUT side is |Q|*m*n_codes values — broadcast at any
    corpus size (|Q| is the caller's responsibility to bound, same
    contract as ``brute_force_topk``); the corpus side streams CODES (m
    longs/row, not d floats), so the scoring pass moves ~d/m-fold fewer
    bytes and does ~d/m-fold fewer multiplies than brute force while
    remaining embarrassingly parallel. The exact re-rank touches raw
    vectors for only |Q|*k*shortlist_factor rows (an equi-join on
    neighbor id), independent of corpus size. Ranking windows partition
    per query; ties break to the lowest neighbor id.

    Returns (query_id, neighbor_id, cosine_sim, rank) — the final order
    and similarity are exact within the quantizer-chosen shortlist.
    """
    books = pq_codebooks(corpus, id_col, vec_col, m, n_codes, kmeans_iters)
    codes = pq_encode(corpus, books, id_col, vec_col, m)
    lut = _query_luts(queries, books, id_col, vec_col, m, "qv")
    score = F.round(_adc_sum(m), 6)
    pairs = codes.crossJoin(F.broadcast(lut)).filter(F.col(id_col) != F.col("qid"))
    return _rerank_shortlist(
        pairs.select(
            F.col("qid").alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            score.alias("approx_score"),
        ),
        queries, corpus, id_col, vec_col, k, k * shortlist_factor,
    )


def _rerank_shortlist(
    pairs: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_short: int,
) -> DataFrame:
    """The PQ entry points' exact re-rank: keep each query's ``n_short``
    best ``approx_score`` candidates of ``pairs`` (query_id, neighbor_id,
    approx_score; ties to the lowest neighbor id), then rank ONLY those by
    true cosine over the raw vectors — equi-joins whose probe side is
    |Q| x n_short rows, independent of corpus size."""
    shortlist = (
        pairs.withColumn(
            "arank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("approx_score"), F.asc("neighbor_id")
                )
            ),
        )
        .filter(F.col("arank") <= n_short)
        .drop("arank", "approx_score")
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"))
    scored = (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("qv", "nv"), 6).alias("cosine_sim"),
        )
    )
    return _topk(scored, k)


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int | None = IVF_CENTROIDS,
    n_probes: int | None = None,  # None -> resolve_probes(..., extra=2)
    m: int = PQ_SUBSPACES,
    n_codes: int = PQ_CODES,
    shortlist_factor: int = PQ_SHORTLIST_FACTOR,
    assignment: str = "auto",
    sup_probes: int = TWO_LEVEL_SUP_PROBES,
    fit_fraction: float | None = None,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ: the full FAISS-style ANN deployment shape (Jégou et al.
    2011) — coarse cells PRUNE (a query's ADC pass touches only its
    ``n_probes`` cells, not the corpus), PQ codes COMPRESS (the scoring
    pass inside a cell reads m small codes per vector, not d floats),
    and an exact cosine re-rank over the |Q|*k*shortlist rows ORDERS.
    Composes the engine's IVF (coarse k-means, broadcast 1-row centroid
    array, narrow assignment) and PQ (per-subspace codebooks, broadcast
    query LUTs) primitives; vs ``pq_topk`` this replaces the
    corpus-wide code scan with a cell equi-join, and vs ``ivf_topk`` the
    in-cell scoring moves codes instead of vectors — both cuts multiply
    at 100 TB. (Codebooks here quantize raw vectors, not cell residuals:
    residual PQ adds a subtraction per row but makes codebooks
    cell-conditional; documented simplification.)

    Scale shape: one shuffle joins codes to cell ids on the vector id
    (slim rows: id + cell + m codes); the probe pass is an equi-join on
    cent_id against broadcast per-query LUTs; the exact re-rank touches
    raw vectors for shortlist rows only. Deterministic end to end.

    ``n_centroids=None`` / ``assignment="auto"`` / ``fit_fraction=None``
    resolve via :func:`_resolve_ivf_knobs` exactly as in
    :func:`ivf_topk` — auto ~sqrt(N) cells, two-level coarse
    quantization for both assignment sides at >= 100k rows and >= 64
    cells, sample-bounded Lloyd fit. The oracle-pinned default
    (IVF_CENTROIDS=16) stays on the exact flat path with no count job.

    ``residual=True`` is the Jégou et al. 2011 IVFADC shape proper:
    codebooks quantize each vector's CELL RESIDUAL (unit vector minus
    its unit centroid — one shared codebook per subquantizer, as in the
    paper; per-cell codebooks would cost cells x m x n_codes memory)
    and the ADC score adds the exact per-(query, probed-cell) coarse
    dot back: dot(q, u_y) ~ dot(q, cv) + dot(q, r~). Residuals are
    SMALLER than raw vectors (the coarse quantizer explains most of the
    norm), so the same code budget quantizes finer — and unlike the
    raw-vector variant (which ADC-approximates dot(q, y_raw), only
    order-equal to cosine under uniform |y|), the residual score
    approximates dot against the UNIT corpus vector directly. Zero-norm
    corpus vectors have no residual and are excluded (they have no
    cosine direction; the raw variant ranks them last anyway).

    ``n_probes=None`` resolves with the corpus like the IVF entry
    points (:func:`resolve_probes`, constant probed fraction) plus the
    +2 margin for compounding pruning + quantization losses — at the
    oracle-pinned registry index (16 cells) this is exactly the old
    IVF_PROBES + 2 default.
    """
    n_centroids, assignment, fit_fraction, _ = _resolve_ivf_knobs(
        corpus, n_centroids, assignment, fit_fraction
    )
    n_probes = resolve_probes(n_probes, n_centroids, extra=2)
    cent = kmeans_centroids(
        corpus, id_col, vec_col, n_centroids, IVF_KMEANS_ITERS, fit_fraction=fit_fraction
    )
    cent_arr = F.broadcast(_centroid_array(cent))
    tl = F.broadcast(_two_level_index(cent)) if assignment == "two_level" else None
    if residual:
        # assignment keeps the UNIT vector; residual = unit - centroid.
        # PERSISTED: the residual frame (one assignment pass + a
        # broadcast centroid join) feeds the codebook fit, the encode
        # pass AND the (nid, cent_id) index — unpersisted it recomputes
        # the assignment three times (measured ~/3 of the residual
        # variant's extra wall at sf10). MEMORY_AND_DISK default, the
        # same contract as the Lloyd-loop caches; scoped to this plan.
        res = (
            _ivf_assign(
                _spread(corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))),
                cent_arr, "nid", "nv", "nu", 1, two_level=tl, sup_probes=sup_probes,
            )
            .filter(F.col("nu").isNotNull())
            .join(F.broadcast(cent), "cent_id")
            .select(
                "nid", "cent_id",
                F.zip_with("nu", "cv", lambda a, b: a - b).alias("rv"),
            )
            .persist()
        )
        # the second (residual) codebook Lloyd loop is sample-bounded by
        # the SAME resolved fit_fraction as the coarse fit (round-8
        # verdict #6) — at auto knobs both fits read ~max(64*cells, 20k)
        # vectors per round instead of N
        books = pq_codebooks(res, "nid", "rv", m, n_codes, fit_fraction=fit_fraction)
        codes = pq_encode(res, books, "nid", "rv", m).select("nid", "codes")
        index = res.select("nid", "cent_id").join(codes, "nid")
    else:
        c_cells = _ivf_assign(
            _spread(corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))),
            cent_arr, "nid", "nv", "nv", 1, two_level=tl, sup_probes=sup_probes,
        ).select("nid", "cent_id")
        books = pq_codebooks(corpus, id_col, vec_col, m, n_codes, fit_fraction=fit_fraction)
        codes = pq_encode(corpus, books, id_col, vec_col, m).select(
            F.col(id_col).alias("nid"), "codes"
        )
        # slim corpus index: (nid, cent_id, codes) — id + cell + m codes/row
        index = c_cells.join(codes, "nid")

    q_probes = _ivf_assign(
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")),
        cent_arr, "qid", "qv", "qv", n_probes, two_level=tl, sup_probes=sup_probes,
    ).select("qid", "cent_id")
    if residual:
        # exact coarse term per (query, probed cell): dot(RAW q, unit
        # centroid) — the same q scaling the LUT uses, so the sum
        # decomposes dot(q, cv + r~) exactly
        q_probes = (
            q_probes.join(
                queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("_qraw")),
                "qid",
            )
            .join(F.broadcast(cent), "cent_id")
            .select(
                "qid", "cent_id",
                _fold_col(F.col("_qraw"), F.col("cv"), cast=True).alias("cell_dp"),
            )
        )
    lut = _query_luts(queries, books, id_col, vec_col, m, "_lqv")
    probes_with_lut = q_probes.join(F.broadcast(lut), "qid")
    adc_sum = _adc_sum(m)
    adc = F.round(
        (F.col("cell_dp") + adc_sum) if residual else adc_sum, 6
    )
    pairs = (
        probes_with_lut.join(index, "cent_id")
        .filter(F.col("qid") != F.col("nid"))
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            adc.alias("approx_score"),
        )
    )
    return _rerank_shortlist(
        pairs, queries, corpus, id_col, vec_col, k, k * shortlist_factor
    )


# --- OPQ: learned orthogonal rotation ahead of PQ (round-10 verdict #3) ---

#: sample cap for the driver-side OPQ fit: the alternating loop is
#: O(sample x (m x n_codes + d^2)) per iteration; 20k x 64 doubles is
#: ~10 MB — bounded by contract like the query side of the Arrow kNN
#: kernels. Matches SEMANTIC_FIT_MIN_SAMPLE so the fit-sample discipline
#: is one story across the coarse, PQ, and OPQ fits.
OPQ_FIT_SAMPLE_CAP = 20_000
OPQ_ITERS = 8


def opq_rotation(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_SUBSPACES,
    n_codes: int = PQ_CODES,
    iters: int = OPQ_ITERS,
    sample_cap: int = OPQ_FIT_SAMPLE_CAP,
):
    """Learn the OPQ orthogonal rotation R (numpy, driver-side,
    sample-bounded) — the non-parametric alternating minimization of Ge
    et al. 2013 ("Optimized Product Quantization", CVPR): repeat
    (1) fix R, fit per-subspace k-means codebooks on R·X;
    (2) fix the codebooks, solve the orthogonal Procrustes problem
    min_R ||R·X − Y||_F (Y = per-row codebook reconstructions) via
    R = U·Vᵀ from SVD(Y·Xᵀ). Returns the (d, d) numpy array.

    Why: PQ splits dims into m blind groups, so its code budget is
    spent proportionally to per-group variance — on data with a
    decaying eigen-spectrum (real text/image embeddings) some groups
    carry nearly all the energy and 2^bits codes can't describe them
    while other groups waste codes on noise. The learned rotation
    re-balances variance across subspaces before the split. On an
    ISOTROPIC corpus (rotation-invariant distribution, e.g. the
    spherical-noise mixture fixtures) the objective is flat and OPQ ==
    PQ by theory — measured and recorded in SCALE.md, not hidden.

    Variance-budget guidance for the m/nbits knobs (the minimum remedy
    the round-10 verdict names): per-subspace quantization error ~
    (subspace variance) / n_codes^(2/(d/m)); raising ``m`` (more,
    narrower subspaces) buys more than raising ``n_codes`` once
    d/m > ~8, and OPQ's rebalancing is what makes the per-subspace
    budget meaningful when the spectrum decays.

    Fit sample: deterministic salted-hash filter (the
    ``kmeans_centroids`` discipline) capped at ``sample_cap`` rows,
    collected driver-side — the one bounded collect this operator
    adds, same contract as the Arrow kNN query side. Deterministic
    given the corpus: seeds are the lowest-id sample rows, numpy SVD
    on the same sample is reproducible within a platform."""
    import numpy as np

    from monster_etl_spark.operators.sampling import HASH_SPACE, sample_hash

    n_rows = corpus.count()
    frac = min(1.0, sample_cap / max(1, n_rows))
    fit = corpus.select(F.col(id_col).alias("i"), _as_double(vec_col).alias("v"))
    if frac < 1.0:
        fit = fit.filter(sample_hash(F.col("i"), salt="opqfit") < int(frac * HASH_SPACE))
    rows = fit.orderBy("i").limit(sample_cap).collect()
    X = np.asarray([list(r.v) for r in rows if r.v is not None], dtype=np.float64)
    if X.ndim != 2 or X.shape[0] < n_codes:
        raise ValueError("OPQ fit needs at least n_codes sampled vectors")
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dims {d} not divisible by m={m}")
    sub_d = d // m
    R = np.eye(d)

    def _fit_codebooks(Z):
        books = []
        for s in range(m):
            zs = Z[:, s * sub_d : (s + 1) * sub_d]
            cent = zs[:n_codes].copy()  # lowest-id seeds (id-stable)
            for _ in range(PQ_KMEANS_ITERS):
                d2 = ((zs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
                assign = d2.argmin(axis=1)
                for c in range(n_codes):
                    mask = assign == c
                    if mask.any():
                        cent[c] = zs[mask].mean(axis=0)
            books.append(cent)
        return books

    def _reconstruct(Z, books):
        Y = np.empty_like(Z)
        for s in range(m):
            zs = Z[:, s * sub_d : (s + 1) * sub_d]
            cent = books[s]
            d2 = ((zs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            Y[:, s * sub_d : (s + 1) * sub_d] = cent[d2.argmin(axis=1)]
        return Y

    for _ in range(max(1, iters)):
        Z = X @ R.T
        books = _fit_codebooks(Z)
        Y = _reconstruct(Z, books)
        # orthogonal Procrustes: min_R ||R X^T - Y^T||_F -> R = U V^T
        # from SVD(Y^T X); np.linalg.svd is deterministic per platform
        U, _s, Vt = np.linalg.svd(Y.T @ X)
        R = U @ Vt
    return R


def rotate_embeddings(
    df: DataFrame,
    R,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Apply a (d, d) rotation to an embedding column — one narrow
    Arrow-batched GEMM per partition (``mapInPandas``; an audited named
    exception to the Python-eval policy, same discipline as the kNN
    kernels: the vectorized GEMM IS the operator; a JVM expression
    twin would be d² multiplies per row of interpreted HOFs). Schema
    (id, vec) is preserved; NULL vectors pass through NULL. No
    shuffle: per-batch matrix multiply only."""
    import numpy as np

    Rm = np.ascontiguousarray(np.asarray(R, dtype=np.float64))

    src = df.select(F.col(id_col), _as_double(vec_col).alias(vec_col))

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            vecs = pdf[vec_col]
            live = vecs.notna()
            out = list(vecs)
            if live.any():
                Xb = np.asarray([list(v) for v in vecs[live]], dtype=np.float64)
                rot = Xb @ Rm.T
                it = iter(rot)
                out = [
                    next(it).tolist() if ok else None for ok in live
                ]
            yield pd.DataFrame({id_col: pdf[id_col], vec_col: out})

    return map_in_pandas(src, kernel, f"{id_col} long, {vec_col} array<double>")


def opq_ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = PQ_SUBSPACES,
    n_codes: int = PQ_CODES,
    opq_iters: int = OPQ_ITERS,
    **ivfpq_kw,
):
    """IVF-PQ behind a learned OPQ rotation: fit R on a bounded corpus
    sample (:func:`opq_rotation`), rotate BOTH sides
    (:func:`rotate_embeddings` — orthogonality preserves every dot
    product, so cosine scores and the exact re-rank are unchanged in
    exact arithmetic), then run the unmodified :func:`ivfpq_topk` in
    the rotated space. The composition is the whole operator: same
    coarse cells, same ADC, same shortlist re-rank, but the PQ code
    budget now describes variance-balanced subspaces. Equal code bytes
    by construction (same m, n_codes)."""
    R = opq_rotation(
        corpus, id_col, vec_col, m=m, n_codes=n_codes, iters=opq_iters
    )
    rq = rotate_embeddings(queries, R, id_col, vec_col)
    rc = rotate_embeddings(corpus, R, id_col, vec_col)
    return ivfpq_topk(
        rq, rc, id_col, vec_col, k=k, m=m, n_codes=n_codes, **ivfpq_kw
    )


def _scored_structs(arr: Column, vec: Column, id_field: str) -> Column:
    """(c_sim, neg_id, id) ranking structs for ``vec`` against an array of
    (id_field, cv|sv) centroid structs — the single source of the
    dot-product fold and tie-break shared by the flat argmax
    (:func:`_scored_cents`) and both two-level stages."""
    vec_field = "cv" if id_field == "cent_id" else "sv"
    return F.transform(
        arr,
        lambda c: F.struct(
            _fold_col(vec, c.getField(vec_field), cast=True).alias("c_sim"),
            (-c.getField(id_field)).alias("neg_id"),
            c.getField(id_field).alias(id_field),
        ),
    )


def _pooled_members(vec: Column, sup_probes: int) -> Column:
    """Union of the top-``sup_probes`` super-cells' member centroids for
    ``vec``, against broadcast ``supers`` (array<struct<sup_id, sv>>) +
    ``members`` (map<sup_id, array<struct<cent_id, cv>>>) — the shared
    coarse stage of both two-level forms (argmax assignment and top-n
    probe sets). Single-probe misassigns boundary vectors whose true
    cell lives in the runner-up super — measured 64% flat-agreement at
    probes=1 vs 95%+ at probes=4."""
    top_sups = F.transform(
        F.slice(F.reverse(F.array_sort(_scored_structs(F.col("supers"), vec, "sup_id"))), 1, sup_probes),
        lambda s: s.getField("sup_id"),
    )
    return F.flatten(
        F.transform(top_sups, lambda sid: F.coalesce(
            F.element_at(F.col("members"), sid),
            F.array().cast("array<struct<cent_id:bigint,cv:array<double>>>"),
        ))
    )


def _two_level_cells(vec: Column, sup_probes: int) -> Column:
    """Per-row two-level nearest-cell id: rank the super-centroids, then
    argmax over the UNION of the top-``sup_probes`` supers' member
    centroids (:func:`_pooled_members`). Both levels use the
    unit-centroid dot ranking of :func:`_scored_cents`. If every probed
    super lost all members (a super can end empty after the final Lloyd
    mean update), falls back to the flat argmax over ALL members — a
    dropped vector would silently lose its duplicates, which is worse
    than paying the full scan for the rare orphan row."""
    pooled = _pooled_members(vec, sup_probes)
    probed = F.array_max(_scored_structs(pooled, vec, "cent_id")).getField("cent_id")
    all_members = F.flatten(F.map_values(F.col("members")))
    fallback = F.array_max(_scored_structs(all_members, vec, "cent_id")).getField("cent_id")
    return F.when(F.size(pooled) > 0, probed).otherwise(fallback)


def _two_level_probe_ids(vec: Column, sup_probes: int, n_probes: int) -> Column:
    """Per-row two-level top-``n_probes`` cell ids (the QUERY side of a
    two-level IVF): rank supers, pool the top-``sup_probes`` supers'
    members, take the ``n_probes`` highest-dot members — ~(1 +
    sup_probes) * sqrt(cells) dots per row instead of ``cells``, same
    asymptotic cut as :func:`_two_level_cells`. APPROXIMATE relative to
    the flat top-n: a probe cell ranked n-th overall but living outside
    every probed super is missed (boundary effect, same contract as the
    assignment side; recall is covered by the shortlist re-rank
    downstream). A pool smaller than ``n_probes`` yields fewer probes;
    an EMPTY pool (all probed supers emptied by Lloyd) falls back to
    the flat top-n over all members."""
    pooled = _pooled_members(vec, sup_probes)
    top_n = lambda arr: F.transform(  # noqa: E731 — local ranking shorthand
        F.slice(F.reverse(F.array_sort(_scored_structs(arr, vec, "cent_id"))), 1, n_probes),
        lambda s: s.getField("cent_id"),
    )
    all_members = F.flatten(F.map_values(F.col("members")))
    return F.when(F.size(pooled) > 0, top_n(pooled)).otherwise(top_n(all_members))


def _two_level_index(cent: DataFrame, n_super: int | None = None) -> DataFrame:
    """Build the ONE-row broadcastable two-level index over a (cent_id,
    cv) centroid table: cluster the CENTROIDS into ~sqrt(cells)
    super-centroids (a metadata-sized k-means), assign each centroid to
    its super, and pack ``supers`` (array<struct<sup_id, sv>>) + a
    ``members`` map (sup_id -> array<struct<cent_id, cv>>) into a single
    row. Shared by :func:`two_level_assign` (SemDeDup) and the
    two-level dispatch inside :func:`_ivf_assign` (kNN IVF family).
    Everything here is centroid-table-scale — never touches the corpus."""
    import math

    n_cells = cent.count()
    if n_super is None:
        n_super = max(2, int(math.sqrt(n_cells)))
    # cluster the centroids themselves (metadata-scale k-means)
    sup = kmeans_centroids(
        cent.select(F.col("cent_id").alias("vec_id"), F.col("cv").alias("embedding")),
        "vec_id", "embedding", n_super, iters=2,
    ).select(F.col("cent_id").alias("sup_id"), F.col("cv").alias("sv"))
    # assign each centroid to its super (cells-sized crossJoin — metadata)
    sup_arr = sup.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("sup_id").alias("cent_id"), F.col("sv").alias("cv")))
        ).alias("cents")
    )
    cent_assigned = (
        cent.crossJoin(F.broadcast(sup_arr))
        .select(
            "cent_id", "cv",
            F.array_max(_scored_cents(F.col("cv"))).getField("cent_id").alias("sup_id"),
        )
    )
    # ONE broadcast row: supers array + sup_id -> member-centroids map
    return (
        cent_assigned.groupBy("sup_id")
        .agg(F.array_sort(F.collect_list(F.struct("cent_id", "cv"))).alias("mem"))
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("sup_id", "mem")))
            ).alias("members")
        )
        .crossJoin(F.broadcast(sup.agg(F.array_sort(F.collect_list(F.struct("sup_id", "sv"))).alias("supers"))))
    )


def two_level_assign(
    corpus: DataFrame,
    cent: DataFrame,
    id_col: str,
    vec_col: str,
    n_super: int | None = None,
    sup_probes: int = TWO_LEVEL_SUP_PROBES,
) -> DataFrame:
    """Two-level (coarse-then-fine) nearest-centroid assignment — the
    IVF-of-IVF trick that breaks the N x cells argmax wall: cluster the
    CENTROID TABLE into ~sqrt(cells) super-centroids (a metadata-sized
    k-means), broadcast supers + a super->members map in one row, and
    per corpus row score supers first, then only the chosen super's
    members — ~2*sqrt(cells) dot products per row instead of cells.

    APPROXIMATE: a vector whose true nearest centroid lives outside all
    ``sup_probes`` probed super-cells is misassigned (boundary effect —
    agreement with flat assignment measured in tests and SCALE.md). The
    flat argmax stays the default everywhere an oracle pins exact
    output. Per-row cost: n_super + sup_probes * avg_members ~
    (1 + sup_probes) * sqrt(cells) dots instead of cells.
    Returns (id, cell_id).
    """
    index_row = _two_level_index(cent, n_super)
    return (
        _spread(corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")))
        .crossJoin(F.broadcast(index_row))
        .select(
            F.col("_id").alias(id_col),
            _two_level_cells(F.col("_v"), sup_probes).alias("cell_id"),
        )
    )
