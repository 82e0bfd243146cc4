"""plan_summary must report the facts the plan tests rely on, and
plan_hash must tell plan shapes apart while ignoring session noise."""

from monster_etl_spark.explain import normalize_plan, plan_hash, plan_summary
from monster_etl_spark.queries import all_queries

Q = all_queries()


def test_summary_of_narrow_chain(spark, sf_dir):
    s = plan_summary(Q["t9_parse_longs"].fn(spark, sf_dir))
    assert s.is_narrow
    assert s.python_evals == 0
    assert s.codegen_spans >= 1
    assert len(s.scans) == 1 and s.scans[0].fmt == "parquet"


def test_summary_of_star_join(spark, sf_dir):
    s = plan_summary(Q["q5_local_supplier_volume"].fn(spark, sf_dir))
    assert s.broadcast_hash_joins >= 4
    assert s.sort_merge_joins == 0
    assert s.broadcasts >= 4
    assert any("r_name" in sc.pushed_filters for sc in s.scans)


def test_no_broadcast_hint_on_sf_growing_side(spark, sf_dir):
    """Audit EVERY registry query's analyzed plan: explicit broadcast()
    hints may pin only the constant-size dims (nation/region) or
    cardinality-bounded subtrees (global aggregates, limits) — never an
    SF-growing table. AQE choosing broadcast at a small SF is fine (it
    re-decides from runtime sizes); a hint is forever, and a hinted
    growing side is the round-1 q3/q5/q18 scale-killer class."""
    from monster_etl_spark.explain import broadcast_hinted_tables

    allowed = {"n_nationkey", "r_regionkey"}
    bad = {}
    for name, spec in Q.items():
        flagged = [
            h
            for h in broadcast_hinted_tables(spec.fn(spark, sf_dir))
            if h not in allowed
        ]
        if flagged:
            bad[name] = flagged
    assert bad == {}, f"broadcast hints on SF-growing relations: {bad}"


def test_summary_counts_python_crossing(spark, sf_dir):
    s = plan_summary(Q["multimodal_image_features"].fn(spark, sf_dir))
    assert s.python_evals >= 0  # mapInPandas shows as its own node, not Eval
    # but the scan must still be pruned to the two needed columns
    assert any("text" in sc.read_schema for sc in s.scans)


# Round-8 verdict stretch #8: the ONLY queries whose plans may carry a
# BroadcastNestedLoopJoin. Two documented classes, both with a
# cardinality-BOUNDED broadcast side:
# - the ANN family's brute-force contract (bounded-|Q| query side
#   broadcast against the corpus) and its index builders' 1-row
#   centroid/codebook arrays;
# - broadcast 1-ROW scalar subtrees (global aggregates: normalization
#   constants, thresholds, bin edges) crossJoined back onto a table —
#   the TPC-H scalar-subquery shapes and the sketch/profile queries.
# A future Spark upgrade or refactor that turns an equi-join into a
# nested loop ANYWHERE else fails this sweep by name.
_BNLJ_WHITELIST = {
    # ANN family: brute-force contract + broadcast index arrays
    "knn_brute_force", "knn_ivf", "knn_ivf_recall", "knn_pq",
    "knn_pq_recall", "knn_ivfpq", "knn_ivfpq_recall",
    "knn_ivfpq_residual", "knn_ivfpq_residual_recall",
    # OPQ recall row: the rotated corpus feeds the same ivfpq chain,
    # so the same broadcast centroid/LUT arrays appear (plus the exact
    # brute-force contract side)
    "knn_opq_recall",
    # broadcast 1-row scalar subtrees (global constants / thresholds)
    "q2_min_cost_supplier", "q9_product_profit", "q11_important_stock",
    "q16_supplier_part_counts", "q20_promotion_suppliers",
    "q22_dormant_customers", "q_rfm_segments", "q_drift_psi",
    "q_equidepth_bins", "q_histogram", "q_key_skew_profile",
    "q_negative_samples", "q_zorder_key", "sample_temperature",
    "text_tfidf", "text_bm25_rank", "text_unigram_logprob",
    "text_bigram_logprob", "text_token_pagerank",
}


def test_no_unbroadcast_cartesian_in_any_registry_plan(spark, sf_dir):
    """Registry-wide audit, one plan build per query, two invariants:

    - no CartesianProduct node anywhere (an UNBROADCAST cross product —
      both sides shuffled to every task pair — is a scale killer nowhere
      AQE can fix);
    - BroadcastNestedLoopJoin only in the documented
      brute-force/1-row-scalar whitelist above (round-8 verdict #8).

    Streaming queries are skipped (their plan only exists inside a
    running query)."""
    from monster_etl_spark.explain import formatted_plan

    bad = {}
    for name, spec in Q.items():
        if name.startswith("stream_"):
            continue
        try:
            plan = formatted_plan(spec.fn(spark, sf_dir))
        except Exception as ex:  # pragma: no cover - surface which query broke
            bad[name] = f"explain failed: {ex}"
            continue
        if "CartesianProduct" in plan:
            bad[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_WHITELIST:
            bad[name] = "BroadcastNestedLoopJoin outside the documented whitelist"
    assert bad == {}, f"cross-product audit failures: {bad}"


def test_python_eval_only_in_multimodal_and_untar(spark, sf_dir):
    """Registry-wide audit: Python UDF evaluation nodes
    (BatchEvalPython / ArrowEvalPython) may appear ONLY in the
    multimodal/untar family — everything else must stay JVM-side.
    This counts BOTH the row-UDF nodes and MapInPandas, so every Python
    crossing in every registry plan is either in the exception families
    below or a failure."""
    # s8_ is the jar-less Avro fallback source: a Python OCF decoder IS
    # the operator there (the jar-backed path on a real cluster is pure
    # JVM), so it joins the audited exception family
    allowed_prefixes = ("multimodal_", "s7_", "s8_")
    # the named exceptions: operators whose Arrow-vectorized numpy
    # kernel IS the operator (a numeric inner loop built-ins only
    # express as interpreted HOF folds — measured 7.6x at 2M corpus
    # rows, see brute_force_topk_arrow's docstring); each
    # must document the bit-parity argument in its docstring
    allowed_names = {
        "knn_brute_force_arrow",
        "knn_ivf_arrow",
        # per-cell GEMM pair kernel with exact-fold rescore — the
        # SemDeDup pair step's audited twin (_cell_pairs_arrow docstring
        # carries the bit-parity argument; equality asserted in
        # tests/test_similarity.py::test_semantic_pair_engines_equal)
        "semantic_dedup_verdicts_arrow",
        # OPQ rotation: a per-batch (d x d) GEMM IS the operator
        # (rotate_embeddings docstring); orthogonality/norm invariants
        # are what these two rows verify end to end
        "knn_opq_invariants",
        "knn_opq_recall",
    }
    bad = {}
    for name, spec in Q.items():
        if (
            name.startswith("stream_")
            or name.startswith(allowed_prefixes)
            or name in allowed_names
        ):
            continue
        try:
            s = plan_summary(spec.fn(spark, sf_dir))
        except Exception as ex:
            bad[name] = f"plan_summary failed: {ex}"
            continue
        if s.python_evals or s.map_in_pandas:
            bad[name] = (s.python_evals, s.map_in_pandas)
    assert bad == {}, f"Python evaluation outside multimodal: {bad}"


def test_unpartitioned_windows_only_on_bounded_inputs(spark, sf_dir):
    """Registry-wide audit: a window with no partition spec funnels its
    ENTIRE input through one task — fine only when that input is
    structurally bounded, a scale-killer when it is corpus-sized
    (round-3: the compaction planner's inventory-wide cumsum; fixed
    along with equi-depth binning via operators/prefix.py's two-phase
    scan). Every unpartitioned window remaining in the registry is
    pinned here with its bound; a new query adding one over an
    SF-growing input fails this test."""
    from monster_etl_spark.explain import unpartitioned_windows

    # query -> max unpartitioned windows, each over a KNOB- or
    # CONSTANT-bounded input (never SF-growing):
    allowed = {
        "q_compaction_plan": 1,   # prefix.py offsets rollup: num_ranges rows
        "q_equidepth_bins": 1,    # prefix.py offsets rollup: num_ranges rows
        "q_drift_psi": 2,         # PSI share sums: PSI_BINS (10) rows
        "sample_temperature": 1,  # quota remainder rank: one row per stratum
        "text_zipf_fit": 1,       # log-log OLS rank: top-ZIPF_TOP (200) rows
    }
    bad = {}
    for name, spec in Q.items():
        if name.startswith("stream_"):
            continue
        try:
            n = len(unpartitioned_windows(spec.fn(spark, sf_dir)))
        except Exception as ex:  # pragma: no cover - surface which query broke
            bad[name] = f"plan walk failed: {ex}"
            continue
        if n > allowed.get(name, 0):
            bad[name] = n
    assert bad == {}, f"unpartitioned windows beyond the bounded whitelist: {bad}"


def test_normalize_plan_strips_session_noise():
    a = normalize_plan(
        "Exchange hashpartitioning(k#123L, 32) [plan_id=45] "
        "[codegen id : 3] <lambda at 0xdeadbeef> [id=#77] "
        "transform(v#1, lambdafunction((lambda x_13#5 - m#2), lambda x_13#5, false)) "
        "_common_expr_4#8\n"
        "+- FileScan parquet [embedding#1] Batched: true, DataFilters: [isnotnull("
        "transform(embedding#1, lambdafunction(cast(lambda x_7#3 as double), "
        "lambda x_7#3, fa..., Format: Parquet"
    )
    b = normalize_plan(
        "Exchange hashpartitioning(k#9L, 32) [plan_id=2] "
        "[codegen id : 1] <lambda at 0xcafe1234> [id=#3] "
        "transform(v#8, lambdafunction((lambda x_2140#9 - m#2), lambda x_2140#9, false)) "
        "_common_expr_17#8\n"
        "+- FileScan parquet [embedding#6] Batched: true, DataFilters: [isnotnull("
        "transform(embedding#6, lambdafunction(cast(lambda x_1302#4 as double), "
        "lambda x_1302#4, f..., Format: Parquet"
    )
    assert a == b
    # a parsed-SQL lambda has no counter and matches the Column-API form
    assert normalize_plan("lambda x#5") == normalize_plan("lambda x_13#5")
    # what the normalizer keeps still tells plans apart
    assert normalize_plan("lambda acc#1") != normalize_plan("lambda x_1#1")
    assert a != normalize_plan(a.replace("Parquet", "Orc"))


_DISTINCT_PLAN = """\
HashAggregate(keys=[f#8], functions=[count(ok#0L) FILTER (WHERE (gid#20 = {ok})), \
count(pk#1L) FILTER (WHERE (gid#20 = {pk}))], output=[f#8, count#30L, count#31L])
+- Exchange hashpartitioning({cols}, 4), ENSURE_REQUIREMENTS, [plan_id=3]
   +- Expand [{projections}], [{cols}]"""


def _distinct_plan(first, ok_gid=None):
    """A two-group RewriteDistinctAggregates plan with group ``first``
    numbered 1."""
    attrs = {"ok": "ok#21L", "pk": "pk#22L"}
    second = "pk" if first == "ok" else "ok"
    cols = f"{attrs[first]}, {attrs[second]}, f#8, gid#20"
    projections = f"[{attrs[first]}, null, f#8, 1], [null, {attrs[second]}, f#8, 2]"
    gids = {first: 1, second: 2}
    if ok_gid:
        gids["ok"] = ok_gid
    return _DISTINCT_PLAN.format(cols=cols, projections=projections, **gids)


def test_normalize_plan_orders_distinct_groups():
    """The same distinct-aggregate plan with its groups numbered in either
    order (it follows exprId hashes) normalizes to one string; counting a
    column under the other group's gid stays a different plan."""
    a, b = (normalize_plan(_distinct_plan(f)) for f in ("ok", "pk"))
    assert a == b
    assert "Expand [[f#x, ok#x, null, 1], [f#x, null, pk#x, 2]], [f#x, ok#x, pk#x, gid#x]" in a
    assert "hashpartitioning(f#x, ok#x, pk#x, gid#x, 4)" in a
    assert normalize_plan(_distinct_plan("ok", ok_gid=2)) != a


def test_distinct_aggregate_plan_hashes_independent_of_session_history(spark, sf_dir):
    """``q_approx_distinct`` and ``q_profile`` hash the same whatever the
    session built before them."""
    from monster_etl_spark.queries import all_queries

    registry = all_queries()
    prefix = sorted(registry)[:7]
    hashes = {"q_approx_distinct": set(), "q_profile": set()}
    for k in (0, 3, 7):
        for name in prefix[:k]:
            registry[name].fn(spark, sf_dir)
        for name, seen in hashes.items():
            seen.add(plan_hash(registry[name].fn(spark, sf_dir)))
    assert all(len(seen) == 1 and None not in seen for seen in hashes.values()), hashes


def test_plan_hash_stable_within_session(spark):
    import pyspark.sql.functions as F

    def mk():
        return (
            spark.range(100)
            .select((F.col("id") % 7).alias("k"))
            .groupBy("k").count()
        )
    h1, h2 = plan_hash(mk()), plan_hash(mk())
    assert h1 is not None and h1 == h2
    other = plan_hash(spark.range(100).select("id"))
    assert other != h1

    def with_lambdas():
        # each build draws fresh lambda-variable counters
        arr = F.array(F.col("id").cast("double"), F.lit(1.0))
        return spark.range(10).select(
            F.aggregate(F.transform(arr, lambda x: x * 2), F.lit(0.0), lambda a, x: a + x)
            .alias("s")
        )
    h3, h4 = plan_hash(with_lambdas()), plan_hash(with_lambdas())
    assert h3 is not None and h3 == h4


def test_similarity_query_plan_hashes_stable_within_session(spark, sf_dir):
    """Each registry query on the similarity path (the similarity module's
    registry plus ``q_activity_similarity``), built twice in one session,
    has one plan hash: the guard that a refactor of the similarity layer
    is plan-neutral can only be read off a hash that does not drift."""
    from monster_etl_spark.queries import all_queries
    from monster_etl_spark.queries.similarity_queries import QUERIES

    names = sorted(QUERIES) + ["q_activity_similarity"]
    assert len(names) == 23
    registry = all_queries()
    drift = {}
    for name in names:
        h1, h2 = (plan_hash(registry[name].fn(spark, sf_dir)) for _ in range(2))
        if h1 is None or h1 != h2:
            drift[name] = (h1, h2)
    assert not drift, drift
