"""ANN recall: the approximate paths must recover most of the exact
brute-force top-k."""

import pytest

from monster_etl_spark.operators import similarity as sim
from monster_etl_spark.queries import load


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def _recall(exact, approx):
    hits = sum(len(exact[q] & approx[q]) for q in exact)
    return hits / sum(len(exact[q]) for q in exact)


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id % 50 == 0)
    exact = _topk_sets(sim.brute_force_topk(queries, emb, k=5))
    approx = _topk_sets(sim.ivf_topk(queries, emb, k=5))
    assert approx.keys() == exact.keys()
    assert _recall(exact, approx) >= 0.5, f"IVF recall too low: {_recall(exact, approx)}"


def test_ivf_kmeans_refinement_helps(spark, sf_dir):
    # Lloyd-refined centroids must not lose recall vs the raw lowest-id
    # seed (and typically gain it): balanced cells keep more true
    # neighbors inside the probed set.
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id % 50 == 0)
    exact = _topk_sets(sim.brute_force_topk(queries, emb, k=5))
    seeded = _recall(exact, _topk_sets(sim.ivf_topk(queries, emb, k=5, kmeans_iters=0)))
    refined = _recall(exact, _topk_sets(sim.ivf_topk(queries, emb, k=5)))
    assert refined >= seeded - 0.05, f"refinement hurt recall: {seeded} -> {refined}"


def test_kmeans_centroids_shape(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    cent = sim.kmeans_centroids(emb, n_centroids=8, iters=2).collect()
    dims = len(emb.first()["embedding"])
    assert 1 <= len(cent) <= 8
    assert all(len(r["cv"]) == dims for r in cent)
    # deterministic across invocations
    cent2 = sim.kmeans_centroids(emb, n_centroids=8, iters=2).collect()
    assert sorted(map(str, cent)) == sorted(map(str, cent2))


def test_driver_fit_tier_matches_distributed(spark, sf_dir, monkeypatch):
    """Round-11: the driver-side numpy Lloyd fit (one Arrow collect)
    must emit the EXACT centroid/codebook values the distributed loop
    does — full fit and hash-sampled fit, coarse k-means and PQ."""
    emb = load(spark, sf_dir, "embeddings")

    def both(fn):
        drv = sorted(map(str, fn().collect()))
        monkeypatch.setattr(sim, "KMEANS_DRIVER_FIT_CAP", 0)
        dist = sorted(map(str, fn().collect()))
        monkeypatch.setattr(sim, "KMEANS_DRIVER_FIT_CAP", 131072)
        return drv, dist

    drv, dist = both(lambda: sim.kmeans_centroids(emb))
    assert drv == dist and len(drv) > 0
    drv, dist = both(lambda: sim.kmeans_centroids(emb, fit_fraction=0.5))
    assert drv == dist
    drv, dist = both(lambda: sim.pq_codebooks(emb))
    assert drv == dist and len(drv) > 0
    drv, dist = both(lambda: sim.pq_codebooks(emb, fit_fraction=0.5))
    assert drv == dist


def test_multiprobe_improves_lsh_recall(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id % 50 == 0)
    exact = _topk_sets(sim.brute_force_topk(queries, emb, k=5))
    single = _topk_sets(sim.lsh_topk(queries, emb, k=5))
    multi = _topk_sets(sim.lsh_topk(queries, emb, k=5, multiprobe=True))

    def rec(approx):
        hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
        return hits / sum(len(exact[q]) for q in exact)

    # guarantee: the probe set is a superset of the single bucket, so
    # multiprobe can only add candidates — recall is monotone
    assert rec(multi) >= rec(single), f"multiprobe lost recall: {rec(single)} -> {rec(multi)}"
    assert rec(multi) > 0
    # candidate sets themselves are supersets per query
    for q in single:
        assert single[q] <= multi.get(q, set()) or len(multi.get(q, set())) == 5


def test_lsh_topk_subset_of_bucket(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id % 50 == 0)
    out = sim.lsh_topk(queries, emb, k=5)
    # ranks are dense and start at 1 per query
    for q, rows in _topk_sets(out).items():
        assert 1 <= len(rows) <= 5


def test_embedding_dup_pairs_finds_planted_dups(spark):
    """The testdata embeddings are near-orthogonal random vectors (max
    pairwise cosine ~0.48), so the oracle-checked registry query legitimately
    returns 0 rows at every SF. This test supplies what the fixtures can't:
    planted near-duplicates, which the operator must recover exactly."""
    import math
    import random

    rng = random.Random(7)
    dims = 16

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    base = [unit([rng.gauss(0, 1) for _ in range(dims)]) for _ in range(20)]
    rows = [(i, base[i]) for i in range(20)]
    # plant: 100=near-dup of 3 (tiny noise), 101=exact copy of 7
    noisy = unit([x + rng.gauss(0, 0.01) for x in base[3]])
    rows.append((100, noisy))
    rows.append((101, list(base[7])))
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")

    got = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in sim.embedding_dup_pairs(df, threshold=0.95).collect()
    }
    assert set(got) == {(3, 100), (7, 101)}, got
    assert got[(7, 101)] == 1.0
    assert got[(3, 100)] >= 0.99


def test_semantic_dedup_planted(spark):
    """Plant two groups of embed-space near-duplicates among random
    vectors; semantic_dedup must keep exactly one representative (the min
    id) per group and every unduplicated vector."""
    import math
    import random

    rng = random.Random(11)
    dims = 16

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    base = [unit([rng.gauss(0, 1) for _ in range(dims)]) for _ in range(30)]
    rows = [(i, base[i]) for i in range(30)]
    # group A: 2, 200, 201 mutual near-dups; group B: 9, 300
    for nid, src in ((200, 2), (201, 2), (300, 9)):
        rows.append((nid, unit([x + rng.gauss(0, 0.005) for x in base[src]])))
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")

    out = {r["id"]: (r["rep_id"], r["keep"]) for r in sim.semantic_dedup(
        df, threshold=0.97, n_centroids=4, kmeans_iters=2
    ).collect()}
    assert len(out) == 33
    assert out[2] == (2, True)
    assert out[200] == (2, False)
    assert out[201] == (2, False)
    assert out[9] == (9, True)
    assert out[300] == (9, False)
    # everyone else survives as their own representative
    for i in range(30):
        if i not in (2, 9):
            assert out[i] == (i, True), (i, out[i])


def test_blocked_brute_force_equals_broadcast(spark, sf_dir):
    """The grid-blocked exhaustive formulation must return exactly the
    broadcast baseline's result (same scores, same tie-breaks)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id % 50 == 0)
    a = sim.brute_force_topk(queries, emb, k=5).collect()
    b = sim.brute_force_topk_blocked(queries, emb, k=5, n_blocks=5).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # every query got exactly k rows in both
    from collections import Counter

    assert Counter(r["query_id"] for r in a) == Counter(r["query_id"] for r in b)


def test_arrow_brute_force_equals_broadcast(spark, sf_dir):
    """The Arrow-vectorized exhaustive formulation must return exactly
    the JVM baseline's result — bit-identical scores (the kernel
    rescores kept pairs in fold order) and identical tie-breaks."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id % 50 == 0)
    a = sim.brute_force_topk(queries, emb, k=5).collect()
    b = sim.brute_force_topk_arrow(queries, emb, k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) > 0


def test_arrow_brute_force_plan_shape(spark, sf_dir):
    """Plan pins for the Arrow path: exactly one MapInPandas; the only
    shuffles are the final candidate rank on query_id plus (locally)
    spread()'s round-robin engage-every-core repartition of the tiny
    corpus file — a no-op on a real many-file corpus. Crucially, no
    hash/range exchange sits ABOVE the kernel except the rank: the
    full-width vector rows never shuffle, only the <= q x (k+ties)
    candidate rows do."""
    from monster_etl_spark.explain import formatted_plan, plan_summary

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id % 50 == 0)
    out = sim.brute_force_topk_arrow(queries, emb, k=5)
    s = plan_summary(out)
    assert s.map_in_pandas == 1
    assert s.shuffles <= 2, f"expected rank shuffle (+ local spread), got {s.shuffles}"
    import re

    plan = formatted_plan(out)
    # every exchange is either spread()'s round-robin (below the
    # kernel, full rows, local-only) or the candidate rank on query_id
    # (above the kernel, 3 narrow columns) — never a hash/range
    # shuffle of the vector rows
    parts = [
        m.group(1)
        for m in re.finditer(
            r"^\(\d+\) Exchange\s*\nInput.*\nArguments: (\w+)", plan, re.M
        )
    ]
    assert all(p in ("RoundRobinPartitioning", "hashpartitioning") for p in parts), parts
    assert "hashpartitioning(query_id" in plan


def test_arrow_ivf_equals_jvm(spark, sf_dir):
    """The Arrow-fused IVF formulation must return exactly the JVM
    ``ivf_topk`` result — same centroids, bit-identical fold-order
    scores, identical cell-argmax and rank tie-breaks."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id % 50 == 0)
    a = sim.ivf_topk(queries, emb, k=5).collect()
    b = sim.ivf_topk_arrow(queries, emb, k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) > 0


def test_arrow_ivf_two_level_exhaustive_probe_is_bit_parity(spark, sf_dir):
    """Round-8 verdict #2: the Arrow kernel dispatches the two-level
    coarse quantizer. With ``sup_probes`` >= the super count the pooled
    members are ALL cells, so the chained-GEMM form must be
    BIT-IDENTICAL to the flat kernel (same slack selection, fold-order
    rescore, and lexsort tie-break, just grouped by super)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id % 50 == 0)
    flat = sim.ivf_topk_arrow(
        queries, emb, k=5, n_centroids=16, assignment="flat"
    ).collect()
    two = sim.ivf_topk_arrow(
        queries, emb, k=5, n_centroids=16, assignment="two_level",
        sup_probes=10_000,
    ).collect()
    assert sorted(map(tuple, flat)) == sorted(map(tuple, two))
    assert len(flat) > 0


def test_arrow_ivf_two_level_default_probes_agreement(spark, sf_dir):
    """Default ``sup_probes`` two-level assignment is approximate by
    contract — top-k agreement with the flat kernel must stay high
    (the JVM two-level's measured 95%+ flat agreement at probes=4)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id % 50 == 0)
    flat = _topk_sets(
        sim.ivf_topk_arrow(queries, emb, k=5, n_centroids=64, assignment="flat")
    )
    two = _topk_sets(
        sim.ivf_topk_arrow(
            queries, emb, k=5, n_centroids=64, assignment="two_level"
        )
    )
    hits = sum(len(flat[q] & two.get(q, set())) for q in flat)
    total = sum(len(flat[q]) for q in flat)
    assert total > 0 and hits >= 0.9 * total


def test_arrow_ivf_registry_default_stays_flat(spark, sf_dir):
    """The registry's oracle-pinned defaults (IVF_CENTROIDS=16 <
    TWO_LEVEL_MIN_CELLS) must resolve flat with no count job — the
    knn_ivf_arrow hashes cannot move."""
    emb = load(spark, sf_dir, "embeddings")
    _, assignment, _, tier = sim._resolve_ivf_knobs(
        emb, sim.IVF_CENTROIDS, "auto", None, tier="auto"
    )
    assert assignment == "flat" and tier == "jvm"


def test_arrow_ivf_plan_shape(spark, sf_dir):
    """The fused kernel removes the JVM path's cell equi-join: exactly
    one MapInPandas, and the only exchanges are spread()'s local
    round-robin (below the kernel) and the candidate rank on query_id
    (above it) — the full-width vector rows never hash-shuffle."""
    import re

    from monster_etl_spark.explain import formatted_plan, plan_summary

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id % 50 == 0)
    out = sim.ivf_topk_arrow(queries, emb, k=5)
    s = plan_summary(out)
    assert s.map_in_pandas == 1
    assert s.shuffles <= 2, f"expected rank shuffle (+ local spread), got {s.shuffles}"
    plan = formatted_plan(out)
    parts = [
        m.group(1)
        for m in re.finditer(
            r"^\(\d+\) Exchange\s*\nInput.*\nArguments: (\w+)", plan, re.M
        )
    ]
    assert all(p in ("RoundRobinPartitioning", "hashpartitioning") for p in parts), parts
    assert "hashpartitioning(query_id" in plan


def test_pca_project_matches_numpy(spark, sf_dir):
    """Distributed PCA (exact-decimal covariance + driver eigh + narrow
    projection) must agree with a straight numpy PCA of the same vectors
    to float tolerance, for every requested component."""
    import numpy as np

    from monster_etl_spark.operators.similarity import pca_project
    from monster_etl_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    got = {
        r["vec_id"]: (r["pc1"], r["pc2"])
        for r in pca_project(emb, k=2).collect()
    }

    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mu = X.mean(axis=0)
    cov = np.cov(X, rowvar=False, ddof=1)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:2]
    comps = vecs[:, order]
    for c in range(2):
        pivot = int(np.argmax(np.abs(comps[:, c])))
        if comps[pivot, c] < 0:
            comps[:, c] = -comps[:, c]
    expected = (X - mu) @ comps

    for i, vid in enumerate(ids):
        assert got[vid][0] == pytest.approx(expected[i, 0], abs=5e-4)
        assert got[vid][1] == pytest.approx(expected[i, 1], abs=5e-4)


def test_covariance_moments_symmetric_psd(spark, sf_dir):
    import numpy as np

    from monster_etl_spark.operators.similarity import covariance_moments
    from monster_etl_spark.queries import load

    rows = covariance_moments(load(spark, sf_dir, "embeddings")).collect()
    d = max(r["dim_j"] for r in rows)
    cov = np.zeros((d, d))
    for r in rows:
        cov[r["dim_i"] - 1, r["dim_j"] - 1] = r["cov"]
        cov[r["dim_j"] - 1, r["dim_i"] - 1] = r["cov"]
    evs = np.linalg.eigvalsh(cov)
    assert evs.min() > -1e-9  # PSD up to float noise
    assert cov.diagonal().min() > 0


def test_special_char_vector_column_matches_default(spark, sf_dir):
    """The parsed-SQL fast paths quote ``vec_col``: a column named
    ``emb-vec`` (unparseable as a bare SQL identifier) must give the same
    rows as ``embedding``, both in the unit normalization and in the
    covariance pair expansion."""
    emb = load(spark, sf_dir, "embeddings")
    renamed = emb.withColumnRenamed("embedding", "emb-vec")

    def cov_rows(df, col):
        return sorted(map(tuple, sim.covariance_moments(df, col).collect()))

    def unit_rows(df, col):
        out = sim._with_unit(df, col, "u").select("vec_id", "u")
        return sorted(map(tuple, out.collect()))

    assert cov_rows(renamed, "emb-vec") == cov_rows(emb, "embedding")
    assert unit_rows(renamed, "emb-vec") == unit_rows(emb, "embedding")


def test_pq_recall_vs_brute_force(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id % 50 == 0)
    exact = _topk_sets(sim.brute_force_topk(queries, emb, k=5))
    approx = _topk_sets(sim.pq_topk(queries, emb, k=5))
    assert approx.keys() == exact.keys()
    assert _recall(exact, approx) >= 0.5, f"PQ recall too low: {_recall(exact, approx)}"


def test_pq_encode_shape_and_determinism(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    books = sim.pq_codebooks(emb, m=4, n_codes=8, iters=1)
    codes = sim.pq_encode(emb, books, m=4).collect()
    assert len(codes) == emb.count()
    # m codes per vector, every code a valid id of its subspace codebook
    valid = {
        (r["sub_id"], r["cent_id"]) for r in books.collect()
    }
    for r in codes[:50]:
        assert len(r["codes"]) == 4
        for sub, code in enumerate(r["codes"]):
            assert (sub, code) in valid
    codes2 = sim.pq_encode(emb, books, m=4).collect()
    assert sorted(map(str, codes)) == sorted(map(str, codes2))


def test_pq_codebooks_sampled_fit(spark, sf_dir):
    """Round-8 verdict #6: the PQ codebook Lloyd loop is sample-bounded
    by fit_fraction. fraction=1.0 is byte-identical to the pre-knob
    behavior (registry hashes pinned elsewhere); a sampled fit still
    yields complete, usable codebooks and the encode contract holds."""
    emb = load(spark, sf_dir, "embeddings")
    full = sim.pq_codebooks(emb, m=4, n_codes=8, iters=1)
    full_again = sim.pq_codebooks(emb, m=4, n_codes=8, iters=1, fit_fraction=1.0)
    assert sorted(map(str, full.collect())) == sorted(map(str, full_again.collect()))

    sampled = sim.pq_codebooks(emb, m=4, n_codes=8, iters=1, fit_fraction=0.5)
    rows = sampled.collect()
    subs = {r["sub_id"] for r in rows}
    assert subs == {0, 1, 2, 3}  # every subspace fitted
    # the FULL corpus encodes against the sampled codebooks
    codes = sim.pq_encode(emb, sampled, m=4)
    assert codes.count() == emb.count()
    valid = {(r["sub_id"], r["cent_id"]) for r in rows}
    for r in codes.limit(20).collect():
        for sub, code in enumerate(r["codes"]):
            assert (sub, code) in valid


def test_ivfpq_residual_composes_with_auto_knobs(spark, sf_dir):
    """Round-8 verdict #6: residual=True must compose with
    assignment="auto" / auto cells / sampled fits — runs end-to-end and
    keeps useful recall on the registry fixture."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id % 50 == 0)
    exact = _topk_sets(sim.brute_force_topk(queries, emb, k=5))
    approx = _topk_sets(
        sim.ivfpq_topk(queries, emb, k=5, n_centroids=None,
                       assignment="auto", residual=True)
    )
    assert _recall(exact, approx) >= 0.5


def test_pq_identical_vectors_rank_first(spark):
    # plant: vec 100 duplicates vec 0 exactly; PQ must place it at rank 1
    # (identical codes -> identical ADC score; exact re-rank puts the
    # true duplicate on top with cosine 1.0)
    import math

    rows = []
    for i in range(40):
        v = [math.sin(0.1 * (i + 1) * (j + 1)) for j in range(16)]
        rows.append((i, v))
    rows.append((100, rows[0][1]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(emb.vec_id == 0)
    top = sim.pq_topk(q, emb, k=3, m=4, n_codes=8).collect()
    best = [r for r in top if r["rank"] == 1][0]
    assert best["neighbor_id"] == 100
    assert abs(best["cosine_sim"] - 1.0) < 1e-6


def test_ivfpq_topk_shape_and_recall(spark, sf_dir):
    import pyspark.sql.functions as F

    from monster_etl_spark.operators import similarity as sim
    from monster_etl_spark.queries import load
    from monster_etl_spark.queries.similarity_queries import TOP_K, _queries_df

    emb = load(spark, sf_dir, "embeddings")
    q = _queries_df(spark, sf_dir)
    res = sim.ivfpq_topk(q, emb, k=TOP_K)
    pdf = res.toPandas()
    # exactly k rows per query, ranks 1..k, no self matches
    per = pdf.groupby("query_id")["rank"].agg(["count", "min", "max"])
    assert (per["count"] == TOP_K).all() and (per["min"] == 1).all() and (per["max"] == TOP_K).all()
    assert (pdf.query_id != pdf.neighbor_id).all()
    # composition recall floor against brute force
    exact = sim.brute_force_topk(q, emb, k=TOP_K).select("query_id", "neighbor_id")
    hit = exact.join(
        res.select("query_id", "neighbor_id", F.lit(1).alias("hit")),
        ["query_id", "neighbor_id"], "left",
    ).agg((F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.count(F.lit(1))).alias("r")).collect()[0]
    assert hit.r >= 0.5


def test_two_level_assignment_preserves_near_dup_pairs(spark, sf_dir):
    """The scale contract of the coarse-then-fine argmax: a >=0.95-cosine
    pair makes (near-)identical probe decisions, so the PAIR set from
    two-level cells matches the flat exact argmax even where absolute
    cell agreement is lower."""
    import pyspark.sql.functions as F

    from monster_etl_spark.operators import similarity as sim
    from monster_etl_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    flat = {
        (r.id_a, r.id_b)
        for r in sim.semantic_dup_pairs(emb, n_centroids=32, threshold=0.9).collect()
    }
    two = {
        (r.id_a, r.id_b)
        for r in sim.semantic_dup_pairs(
            emb, n_centroids=32, threshold=0.9, assignment="two_level"
        ).collect()
    }
    # identical pair sets on the test corpus (or at worst a tiny,
    # boundary-only delta — assert strong containment both ways)
    assert len(two) >= 0.95 * len(flat) if flat else two == flat
    assert len(flat & two) >= 0.95 * len(flat | two) if (flat or two) else True


def test_auto_assignment_resolution():
    """The default must be scale-safe: "auto" resolves to the exact flat
    argmax for small corpora and to the two-level coarse quantizer at or
    above TWO_LEVEL_AUTO_MIN_ROWS (round-3 verdict: the measured-17x fix
    shipped opt-in, leaving the N^1.5 flat path as the 100x default)."""
    from monster_etl_spark.operators import similarity as sim

    t = sim.TWO_LEVEL_AUTO_MIN_ROWS
    assert sim.resolve_assignment("auto", t - 1) == "flat"
    assert sim.resolve_assignment("auto", t) == "two_level"
    assert sim.resolve_assignment("flat", 10 * t) == "flat"
    assert sim.resolve_assignment("two_level", 1) == "two_level"
    # cell guard: two-level over a tiny cell table costs MORE dots per
    # row than the flat argmax it replaces — "auto" must stay flat there
    assert sim.resolve_assignment("auto", t, sim.TWO_LEVEL_MIN_CELLS - 1) == "flat"
    assert sim.resolve_assignment("auto", t, sim.TWO_LEVEL_MIN_CELLS) == "two_level"
    # explicit "two_level" is never second-guessed by the guard
    assert sim.resolve_assignment("two_level", 1, 2) == "two_level"


def test_auto_assignment_two_level_path_matches_flat(spark, sf_dir, monkeypatch):
    """Force the auto default onto the two-level path (threshold lowered
    under the fixture's corpus size) and check the pair set still matches
    the explicit flat argmax — the default switch must be output-invisible."""
    from monster_etl_spark.operators import similarity as sim
    from monster_etl_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    monkeypatch.setattr(sim, "TWO_LEVEL_AUTO_MIN_ROWS", 1)
    monkeypatch.setattr(sim, "TWO_LEVEL_MIN_CELLS", 1)  # 32 cells < default guard
    auto = {
        (r.id_a, r.id_b)
        for r in sim.semantic_dup_pairs(emb, n_centroids=32, threshold=0.9).collect()
    }
    flat = {
        (r.id_a, r.id_b)
        for r in sim.semantic_dup_pairs(
            emb, n_centroids=32, threshold=0.9, assignment="flat"
        ).collect()
    }
    assert len(auto & flat) >= 0.95 * len(auto | flat) if (auto or flat) else True


def test_arrow_kernels_edge_inputs(spark, sf_dir):
    """Round-5 ADVICE #4: the Arrow kernels must match the JVM paths on
    edge inputs — an EMPTY query set returns an empty frame of the
    output schema (not a shape-unpack crash), and NULL embedding rows
    are skipped (not a TypeError)."""
    from pyspark.sql import functions as F

    emb = load(spark, sf_dir, "embeddings")
    empty_q = emb.filter(F.lit(False))
    for fn in (sim.brute_force_topk_arrow, sim.ivf_topk_arrow):
        out = fn(empty_q, emb, k=3)
        assert out.columns == ["query_id", "neighbor_id", "cosine_sim", "rank"]
        assert out.count() == 0

    # NULL embedding among the queries: skipped, others still answered
    some = emb.filter(emb.vec_id % 100 == 0)
    nulled = some.withColumn(
        "embedding",
        F.when(emb.vec_id == some.select(F.min("vec_id")).collect()[0][0], F.lit(None))
        .otherwise(F.col("embedding")),
    )
    null_qid = some.select(F.min("vec_id")).collect()[0][0]
    jvm = _topk_sets(sim.brute_force_topk(nulled, emb, k=3))
    arrow = _topk_sets(sim.brute_force_topk_arrow(nulled, emb, k=3))
    # the JVM path ranks the NULL query's NULL-scored rows (sorted
    # last); the kernel drops the query entirely — the documented
    # no-real-candidates divergence. Every real query must match.
    assert set(arrow) == set(jvm) - {null_qid}
    for q in arrow:
        assert arrow[q] == jvm[q]

    # NULL embedding in the corpus: kernel skips the row instead of
    # crashing; every remaining neighbor set matches the JVM path on
    # the NULL-free corpus contract (NULL scores sort last there)
    corpus_nulled = emb.withColumn(
        "embedding",
        F.when(emb.vec_id == 1, F.lit(None)).otherwise(F.col("embedding")),
    )
    q = emb.filter(emb.vec_id % 200 == 0)
    a = _topk_sets(sim.brute_force_topk_arrow(q, corpus_nulled, k=3))
    j = _topk_sets(sim.brute_force_topk(q, corpus_nulled, k=3))
    assert a == j


def test_semantic_pair_engines_equal(spark):
    """The Arrow per-cell GEMM pair kernel must emit EXACTLY the
    self-join path's rows — ids and 6-dp scores bit-for-bit — on a
    corpus with planted near-dups, borderline-threshold pairs, and a
    zero-norm vector (dropped by both engines)."""
    import math
    import random

    rng = random.Random(23)
    dims = 16

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    base = [unit([rng.gauss(0, 1) for _ in range(dims)]) for _ in range(40)]
    rows = [(i, base[i]) for i in range(40)]
    for nid, src, eps in ((100, 3, 0.005), (101, 3, 0.004), (102, 7, 0.2),
                          (103, 7, 0.35), (104, 11, 0.5)):
        rows.append((nid, unit([x + rng.gauss(0, eps) for x in base[src]])))
    rows.append((105, [0.0] * dims))  # zero-norm: no direction, no pairs
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")

    for thr in (0.95, 0.8, 0.5):
        jvm = sim.semantic_dup_pairs(
            df, threshold=thr, n_centroids=4, kmeans_iters=2, pair_engine="jvm"
        ).collect()
        arw = sim.semantic_dup_pairs(
            df, threshold=thr, n_centroids=4, kmeans_iters=2, pair_engine="arrow"
        ).collect()
        sj = sorted((r.id_a, r.id_b, r.cosine_sim) for r in jvm)
        sa = sorted((r.id_a, r.id_b, r.cosine_sim) for r in arw)
        assert sj == sa, thr
        assert all(a < b for a, b, _ in sa)
    # low threshold actually produced pairs (the equality was not vacuous)
    assert len(sa) >= 3


def test_semantic_dedup_verdicts_arrow_matches_default(spark):
    """End-to-end verdict equality between pair engines on the planted
    corpus (the registry row's oracle is the identity verdict; this
    pins the duplicate-collapsing direction for the arrow engine)."""
    import math
    import random

    rng = random.Random(11)
    dims = 16

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    base = [unit([rng.gauss(0, 1) for _ in range(dims)]) for _ in range(30)]
    rows = [(i, base[i]) for i in range(30)]
    for nid, src in ((200, 2), (201, 2), (300, 9)):
        rows.append((nid, unit([x + rng.gauss(0, 0.005) for x in base[src]])))
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")

    a = sorted(map(tuple, sim.semantic_dedup(
        df, threshold=0.97, n_centroids=4, kmeans_iters=2, pair_engine="arrow"
    ).collect()))
    j = sorted(map(tuple, sim.semantic_dedup(
        df, threshold=0.97, n_centroids=4, kmeans_iters=2, pair_engine="jvm"
    ).collect()))
    assert a == j
    out = dict((r[0], (r[1], r[2])) for r in a)
    assert out[200] == (2, False) and out[201] == (2, False) and out[2] == (2, True)


def test_ivf_two_level_recall_and_flat_agreement(spark, sf_dir):
    """Round-7 verdict #1: the kNN IVF paths must dispatch to the
    two-level coarse quantizer at scale. Forced two-level (explicit
    assignment, cells large enough for a real super level) must keep
    brute-force recall AND substantially agree with the flat exact
    argmax — near-identical vectors make near-identical probe
    decisions, so top-k survival is the contract, not absolute cell
    agreement."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id % 50 == 0)
    exact = _topk_sets(sim.brute_force_topk(queries, emb, k=5))
    flat = _topk_sets(sim.ivf_topk(queries, emb, k=5, n_centroids=32, assignment="flat"))
    two = _topk_sets(
        sim.ivf_topk(queries, emb, k=5, n_centroids=32, assignment="two_level")
    )
    assert two.keys() == exact.keys()
    r_two = _recall(exact, two)
    r_flat = _recall(exact, flat)
    assert r_two >= 0.4, f"two-level IVF recall too low: {r_two}"
    assert r_two >= r_flat - 0.2, f"two-level lost too much vs flat: {r_flat} -> {r_two}"


def test_ivfpq_two_level_shape_and_recall(spark, sf_dir):
    """Same dispatch contract for the IVF-PQ composition: forced
    two-level keeps the (query_id, neighbor_id, cosine_sim, rank)
    shape, the <= k rows-per-query bound, and usable recall."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id % 50 == 0)
    exact = _topk_sets(sim.brute_force_topk(queries, emb, k=5))
    res = sim.ivfpq_topk(queries, emb, k=5, n_centroids=32, assignment="two_level")
    assert res.columns == ["query_id", "neighbor_id", "cosine_sim", "rank"]
    rows = res.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    assert all(len(v) <= 5 for v in per_q.values())
    approx = _topk_sets(res)
    assert _recall(exact, approx) >= 0.3, f"two-level IVF-PQ recall: {_recall(exact, approx)}"


def test_resolve_ivf_knobs(spark):
    """The knob resolver's zero-overhead fast path and auto rules: an
    explicit small cell count must resolve WITHOUT a count job (flat,
    full fit); n_centroids=None counts and scales cells ~sqrt(N); the
    auto assignment threshold dispatches on corpus rows AND cells."""
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(100)], "vec_id: long, embedding: array<double>"
    )
    # fast path: no count needed -> flat + exact fit + JVM tier, small
    # explicit cells (the small-corpus contract resolves tier="auto"
    # WITHOUT a count job — registry plans byte-identical)
    n, a, f, t = sim._resolve_ivf_knobs(df, sim.IVF_CENTROIDS, "auto", None, "auto")
    assert (n, a, f, t) == (sim.IVF_CENTROIDS, "flat", 1.0, "jvm")
    # auto cells: ~sqrt(100) = 10, still flat (tiny corpus), sampled-fit
    # target far above 100 rows -> full fit, tiny corpus -> JVM tier
    n, a, f, t = sim._resolve_ivf_knobs(df, None, "auto", None, "auto")
    assert n == sim.auto_centroids(100) and a == "flat" and f == 1.0
    assert t == "jvm"
    # explicit two_level passes through even on the fast path
    _, a, _, _ = sim._resolve_ivf_knobs(df, sim.IVF_CENTROIDS, "two_level", None)
    assert a == "two_level"
    # explicit fit_fraction is never overridden
    _, _, f, _ = sim._resolve_ivf_knobs(df, None, "auto", 0.5)
    assert f == 0.5
    # explicit tier passes through; tier=None (a caller that IS a tier)
    # stays None
    assert sim._resolve_ivf_knobs(df, None, "auto", None, "arrow")[3] == "arrow"
    assert sim._resolve_ivf_knobs(df, None, "auto", None)[3] is None


def test_resolve_tier_and_probes_rules():
    """Pin the round-11 routing crossover and the constant-probed-
    fraction rule (round-10 verdict #1/#2): tier='auto' routes to the
    Arrow kernel at ARROW_TIER_MIN_ROWS (the measured sf10->sf100e
    decade: JVM alpha 1.48, 3.4x Arrow's wall at 2M rows) and
    n_probes=None holds probed fraction ~IVF_PROBE_FRACTION of cells,
    never below the registry-pinned base."""
    assert sim.ARROW_TIER_MIN_ROWS == 100_000
    t = sim.ARROW_TIER_MIN_ROWS
    assert sim.resolve_tier("auto", t - 1) == "jvm"
    assert sim.resolve_tier("auto", t) == "arrow"
    assert sim.resolve_tier("auto", None) == "jvm"  # zero-count fast path
    assert sim.resolve_tier("jvm", 10 * t) == "jvm"
    assert sim.resolve_tier("arrow", 1) == "arrow"
    assert sim.resolve_tier(None, 10 * t) is None
    # probes: registry identities (cells=16 -> the pre-knob defaults)
    assert sim.resolve_probes(None, sim.IVF_CENTROIDS) == sim.IVF_PROBES
    assert sim.resolve_probes(None, sim.IVF_CENTROIDS, extra=2) == sim.IVF_PROBES + 2
    # measured anchors: sf10 auto-cells 447 -> 4 (the 0.13-recall
    # fraction), sf100e auto-cells 1414 -> 13 (the addendum's measured
    # equal-fraction probe count, recall 0.145)
    assert sim.resolve_probes(None, 447) == 4
    assert sim.resolve_probes(None, 1414) == 13
    # cap binds at the auto-cells ceiling; explicit always passes through
    assert sim.resolve_probes(None, 65536) == sim.IVF_PROBE_CAP
    assert sim.resolve_probes(9, 65536) == 9


def test_ivf_tier_auto_routes_to_arrow(spark, sf_dir, monkeypatch):
    """Above the (monkeypatch-lowered) crossover, ivf_topk with default
    tier='auto' must dispatch the WHOLE call to ivf_topk_arrow — and the
    routed result must equal the JVM tier's bit-for-bit."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id % 50 == 0)
    monkeypatch.setattr(sim, "ARROW_TIER_MIN_ROWS", 1)
    called = {}
    real = sim.ivf_topk_arrow

    def spy(*a, **kw):
        called["hit"] = True
        return real(*a, **kw)

    monkeypatch.setattr(sim, "ivf_topk_arrow", spy)
    # n_centroids=None: the explicit-small-index fast path is the
    # small-corpus CONTRACT and never routes; auto knobs do
    routed = sim.ivf_topk(queries, emb, k=5, n_centroids=None).collect()
    assert called.get("hit"), "tier='auto' did not route to the Arrow kernel"
    jvm = sim.ivf_topk(
        queries, emb, k=5, n_centroids=None, tier="jvm"
    ).collect()
    key = lambda r: (r.query_id, r.rank)
    assert sorted(routed, key=key) == sorted(jvm, key=key)
    # below the crossover nothing routes (restore the real constant);
    # the registry's pinned-small-index call must not even count
    monkeypatch.setattr(sim, "ARROW_TIER_MIN_ROWS", 100_000)
    called.clear()
    sim.ivf_topk(queries, emb, k=5, n_centroids=None).collect()
    sim.ivf_topk(queries, emb, k=5).collect()
    assert not called


def test_ivf_auto_two_level_dispatch(spark, sf_dir, monkeypatch):
    """Force the auto thresholds under the fixture and check the default
    knn path lands on two-level with a still-agreeing top-k — the switch
    the 100x caller gets for free must be output-compatible."""
    emb = load(spark, sf_dir, "embeddings")
    monkeypatch.setattr(sim, "TWO_LEVEL_AUTO_MIN_ROWS", 1)
    monkeypatch.setattr(sim, "TWO_LEVEL_MIN_CELLS", 1)
    queries = emb.filter(emb.vec_id % 50 == 0)
    auto = _topk_sets(sim.ivf_topk(queries, emb, k=5, n_centroids=32))
    forced = _topk_sets(
        sim.ivf_topk(queries, emb, k=5, n_centroids=32, assignment="two_level")
    )
    assert auto == forced  # auto resolved to two_level (deterministic path)


def test_ivfpq_residual_recall_and_shape(spark, sf_dir):
    """Residual IVF-PQ (round-7 item #6): same output contract as the
    raw-vector variant, recall within the same floor, and the two
    variants genuinely differ (different quantizers -> different
    shortlists on at least some queries is ALLOWED but not required —
    the assertion here is the contract, not divergence)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id % 50 == 0)
    exact = _topk_sets(sim.brute_force_topk(queries, emb, k=5))
    res = sim.ivfpq_topk(queries, emb, k=5, residual=True)
    assert res.columns == ["query_id", "neighbor_id", "cosine_sim", "rank"]
    approx = _topk_sets(res)
    assert approx.keys() == exact.keys()
    r = _recall(exact, approx)
    raw_r = _recall(exact, _topk_sets(sim.ivfpq_topk(queries, emb, k=5)))
    assert r >= 0.5, f"residual IVF-PQ recall too low: {r}"
    # the round-7 'Done' bar: recall >= the raw variant's CONTRACT (0.5),
    # not necessarily >= the raw variant's point value
    assert r >= 0.5 and raw_r >= 0.5
