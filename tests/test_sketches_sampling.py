"""Operator-level invariants for round-3 additions: count-min sketch,
temperature quotas, compaction planning, EWMA baseline."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from monster_etl_spark.operators.maintenance import compaction_plan
from monster_etl_spark.operators.sampling import quota_sample, temperature_quotas
from monster_etl_spark.operators.sketches import cms_build, cms_estimate, cms_heavy_hitters


@pytest.fixture(scope="module")
def keyed(spark):
    # 3 hot keys (60, 40, 30 rows) + 100 singletons
    rows = (
        [("hot_a",)] * 60
        + [("hot_b",)] * 40
        + [("hot_c",)] * 30
        + [(f"cold_{i}",) for i in range(100)]
    )
    return spark.createDataFrame(rows, "k: string")


def test_cms_never_underestimates(spark, keyed):
    hh = cms_heavy_hitters(keyed, "k", min_count=1).toPandas()
    assert len(hh) == 103
    assert (hh.cms_estimate >= hh.exact_count).all()


def test_cms_finds_heavy_hitters_exactly_at_threshold(spark, keyed):
    hh = cms_heavy_hitters(keyed, "k", min_count=30).toPandas()
    # no-underestimate => every true heavy hitter is present
    assert {"hot_a", "hot_b", "hot_c"} <= set(hh.k)
    # 4x512 cells vs 103 keys: collisions possible but estimates stay
    # within the CMS bound (e/w * N ~ 1 here); hot keys dominate
    est = dict(zip(hh.k, hh.cms_estimate))
    assert est["hot_a"] >= 60 and est["hot_b"] >= 40 and est["hot_c"] >= 30


def test_cms_sketch_size_bounded(spark, keyed):
    sketch = cms_build(keyed, "k", depth=4, width=512)
    assert sketch.count() <= 4 * 512


def test_cms_estimate_matches_manual_min(spark, keyed):
    sketch = cms_build(keyed, "k", depth=4, width=512)
    cand = keyed.groupBy("k").agg(F.count(F.lit(1)).alias("exact_count"))
    est = cms_estimate(cand, sketch, "k").toPandas()
    # every key occurs, estimate is a positive long
    assert len(est) == 103 and (est.cms_estimate >= 1).all()


def test_cms_key_column_with_backtick(spark, keyed):
    """A key column whose name holds a backtick is one identifier: its
    sketch and estimates equal those over the same keys named plainly."""
    odd = keyed.withColumnRenamed("k", "k`ey")
    plain = keyed.withColumnRenamed("k", "key")

    def run(df, key):
        sketch = cms_build(df, key)
        est = cms_estimate(df.distinct(), sketch, key).withColumnRenamed(key, "key")
        return sorted(sketch.collect()), sorted(est.collect())

    assert run(odd, "k`ey") == run(plain, "key")


@pytest.fixture(scope="module")
def skewed_langs(spark):
    rows = [(i, "en") for i in range(900)] + [(i + 1000, "fr") for i in range(90)] + [
        (i + 2000, "sw") for i in range(10)
    ]
    return spark.createDataFrame(rows, "doc_id: long, lang: string")


def test_temperature_quotas_sum_and_cap(spark, skewed_langs):
    q = temperature_quotas(skewed_langs, ["lang"], total_n=100, tau=0.5).toPandas()
    assert q.quota.sum() == 100  # largest-remainder hits the total exactly
    assert (q.quota <= q.stratum_rows).all()
    by = dict(zip(q.lang, q.quota))
    # sqrt scaling: en/sw quota ratio ~ sqrt(900/10) ~ 9.5, far below the
    # natural 90x — rare languages upweighted
    assert by["en"] < 9 * by["sw"]
    assert by["en"] > by["fr"] > by["sw"]


def test_temperature_tau_one_is_proportional(spark, skewed_langs):
    q = temperature_quotas(skewed_langs, ["lang"], total_n=100, tau=1.0).toPandas()
    by = dict(zip(q.lang, q.quota))
    assert by["en"] == 90 and by["fr"] == 9 and by["sw"] == 1


def test_quota_sample_exact_quotas(spark, skewed_langs):
    quotas = temperature_quotas(skewed_langs, ["lang"], total_n=100, tau=0.5)
    s = quota_sample(skewed_langs, quotas, ["lang"], "doc_id").toPandas()
    got = s.groupby("lang").size().to_dict()
    want = dict(
        zip(*(lambda p: (p.lang, p.quota))(quotas.toPandas()))
    )
    assert got == {k: v for k, v in want.items() if v > 0}
    assert s.sample_rank.le(s.quota).all()


def test_compaction_plan_groups_bounded(spark):
    inv = spark.createDataFrame(
        [(f"f{i}", (i * 37) % 400 + 20) for i in range(50)], "f: string, sz: long"
    )
    plan = compaction_plan(inv, "f", "sz", target_size=1000).toPandas()
    assert len(plan) == 50
    sizes = plan.groupby("merge_group").sz.sum()
    max_unit = plan.sz.max()
    # every group except possibly the last is >= target - max_unit and
    # every group is < target + max_unit
    assert (sizes < 1000 + max_unit).all()
    # groups are contiguous 0..G
    gs = sorted(plan.merge_group.unique())
    assert gs == list(range(len(gs)))


def test_bpe_two_pass_replace_column_expression(spark):
    # the Spark column expression agrees with greedy merge on these
    # shapes (distinct pairs; self-pair runs <= 4 — the longer-run
    # variant semantics are pinned in tests/test_property.py)
    from monster_etl_spark.operators.text import _bpe_apply_merge

    df = spark.createDataFrame(
        [("|a|b|a|b|a|b|",), ("|a|a|a|",), ("|a|a|a|a|",), ("|x|a|b|y|",)], "sym: string"
    )
    got = [r.m for r in df.select(_bpe_apply_merge(F.col("sym"), "a", "b").alias("m")).collect()]
    assert got[0] == "|ab|ab|ab|"
    assert got[3] == "|x|ab|y|"
    got_aa = [r.m for r in df.select(_bpe_apply_merge(F.col("sym"), "a", "a").alias("m")).collect()]
    # greedy left-to-right on "a a a" -> "aa a"; on "a a a a" -> "aa aa"
    assert got_aa[1] == "|aa|a|"
    assert got_aa[2] == "|aa|aa|"


def test_bpe_learns_expected_merges_on_toy_corpus(spark):
    from monster_etl_spark.operators.text import bpe_learn_merges

    # "low" x5, "lower" x2, "newest" x6 (Sennrich-style toy). Hand-derived
    # sequence: (w,e) 8 (2 in lower + 6 in newest), then (l,o) 7, then the
    # 6-count tie broken lexicographically -> (e,we).
    docs = spark.createDataFrame(
        [(" ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6),)], "text: string"
    )
    m = bpe_learn_merges(docs, "text", n_merges=3).toPandas()
    assert list(m.merge_rank) == [1, 2, 3]
    assert (m.iloc[0].w1, m.iloc[0].w2, m.iloc[0].pair_count) == ("w", "e", 8)
    assert (m.iloc[1].w1, m.iloc[1].w2, m.iloc[1].pair_count) == ("l", "o", 7)
    assert (m.iloc[2].w1, m.iloc[2].w2, m.iloc[2].pair_count) == ("e", "we", 6)


def test_mad_outliers_flags_planted_outlier(spark):
    import pyspark.sql.functions as SF

    from monster_etl_spark.queries.relational2_queries import MAD_K, MAD_SIGMA

    # reuse the operator shape inline on a controlled frame
    rows = [(i, "t", float(50 + (i % 11))) for i in range(200)] + [(999, "t", 5000.0)]
    df = spark.createDataFrame(rows, "event_id: long, event_type: string, value: double")
    med = df.groupBy("event_type").agg(SF.expr("percentile(value, 0.5)").alias("med"))
    dev = df.join(med, "event_type").withColumn("adev", SF.abs(SF.col("value") - SF.col("med")))
    mad = dev.groupBy("event_type").agg(SF.expr("percentile(adev, 0.5)").alias("mad"))
    out = dev.join(mad, "event_type").filter(
        SF.col("adev") > SF.lit(MAD_K * MAD_SIGMA) * SF.col("mad")
    )
    ids = [r.event_id for r in out.collect()]
    assert ids == [999]


def test_cms_null_keys_bucket_as_empty_string(spark):
    """NULL keys must not NULL-propagate to bucket NULL (estimate 0 <
    exact would break the no-underestimate guarantee); they bucket as
    the empty-string key on both engines."""
    from monster_etl_spark.operators.sketches import cms_heavy_hitters

    rows = [(None,)] * 40 + [("x",)] * 10
    df = spark.createDataFrame(rows, "k: string")
    hh = cms_heavy_hitters(df, "k", min_count=1).toPandas()
    by = {k: (e, c) for k, e, c in zip(hh.k, hh.exact_count, hh.cms_estimate)}
    assert by[None][0] == 40 and by[None][1] >= 40
    assert by["x"][1] >= 10


def test_temperature_quotas_overflow_raises(spark):
    import pytest as _pt

    from monster_etl_spark.operators.sampling import temperature_quotas

    df = spark.createDataFrame([(i, "en") for i in range(100)], "doc_id: long, lang: string")
    # total_n so large that total_n * w6 (w6 = sqrt(100)*1e6 = 1e7) overflows
    with _pt.raises(Exception, match="overflow"):
        temperature_quotas(df, ["lang"], total_n=(1 << 62), tau=0.5).collect()


def test_compaction_two_phase_matches_single_window(spark):
    """The two-phase prefix sum (range slices + broadcast offsets) must be
    bit-identical to the one-global-window form at ANY slicing — including
    duplicate sizes straddling range boundaries — and the inventory-sized
    window must be partitioned (round-3 verdict: the global-order window
    funneled the whole inventory through one task)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(f"f{i:05d}", ((i * 2654435761) % 97) * 10 + 20) for i in range(3000)]
    inv = spark.createDataFrame(rows, "f: string, sz: long").repartition(17)
    w = Window.orderBy(F.col("sz").desc(), F.col("f").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    want = {
        (r.f, r.sz, r.g)
        for r in inv.select(
            "f", "sz",
            F.floor(F.coalesce(F.sum("sz").over(w), F.lit(0)) / F.lit(1000))
            .cast("long").alias("g"),
        ).collect()
    }
    for num_ranges in (1, 7, 64):
        got = {
            (r.f, r.sz, r.merge_group)
            for r in compaction_plan(inv, "f", "sz", 1000, num_ranges=num_ranges).collect()
        }
        assert got == want, f"two-phase diverged at num_ranges={num_ranges}"
    # the inventory-sized window is partitioned: the ONLY unpartitioned
    # window in the plan is prefix_sum's num_ranges-row offsets rollup
    # (bounded by the knob, not the inventory). Checked via the JVM-tree
    # walker — the formatted plan OMITS an empty partition group, so a
    # text regex over explain("formatted") can never see the difference.
    from monster_etl_spark.explain import unpartitioned_windows

    unparted = unpartitioned_windows(compaction_plan(inv, "f", "sz", 1000, num_ranges=16))
    assert unparted == ["Window"], (
        f"expected exactly the bounded offsets-rollup window, got {unparted}"
    )


def test_prefix_sum_offsets_ride_a_reused_exchange(spark):
    """prefix_sum derives the ranged slicing in TWO plan branches (offsets
    aggregate + main join) and its _pid-keyed offset join is correct only
    if both branches see identical range boundaries. Spark guarantees that
    today by canonical-plan equality -> ReusedExchange (verified under all
    AQE/reuse combinations), but it is an internals-dependent invariant:
    this test pins the ReusedExchange node so a future Spark upgrade that
    breaks canonical equality fails LOUDLY here instead of silently
    corrupting prefix sums (round-4 advice)."""
    from pyspark.sql import functions as F

    from monster_etl_spark.operators.prefix import prefix_sum

    df = spark.range(2000).select(F.col("id"), (F.col("id") % 13).alias("v"))
    out = prefix_sum(df, [F.col("id")], F.col("v"), "ps", num_ranges=8)
    out.collect()  # executed (final adaptive) plan carries reuse info
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan and "rangepartitioning" in plan, (
        "the offsets branch no longer reuses the main branch's range "
        "exchange — range boundaries may diverge between branches:\n" + plan
    )
