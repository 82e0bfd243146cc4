"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
final JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}. The final line is kept COMPACT
(the driver's capture keeps only the last ~2000 chars of stdout): when the
full per-query dict would overflow that budget, the line carries the
slowest queries plus a count, and the COMPLETE result — per-query timings,
per-run spread, the scale sweep, stage metrics (each soak query's shuffle
and spill, read from Spark's in-process status store by
``monster_etl_spark.metrics``), scaling exponents — is
written to ``BENCH_SUMMARY.json`` next to this file. One compact
``{"sweep_sf": ..., "results": ...}`` progress line is also printed per
sweep scale factor as it completes.

Each query is forced end-to-end with the noop sink (full computation, no
driver-side collect). One warm-up run of a small query absorbs JVM/codegen
startup so per-query numbers reflect steady-state execution.

Measurement protocol (round-7: best-of-2 sampled the JIT/page-cache
warm-up tail and manufactured phantom regressions on multi-second
queries): every query gets one compile/warm run; if that run exceeds
2 s the warm run is DISCARDED and the reported number is the best of 3
further warm runs, with the min-max spread recorded alongside. Cheap
queries (<=2 s) keep best-of-2 (the compile run + one warm run) — their
absolute noise is bounded by the threshold.

Every run also records the facts a later comparison needs: each headline
query's physical-plan hash (``monster_etl_spark.explain.plan_hash``), the
session fingerprint (heap, shuffle partitions, master), and the box's
tenancy and hypervisor steal over the run. ``python tools/bench_diff.py
OLD.json NEW.json`` compares two such sidecars and names, per moved query,
the recorded fact that changed.

Scale sweep: when larger-scale data exists (generate with
``python tools/gen_scale.py`` -> ``.scaledata/sf1``, a 10x TPC-H-faithful
replication of sf0.1), the soak subset — the shuffle-heavy joins plus the
dedup/ANN/curation families — is re-timed at every available scale factor
and the JSON line gains ``"sweep": {sf: {query: sec}}`` and
``"scaling_exponent": {query: alpha}`` where ``t ~ sf^alpha`` is fit on
the largest sf decade (alpha <= ~1 means linear-or-better scaling; the
measured answer to "would this plan survive 10x"). Disable with
``SPARK_GRAFT_SWEEP=0``; override dirs with ``SPARK_GRAFT_SWEEP_DIRS``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from monster_etl_spark import get_spark
from monster_etl_spark.explain import plan_hash
from monster_etl_spark.queries import all_queries

# Headline set: the shuffle/join/window-heavy relational queries plus the
# training-data-pipeline operators — the plans whose scale behavior matters.
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q_window_topk",
    "q_running_total",
    "q_rollup",
    "q_asof_last_order",
    "q_asof_merge_join",
    "q13_customer_distribution",
    "q17_small_quantity_revenue",
    "q18_large_orders",
    "q7_volume_shipping",
    "q21_waiting_supplier",
    "q_corpus_curation",
    "q_sessionize",
    "q_hourly_rollup",
    "q_json_extract",
    "q_tumbling_window",
    "p2_transform_chain",
    "p4_union_dedup",
    "t9_parse_longs",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_token_stats",
    "text_quality",
    "text_lang_id",
    "text_fingerprint",
    "knn_brute_force",
    "knn_lsh",
    "knn_ivf",
    "embedding_dup_pairs",
    "dedup_decontaminate",
    "q_token_packing",
    "q_zorder_key",
    "semantic_dedup_verdicts",
    "sample_weighted",
    "text_diversity",
    "q_funnel",
    "q_histogram",
    "text_gopher_quality",
    "text_bm25_rank",
    "text_token_pagerank",
    "embedding_dim_stats",
    "multimodal_png_pixel_stats",
    "q_key_skew_profile",
    "dedup_window_rewrite",
    "text_classifier_score",
    "text_bigram_logprob",
    "knn_pq",
    "q_quality_survivor",
    "q_heavy_hitters_cms",
    "text_bpe_merges",
    "q_mad_outliers",
    "sample_temperature",
    # round-4 additions: the JPEG entropy-decode round-trip, the
    # prefilter-fixed negative sampler, and the two-phase prefix scans
    "multimodal_jpeg_pixel_stats",
    "q_negative_samples",
    "q_compaction_plan",
    "q_equidepth_bins",
    # round-5 additions: the rest of the round-4 codec surface, so the
    # cost of every real decoder is tracked round-over-round
    "multimodal_gif_pixel_stats",
    "multimodal_wav_sample_stats",
    "multimodal_video_frame_stats",
    "multimodal_jpeg_progressive_stats",
    "multimodal_gif_frame_stats",
    # round-5 additions: the compressed-audio codecs (G.711 companding +
    # stateful IMA ADPCM) join the tracked media surface
    "multimodal_g711_ulaw_stats",
    "multimodal_adpcm_sample_stats",
    "multimodal_flac_sample_stats",
    "multimodal_bmp_pixel_stats",
    "multimodal_video_dib_frame_stats",
    "multimodal_png_interlaced_stats",
    "multimodal_tiff_pixel_stats",
    # round-5: the Arrow-vectorized exhaustive kNN (select-then-rescore
    # GEMM kernel; 7.6x over the JVM fold at 2M corpus rows)
    "knn_brute_force_arrow",
    "knn_ivf_arrow",
    # round-6 additions: the WebP-lossless (VP8L) codec joins the tracked
    # media surface; the SemDeDup verdict chain on the per-cell GEMM
    # pair kernel rides next to its self-join twin
    "multimodal_webp_pixel_stats",
    "semantic_dedup_verdicts_arrow",
    # round-9 additions: the header-walk curation profilers (JPEG
    # DQT/SOF/DRI quality estimate; mixed WAV/FLAC container sniff) —
    # tracked so their marker-walk cost stays header-read-sized
    # round-over-round
    "multimodal_jpeg_quality_profile",
    "multimodal_audio_header_profile",
    "multimodal_mp4_box_profile",
    "multimodal_mp3_frame_profile",
    "multimodal_ogg_page_profile",
    # round-11 additions: the Matroska/WebM EBML profiler (the other
    # dominant crawl-video container) and the OPQ rotation invariants
    # (fit + distributed GEMM) join the tracked surface
    "multimodal_webm_profile",
    "knn_opq_invariants",
]


# Soak subset for the scale sweep: the queries whose 100 TB posture the
# round-2 verdict asked to convert from argument to measurement — SF-growing
# joins (q3/q5/q18), every candidate-generating dedup family, ANN, curation,
# packing, and one narrow text pass as the linear yardstick.
SOAK_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q18_large_orders",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_exact",
    "semantic_dedup_verdicts",
    "knn_ivf",
    "knn_brute_force",
    "q_corpus_curation",
    "q_token_packing",
    "text_quality",
    "dedup_window_rewrite",
    "text_bigram_logprob",
    "knn_pq",
    # round-3 scale claims: the merge as-of vs the expanding range join,
    # and the cross-source shingle matrix
    "q_asof_last_order",
    "q_asof_merge_join",
    "dedup_contamination_matrix",
    # round-4 scale claim: candidates hash-prefiltered before the rank
    # window (the fix must hold its near-constant cost as the corpus grows)
    "q_negative_samples",
    # round-6 scale claim: the GEMM pair kernel must widen its lead over
    # the self-join twin as the per-cell pair count grows
    "semantic_dedup_verdicts_arrow",
]


_WARM_THRESHOLD_S = 2.0


def _box_state(cap: int = 8) -> dict:
    """Sample the box's tenancy state: /proc/loadavg plus a scan for
    stray spark/pytest/java processes OUTSIDE this process's own tree.

    Round 9's official bench ran on a loaded box (an idle rerun at the
    same HEAD read 64.5 s against 94.3 s) and its sidecar held no
    evidence of the load. This sample, taken before the headline loop
    and again after the run, is that evidence."""
    state: dict = {}
    try:
        state["loadavg"] = [
            float(x) for x in open("/proc/loadavg").read().split()[:3]
        ]
    except Exception:
        state["loadavg"] = None
    # cumulative hypervisor-steal ticks (field 8 of /proc/stat's cpu
    # line): round-11 found the box stalls in BURSTS the loadavg/stray
    # probes cannot see (single runs 30x their steady on an "idle" box);
    # the box_start -> box_end steal delta is the direct evidence for
    # that class of contamination.
    try:
        cpu = open("/proc/stat").readline().split()
        state["steal_ticks"] = int(cpu[8])
        # fields 1-8 only (user..steal): guest/guest_nice (9-10) are
        # already folded into user/nice by the kernel, so summing them
        # would inflate the denominator (round-11 advice)
        state["total_ticks"] = sum(int(x) for x in cpu[1:9])
    except Exception:
        state["steal_ticks"] = None
    ppid_of: dict[int, int] = {}
    cmd_of: dict[int, str] = {}
    try:
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    # field 4 (ppid) sits after the parenthesised comm,
                    # which may itself contain spaces — split after ')'
                    parts = f.read().rsplit(")", 1)[1].split()
                ppid_of[int(d)] = int(parts[1])
                with open(f"/proc/{d}/cmdline", "rb") as f:
                    cmd_of[int(d)] = (
                        f.read().replace(b"\0", b" ")
                        .decode("utf-8", "replace").strip()
                    )
            except Exception:
                continue
    except Exception:
        state["stray"] = None
        return state
    # "ours" = this PID, its ancestors (the shell/driver that launched
    # bench), and every descendant (the session JVM + python workers)
    # pid 1 (init) must never enter the closure: every process descends
    # from it, so seeding it makes the descendant sweep swallow the
    # whole box and 'stray' can never fire (round-10 ADVICE, medium).
    mine = {os.getpid()}
    p = os.getpid()
    while p in ppid_of:
        parent = ppid_of[p]
        if parent <= 1 or parent in mine:
            break
        mine.add(parent)
        p = parent
    grew = True
    while grew:
        grew = False
        for pid, pp in ppid_of.items():
            if pp in mine and pid not in mine:
                mine.add(pid)
                grew = True
    import re

    pat = re.compile(r"java|pytest|spark|soak_|bench\.py", re.I)
    stray = [
        {"pid": pid, "cmd": cmd[:120]}
        for pid, cmd in cmd_of.items()
        if pid not in mine and cmd and pat.search(cmd)
    ]
    # `cap` bounds the SIDECAR sample; stray_count is always the full
    # tally (the live test passes a large cap so its probe can't be
    # truncated out by legitimate strays sharing the box)
    state["stray"] = stray[:cap]
    state["stray_count"] = len(stray)
    return state


# 1-min loadavg above this at SESSION START (before our own JVM exists)
# marks the box loaded.
_LOAD1_START = 2.0


def _box_loaded(state: dict | None) -> str | None:
    """One-line load verdict for the session-start box sample, or None
    when clean."""
    if not state:
        return None
    if state.get("stray"):
        pids = [s["pid"] for s in state["stray"]]
        return f"stray_pids={pids}"
    la = state.get("loadavg")
    if la and la[0] > _LOAD1_START:
        return f"load1={la[0]}"
    return None


def _session_fingerprint(spark) -> dict:
    """The config axes that have historically moved wall-clock between
    rounds (r5: initialPartitionNum; r7: driver heap; file split sizing via
    the per-file open cost) — recorded in the sidecar so a config-driven
    delta is attributable from the JSON alone (``tools/bench_diff.py``)."""
    conf = spark.conf
    return {
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", "?"),
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "initial_partitions": conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        ),
        "file_open_cost": conf.get("spark.sql.files.openCostInBytes"),
        "master": spark.sparkContext.master,
    }


def _stdout_lines(
    out: dict, timings: dict, box_start: dict, budget: int = 1950,
) -> list[str]:
    """The bench's stdout contract (round-11 verdict #1).

    The driver's capture keeps only the last ~2000 chars of stdout, and
    the full queries dict alone (88 names) is ~2.4k chars even at 2dp,
    so ALL timings cannot fit on one always-parseable final line. The
    bench therefore prints TWO JSON lines:

    - penultimate line: same metric/value/unit/sf schema with the
      COMPLETE queries dict at full precision (``"complete": true``) —
      the documented second line carrying every per-query timing;
    - final line: the contract line, compact-encoded and slimmed
      (2dp timings; the bulky per-query and box fields dropped — the
      sidecar keeps all of them), guaranteed <= ``budget`` chars so the
      2000-char tail always contains it whole and it always parses.
      When truncation still binds, the slowest queries are kept.
    """
    enc = lambda obj: json.dumps(obj, separators=(",", ":"))  # noqa: E731
    full_line = {
        "metric": out["metric"], "value": out["value"], "unit": "sec",
        "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])),
        "sf": out["sf"], "queries_total": len(timings), "complete": True,
    }
    line = dict(out)
    line["detail"] = "BENCH_SUMMARY.json"
    for bulky in ("sweep", "sweep_spread", "stage_metrics", "spread",
                  "scaling_exponent", "scaling_note", "skipping",
                  "session", "plan_hash", "box_start", "box_end"):
        line.pop(bulky, None)
    line["queries"] = {k: round(v, 2) for k, v in timings.items()}
    # box verdict stays on the final line: one short field that says
    # whether this record is load-contaminated (round-9 verdict #1)
    line["box_loaded_at_start"] = _box_loaded(box_start)
    if len(enc(line)) > budget:
        ranked = sorted(line["queries"].items(), key=lambda kv: -kv[1])
        line["queries_total"] = len(timings)
        for n in range(len(ranked), 0, -1):
            line["queries"] = dict(ranked[:n])
            if len(enc(line)) <= budget:
                break
    return [enc(full_line), enc(line)]


def _time_query(run, snapshot=None, delta=None):
    """Warm-run protocol. ``run()`` executes the query end-to-end and
    returns elapsed seconds. Returns ``(best, spread, metrics_delta)``:

    - first run = plan compilation + JIT + page-cache warm-up;
    - if it finished <= 2 s, one more run, best-of-2 (compile run kept:
      sub-2s queries bound the noise by construction);
    - else the warm run is DISCARDED and best-of-3 warm runs is
      reported, spread = max-min of the kept runs.

    ``snapshot``/``delta`` (optional, monster_etl_spark.metrics) attach
    the stage-metric delta of the best kept run."""
    kept: list[float] = []
    best_dm = None

    def one():
        nonlocal best_dm
        before = snapshot() if snapshot else None
        t0 = time.perf_counter()
        run()
        el = time.perf_counter() - t0
        kept.append(el)
        if el == min(kept) and before is not None:
            best_dm = delta(before, snapshot())
        return el

    first = one()
    if first <= _WARM_THRESHOLD_S:
        one()
    else:
        kept.clear()
        best_dm = None
        for _ in range(3):
            one()
    best = min(kept)
    spread = max(kept) - best
    return round(best, 3), round(spread, 3), best_dm


def _sweep_dirs(primary: str) -> list[str]:
    env = os.environ.get("SPARK_GRAFT_SWEEP_DIRS")
    if env:
        cands = env.split(",")
    else:
        here = os.path.dirname(os.path.abspath(__file__))
        cands = [
            "/root/testdata/sf0.01",
            "/root/testdata/sf0.1",
            os.path.join(here, ".scaledata", "sf1"),
        ]
    out = []
    for d in cands:
        d = d.rstrip("/")
        if os.path.isdir(d) and d != primary:
            out.append(d)
    return out


def _sf_of(path: str) -> float:
    return float(os.path.basename(path.rstrip("/")).split("sf", 1)[-1])


def _bench_etl_pipeline(spark, sf_dir: str, scratch: str) -> float:
    """The reference's own workload shape, end-to-end: TSV-with-header ->
    snake-case -> rename/remove + typed parses (P2 chain) -> JSON-lines.
    Setup (dumping lineitem as TSV) is untimed; the timed span is the full
    read-transform-write pipeline."""
    import time

    from pyspark.sql import functions as F

    from monster_etl_spark.config import TableConfig
    from monster_etl_spark.naming import columns_to_snake_case
    from monster_etl_spark.plans.v2f import transform_table
    from monster_etl_spark.sources.jsonl import write_json_lines
    from monster_etl_spark.sources.tsv import read_tsv

    tsv_dir = os.path.join(scratch, "lineitem_tsv")
    if not os.path.isdir(tsv_dir):
        (
            spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .select([F.col(c).cast("string") for c in
                     ("l_orderkey", "l_linenumber", "l_quantity", "l_discount",
                      "l_returnflag", "l_linestatus")])
            .repartition(8)
            .write.option("header", True).option("sep", "\t").csv(tsv_dir)
        )
    cfg = TableConfig(
        table_name="lineitem_etl",
        fields_to_rename={"l_returnflag": "returned"},
        fields_to_remove=frozenset({"l_linestatus"}),
        fields_to_double=frozenset({"l_discount"}),
        fields_to_long=frozenset({"l_quantity"}),
        fields_to_boolean=frozenset({"returned"}),
        boolean_true_values=frozenset({"R"}),
    )
    t0 = time.perf_counter()
    df = columns_to_snake_case(read_tsv(spark, f"{tsv_dir}/*.csv"))
    out = transform_table(df, cfg)
    write_json_lines(out, os.path.join(scratch, "lineitem_jsonl"))
    return round(time.perf_counter() - t0, 3)



def _bench_zorder_pruning(spark, sf_dir: str, scratch: str, num_files: int = 32) -> tuple[float, float]:
    """Data-skipping comparison: write lineitem z-ordered on
    (l_orderkey, l_extendedprice), manifest the footers, then time a 2-D
    band query as (a) manifest-pruned read of surviving files vs (b) full
    scan + filter. Setup (layout rewrite + manifest build) is untimed —
    it is the amortized OPTIMIZE pass.

    Honest expectation: ~parity on warm local disk, because Spark's own
    row-group pushdown on the SAME z-ordered layout skips non-matching
    row groups after an (locally cached) footer read. The manifest's win
    is structural — files never opened — which prices in on cold object
    storage where every skipped file is a skipped round trip; the
    files-touched contract is pinned in tests/test_manifest.py."""
    import time

    from pyspark.sql import functions as F

    from monster_etl_spark.operators.maintenance import zorder_layout
    from monster_etl_spark.operators.manifest import ManifestIndex, build_manifest, pruned_read

    zdir = os.path.join(scratch, "lineitem_z")
    cols = ["l_orderkey", "l_extendedprice"]
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    if not os.path.isdir(zdir):
        zorder_layout(li.select("l_orderkey", "l_extendedprice", "l_quantity"),
                      cols, num_files=num_files).write.parquet(zdir)
    # the index lives driver-side (as a table format's planner holds
    # manifests); pruning per query is then in-memory band math
    index = ManifestIndex.from_df(build_manifest(spark, zdir, cols))

    stats = li.agg(F.min(cols[0]), F.max(cols[0]), F.min(cols[1]), F.max(cols[1])).collect()[0]
    band = {
        cols[0]: (float(stats[0]), float(stats[0] + (stats[1] - stats[0]) * 0.1)),
        cols[1]: (float(stats[2]), float(stats[2] + (stats[3] - stats[2]) * 0.1)),
    }

    def full():
        df = spark.read.parquet(zdir)
        for c, (lo, hi) in band.items():
            df = df.filter((F.col(c) >= lo) & (F.col(c) <= hi))
        return df

    best_p, best_f = float("inf"), float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        pruned_read(spark, zdir, index, band).write.format("noop").mode("overwrite").save()
        best_p = min(best_p, time.perf_counter() - t0)
        t0 = time.perf_counter()
        full().write.format("noop").mode("overwrite").save()
        best_f = min(best_f, time.perf_counter() - t0)
    n_total = len(index._bands)
    n_survive = len(index.pruned_paths(band))
    return round(best_p, 3), round(best_f, 3), n_survive, n_total


def _bench_bloom_pruning(spark, sf_dir: str, scratch: str, num_files: int = 32) -> tuple:
    """Equality-lookup skipping: HASH-partition lineitem on l_orderkey
    (each key in exactly one file, but every file's min/max band spans
    the whole key domain — the layout where band pruning is useless and
    the bloom is the only skipping mechanism), build the per-file bloom
    manifest, then time a point lookup as (a) bloom-pruned read vs (b)
    full scan + filter. Build cost (one column read per file) is
    untimed — the amortized index pass."""
    import time

    from pyspark.sql import functions as F

    from monster_etl_spark.operators.manifest import (
        BloomIndex,
        bloom_pruned_read,
        build_bloom_manifest,
    )

    bdir = os.path.join(scratch, "lineitem_bloom")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    if not os.path.isdir(bdir):
        # hash-partition ON THE KEY: each orderkey lands in exactly one
        # file, but file min/max bands span the whole domain (hash
        # scatter), so the bloom is the only thing standing between a
        # point lookup and a full scan
        li.select("l_orderkey", "l_quantity").repartition(num_files, "l_orderkey")\
          .write.parquet(bdir)
    # index collected driver-side once (the planner's copy) — untimed,
    # like the z-order pair's ManifestIndex
    index = BloomIndex.from_df(build_bloom_manifest(spark, bdir, ["l_orderkey"]))
    key = int(li.agg(F.max("l_orderkey")).collect()[0][0])

    best_p = best_f = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        bloom_pruned_read(spark, bdir, index, "l_orderkey", key)\
            .write.format("noop").mode("overwrite").save()
        best_p = min(best_p, time.perf_counter() - t0)
        t0 = time.perf_counter()
        spark.read.parquet(bdir).filter(F.col("l_orderkey") == key)\
            .write.format("noop").mode("overwrite").save()
        best_f = min(best_f, time.perf_counter() - t0)
    n_survive = len(index.pruned_paths("l_orderkey", key))
    return round(best_p, 3), round(best_f, 3), n_survive, num_files


def _warm_python_workers(spark, n: int = 64) -> None:
    """Spawn + warm every Python worker once: import numpy/pandas and
    touch a few MB of allocator pages inside each, so the first REAL
    mapInPandas query measures codec work, not process start-up. ``n``
    partitions > core count guarantees full coverage under reuse."""

    def _w(batches):
        import numpy as np

        a = np.zeros(4 << 20, np.uint8)
        a[::4096] = 1  # touch pages
        yield from batches

    (
        spark.range(0, n, 1, n)
        .mapInPandas(_w, "id long")
        .write.format("noop").mode("overwrite").save()
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # box tenancy sample BEFORE our own JVM exists (round-9 verdict #1:
    # the official r9 record absorbed ~1.3x of box load invisibly)
    box_start = _box_state()
    registry = all_queries()
    spark = get_spark(app_name="monster-etl-spark-bench")

    # warm-up: JVM + codegen + parquet footer caches
    registry["t3_extract_fields"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    # warm-up 2: Python workers. The first mapInPandas query in a session
    # otherwise pays 32 x (worker spawn + numpy/pandas import + allocator
    # first-touch) inside ITS timing — measured 2.8-5x on the media tier's
    # cold run (round-7 "What's wrong #3"). Codec builds themselves are
    # sub-ms (measured; nothing to memoize) — the cold cost is process
    # warm-up, so one trivial pass through every worker absorbs it.
    _warm_python_workers(spark)
    # warm-up 3: one tiny media query (smallest sf available) warms the
    # Arrow runner + codec-closure first-execution path; what remains on
    # a query's own first run is its per-plan codegen, which the warm-run
    # protocol below discards anyway.
    tiny = "/root/testdata/sf0.001"
    media_warm_dir = tiny if os.path.isdir(tiny) else sf_dir
    registry["multimodal_jpeg_pixel_stats"].fn(spark, media_warm_dir)\
        .write.format("noop").mode("overwrite").save()

    # Warm-run protocol (see module docstring): compile run, then
    # best-of-2 for cheap queries / discard + best-of-3 for >2s queries,
    # min-max spread recorded per query.
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    plan_hash_cur: dict[str, str] = {}
    for name in BENCH_QUERIES:
        fn = registry[name].fn
        ph = plan_hash(fn(spark, sf_dir))  # planning only, pre-timing
        if ph:
            plan_hash_cur[name] = ph
        best, spread, _ = _time_query(
            lambda: fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        )
        timings[name] = best
        spreads[name] = spread

    # the reference's own workload shape (TSV -> clean/typed JSON-lines)
    import tempfile

    scratch = tempfile.mkdtemp(prefix="bench_etl_")
    _bench_etl_pipeline(spark, sf_dir, scratch)  # warm-up
    timings["etl_tsv_to_jsonl"] = _bench_etl_pipeline(spark, sf_dir, scratch)

    # measured data-skipping payoff (manifest-pruned vs full scan, same band)
    pruned_s, full_s, _, _ = _bench_zorder_pruning(spark, sf_dir, scratch)
    timings["scan_zorder_pruned"] = pruned_s
    timings["scan_full_filter"] = full_s
    bp, bf, _, _ = _bench_bloom_pruning(spark, sf_dir, scratch)
    timings["lookup_bloom_pruned"] = bp
    timings["lookup_full_filter"] = bf

    out: dict = {
        "metric": (
            "headline query wall-clock, steady-state "
            "(warm best-of-2; >2s: discard+best-of-3), noop sink"
        ),
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "spread": spreads,
        "sf": float(sf),
    }

    # ---- scale sweep: soak subset across every available scale factor ----
    if os.environ.get("SPARK_GRAFT_SWEEP", "1") != "0":
        import math

        dirs = sorted({sf_dir.rstrip("/"), *(_sweep_dirs(sf_dir.rstrip("/")))}, key=_sf_of)
        if len(dirs) >= 2:
            from monster_etl_spark import metrics as _metrics

            sweep: dict[str, dict[str, float]] = {}
            sweep_spread: dict[str, dict[str, float]] = {}
            # round-5 verdict item 4: stage metrics at EVERY sweep sf (not
            # just the largest) so cross-sf regressions are attributable
            # to shuffle/spill deltas, not guessed at
            stage_metrics: dict[str, dict[str, dict[str, int]]] = {}
            for d in dirs:
                key = f"{_sf_of(d):g}"
                per: dict[str, float] = {}
                per_spread: dict[str, float] = {}
                sf_metrics: dict[str, dict[str, int]] = {}
                for name in SOAK_QUERIES:
                    fn = registry[name].fn
                    best, spread, dm = _time_query(
                        lambda: fn(spark, d).write.format("noop").mode("overwrite").save(),
                        snapshot=lambda: _metrics.snapshot(spark),
                        delta=_metrics.delta,
                    )
                    per[name] = best
                    per_spread[name] = spread
                    sf_metrics[name] = dm
                sweep[key] = per
                sweep_spread[key] = per_spread
                stage_metrics[key] = sf_metrics
                # compact per-sf progress line: survives any tail buffer
                # even if the process dies mid-sweep
                print(json.dumps({"sweep_sf": key, "results": per}), flush=True)
            # shuffle bytes written/read + mem/disk spill per soak query
            # per sf — the "is this disk-bound or plan-defective"
            # evidence (best-timed attempt's delta)
            out["stage_metrics"] = stage_metrics
            # data skipping must WIN where there are enough files to skip:
            # the pair is re-run at the largest sf with a file count sized
            # to it (the sf0.1 pair in `queries` shows overhead-dominated
            # parity; this one shows the payoff)
            largest = dirs[-1]
            zscratch = tempfile.mkdtemp(prefix="bench_zsweep_")
            nf = 64 if _sf_of(largest) >= 1 else 32
            p_s, f_s, n_survive, n_total = _bench_zorder_pruning(
                spark, largest, zscratch, num_files=nf
            )
            sweep[f"{_sf_of(largest):g}"]["scan_zorder_pruned"] = p_s
            sweep[f"{_sf_of(largest):g}"]["scan_full_filter"] = f_s
            out["skipping"] = {
                "sf": _sf_of(largest),
                "files_read": n_survive,
                "files_total": n_total,
                "note": "manifest band-pruned files vs total for the 2-D band scan pair",
            }

            lo, hi = dirs[-2], dirs[-1]
            ratio = math.log(_sf_of(hi) / _sf_of(lo))
            exps: dict[str, float] = {}
            for name in SOAK_QUERIES:
                t_lo = sweep[f"{_sf_of(lo):g}"].get(name)
                t_hi = sweep[f"{_sf_of(hi):g}"].get(name)
                if t_lo and t_hi:
                    exps[name] = round(math.log(t_hi / t_lo) / ratio, 2)
            out["sweep"] = sweep
            out["sweep_spread"] = sweep_spread
            out["scaling_exponent"] = exps
            out["scaling_note"] = (
                f"t ~ sf^alpha fit on sf{_sf_of(lo):g}->sf{_sf_of(hi):g}; "
                "alpha<=1 is linear-or-better (sub-second lo timings inflate alpha "
                "with fixed overhead)"
            )

    # ---- the facts a later comparison reads (tools/bench_diff.py) ----
    out["session"] = _session_fingerprint(spark)
    out["box_start"] = box_start
    # box_end + steal delta over the whole headline loop (round-11):
    # bursty hypervisor stalls are invisible to loadavg/stray sampling
    # but show directly as stolen ticks. steal_pct is stolen share of
    # all cpu ticks between the two samples.
    box_end = _box_state()
    out["box_end"] = box_end
    try:
        ds = box_end["steal_ticks"] - box_start["steal_ticks"]
        dt = box_end["total_ticks"] - box_start["total_ticks"]
        out["steal_pct_during"] = round(100.0 * ds / dt, 2) if dt > 0 else None
    except Exception:
        out["steal_pct_during"] = None
    if plan_hash_cur:
        out["plan_hash"] = plan_hash_cur

    # Complete result -> sidecar, then the two-line stdout contract.
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_SUMMARY.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    for ln in _stdout_lines(out, timings, box_start):
        print(ln, flush=True)


if __name__ == "__main__":
    main()
