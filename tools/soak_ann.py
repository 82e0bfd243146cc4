"""ANN-tier scale soak (round-9 verdict #3): the similarity family's
missing decade.

Drives the IVF family END-TO-END with the production knobs
(``n_centroids=None`` -> auto ~sqrt(N) cells, ``assignment="auto"`` ->
each execution tier dispatches at its own measured crossover,
``fit_fraction=None`` -> sample-bounded Lloyd) at one or more scale
dirs, measuring wall, stage metrics (spill), and recall@k against the
exact brute-force ground truth computed in the same session. The
resolved knobs are printed per sf so the two-level dispatch is
OBSERVED, not forced: at sf100e (2M rows) auto-cells ~ 1414 crosses
both the JVM gate (TWO_LEVEL_MIN_CELLS=64) and the Arrow gate
(ARROW_TWO_LEVEL_MIN_CELLS=1024) naturally — the first corpus where
the Arrow tier reaches its design point by itself.

    python tools/gen_scale.py --factor 10 --src .scaledata/sf10 \
        --out .scaledata/sf100e --tables embeddings
    python tools/soak_ann.py --sf-dirs .scaledata/sf10,.scaledata/sf100e

One JSON line per (sf, variant); a final line carries per-variant
scaling exponents across the last two dirs (t ~ sf^alpha, decade fit).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERY_MOD = 50
QUERY_CAP = 2500  # 50 queries — the r9 sf10 soak's |Q|


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dirs", default=".scaledata/sf10,.scaledata/sf100e")
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--best-of", type=int, default=1)
    ap.add_argument("--probes", type=int, default=0,
                    help="n_probes for every variant (0 = library "
                         "defaults). Recall at fixed probes DROPS as "
                         "auto-cells grows with N; pass probes scaled "
                         "to cells (constant probed fraction) to "
                         "measure recall scale-invariance instead of "
                         "the shrinking-fraction artifact.")
    ap.add_argument("--variants", default="",
                    help="comma-separated subset of variant names")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from monster_etl_spark import get_spark
    from monster_etl_spark import metrics as M
    from monster_etl_spark.operators import similarity as sim

    spark = get_spark(app_name="soak-ann")
    spark.sparkContext.setLogLevel("ERROR")

    def topk_sets(df):
        out: dict = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    def recall(exact, approx):
        hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
        return hits / sum(len(exact[q]) for q in exact)

    walls: dict[str, dict[str, float]] = {}
    for sf_dir in args.sf_dirs.split(","):
        sf_dir = sf_dir.rstrip("/")
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        queries = emb.filter(
            (F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP)
        )
        n_rows = emb.count()
        cells, assign, fitf, tier = sim._resolve_ivf_knobs(
            emb, None, "auto", None, tier="auto")
        probes = sim.resolve_probes(args.probes or None, cells)
        print(json.dumps({
            "sf_dir": sf_dir, "rows": n_rows, "resolved_cells": cells,
            "resolved_assignment": assign,
            "resolved_fit_fraction": round(fitf, 5) if fitf else fitf,
            "resolved_tier": tier, "resolved_probes": probes,
            "jvm_gate": sim.TWO_LEVEL_MIN_CELLS,
            "arrow_gate": sim.ARROW_TWO_LEVEL_MIN_CELLS,
            "tier_gate_rows": sim.ARROW_TIER_MIN_ROWS,
        }), flush=True)

        exact = topk_sets(sim.brute_force_topk(queries, emb, k=args.k))

        pk = {"n_probes": args.probes} if args.probes else {}
        variants = {
            "ivf_auto_jvm": lambda: sim.ivf_topk(
                queries, emb, k=args.k, n_centroids=None, assignment="auto",
                tier="jvm", **pk),
            "ivf_auto_tier": lambda: sim.ivf_topk(
                queries, emb, k=args.k, n_centroids=None, assignment="auto",
                tier="auto", **pk),
            "ivf_auto_arrow": lambda: sim.ivf_topk_arrow(
                queries, emb, k=args.k, n_centroids=None, assignment="auto",
                **pk),
            "ivfpq_auto_raw": lambda: sim.ivfpq_topk(
                queries, emb, k=args.k, n_centroids=None, assignment="auto",
                **pk),
            "ivfpq_auto_residual": lambda: sim.ivfpq_topk(
                queries, emb, k=args.k, n_centroids=None, assignment="auto",
                residual=True, **pk),
            "ivfpq_auto_opq": lambda: sim.opq_ivfpq_topk(
                queries, emb, k=args.k, n_centroids=None, assignment="auto",
                **pk),
        }
        if args.variants:
            keep = set(args.variants.split(","))
            variants = {k: v for k, v in variants.items() if k in keep}
        walls[sf_dir] = {}
        for name, mk in variants.items():
            best, best_rec, best_m = float("inf"), None, None
            for _ in range(max(1, args.best_of)):
                before = M.snapshot(spark)
                t0 = time.perf_counter()
                approx = topk_sets(mk())
                el = time.perf_counter() - t0
                if el < best:
                    best, best_rec = el, recall(exact, approx)
                    best_m = M.delta(before, M.snapshot(spark))
            walls[sf_dir][name] = best
            print(json.dumps({
                "sf_dir": sf_dir, "variant": name, "wall_s": round(best, 1),
                "recall": round(best_rec, 3),
                "spill": {k: best_m[k] for k in ("mem_spill", "disk_spill")},
                "shuffle_write": best_m["shuffle_write"],
            }), flush=True)

    # decade fit over every CONSECUTIVE pair with a real row-count ratio
    # (a clustered corpus appended at the same row count is a recall
    # comparison, not a scaling point — skip ratio 1 pairs)
    dirs = [d.rstrip("/") for d in args.sf_dirs.split(",")]
    rows_of = {
        d: spark.read.parquet(f"{d}/embeddings.parquet").count() for d in dirs
    }
    for lo, hi in zip(dirs, dirs[1:]):
        if rows_of[hi] == rows_of[lo]:
            continue
        ratio = math.log(rows_of[hi] / rows_of[lo])
        alphas = {
            v: round(math.log(walls[hi][v] / walls[lo][v]) / ratio, 2)
            for v in walls[hi]
            if walls.get(lo, {}).get(v)
        }
        print(json.dumps({"pair": [lo, hi], "alpha_rows": alphas,
                          "note": "t ~ rows^alpha"}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
