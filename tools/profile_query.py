"""Per-query build time and per-job wall-clock breakdown.

The heavy headline queries at sf0.1 run nearly as fast at sf0.01 — their
cost is FIXED per-session work (plan construction, iterative fits,
checkpoints, collects), not data volume. This tool shows where. For each
query it prints:

- the plan-build time of ``fn(spark, sf_dir)`` alone (no action): one
  warm build, then the best of 2 builds;
- after ``--runs`` warm runs (guide §1.4 noop sink), one row per Spark job
  the timed run launched — job id, duration, stage ids, tasks and
  description (the query's name, or ``driver-tier <label> probe: collect
  <= <cap> rows`` for the jobs of a driver tier's bounded probe: edge,
  k-means fit or PQ fit) — read from Spark's in-process status store
  (``monster_etl_spark.metrics``), so the per-action overhead (Lloyd
  rounds, lineage checkpoints, vocabulary collects) is measured instead
  of guessed;
- the timed run's wall time, shuffle/spill bytes and ``gap_sec``: wall
  time minus the union of its job intervals, i.e. the driver time no job
  covers (plan build, analysis, driver-side fits, result handling).

With no query named, it profiles ``bench.BENCH_QUERIES``; the last line
is the total build time.

Usage: python tools/profile_query.py [QUERY ...] [--sf-dir DIR] [--runs N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from monster_etl_spark import get_spark, metrics  # noqa: E402
from monster_etl_spark.queries import all_queries  # noqa: E402


def _union_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


def _emit(rec: dict) -> None:
    print(json.dumps(rec), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    registry = all_queries()
    if args.queries:
        names = args.queries
    else:
        import bench

        names = [q for q in bench.BENCH_QUERIES if q in registry]
    spark = get_spark(app_name="profile-query")
    build_total = 0.0
    for name in names:
        fn = registry[name].fn
        # names the query's jobs, AQE's included (localrel.bounded_collect,
        # every driver tier's probe, labels its own jobs, then restores
        # this label)
        spark.sparkContext.setJobDescription(name)
        # the warm build reads the parquet footers and schema memo, so the
        # timed builds measure this query's own expression construction
        fn(spark, args.sf_dir)
        build = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, args.sf_dir)
            build = min(build, time.perf_counter() - t0)
        build_total += build
        _emit({"query": name, "build_s": round(build, 3)})

        def run():
            fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()

        for _ in range(args.runs):
            run()
        before = metrics.snapshot(spark)
        t0 = time.time()
        run()
        t1 = time.time()
        after = metrics.snapshot(spark)
        jobs = metrics.jobs(before, after)
        for j in jobs:
            _emit({
                "job": j["job"],
                "sec": round((j["end_ms"] - j["start_ms"]) / 1e3, 3),
                "stages": j["stages"],
                "tasks": j["tasks"],
                "desc": j["desc"][:110],
            })
        busy = _union_s([(j["start_ms"] / 1e3, j["end_ms"] / 1e3) for j in jobs], t0, t1)
        _emit({
            "query": name,
            "run": "timed",
            "sec": round(t1 - t0, 3),
            "jobs": len(jobs),
            "job_union_sec": round(busy, 3),
            "gap_sec": round(t1 - t0 - busy, 3),
            **metrics.delta(before, after),
        })
    _emit({"build_total_s": round(build_total, 3), "n": len(names)})


if __name__ == "__main__":
    main()
