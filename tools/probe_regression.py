"""Attribute the sf1 regressions flagged in the round-5 verdict (item 4).

q18_large_orders (+35%), dedup_exact (+61%), scan_full_filter (+29%) slowed
at sf1 between r4 (per-core default: 32 shuffle partitions) and r5 (adaptive
default: AQE initialPartitionNum=1024).
Hypothesis: the 1024-way map-side fan-out has a fixed per-mapper cost
(sort + 1024-block index per map task) that is visible only when the whole
query is sub-2 s. This probe measures each query at sf1 under
  (a) the shipped adaptive default (initialPartitionNum=1024)
  (b) SPARK_GRAFT_INITIAL_PARTITIONS=32  (the r4 per-core shape)
in SEPARATE processes (session conf is fixed at creation), with stage-metric
deltas and an N-run spread, and prints one JSON line per (config, query).

Usage: python tools/probe_regression.py [--runs N] [--sf-dir DIR] [child args]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = ["q18_large_orders", "dedup_exact"]


def child(sf_dir: str, runs: int) -> None:
    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F  # noqa: F401

    from monster_etl_spark import get_spark
    from monster_etl_spark import metrics as M
    from monster_etl_spark.queries import all_queries

    registry = all_queries()
    spark = get_spark(app_name="probe-regression")
    init_p = spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    # warm-up: JVM + codegen + parquet footers (same shape as bench.py)
    registry["t3_extract_fields"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    for name in QUERIES:
        fn = registry[name].fn
        times = []
        dm_best = None
        for _ in range(runs):
            before = M.snapshot(spark)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            el = time.perf_counter() - t0
            times.append(round(el, 3))
            if el == min(times):
                dm_best = M.delta(before, M.snapshot(spark))
        print(
            json.dumps(
                {
                    "initial_partitions": init_p,
                    "query": name,
                    "best": min(times),
                    "times": times,
                    "metrics": dm_best,
                }
            ),
            flush=True,
        )
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=6)
    ap.add_argument("--sf-dir", default=os.path.join(REPO, ".scaledata", "sf1"))
    ap.add_argument("--child", action="store_true")
    args = ap.parse_args()
    if args.child:
        child(args.sf_dir, args.runs)
        return
    for init in (None, "32"):
        env = dict(os.environ)
        env.pop("SPARK_GRAFT_INITIAL_PARTITIONS", None)
        if init:
            env["SPARK_GRAFT_INITIAL_PARTITIONS"] = init
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child",
             "--runs", str(args.runs), "--sf-dir", args.sf_dir],
            env=env,
            cwd=REPO,
            check=True,
        )


if __name__ == "__main__":
    main()
