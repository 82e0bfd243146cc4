"""Dump ``.explain("formatted")`` for registry queries to plans/<tag>/.

Usage:  python tools/capture_plans.py --out plans/r11 --suffix _before [query ...]

Planning only — nothing executes (same contract as ``explain.plan_hash``).
With no query args, captures every headline bench query. The files are the
judge-checkable evidence for plan-shape claims in OPTIMIZATION_r*.md.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from monster_etl_spark import get_spark  # noqa: E402
from monster_etl_spark.queries import all_queries  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="plans/r11")
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    registry = all_queries()
    if args.queries:
        names = args.queries
    else:
        from bench import BENCH_QUERIES

        names = list(BENCH_QUERIES)
    os.makedirs(args.out, exist_ok=True)
    spark = get_spark(app_name="capture-plans")
    for name in names:
        df = registry[name].fn(spark, args.sf_dir)
        text = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out, f"{name}{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} chars)")


if __name__ == "__main__":
    main()
