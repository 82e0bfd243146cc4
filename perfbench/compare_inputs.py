"""Compares the generated inputs with a reference data directory at the same
scale, such as the engine's sf0.01 test data.

    python3 perfbench/compare_inputs.py --reference DIR --scale 0.01 [--repeats 5]

For each table it prints both row counts and whether the column names and
types match. For each operation of the registered workloads it prints, on
each input set, whether the output check passes, the plan facts (exchanges,
broadcasts, Python nodes) and the median wall time of ``--repeats`` runs
after one warm-up run. Both input sets run in one session and take turns.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import pyarrow.parquet as pq

import run


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reference", required=True, help="directory of <table>.parquet files")
    ap.add_argument("--scale", type=float, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--repeats", type=int, default=5)
    args = ap.parse_args()
    reference = os.path.abspath(args.reference)

    sys.path[:0] = [run.ROOT, os.path.join(run.ROOT, "tools")]
    import inputs
    import workloads
    from monster_etl_spark.explain import plan_summary
    from monster_etl_spark.session import get_spark

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    work = os.path.join(run.ROOT, ".perfbench_work", f"compare-p{os.getpid()}")
    run._configure_env(work)
    sampler = run.RssSampler()
    sampler.start()
    try:
        generated = inputs.write_tables(os.path.join(work, "generated"), args.seed, args.scale)
        for table, t in sorted(generated.items()):
            ref = pq.read_table(os.path.join(reference, f"{table}.parquet"))
            same = [(f.name, f.type) for f in ref.schema] == [(f.name, f.type) for f in t.schema]
            print(f"table {table:11s} rows reference={ref.num_rows:<8d} generated={t.num_rows:<8d} "
                  f"schema {'same' if same else 'DIFFERS'}")

        sets = {}
        for label, sf_dir, lineitem in (
            ("reference", reference, pq.read_table(os.path.join(reference, "lineitem.parquet"))),
            ("generated", os.path.join(work, "generated"), generated["lineitem"]),
        ):
            tsv = os.path.join(work, label, "lineitem.tsv")
            os.makedirs(os.path.dirname(tsv), exist_ok=True)
            size = inputs.write_lineitem_tsv(lineitem, tsv, args.seed)
            inp = workloads.Inputs(sf_dir, tsv, size, os.path.join(work, label, "json_out"))
            # etl_write repeats one round trip in a pass; one is enough here
            sets[label] = [op for w in names
                           for op in workloads.operations(w, inp)[:1 if w == "etl_write" else None]]

        spark = get_spark(app_name="perfbench-compare")
        for i in range(len(sets["reference"])):
            pair = {label: ops[i] for label, ops in sets.items()}
            row = {}
            for label, op in pair.items():
                facts = plan_summary(op.build(spark))
                row[label] = [op.check(spark) is None, facts.shuffles, facts.broadcasts,
                              facts.python_evals + facts.map_in_pandas, []]
                op.run(spark)
            # the two input sets take turns, so neither runs warmer
            for _ in range(args.repeats):
                for label, op in pair.items():
                    t = time.perf_counter()
                    op.run(spark)
                    row[label][-1].append(time.perf_counter() - t)
            print(f"op {pair['reference'].name:30s} " + "  ".join(
                f"{label}: check={'ok' if ok else 'FAIL'} exchanges={x} broadcasts={b} "
                f"python_nodes={p} median_s={statistics.median(s):.3f}"
                for label, (ok, x, b, p, s) in row.items()), flush=True)
    finally:
        run._stop_jvm(sampler)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
