"""Manual scale soak: time the bench soak set at an arbitrary scale dir.

Reproduces SCALE.md's second-decade table:

    python tools/gen_scale.py --factor 10 --src .scaledata/sf1 --out .scaledata/sf10
    python tools/soak_scale.py --sf-dir .scaledata/sf10 [--best-of 2] [query ...]

Prints one line per query and a JSON summary. Single-run mode (default
best-of 1) is what the sf10 table used — fine for reading asymptotes,
but sequential single runs inherit GC pressure from heavy predecessors
(SCALE.md's ngram-jaccard footnote); pass --best-of 2 for steady-state
numbers.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def aggregate_parity(df, oracle_sql: str, sf_dir: str) -> dict:
    """Full-corpus DISTRIBUTED aggregate parity vs DuckDB at ANY scale
    factor (round-9 verdict #7 — the check the r9 sf100 media soak ran
    ad hoc for gif/flac, promoted to a reusable flag): row count plus
    an exact per-column sum of every numeric/boolean output column,
    computed as ``sum(CAST(round(col, 6) AS DECIMAL(38, 9)))`` on BOTH
    engines — order-independent exact decimal addition, so a match is
    a real cross-engine statement over the ENTIRE output at a scale
    the driver's row-hash gate can't reach.

    The 6dp round matches the registry's float discipline (per-row
    float outputs are already 6dp-rounded, making the round an
    identity); a column whose values land on exact half ties can
    differ by Spark-HALF_UP vs DuckDB-HALF_EVEN — that is the
    *documented* rounding-tie boundary (SCALE.md round-9), reported
    per column here so it is inspectable, never hidden.

    Returns {"match": bool, "rows": (spark, duck), "columns":
    {name: {"spark": str, "duck": str, "match": bool}}}."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from tests.oracle_harness import run_oracle

    num_t = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
             T.FloatType, T.DoubleType, T.DecimalType)
    sums: list[str] = []
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for f in df.schema.fields:
        if isinstance(f.dataType, num_t):
            aggs.append(
                F.sum(F.round(F.col(f.name).cast("double"), 6)
                      .cast("decimal(38,9)")).alias(f.name))
            sums.append(f.name)
        elif isinstance(f.dataType, T.BooleanType):
            aggs.append(F.sum(F.col(f.name).cast("int")
                              .cast("decimal(38,9)")).alias(f.name))
            sums.append(f.name)
    srow = df.agg(*aggs).collect()[0].asDict()

    # the DOUBLE -> DECIMAL hop goes through VARCHAR on the DuckDB side:
    # DuckDB casts a double to decimal from its BINARY value (1.7e11
    # becomes ...300002304), Spark from its shortest decimal repr — the
    # varchar hop makes both sides sum the same decimals (same device as
    # tools/tie_sweep.py's __spark_round)
    o_exprs = ["count(*) AS __rows"] + [
        f'sum(CAST(CAST(round(CAST("{c}" AS DOUBLE), 6) AS VARCHAR)'
        f' AS DECIMAL(38,9))) AS "{c}"'
        for c in sums
    ]
    _, o_rows = run_oracle(
        f"SELECT {', '.join(o_exprs)} FROM ({oracle_sql}) __q", sf_dir
    )
    orow = dict(zip(["__rows", *sums], o_rows[0]))

    def _s(v):
        return None if v is None else f"{v:.9f}".rstrip("0").rstrip(".")

    cols = {
        c: {"spark": _s(srow[c]), "duck": _s(orow[c]),
            "match": _s(srow[c]) == _s(orow[c])}
        for c in sums
    }
    return {
        "match": srow["__rows"] == orow["__rows"]
        and all(v["match"] for v in cols.values()),
        "rows": (srow["__rows"], orow["__rows"]),
        "columns": cols,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=".scaledata/sf10")
    ap.add_argument("--best-of", type=int, default=1)
    ap.add_argument("--parity", action="store_true",
                    help="after timing, run full-corpus aggregate parity "
                         "vs DuckDB for every oracle-backed query")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    import bench
    from monster_etl_spark import metrics
    from monster_etl_spark.queries import all_queries
    from monster_etl_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    reg = all_queries()
    names = args.queries or bench.SOAK_QUERIES
    # warm the session so the first query doesn't pay JVM/codegen init
    reg["t3_extract_fields"].fn(spark, args.sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    out: dict[str, float] = {}
    parity: dict[str, dict] = {}
    qmetrics: dict[str, dict[str, int]] = {}
    for name in names:
        best = float("inf")
        for _ in range(max(1, args.best_of)):
            before = metrics.snapshot(spark)
            t0 = time.perf_counter()
            reg[name].fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - t0
            if elapsed < best:
                best = elapsed
                qmetrics[name] = metrics.delta(before, metrics.snapshot(spark))
        out[name] = round(best, 2)
        if args.parity:
            spec = reg[name]
            if spec.oracle:
                p = aggregate_parity(
                    spec.fn(spark, args.sf_dir), spec.oracle, args.sf_dir)
                parity[name] = p
                bad = {c: v for c, v in p["columns"].items() if not v["match"]}
                print(
                    f"  parity[{name}]: "
                    f"{'MATCH' if p['match'] else 'MISMATCH'} "
                    f"rows={p['rows'][0]}"
                    + (f" diff-cols={bad}" if bad else ""),
                    flush=True,
                )
            else:
                parity[name] = {"match": None, "note": "no oracle (rows-only query)"}
        m = qmetrics[name]
        mtxt = "  sw={} sr={} spill(mem={} disk={})".format(
            metrics.fmt_bytes(m["shuffle_write"]),
            metrics.fmt_bytes(m["shuffle_read"]),
            metrics.fmt_bytes(m["mem_spill"]),
            metrics.fmt_bytes(m["disk_spill"]),
        )
        print(f"{name} {out[name]}{mtxt}", flush=True)
    print(
        json.dumps(
            {
                "sf_dir": args.sf_dir,
                "best_of": args.best_of,
                "queries": out,
                "stage_metrics": qmetrics,
                **({"parity": parity} if parity else {}),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
