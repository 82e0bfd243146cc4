"""Arrow-built local DataFrames for driver-computed results.

``spark.createDataFrame(list)`` backs the frame with a *pickled Python
RDD*: every downstream evaluation — each broadcast build, each scan —
re-runs a Python-worker deserialization pass over the rows (measured
0.51 s/eval for a 128-row table vs 0.11 s, and a 32-partition
worker spin-up wave per evaluation inside query plans that embed such a
frame). Building the same rows as a ``pyarrow.Table`` first makes
``createDataFrame`` produce a pure-JVM **LocalRelation**: zero Python at
execution time, constant-foldable, broadcast-cheap (round-11; guide §4
"the Python boundary" applies to plan-embedded driver results too).

``local_df`` is a drop-in replacement for the ``createDataFrame(rows,
schema)`` call sites whose results re-enter query plans (union-find
components, BPE merge tables, manifest file lists). Types outside the
Arrow conversion fall back to the plain path unchanged.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

if TYPE_CHECKING:
    import pyarrow as pa


def spark_round(x: float, scale: int) -> float:
    """Replicate Spark's ``round(double, n)`` on the driver: HALF_UP on
    the double's SHORTEST DECIMAL REPR (Java ``BigDecimal.valueOf`` —
    the mechanism pinned by tools/tie_sweep.py), with BigDecimal's
    signless zero (``+ 0.0`` folds ``-0.0``)."""
    import decimal

    return (
        float(
            decimal.Decimal(repr(float(x))).quantize(
                decimal.Decimal(1).scaleb(-scale), rounding=decimal.ROUND_HALF_UP
            )
        )
        + 0.0
    )


def local_df(spark: SparkSession, rows: Iterable[tuple], schema) -> DataFrame:
    """``createDataFrame(rows, schema)`` materialized as a LocalRelation
    via Arrow when the schema converts; identical result DataFrame
    otherwise (plain path fallback)."""
    rows = list(rows)
    if isinstance(schema, str):
        struct = T._parse_datatype_string(schema)
    else:
        struct = schema
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(struct)
        cols = list(zip(*rows)) if rows else [[] for _ in struct.fields]
        tbl = pa.table(
            {
                f.name: pa.array(list(col), type=arrow_schema.field(i).type)
                for i, (f, col) in enumerate(zip(struct.fields, cols))
            },
            schema=arrow_schema,
        )
        return spark.createDataFrame(tbl)
    except Exception:
        return spark.createDataFrame(rows, struct)


def bounded_collect(df: DataFrame, cap: int, label: str) -> pa.Table | None:
    """The probe every driver tier decides with: ``df`` as one
    ``pyarrow.Table`` if it has at most ``cap`` rows, else ``None``
    (``cap <= 0``: ``None``, no job). One ``limit(cap + 1)`` collect
    decides and holds the rows, so ``df``'s subtree runs once. Its jobs,
    AQE's included, are described ``driver-tier <label> probe: collect
    <= <cap> rows`` (a job group would hide them from ungrouped-job
    readers); the caller's description is restored even on error."""
    if cap <= 0:
        return None
    sc = df.sparkSession.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"driver-tier {label} probe: collect <= {cap} rows")
    try:
        tbl = df.limit(cap + 1).toArrow()
    finally:
        sc.setLocalProperty("spark.job.description", caller)
    return None if tbl.num_rows > cap else tbl
