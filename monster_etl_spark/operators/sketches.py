"""Count-min sketch: sublinear-memory frequency estimation.

The streaming/OLAP workhorse (Cormode & Muthukrishnan 2005) for "which
keys are hot?" when the key space is too large to count exactly — the
same question ``operators.maintenance.key_skew_profile`` answers exactly,
answered here in ``d * w`` integers regardless of cardinality.

Engine-agnostic construction (the property that lets DuckDB replay it):
row r of the sketch buckets a key by the first 8 hex chars of
``md5('cms{r}|' || key) % w`` — the same salted-md5 hash family every
dedup/sampling operator here uses. No seeded RNG, no JVM-specific hash.

Scale shape (100 TB):

- Build: per input row, ``d`` (row, bucket) pairs via an inline array +
  explode — a NARROW map. The groupBy count is map-side combinable, and
  a partition can emit at most ``d * w`` distinct cells (2k for the
  default 4x512), so the shuffle after partial aggregation is bounded by
  ``#partitions * d * w`` rows — independent of input row count.
- Probe: the finished sketch IS ``d * w`` rows — always broadcast. A
  probe of any candidate set is d broadcast equi-joins (one per sketch
  row) followed by ``least(...)``, never a shuffle of the candidates.

Estimate contract: CMS never underestimates; overestimate is bounded by
``(e / w) * N`` with probability ``1 - e^-d``. ``cms_heavy_hitters``
returns both the estimate and (for audit) the exact count, so the
``estimate >= exact`` invariant is oracle-checkable row by row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from monster_etl_spark.sql import quote_ident

CMS_DEPTH = 4
CMS_WIDTH = 512


def _bucket_expr(key_sql: str, row: int, width: int) -> str:
    """Row-r bucket of a key: salted-md5 32-bit hash mod width (mirrors
    :func:`_bucket_sql`). NULL keys coalesce to the empty string BEFORE
    hashing: Spark's concat null-propagates (a NULL bucket would make
    every NULL key estimate 0, violating the no-underestimate
    guarantee) while DuckDB's concat skips NULLs — coalescing to ''
    makes both engines bucket NULL as the empty-string key (which may
    therefore collide with actual '' keys; CMS collisions only ever
    overestimate).

    A parsed Spark-SQL string, not a Column chain: the same Catalyst
    expression via ONE parser round trip instead of ~8 Column-API py4j
    calls (the d-way expression fan-out made CMS plan BUILDS cost ~0.9 s
    of driver time per bench run; round-11, guide §4 — the JVM<->Python
    boundary exists on the driver too)."""
    return (
        f"CAST(CAST(conv(substring(md5(concat('cms{row}|', "
        f"coalesce(CAST({key_sql} AS STRING), ''))), 1, 8), 16, 10) AS BIGINT) "
        f"% {width} AS INT)"
    )


def _bucket_sql(key_expr: str, row: int, width: int) -> str:
    return (
        f"CAST(CAST(concat('0x', substr(md5(concat('cms{row}|', "
        f"CAST({key_expr} AS VARCHAR))), 1, 8)) AS UBIGINT) % {width} AS INT)"
    )


def cms_build(
    df: DataFrame, key_col: str, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> DataFrame:
    """Materialize the sketch: one row per non-empty (sketch_row, bucket)
    cell with its count. At most ``depth * width`` rows total."""
    structs = ", ".join(
        f"named_struct('sketch_row', {r}, 'bucket', {_bucket_expr(quote_ident(key_col), r, width)})"
        for r in range(depth)
    )
    return (
        df.selectExpr(f"explode(array({structs})) AS cell")
        .select("cell.sketch_row", "cell.bucket")
        .groupBy("sketch_row", "bucket")
        .agg(F.count(F.lit(1)).alias("cell_count"))
    )


def cms_estimate(
    candidates: DataFrame,
    sketch: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-query the sketch for every candidate key: estimate = min over
    the d rows of the bucket counts. ``depth`` broadcast equi-joins (the
    sketch side is <= d*w rows); adds ``cms_estimate`` to candidates."""
    out = candidates
    for r in range(depth):
        s = sketch.filter(F.col("sketch_row") == r).select(
            F.col("bucket").alias(f"_b{r}"), F.col("cell_count").alias(f"_c{r}")
        )
        out = out.withColumn(
            f"_b{r}", F.expr(_bucket_expr(quote_ident(key_col), r, width))
        ).join(F.broadcast(s), on=f"_b{r}", how="left")
    least_args = ", ".join(f"coalesce(_c{r}, 0)" for r in range(depth))
    est = F.expr(f"CAST(least({least_args}) AS BIGINT)")
    drop = [c for r in range(depth) for c in (f"_b{r}", f"_c{r}")]
    return out.withColumn("cms_estimate", est).drop(*drop)


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    min_count: int,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Keys whose CMS estimate reaches ``min_count``, with the exact count
    beside the estimate so the no-underestimate contract is auditable:
    ``cms_estimate >= exact_count`` for every returned row, and no true
    heavy hitter is missed (estimates never undercount).

    Returns (key, exact_count, cms_estimate) for estimate >= min_count.
    """
    sketch = cms_build(df, key_col, depth, width)
    exact = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("exact_count"))
    est = cms_estimate(exact, sketch, key_col, depth, width)
    return est.filter(F.col("cms_estimate") >= min_count)


def cms_heavy_hitters_sql(
    table: str,
    key_expr: str,
    min_count: int,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> str:
    """DuckDB twin of :func:`cms_heavy_hitters` (identical hash family,
    identical min-of-rows estimate)."""
    cells = " UNION ALL ".join(
        f"SELECT {r} AS sketch_row, {_bucket_sql(key_expr, r, width)} AS bucket FROM {table}"
        for r in range(depth)
    )
    probes = ", ".join(
        f"(SELECT cell_count FROM sketch s WHERE s.sketch_row = {r} "
        f"AND s.bucket = {_bucket_sql('e.' + key_expr, r, width)}) AS _c{r}"
        for r in range(depth)
    )
    least_args = ", ".join(f"coalesce(_c{r}, 0)" for r in range(depth))
    return f"""
WITH sketch AS (
  SELECT sketch_row, bucket, CAST(COUNT(*) AS BIGINT) AS cell_count
  FROM ({cells}) AS cells GROUP BY sketch_row, bucket
),
exact AS (
  SELECT {key_expr}, CAST(COUNT(*) AS BIGINT) AS exact_count
  FROM {table} GROUP BY {key_expr}
),
probed AS (
  SELECT e.{key_expr}, e.exact_count, {probes}
  FROM exact e
)
SELECT {key_expr}, exact_count, CAST(least({least_args}) AS BIGINT) AS cms_estimate
FROM probed
WHERE least({least_args}) >= {min_count}
"""
