"""Event-stream analytics (batch twins of the streaming surface).

The reference has no streaming (SURVEY.md §2.7); these queries define the
batch semantics that ``monster_etl_spark.streaming`` reproduces incrementally
with watermarks (the tumbling-window query here is the exact batch twin of
the streaming windowed aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from monster_etl_spark.queries import QuerySpec, load

SESSION_GAP_MINUTES = 30


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-path scalar extraction from the events props payload +
    aggregate per event type (sums exact via BIGINT)."""
    # spread TRIED and REVERTED (round-11): on this 0.3 s query the
    # extra AQE stage costs more than the serial JSON parse it saves
    # (1.4x slower, two bench runs)
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


Q_JSON_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity closes a session):
    lag + cumulative sum over a per-user window, then per-user session
    stats. One shuffle on user_id; the window sort is per-partition."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # interval arithmetic (not epoch casts): timezone-independent on
    # timestamp_ntz regardless of the session timezone
    prev = F.lag("ts").over(w)
    gap_exceeded = F.col("ts") - prev > F.expr(f"INTERVAL {SESSION_GAP_MINUTES} MINUTES")
    new_session = F.when(prev.isNull() | gap_exceeded, 1).otherwise(0)
    sessions = e.withColumn("new_s", new_session).withColumn(
        "session_id", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sessions.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


Q_SESSIONIZE_SQL = f"""
WITH marked AS (
  SELECT user_id, event_id,
    CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL
           OR epoch(ts) - lag(epoch(ts)) OVER w > {SESSION_GAP_MINUTES * 60}
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM marked GROUP BY user_id
"""


def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute tumbling-window aggregation — the batch twin of the
    streaming windowed count (streaming/pipeline.py runs the identical
    aggregation with a watermark)."""
    e = load(spark, sf_dir, "events")
    win = F.window("ts", "15 minutes")
    return (
        e.groupBy(win.alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


Q_TUMBLING_SQL = """
SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time rollup: truncate-to-hour continuous aggregate."""
    # spread TRIED and REVERTED (round-11): 1.4-1.8x slower on two bench
    # runs — the added exchange dominates this sub-second aggregate
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


Q_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 from a change stream: each event
    becomes a validity interval [ts, next ts) per user via lead() — the
    standard CDC -> dimension-table build, one window shuffle on the key."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.col("value").alias("attr_value"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        (F.lead("ts").over(w).isNull()).alias("is_current"),
    )


Q_SCD2_SQL = """
SELECT user_id, event_id, value AS attr_value, ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       lead(ts) OVER w IS NULL AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-fill + LOCF: hourly purchase totals per user,
    with missing hours materialized from a generated series and filled by
    the last observed value. Plan: one agg shuffle (hourly), a per-user
    span agg whose sequence() explode generates the grid executor-side
    (never a driver loop), a co-partitioned left join, and one window per
    user — every stage is keyed on user_id, so 1000 executors each fill
    their own users. Output is |users| x span-hours rows; the sum goes
    through DECIMAL so the carried-forward doubles bit-agree."""
    e = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("v"))
    span = hourly.groupBy("user_id").agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    grid = span.select(
        "user_id", F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("hour")
    )
    filled = grid.join(hourly, ["user_id", "hour"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return filled.select(
        "user_id",
        "hour",
        F.last("v", ignorenulls=True).over(w).alias("value_locf"),
        F.col("v").isNull().alias("gap_filled"),
    )


Q_GAP_FILL_SQL = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
span AS (SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1 FROM hourly GROUP BY user_id),
grid AS (SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM span),
filled AS (
  SELECT g.user_id, g.hour, h.v FROM grid g LEFT JOIN hourly h USING (user_id, hour)
)
SELECT user_id, hour,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf,
       v IS NULL AS gap_filled
FROM filled
"""


BAND_SECONDS = 1800  # +/- 30 minutes


def q_time_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded time-join (range join): for every error event, how many
    same-user purchases happened within +/-30 minutes. The naive plan is
    a non-equi theta join (quadratic); instead each error explodes to its
    three adjacent 30-min buckets and joins purchases on
    (user_id, bucket) — an equi shuffle join linear in matches, the
    standard interval-join strategy (cf. Flink interval joins /
    TimescaleDB range partitioning). A purchase sits in exactly one
    bucket, so no pair appears twice; zero-match errors survive via the
    final left join."""
    e = load(spark, sf_dir, "events")
    bucket = lambda c: F.expr(
        f"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {c}) div {BAND_SECONDS}"
    )
    err = e.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    pur = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("pts"), bucket("ts").alias("jb")
    )
    err_b = err.select(
        "event_id",
        "user_id",
        "ts",
        F.explode(F.array(bucket("ts") - 1, bucket("ts"), bucket("ts") + 1)).alias("jb"),
    )
    matches = (
        err_b.join(pur, (err_b.user_id == pur.p_user) & (err_b.jb == pur.jb))
        .filter(F.abs(F.expr("timestampdiff(SECOND, pts, ts)")) <= BAND_SECONDS)
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return err.join(matches, "event_id", "left").select(
        "event_id",
        "user_id",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_nearby_purchases"),
    )


Q_TIME_BAND_SQL = f"""
SELECT e.event_id, e.user_id,
       COUNT(p.ts) AS n_nearby_purchases
FROM events e
LEFT JOIN events p
  ON p.event_type = 'purchase' AND p.user_id = e.user_id
 AND abs(date_diff('second', p.ts, e.ts)) <= {BAND_SECONDS}
WHERE e.event_type = 'error'
GROUP BY e.event_id, e.user_id
"""



FUNNEL_STEPS = ("signup", "click", "purchase")


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel (signup -> click -> purchase), first-touch
    semantics: a user completes step k at the EARLIEST event of step k's
    type strictly after their step k-1 completion. Three per-user min
    aggregations chained by equi-joins on user_id — every stage is
    map-side combinable and keyed on the same column, so at 100 TB the
    plan is three combinable shuffles on user_id (AQE coalesces the tiny
    step-2/3 sides to broadcasts); no windows, no sort of the event log.
    Emits one row per funnel step with the surviving-user count."""
    ev = load(spark, sf_dir, "events")

    def first_after(step: str, prev: DataFrame | None) -> DataFrame:
        e = ev.filter(F.col("event_type") == step)
        if prev is not None:
            e = e.join(prev, "user_id").filter(F.col("ts") > F.col("prev_ts"))
        return e.groupBy("user_id").agg(F.min("ts").alias("prev_ts"))

    s1 = first_after(FUNNEL_STEPS[0], None)
    s2 = first_after(FUNNEL_STEPS[1], s1)
    s3 = first_after(FUNNEL_STEPS[2], s2)
    counts = [
        s.agg(F.count(F.lit(1)).alias("users")).withColumn(
            "step", F.lit(i + 1).cast("long")
        ).withColumn("event_type", F.lit(t))
        for i, (s, t) in enumerate(zip((s1, s2, s3), FUNNEL_STEPS))
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out.select("step", "event_type", "users")


Q_FUNNEL_SQL = f"""
WITH s1 AS (
  SELECT user_id, min(ts) AS prev_ts FROM events
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS prev_ts FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > s1.prev_ts GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS prev_ts FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > s2.prev_ts GROUP BY e.user_id
)
SELECT CAST(1 AS BIGINT) AS step, '{FUNNEL_STEPS[0]}' AS event_type, count(*) AS users FROM s1
UNION ALL
SELECT CAST(2 AS BIGINT), '{FUNNEL_STEPS[1]}', count(*) FROM s2
UNION ALL
SELECT CAST(3 AS BIGINT), '{FUNNEL_STEPS[2]}', count(*) FROM s3
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users are cohorted by the Monday of their
    first-ever event; each (cohort_week, week_offset) cell counts the
    distinct users of that cohort active in that week. Two shuffles
    (first-event per user; distinct-user count per cell) — both
    combinable, no window, the standard retention-matrix plan."""
    ev = load(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    cohorted = ev.join(first, "user_id").select(
        "user_id",
        F.date_trunc("week", F.col("first_ts")).alias("cohort_week"),
        (
            F.floor(
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.date_trunc("week", F.col("first_ts")).cast("date"),
                )
                / 7
            )
        ).cast("long").alias("week_offset"),
    )
    return (
        cohorted.groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("active_users"))
        .select(
            F.col("cohort_week").cast("timestamp_ntz").alias("cohort_week"),
            "week_offset",
            "active_users",
        )
    )


Q_COHORT_SQL = """
WITH first AS (
  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
)
SELECT date_trunc('week', first_ts) AS cohort_week,
       CAST(floor(date_diff('day', CAST(date_trunc('week', first_ts) AS DATE),
                            CAST(date_trunc('week', e.ts) AS DATE)) / 7) AS BIGINT)
         AS week_offset,
       count(DISTINCT e.user_id) AS active_users
FROM events e JOIN first USING (user_id)
GROUP BY 1, 2
"""



PROFILE_DIMS = 24
PROFILE_BUCKET_BITS = 4
PROFILE_MIN_CORR = 0.5


def q_activity_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search over usage profiles (the REPOSE /
    streaming-similarity papers' problem shape, Spark-first): each user
    becomes a 24-dim hour-of-day activity vector (24 conditional sums —
    one combinable aggregate), vectors are row-centered so cosine equals
    the PEARSON CORRELATION of the usage patterns, and candidate pairs
    come from the similarity layer's sign-LSH bucketing on the centered
    vector (above/below own average per hour) — never an all-pairs join,
    since users grow with SF. Within-bucket pairs with corr >= 0.5 are
    emitted. Composition proof: the ANN machinery applies unchanged to
    DERIVED time-series features, not just stored embeddings."""
    from monster_etl_spark.operators import similarity as sim

    ev = load(spark, sf_dir, "events")
    sums = [
        F.sum(F.when(F.hour("ts") == h, 1).otherwise(0)).alias(f"h{h}")
        for h in range(PROFILE_DIMS)
    ]
    prof = ev.groupBy("user_id").agg(*sums)
    vec = F.array(*[F.col(f"h{h}").cast("double") for h in range(PROFILE_DIMS)])
    mean = sum(F.col(f"h{h}") for h in range(PROFILE_DIMS)) / F.lit(PROFILE_DIMS)
    # the mean rides in argument position, so it is computed once per row
    # (an ``x - mean`` lambda would get it inlined into every element)
    centered = F.zip_with(
        vec, F.array_repeat(mean.cast("double"), PROFILE_DIMS), lambda x, m: x - m
    )
    v = (
        prof.select("user_id", centered.alias("v"))
        # bucket on the selected column: the centered vector is computed
        # once per row, not once more inside each sign bit
        .select("user_id", "v", sim.sign_bucket("v", PROFILE_BUCKET_BITS).alias("bucket"))
        .repartition(F.col("bucket"))
    )
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
            F.round(sim.cosine("a.v", "b.v"), 6).alias("pattern_corr"),
        )
        .filter(F.col("pattern_corr") >= PROFILE_MIN_CORR)
    )


def _activity_sql() -> str:
    sums = ",\n    ".join(
        f"CAST(sum(CASE WHEN hour(ts) = {h} THEN 1 ELSE 0 END) AS DOUBLE) AS h{h}"
        for h in range(PROFILE_DIMS)
    )
    vec = "[" + ", ".join(f"h{h}" for h in range(PROFILE_DIMS)) + "]"
    mean = "(" + " + ".join(f"h{h}" for h in range(PROFILE_DIMS)) + f") / {PROFILE_DIMS}"
    bits = " || ".join(
        f"CASE WHEN v[{i + 1}] >= 0 THEN '1' ELSE '0' END"
        for i in range(PROFILE_BUCKET_BITS)
    )
    cos = (
        "list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))"
        " / nullif(sqrt(list_sum(list_transform(a.v, x -> x * x)))"
        " * sqrt(list_sum(list_transform(b.v, x -> x * x))), 0.0)"
    )
    return f"""
WITH prof AS (
  SELECT user_id,
    {sums}
  FROM events GROUP BY user_id
),
cent AS (
  SELECT user_id,
         list_transform({vec}, x -> x - ({mean})) AS v
  FROM prof
),
keyed AS (SELECT user_id, v, ({bits}) AS bucket FROM cent)
SELECT a.user_id AS user_a, b.user_id AS user_b,
       round({cos}, 6) AS pattern_corr
FROM keyed a JOIN keyed b ON a.bucket = b.bucket AND a.user_id < b.user_id
WHERE round({cos}, 6) >= {PROFILE_MIN_CORR}
"""



def q_scd2_point_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dimensional-model staple: attribute each fact (purchase) to the
    SCD2 dimension version valid AT ITS TIMESTAMP. The dimension is the
    signup-change stream turned into [valid_from, valid_to) intervals
    (same lead() build as q_scd2_intervals); the join is an EQUI-join on
    user_id with the interval predicate as a post-join filter — each fact
    meets only its user's versions (bounded per key), so the plan is an
    ordinary keyed shuffle join at any scale, never an unbounded range
    join. Facts before their user's first version get version_ts NULL
    (left join), matching the oracle."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        e.filter(F.col("event_type") == "signup")
        .select(
            "user_id",
            F.col("value").alias("dim_value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
    )
    facts = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("fact_ts"), "value"
    )
    joined = facts.join(dim, "user_id", "left").filter(
        F.col("valid_from").isNull()
        | (
            (F.col("fact_ts") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("fact_ts") < F.col("valid_to")))
        )
    )
    # left-join facts with no valid version at all must still appear once
    matched = joined.filter(F.col("valid_from").isNotNull()).select(
        "event_id",
        "user_id",
        "fact_ts",
        F.round("value", 6).alias("fact_value"),
        F.round("dim_value", 6).alias("dim_value"),
        F.col("valid_from").alias("version_ts"),
    )
    unmatched = (
        facts.join(
            matched.select("event_id").withColumn("__m__", F.lit(1)), "event_id", "left"
        )
        .filter(F.col("__m__").isNull())
        .select(
            "event_id",
            "user_id",
            "fact_ts",
            F.round("value", 6).alias("fact_value"),
            F.lit(None).cast("double").alias("dim_value"),
            F.lit(None).cast("timestamp_ntz").alias("version_ts"),
        )
    )
    return matched.unionByName(unmatched)


Q_SCD2_POINT_SQL = """
WITH dim AS (
  SELECT user_id, value AS dim_value, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM events WHERE event_type = 'signup'
),
facts AS (
  SELECT event_id, user_id, ts AS fact_ts, value FROM events WHERE event_type = 'purchase'
)
SELECT f.event_id, f.user_id, f.fact_ts,
       round(f.value, 6) AS fact_value,
       round(d.dim_value, 6) AS dim_value,
       d.valid_from AS version_ts
FROM facts f LEFT JOIN dim d
  ON f.user_id = d.user_id
 AND f.fact_ts >= d.valid_from
 AND (d.valid_to IS NULL OR f.fact_ts < d.valid_to)
"""



PATH_TOP_N = 20


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path analysis: the most common within-session
    event-type sequences. Sessions come from the same gap rule as
    q_sessionize; each (user, session) folds to its ordered path string
    via array_sort(collect_list(struct)) — partition-order-proof, the
    struct sort key (ts, event_id) makes the path deterministic in both
    engines — then one combinable count per path and a top-20 with a
    lexicographic tiebreak (TakeOrderedAndProject, no global sort)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap_exceeded = F.col("ts") - prev > F.expr(f"INTERVAL {SESSION_GAP_MINUTES} MINUTES")
    new_session = F.when(prev.isNull() | gap_exceeded, 1).otherwise(0)
    sessions = e.withColumn("new_s", new_session).withColumn(
        "session_id", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    paths = (
        sessions.groupBy("user_id", "session_id")
        .agg(F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))).alias("evs"))
        .select(
            F.array_join(
                F.transform("evs", lambda s: s.getField("event_type")), "->"
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(PATH_TOP_N)
    )


Q_SESSION_PATHS_SQL = f"""
WITH marked AS (
  SELECT user_id, event_id, ts, event_type,
    CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL
           OR epoch(ts) - lag(epoch(ts)) OVER w > {{gap}} THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
),
paths AS (
  SELECT string_agg(event_type, '->' ORDER BY ts, event_id) AS path
  FROM sess GROUP BY user_id, session_id
)
SELECT path, count(*) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT {{topn}}
""".format(gap=SESSION_GAP_MINUTES * 60, topn=PATH_TOP_N)


QUERIES = {
    "q_json_extract": QuerySpec(q_json_extract, Q_JSON_SQL, "JSON-path extraction + agg"),
    "q_sessionize": QuerySpec(q_sessionize, Q_SESSIONIZE_SQL, "gap-based sessionization"),
    "q_session_paths": QuerySpec(
        q_session_paths, Q_SESSION_PATHS_SQL, "top within-session event-type paths"
    ),
    "q_tumbling_window": QuerySpec(q_tumbling_window, Q_TUMBLING_SQL, "tumbling window agg"),
    "q_hourly_rollup": QuerySpec(q_hourly_rollup, Q_HOURLY_SQL, "hourly time rollup"),
    "q_scd2_intervals": QuerySpec(q_scd2_intervals, Q_SCD2_SQL, "SCD2 validity intervals from a change stream"),
    "q_scd2_point_join": QuerySpec(
        q_scd2_point_join, Q_SCD2_POINT_SQL, "fact-to-SCD2-version point-in-interval join"
    ),
    "q_gap_fill": QuerySpec(q_gap_fill, Q_GAP_FILL_SQL, "hourly gap-fill + LOCF per user"),
    "q_time_band_join": QuerySpec(q_time_band_join, Q_TIME_BAND_SQL, "bucketed +/-30min range join"),
    "q_funnel": QuerySpec(q_funnel, Q_FUNNEL_SQL, "ordered 3-step first-touch funnel"),
    "q_cohort_retention": QuerySpec(q_cohort_retention, Q_COHORT_SQL, "weekly cohort retention matrix"),
    "q_activity_similarity": QuerySpec(
        q_activity_similarity, _activity_sql(), "sign-LSH usage-pattern correlation pairs"
    ),
}


EWMA_K = 8  # trailing window length (observed hourly buckets)
EWMA_SPIKE = 1.5  # n / baseline ratio flagged as a spike


def q_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA spike detection over the hourly event-type series: each
    bucket's count is compared against an exponentially-weighted baseline
    of its 8 prior observed buckets (alpha = 0.5 -> weights 2^-1 ... 2^-8,
    normalized by 1 - 2^-8). The monitoring-alert primitive behind
    "traffic doubled vs trend".

    Determinism contract: alpha = 0.5 makes every weight an exact binary
    fraction, and hourly counts are integers, so every weighted term and
    every partial sum is EXACT in IEEE double — the baseline bit-agrees
    across engines and aggregation orders (no decimal detour needed). The
    only roundings are the final display round(6) and the spike-ratio
    compare, computed identically on both sides.

    Scale shape: one map-side-combinable groupBy to hourly grain (output
    is #types * #hours — time-series-sized, not event-sized), then one
    window shuffle partitioned by event_type. Explicit lag(i) terms keep
    the frame bounded at K rows regardless of history length."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.col("event_type"), F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("hour")
    norm = 1.0 - 0.5**EWMA_K
    weighted = sum(
        (F.coalesce(F.lag("n", i).over(w), F.lit(0)) * F.lit(0.5**i) for i in range(1, EWMA_K + 1)),
        start=F.lit(0.0),
    )
    full = F.lag("n", EWMA_K).over(w).isNotNull()
    out = (
        hourly.withColumn("baseline", weighted / F.lit(norm))
        .withColumn("_full", full)
        .filter(F.col("_full"))
        .withColumn("spike", (F.col("n") >= F.lit(EWMA_SPIKE) * F.col("baseline")))
        .select(
            "event_type",
            "hour",
            "n",
            F.round("baseline", 6).alias("ewma_baseline"),
            F.col("spike").alias("is_spike"),
        )
    )
    return out


def _ewma_sql() -> str:
    terms = " + ".join(
        f"coalesce(lag(n, {i}) OVER w, 0) * {0.5 ** i!r}" for i in range(1, EWMA_K + 1)
    )
    norm = repr(1.0 - 0.5**EWMA_K)
    return f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, hour, n,
         ({terms}) / {norm} AS baseline,
         lag(n, {EWMA_K}) OVER w IS NOT NULL AS _full
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour)
)
SELECT event_type, hour, n, round(baseline, 6) AS ewma_baseline,
       n >= {EWMA_SPIKE} * baseline AS is_spike
FROM scored WHERE _full
"""


QUERIES["q_ewma_anomaly"] = QuerySpec(
    q_ewma_anomaly, _ewma_sql(), "EWMA trailing-baseline spike detection (exact-binary weights)"
)


def q_gap_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill by LINEAR INTERPOLATION (the numeric sibling of
    q_gap_fill's LOCF): missing hourly values are reconstructed from the
    straight line between the previous and next observed points; edge
    gaps (before the first / after the last observation) fall back to
    the nearest observed value. Same keyed plan as q_gap_fill — grid
    generation, co-partitioned join, and two bounded-frame windows per
    user (one backward, one forward), everything sharded on user_id.
    The interpolation fraction is integer epoch arithmetic; the single
    float expression runs in the same operation order on both engines
    and is rounded 6dp."""
    e = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("v"))
    span = hourly.groupBy("user_id").agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    grid = span.select(
        "user_id", F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("hour")
    )
    filled = grid.join(hourly, ["user_id", "hour"], "left")
    back = (
        Window.partitionBy("user_id").orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy("user_id").orderBy("hour")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_hour = F.when(F.col("v").isNotNull(), F.col("hour"))
    prev_v = F.last("v", ignorenulls=True).over(back)
    prev_h = F.last(obs_hour, ignorenulls=True).over(back)
    next_v = F.first("v", ignorenulls=True).over(fwd)
    next_h = F.first(obs_hour, ignorenulls=True).over(fwd)
    frac = (
        (F.unix_timestamp(F.col("hour")) - F.unix_timestamp(prev_h)).cast("double")
        / (F.unix_timestamp(next_h) - F.unix_timestamp(prev_h)).cast("double")
    )
    interp = F.when(
        prev_v.isNotNull() & next_v.isNotNull() & (F.unix_timestamp(next_h) != F.unix_timestamp(prev_h)),
        prev_v + (next_v - prev_v) * frac,
    ).otherwise(F.coalesce(prev_v, next_v))
    # explicit floor-based HALF_UP instead of round(): engine round()
    # implementations disagree on interpolation midpoints that land
    # exactly on a 6dp tie; floor(x*1e6 + 0.5) is the same IEEE ops on
    # the same double on both sides, hence bit-identical
    return filled.select(
        "user_id",
        "hour",
        (F.floor(interp * 1e6 + F.lit(0.5)) / 1e6).alias("value_interp"),
        F.col("v").isNull().alias("gap_filled"),
    )


Q_GAP_INTERP_SQL = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
span AS (SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1 FROM hourly GROUP BY user_id),
grid AS (SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM span),
filled AS (
  SELECT g.user_id, g.hour, h.v FROM grid g LEFT JOIN hourly h USING (user_id, hour)
),
ctx AS (
  SELECT user_id, hour, v,
    last_value(v IGNORE NULLS) OVER wb AS prev_v,
    last_value(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS) OVER wb AS prev_h,
    first_value(v IGNORE NULLS) OVER wf AS next_v,
    first_value(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS) OVER wf AS next_h
  FROM filled
  WINDOW
    wb AS (PARTITION BY user_id ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wf AS (PARTITION BY user_id ORDER BY hour ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, hour,
  floor((CASE WHEN prev_v IS NOT NULL AND next_v IS NOT NULL AND epoch(next_h) != epoch(prev_h)
    THEN prev_v + (next_v - prev_v) *
         (CAST(epoch(hour) - epoch(prev_h) AS DOUBLE) / CAST(epoch(next_h) - epoch(prev_h) AS DOUBLE))
    ELSE coalesce(prev_v, next_v) END) * 1e6 + 0.5) / 1e6 AS value_interp,
  v IS NULL AS gap_filled
FROM ctx
"""

QUERIES["q_gap_interpolate"] = QuerySpec(
    q_gap_interpolate, Q_GAP_INTERP_SQL, "hourly gap-fill by linear interpolation"
)


ROLLP_WINDOW = 24  # trailing buckets (this one + 23 prior)


def q_rolling_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact p95 over the hourly event-type series (trailing
    24-bucket frame) — the SLO/latency-monitoring staple "is this hour's
    level above the last day's p95". Exact interpolated percentile as a
    WINDOW aggregate: Spark evaluates percentile() over a ROWS frame
    (partial-less but frame-bounded — each evaluation sorts <= 24
    values), DuckDB mirrors with quantile_cont over the identical frame.
    One shuffle on event_type; the series is time-series-sized."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("v"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-(ROLLP_WINDOW - 1), 0)
    )
    return hourly.select(
        "event_type",
        "hour",
        F.round("v", 6).alias("v"),
        F.round(F.expr("percentile(v, 0.95)").over(w), 6).alias("p95_trailing"),
    )


Q_ROLLING_P95_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
)
SELECT event_type, hour, round(v, 6) AS v,
       round(quantile_cont(v, 0.95) OVER (
         PARTITION BY event_type ORDER BY hour
         ROWS BETWEEN {ROLLP_WINDOW - 1} PRECEDING AND CURRENT ROW), 6) AS p95_trailing
FROM hourly
"""

QUERIES["q_rolling_p95"] = QuerySpec(
    q_rolling_p95, Q_ROLLING_P95_SQL, "trailing-24h exact p95 window per event type"
)
