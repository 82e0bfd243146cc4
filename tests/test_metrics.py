"""Per-query accounting (monster_etl_spark.metrics) from the in-process
status store: it measures in the engine's default UI-off session, the
delta covers only the jobs of the measured query however much history
the session holds, stages the store has evicted do not break it, and no
engine code or tool goes back to the UI's REST port. ``tools/profile_query.py`` is smoke-tested on top of it."""

import json
import os
import re
import subprocess
import sys

from monster_etl_spark import metrics

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _measure(spark, action):
    before = metrics.snapshot(spark)
    action()
    after = metrics.snapshot(spark)
    return before, after


def test_repartition_shows_shuffle_bytes_with_ui_off(spark):
    # the shared test session runs with the engine default, UI off
    assert spark.sparkContext.getConf().get("spark.ui.enabled") == "false"
    before, after = _measure(spark, lambda: spark.range(0, 5000, 1, 4).repartition(3).count())
    d = metrics.delta(before, after)
    assert d["shuffle_write"] > 0 and d["shuffle_read"] > 0
    assert d["mem_spill"] == d["disk_spill"] == 0


def test_delta_sums_only_new_stage_attempts(spark):
    """The same query measured alone and again after a dozen earlier
    queries in the session gives the same bytes: the delta sums the
    stages of the jobs newer than the snapshot, never older ones."""

    def query():
        spark.range(0, 2000, 1, 2).repartition(2).count()

    first = _measure(spark, query)
    alone = metrics.delta(*first)
    for i in range(12):
        spark.range(0, 20_000 + i, 1, 4).repartition(5).count()
    history_end = metrics.snapshot(spark)
    before, after = _measure(spark, query)
    assert alone["shuffle_write"] > 0
    assert metrics.delta(before, after) == alone
    # the span that holds the dozen queries counts far more
    assert metrics.delta(first[0], after)["shuffle_write"] > 10 * alone["shuffle_write"]
    earlier = {s for j in metrics.jobs(first[0], history_end) for s in j["stages"]}
    measured = metrics.jobs(before, after)
    assert measured and all(j["job"] > before.last_job for j in measured)
    assert min(s for j in measured for s in j["stages"]) > max(earlier)


# Run in its own session: the store's retention is fixed when the context
# starts. Skipped stages have no completion time, so the store evicts them
# first, often before the delta of their own query is read.
_EVICTION_SCRIPT = """
import json
from monster_etl_spark import metrics
from monster_etl_spark.session import get_spark
spark = get_spark(app_name="metrics-eviction", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.ui.retainedStages": "12", "spark.ui.retainedJobs": "12"})
deltas, first_stages = [], None
for _ in range(20):
    before = metrics.snapshot(spark)
    spark.range(0, 2000, 1, 2).repartition(2).count()
    after = metrics.snapshot(spark)
    if first_stages is None:
        first_stages = [s for j in metrics.jobs(before, after) for s in j["stages"]]
    deltas.append(metrics.delta(before, after))
store = spark.sparkContext._jsc.sc().statusStore()
evicted = [s for s in first_stages if metrics._last_attempt(store, s) is None]
print(json.dumps({"deltas": deltas, "first_stages": first_stages, "evicted": evicted}))
spark.stop()
"""


def test_delta_immune_to_eviction(tmp_path):
    """The store retains a bounded stage list and evicts stages, even the
    measured query's own skipped ones, while queries run; the delta of
    the same query stays the same through twenty runs of it in a session
    that keeps only a dozen stages."""
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g", PYTHONPATH=REPO)
    proc = subprocess.run([sys.executable, "-c", _EVICTION_SCRIPT],
                          capture_output=True, cwd=tmp_path, env=env, timeout=600)
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    out = json.loads(proc.stdout.decode().splitlines()[-1])
    # eviction really happened: the first query's stages are all gone
    assert out["first_stages"] and out["evicted"] == out["first_stages"]
    first = out["deltas"][0]
    assert first["shuffle_write"] > 0 and first["shuffle_read"] > 0
    assert all(d == first for d in out["deltas"])


def test_jobs_lists_grouped_jobs_in_order(spark):
    """Jobs run under a job group are listed too (the status tracker's
    ungrouped id list misses them), oldest first, with epoch-ms times."""
    sc = spark.sparkContext

    def grouped():
        sc.setJobGroup("metrics-test", "grouped count")
        try:
            spark.range(0, 100, 1, 2).repartition(2).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        spark.range(0, 100, 1, 2).count()

    rows = metrics.jobs(*_measure(spark, grouped))
    ids = [j["job"] for j in rows]
    assert ids == sorted(ids) and len(ids) >= 2
    assert rows[0]["desc"] == "grouped count"
    assert all(0 < j["start_ms"] <= j["end_ms"] and j["tasks"] > 0 for j in rows)


def test_no_ui_or_rest_reader():
    """Nothing turns the UI back on or reads its REST port: engine code,
    tools and the bench read the status store in-process."""
    pattern = re.compile(r"spark\.ui\.enabled['\"]?\s*[:,=]\s*['\"]?true|uiWebUrl|/api/v1")
    paths = [os.path.join(REPO, "bench.py")]
    for top in ("monster_etl_spark", "tools"):
        for root, _, files in os.walk(os.path.join(REPO, top)):
            paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    offenders = []
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for i, line in enumerate(f, 1):
                if pattern.search(line):
                    offenders.append(f"{os.path.relpath(path, REPO)}:{i}")
    assert not offenders, offenders


def test_profile_query_smoke(tmp_path, sf_dir):
    """Two queries at sf0.001 in a UI-off session: a build time for each,
    job rows, and a non-negative driver gap."""
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "profile_query.py"),
         "q1_pricing_summary", "q3_shipping_priority", "--sf-dir", sf_dir, "--runs", "1"],
        capture_output=True, cwd=tmp_path, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    recs = [json.loads(line) for line in proc.stdout.decode().splitlines() if line.startswith("{")]
    builds = {r["query"]: r["build_s"] for r in recs if "build_s" in r}
    assert set(builds) == {"q1_pricing_summary", "q3_shipping_priority"}
    assert all(b >= 0 for b in builds.values())
    assert any("job" in r for r in recs)
    timed = [r for r in recs if r.get("run") == "timed"]
    assert len(timed) == 2
    assert all(r["jobs"] >= 1 and r["gap_sec"] >= 0 for r in timed)


def test_fmt_bytes():
    assert metrics.fmt_bytes(0) == "0B"
    assert metrics.fmt_bytes(1023) == "1023B"
    assert metrics.fmt_bytes(1536) == "1.5KiB"
    assert metrics.fmt_bytes(3 * 1024**3) == "3.0GiB"
