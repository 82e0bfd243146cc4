"""Round-7 verdict #2: bench.py must self-attribute round-over-round
deltas instead of shipping drift unexplained. These tests pin the
attribution state machine — which causes fire, in which priority order —
with a stub registry so the probe runs are deterministic and cheap."""

import json
import os

import pytest

import bench


class _Spec:
    def __init__(self, fn):
        self.fn = fn


def _fake_registry(spark):
    # probe target: a trivially cheap real Spark job (noop sink works)
    return {"qx": _Spec(lambda s, d: spark.range(1))}


def _fp():
    return {
        "driver_memory": "16g",
        "shuffle_partitions": "32",
        "initial_partitions": "1024",
        "master": "local[32]",
    }


def _prev(queries, session=None, stage_metrics=None):
    p = {"sf": 0.1, "queries": queries, "session": session or _fp()}
    if stage_metrics:
        p["stage_metrics"] = stage_metrics
    return p


def test_improvements_and_noise_floor(spark):
    reg = _fake_registry(spark)
    deltas = bench._attribute_deltas(
        _prev({"qx": 10.0, "qy": 0.05, "qz": 3.0}),
        {"qx": 5.0, "qy": 0.15, "qz": 3.1},  # qy: sub-floor noise; qz: <15%
        reg, spark, "unused", _fp(), None,
    )
    assert deltas["qx"]["cause"] == "improvement"
    assert "qy" not in deltas  # both sides under _MIN_ABS_S
    assert "qz" not in deltas  # within the 15% band


def test_regression_converges_at_steady_state(spark):
    reg = _fake_registry(spark)
    # prev 10s, reported 20s — the probe's real steady state (~ms) is far
    # below prev * 1.15, so the cause must be measurement depth
    deltas = bench._attribute_deltas(
        _prev({"qx": 10.0}), {"qx": 20.0}, reg, spark, "unused", _fp(), None,
    )
    rec = deltas["qx"]
    assert rec["cause"].startswith("converges-at-steady-state")
    assert len(rec["probe_runs"]) == bench._PROBE_RUNS
    assert rec["steady"] <= 10.0 * (1 + bench._DRIFT)


_CLEAN_BOX = {"loadavg": [0.1, 0.1, 0.1], "stray": [], "stray_count": 0}
_LOADED_BOX = {
    "loadavg": [9.0, 8.0, 7.0],
    "stray": [{"pid": 1234, "cmd": "java -cp other-session"}],
    "stray_count": 1,
}


def test_regression_persistent_unexplained(spark, monkeypatch):
    monkeypatch.setattr(bench, "_box_state", lambda: dict(_CLEAN_BOX))
    reg = _fake_registry(spark)
    # prev is far below any achievable steady state; no stage metrics, no
    # config diff, clean box -> the honest "needs review" cause
    deltas = bench._attribute_deltas(
        _prev({"qx": 0.0001}), {"qx": 5.0}, reg, spark, "unused", _fp(), None,
    )
    assert deltas["qx"]["cause"].startswith("persistent-unexplained")
    # round-9 verdict #1: every probe session records its box sample
    assert deltas["qx"]["probe_box"]["stray_count"] == 0


def test_regression_loaded_box_probe(spark, monkeypatch):
    """Round-9 verdict #1: when the probe session itself ran next to a
    stray spark/pytest/java process, the steady number is untrustworthy
    and the cause must say so instead of 'persistent-unexplained'."""
    monkeypatch.setattr(bench, "_box_state", lambda: dict(_LOADED_BOX))
    reg = _fake_registry(spark)
    deltas = bench._attribute_deltas(
        _prev({"qx": 0.0001}), {"qx": 5.0}, reg, spark, "unused", _fp(), None,
    )
    assert deltas["qx"]["cause"].startswith("loaded-box")
    assert "1234" in deltas["qx"]["cause"]
    assert deltas["qx"]["probe_box"]["stray_count"] == 1


def test_regression_loaded_box_at_start(spark, monkeypatch):
    """A loaded box at bench START (high 1-min load before our JVM
    existed) marks otherwise-unexplained regressions loaded-box even if
    the probe-time sample is clean."""
    monkeypatch.setattr(bench, "_box_state", lambda: dict(_CLEAN_BOX))
    reg = _fake_registry(spark)
    deltas = bench._attribute_deltas(
        _prev({"qx": 0.0001}), {"qx": 5.0}, reg, spark, "unused", _fp(), None,
        box_start={"loadavg": [7.5, 3.0, 1.0], "stray": [], "stray_count": 0},
    )
    assert deltas["qx"]["cause"].startswith("loaded-box")
    assert "load1=7.5" in deltas["qx"]["cause"]


def test_regression_plan_changed(spark, monkeypatch):
    """Round-9 verdict #8: a changed physical-plan digest names the
    cause mechanically — and outranks the box state."""
    monkeypatch.setattr(bench, "_box_state", lambda: dict(_LOADED_BOX))
    reg = _fake_registry(spark)
    deltas = bench._attribute_deltas(
        _prev({"qx": 0.0001}), {"qx": 5.0}, reg, spark, "unused", _fp(), None,
        plan_hashes={"prev": {"qx": "aaaa"}, "cur": {"qx": "bbbb"}},
    )
    assert deltas["qx"]["cause"] == "plan-changed: aaaa -> bbbb"


def test_attribution_uses_tight_prev(spark, monkeypatch):
    """Round-9 verdict #2: the ratio is computed against the per-query
    min of the last two round boundaries, not the (possibly inflated)
    newest anchor — and the anchor value is recorded alongside."""
    monkeypatch.setattr(bench, "_box_state", lambda: dict(_CLEAN_BOX))
    reg = _fake_registry(spark)
    # anchor says 10.0 (inflated); tight says 1.0 -> cur 5.0 is a 5x
    # regression the anchor alone would have graded a 2x improvement
    deltas = bench._attribute_deltas(
        _prev({"qx": 10.0}), {"qx": 5.0}, reg, spark, "unused", _fp(), None,
        tight_q={"qx": 1.0},
    )
    rec = deltas["qx"]
    assert rec["prev"] == 1.0 and rec["anchor_prev"] == 10.0
    assert rec["ratio"] == 5.0
    # a query the truncated newest block dropped still gets attributed
    # when the tight baseline (older full sidecar) carries it
    deltas = bench._attribute_deltas(
        _prev({}), {"qy": 5.0}, reg, spark, "unused", _fp(), None,
        tight_q={"qy": 10.0},
    )
    assert deltas["qy"]["cause"] == "improvement"


def test_box_loaded_verdicts():
    assert bench._box_loaded(dict(_CLEAN_BOX), at_start=True) is None
    assert bench._box_loaded(dict(_CLEAN_BOX), at_start=False) is None
    assert "stray_pids" in bench._box_loaded(dict(_LOADED_BOX), at_start=False)
    hot = {"loadavg": [5.0, 1.0, 1.0], "stray": [], "stray_count": 0}
    # loadavg counts only at session start: mid-run our own executors
    # dominate it and would self-flag
    assert bench._box_loaded(hot, at_start=True) == "load1=5.0"
    assert bench._box_loaded(hot, at_start=False) is None
    assert bench._box_loaded(None, at_start=True) is None


def test_box_state_excludes_own_tree():
    """The live sampler must not flag this very pytest/JVM process tree
    as stray — otherwise every probe on a busy test box self-flags."""
    state = bench._box_state()
    assert state["loadavg"] is None or len(state["loadavg"]) == 3
    own = [s for s in (state.get("stray") or []) if str(os.getpid()) == str(s["pid"])]
    assert own == []


def test_steady_view_fields():
    """Round-10 verdict #5: the headline record must carry a de-noised
    `steady` per query and a `steady_total` — probed steady replaces
    the raw best exactly where the attribution pass probed, best
    everywhere else."""
    timings = {"a": 2.0, "b": 1.0, "c": 0.4}
    deltas = {"a": {"prev": 1.4, "cur": 2.0, "steady": 1.45,
                    "cause": "converges-at-steady-state"},
              "b": {"prev": 1.2, "cur": 1.0, "cause": "improvement"}}
    steady, total = bench._steady_view(timings, deltas)
    assert steady == {"a": 1.45, "b": 1.0, "c": 0.4}
    assert total == 2.85
    # no attribution pass (first round at an sf): steady == best
    steady, total = bench._steady_view(timings, None)
    assert steady == {"a": 2.0, "b": 1.0, "c": 0.4} and total == 3.4


def test_box_state_sees_detached_stray(tmp_path):
    """A detached (reparented-to-init) process whose cmdline matches the
    stray pattern MUST appear in 'stray'. Round-10 ADVICE: the ancestor
    walk used to add pid 1 to 'mine', so the descendant closure swallowed
    every process on the box and 'stray' was structurally empty — the
    loaded-box probe cause could never fire mid-run. Live, not mocked."""
    import subprocess
    import time

    probe = tmp_path / "java_stray_livetest"
    probe.symlink_to("/bin/sleep")
    # setsid + backgrounding detaches: when the bash wrapper exits the
    # child reparents to init, leaving OUR ancestor/descendant closure.
    subprocess.run(
        ["bash", "-c", f"setsid {probe} 30 >/dev/null 2>&1 </dev/null &"],
        check=True,
    )
    try:
        hit = []
        for _ in range(20):  # reparenting is async; poll up to 2 s
            time.sleep(0.1)
            # uncapped sample: legitimate strays (a background soak's
            # JVM + workers) must not truncate the probe out of the list
            state = bench._box_state(cap=1 << 20)
            hit = [
                s for s in (state.get("stray") or [])
                if "java_stray_livetest" in s["cmd"]
            ]
            if hit:
                break
        assert hit, f"detached java-named process not flagged: {state}"
        assert state["stray_count"] >= 1
    finally:
        subprocess.run(["pkill", "-f", "java_stray_livetest"], check=False)


def test_normalize_plan_strips_session_noise():
    a = bench._normalize_plan(
        "Exchange hashpartitioning(k#123L, 32) [plan_id=45] "
        "[codegen id : 3] <lambda at 0xdeadbeef> [id=#77]"
    )
    b = bench._normalize_plan(
        "Exchange hashpartitioning(k#9L, 32) [plan_id=2] "
        "[codegen id : 1] <lambda at 0xcafe1234> [id=#3]"
    )
    assert a == b


def test_plan_hash_stable_within_session(spark):
    import pyspark.sql.functions as F

    def mk():
        return (
            spark.range(100)
            .select((F.col("id") % 7).alias("k"))
            .groupBy("k").count()
        )
    h1, h2 = bench._plan_hash(mk()), bench._plan_hash(mk())
    assert h1 is not None and h1 == h2
    other = bench._plan_hash(spark.range(100).select("id"))
    assert other != h1


def test_regression_names_session_config_change(spark):
    reg = _fake_registry(spark)
    prev_fp = dict(_fp(), driver_memory="8g")
    deltas = bench._attribute_deltas(
        _prev({"qx": 0.0001}, session=prev_fp), {"qx": 5.0},
        reg, spark, "unused", _fp(), None,
    )
    assert deltas["qx"]["cause"].startswith("session-config-change")
    assert "driver_memory" in deltas["qx"]["cause"]


def test_regression_names_stage_metric_shift(spark):
    reg = _fake_registry(spark)
    prev_sm = {"0.1": {"qx": {"shuffle_write": 1 << 20, "disk_spill": 0}}}
    cur_sm = {"0.1": {"qx": {"shuffle_write": 1 << 30, "disk_spill": 0}}}
    deltas = bench._attribute_deltas(
        _prev({"qx": 0.0001}, stage_metrics=prev_sm), {"qx": 5.0},
        reg, spark, "unused", _fp(), cur_sm,
    )
    assert deltas["qx"]["cause"].startswith("stage-metric-shift: shuffle_write")


def test_non_registry_names_are_not_probed(spark):
    deltas = bench._attribute_deltas(
        _prev({"etl_tsv_to_jsonl": 1.0}), {"etl_tsv_to_jsonl": 10.0},
        {}, spark, "unused", _fp(), None,
    )
    assert deltas["etl_tsv_to_jsonl"]["cause"].startswith("non-registry")
    assert "probe_runs" not in deltas["etl_tsv_to_jsonl"]


def test_metric_shift_detection():
    assert bench._metric_shift(None, {"shuffle_write": 5}) is None
    flat = {"shuffle_write": 1 << 30, "disk_spill": 0}
    assert bench._metric_shift(flat, dict(flat)) is None
    # sub-MiB absolute wiggle is ignored even when relatively large
    assert bench._metric_shift({"disk_spill": 10}, {"disk_spill": 1000}) is None
    got = bench._metric_shift(
        {"shuffle_write": 1 << 30}, {"shuffle_write": 2 << 30}
    )
    assert got and got.startswith("shuffle_write")


def test_prev_summary_never_uses_interim_sidecar(tmp_path):
    """Round-8 verdict #1: the baseline must be the previous ROUND's
    end-state. A working-tree BENCH_SUMMARY.json alone (the builder's own
    interim run) is NOT a baseline — without a driver-committed
    BENCH_r{N}.json there is no anchor at all."""
    p = tmp_path / "BENCH_SUMMARY.json"
    p.write_text(json.dumps({"sf": 0.1, "queries": {"q": 1.0}}))
    assert bench._prev_summary(str(tmp_path), 0.1) is None


def test_prev_summary_round_file_fallback_and_sf_gating(tmp_path):
    """Outside a git checkout the anchor degrades to the round file's own
    parsed block (driver-truncated but immutable round-end numbers);
    sf mismatches and newest-round precedence are enforced."""
    (tmp_path / "BENCH_r01.json").write_text(json.dumps(
        {"parsed": {"sf": 0.1, "queries": {"q": 1.0}}}))
    (tmp_path / "BENCH_r02.json").write_text(json.dumps(
        {"parsed": {"sf": 0.1, "queries": {"q": 2.0}}}))
    (tmp_path / "BENCH_r03.json").write_text(json.dumps(
        {"parsed": {"sf": 0.01, "queries": {"q": 9.0}}}))
    # an interim sidecar sitting next to the round files must be ignored
    (tmp_path / "BENCH_SUMMARY.json").write_text(json.dumps(
        {"sf": 0.1, "queries": {"q": 99.0}}))
    got = bench._prev_summary(str(tmp_path), 0.1)
    assert got is not None
    assert got["queries"] == {"q": 2.0}  # newest round AT THIS sf wins
    assert "BENCH_r02.json" in got["baseline_anchor"]
    assert bench._prev_summary(str(tmp_path), 1.0) is None  # sf never recorded


def test_round_baselines_tight_prev_merges_and_backfills(tmp_path):
    """Round-9 verdict #2 + advice: tight_prev = per-query min over the
    last TWO round boundaries, which (a) can't hide a regression inside
    one round's loaded-box-inflated anchor and (b) backfills queries a
    driver-truncated newest parsed block dropped."""
    (tmp_path / "BENCH_r08.json").write_text(json.dumps(
        {"parsed": {"sf": 0.1, "queries": {"qa": 1.0, "qb": 2.0, "qc": 3.0}}}))
    # newest block truncated (qc missing) and inflated (qa slower)
    (tmp_path / "BENCH_r09.json").write_text(json.dumps(
        {"parsed": {"sf": 0.1, "queries": {"qa": 1.5, "qb": 1.8}}}))
    bases = bench._round_baselines(str(tmp_path), 0.1, limit=2)
    assert len(bases) == 2
    assert "BENCH_r09.json" in bases[0]["baseline_anchor"]  # newest first
    tight = bench._tight_prev(bases)
    assert tight == {"qa": 1.0, "qb": 1.8, "qc": 3.0}
    # limit=1 degenerates to the old single-anchor behavior
    assert bench._tight_prev(bench._round_baselines(str(tmp_path), 0.1, 1)) == {
        "qa": 1.5, "qb": 1.8}


def test_prev_summary_anchors_to_round_boundary_commit():
    """Against the real repo: the baseline for the driver sf must be the
    sidecar committed ALONGSIDE the newest BENCH_r{N}.json — the full
    record of the driver's round-end run — not whatever interim sidecar
    is in the working tree. Pinned to round-8's known end-state totals so
    a regression to ratcheting behavior fails loudly."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(bench.__file__))
    # BENCH_r11_c8.json (the driver's 8-core sidecar, added at the r11
    # boundary) matches the glob but is not a round file — filter by the
    # same regex _round_baselines uses, skipping non-matches
    matches = (
        re.fullmatch(r"BENCH_r(\d+)\.json", os.path.basename(p))
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
    )
    rounds = sorted(int(m.group(1)) for m in matches if m)
    if not rounds:  # fresh checkout without driver artifacts
        return
    newest = rounds[-1]
    with open(os.path.join(here, f"BENCH_r{newest:02d}.json")) as f:
        parsed = json.load(f).get("parsed") or {}
    if parsed.get("sf") is None:
        return
    got = bench._prev_summary(here, parsed["sf"])
    assert got is not None and got.get("sf") == parsed["sf"]
    assert f"BENCH_r{newest:02d}.json" in got.get("baseline_anchor", "")
    # The sidecar in the boundary commit is normally the SAME run the
    # driver recorded, but r9 showed it can legitimately differ: the
    # judge's idle rerun at the same HEAD replaced the working-tree
    # sidecar before the driver committed (VERDICT r9 adjudicated the
    # official 94.3 s as loaded-box-inflated and the sidecar's 64.5 s
    # as the honest number at that code). So the pinned invariant is
    # what attribution needs — same sf, full per-query coverage — not
    # total equality.
    assert set(parsed.get("queries", {})) <= set(got["queries"])


def test_box_state_records_steal_ticks():
    """Round-11: bursty hypervisor steal is invisible to loadavg/stray
    sampling (single runs read 30x their steady on an 'idle' box); the
    sidecar therefore records cumulative steal/total ticks at box_start
    and box_end so the run's steal share is first-class evidence.

    Skipped on hosts whose /proc/stat has no steal field (macOS, very
    old kernels) — _box_state itself degrades gracefully there and this
    test pins the recording, not the degradation (round-11 advice)."""
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
    except OSError:
        pytest.skip("/proc/stat absent on this host")
    if len(cpu) < 9:
        pytest.skip("/proc/stat cpu line has no steal field")
    state = bench._box_state()
    assert state.get("steal_ticks") is not None
    assert state.get("total_ticks") is not None
    assert 0 <= state["steal_ticks"] <= state["total_ticks"]


def test_stdout_lines_contract(tmp_path):
    """Round-11 verdict #1: the final stdout line silently ejected 47 of
    88 per-query timings (slowest-first truncation + bulky fields), so
    the driver read phantom drops. Pins the two-line contract:

    - penultimate line carries EVERY timing and parses on its own;
    - final line parses, stays under budget, and under truncation keeps
      the previous round's driver-visible queries first.
    """
    timings = {f"query_with_a_rather_long_name_{i:03d}": 3.0 - i * 0.01
               for i in range(90)}
    out = {"metric": "m", "value": round(sum(timings.values()), 3),
           "unit": "sec", "sf": 0.1,
           "box_end": {"loadavg": [0, 0, 0], "bulk": "x" * 500},
           "steady_total": 1.0, "baseline_anchor": "BENCH_rXX.json",
           "deltas_vs_prev": {}}
    # previous round's driver-parsed line saw only these (fast!) queries
    prev_parsed = {f"query_with_a_rather_long_name_{i:03d}": 3.0 - i * 0.01
                   for i in range(60, 90)}
    (tmp_path / "BENCH_r98.json").write_text(json.dumps(
        {"parsed": {"metric": "m", "sf": 0.1, "queries": prev_parsed}}))
    box = {"loadavg": [0.0, 0.0, 0.0], "stray": [], "stray_count": 0}
    full, final = bench._stdout_lines(out, timings, box, str(tmp_path), 0.1)
    f = json.loads(full)
    assert f["complete"] is True
    assert f["queries_total"] == 90
    assert set(f["queries"]) == set(timings)        # ALL timings present
    assert f["queries"]["query_with_a_rather_long_name_000"] == 3.0
    g = json.loads(final)                           # final line parses
    assert len(final) <= 1950
    assert "box_end" not in g and "steady_total" not in g
    assert g["queries_total"] == 90
    # truncation bound: every query the prev round's driver could see is
    # still on the line even though they are the FASTEST 30 of 90
    assert set(prev_parsed) <= set(g["queries"])
    assert len(g["queries"]) < 90  # truncation did bind in this setup
