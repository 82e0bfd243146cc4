"""bench.py records the facts a comparison needs (plan hashes, session
fingerprint, box state and steal) and keeps its two-line stdout contract;
``tools/bench_diff.py`` names, from two such records alone, the cause of
each query that moved — which causes fire, in which priority order, and
the noise floor below which nothing is reported."""

import json
import os
import subprocess
import sys

import pytest

import bench
from tools import bench_diff

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fp():
    return {
        "driver_memory": "16g",
        "shuffle_partitions": "32",
        "initial_partitions": "1024",
        "master": "local[32]",
    }


def _rec(queries, session=None, stage_metrics=None, plan_hash=None):
    r = {"sf": 0.1, "queries": queries, "session": session or _fp()}
    if stage_metrics:
        r["stage_metrics"] = stage_metrics
    if plan_hash:
        r["plan_hash"] = plan_hash
    return r


def _causes(old, new):
    return {row["query"]: row for row in bench_diff.diff(old, new)}


def test_improvements_and_noise_floor():
    got = _causes(
        _rec({"qx": 10.0, "qy": 0.05, "qz": 3.0, "qw": 1.0, "qv": 1.0}),
        # qy: +200 % but 0.1 s; qz: 0.1 s and 3 %; qw: 19 % but 0.19 s;
        # qv: exactly 0.2 s and 20 % (sidecar timings carry 3 decimals)
        _rec({"qx": 5.0, "qy": 0.15, "qz": 3.1, "qw": 1.19, "qv": 1.2}),
    )
    assert set(got) == {"qx", "qv"}
    assert got["qx"] == {"query": "qx", "old": 10.0, "new": 5.0, "cause": "unexplained"}
    # a 15 % move is not more than 15 %
    assert bench_diff.diff(_rec({"qa": 2.0}), _rec({"qa": 2.3})) == []
    # largest slowdown first, improvements last
    rows = bench_diff.diff(_rec({"qa": 1.0, "qb": 1.0, "qc": 5.0}),
                           _rec({"qa": 2.0, "qb": 4.0, "qc": 1.0}))
    assert [r["query"] for r in rows] == ["qb", "qa", "qc"]


def test_regression_persistent_unexplained():
    """Nothing the records hold differs: the honest "needs review" cause,
    which only an interleaved A/B can settle."""
    got = _causes(_rec({"qx": 1.0}), _rec({"qx": 5.0}))
    assert got["qx"]["cause"] == "unexplained"
    assert "detail" not in got["qx"]


_SHUFFLE_UP = (
    {"0.1": {"qx": {"shuffle_write": 1 << 20, "disk_spill": 0}}},
    {"0.1": {"qx": {"shuffle_write": 1 << 30, "disk_spill": 0}}},
)


def test_regression_plan_changed():
    """A changed plan hash names the cause and outranks every other
    recorded difference."""
    got = _causes(
        _rec({"qx": 1.0}, stage_metrics=_SHUFFLE_UP[0], plan_hash={"qx": "aaaa"},
             session=dict(_fp(), driver_memory="8g")),
        _rec({"qx": 5.0}, stage_metrics=_SHUFFLE_UP[1], plan_hash={"qx": "bbbb"}),
    )
    assert got["qx"]["cause"] == "plan-changed"
    assert got["qx"]["detail"] == "aaaa -> bbbb"
    # a hash recorded on one side only is no evidence either way
    got = _causes(_rec({"qx": 1.0}, plan_hash={"qx": "aaaa"}), _rec({"qx": 5.0}))
    assert got["qx"]["cause"] == "unexplained"


def test_regression_names_stage_metric_shift():
    got = _causes(
        _rec({"qx": 1.0}, stage_metrics=_SHUFFLE_UP[0], plan_hash={"qx": "aaaa"},
             session=dict(_fp(), driver_memory="8g")),
        _rec({"qx": 5.0}, stage_metrics=_SHUFFLE_UP[1], plan_hash={"qx": "aaaa"}),
    )
    assert got["qx"]["cause"] == "stage-metric-shift"
    assert got["qx"]["detail"].startswith("shuffle_write")


def test_regression_names_session_config_change():
    prev_fp = dict(_fp(), driver_memory="8g")
    got = _causes(_rec({"qx": 1.0}, session=prev_fp), _rec({"qx": 5.0}))
    assert got["qx"]["cause"] == "session-config-change"
    assert got["qx"]["detail"] == {"driver_memory": ["8g", "16g"]}


def test_query_in_one_record_only_is_not_reported():
    assert bench_diff.diff(_rec({"qa": 1.0}), _rec({"qb": 9.0})) == []
    got = _causes(_rec({"qa": 1.0, "qc": 1.0}), _rec({"qa": 3.0, "qb": 9.0}))
    assert set(got) == {"qa"}


def test_bench_diff_cli(tmp_path):
    """A record against itself prints nothing; records at two scale
    factors are refused."""
    old, new, other = tmp_path / "old.json", tmp_path / "new.json", tmp_path / "sf1.json"
    old.write_text(json.dumps(_rec({"qx": 1.0, "qy": 2.0}, plan_hash={"qx": "aaaa"})))
    new.write_text(json.dumps(_rec({"qx": 5.0, "qy": 2.0}, plan_hash={"qx": "bbbb"})))
    other.write_text(json.dumps(dict(_rec({"qx": 1.0}), sf=1.0)))
    tool = os.path.join(REPO, "tools", "bench_diff.py")

    def run(*paths):
        return subprocess.run([sys.executable, tool, *map(str, paths)],
                              capture_output=True, text=True, timeout=60)

    same = run(old, old)
    assert same.returncode == 0 and same.stdout == ""
    moved = run(old, new)
    assert moved.returncode == 0
    assert [json.loads(ln)["cause"] for ln in moved.stdout.splitlines()] == ["plan-changed"]
    mixed = run(old, other)
    assert mixed.returncode != 0 and "scale factors" in mixed.stderr
    assert run(old).returncode != 0


_CLEAN_BOX = {"loadavg": [0.1, 0.1, 0.1], "stray": [], "stray_count": 0}
_LOADED_BOX = {
    "loadavg": [9.0, 8.0, 7.0],
    "stray": [{"pid": 1234, "cmd": "java -cp other-session"}],
    "stray_count": 1,
}


def test_box_loaded_verdicts():
    assert bench._box_loaded(dict(_CLEAN_BOX)) is None
    assert "stray_pids" in bench._box_loaded(dict(_LOADED_BOX))
    hot = {"loadavg": [5.0, 1.0, 1.0], "stray": [], "stray_count": 0}
    assert bench._box_loaded(hot) == "load1=5.0"
    assert bench._box_loaded(None) is None


def test_box_state_excludes_own_tree():
    """The live sampler must not flag this very pytest/JVM process tree
    as stray — otherwise every run on a busy test box self-flags."""
    state = bench._box_state()
    assert state["loadavg"] is None or len(state["loadavg"]) == 3
    own = [s for s in (state.get("stray") or []) if str(os.getpid()) == str(s["pid"])]
    assert own == []


def test_box_state_sees_detached_stray(tmp_path):
    """A detached (reparented-to-init) process whose cmdline matches the
    stray pattern MUST appear in 'stray'. Round-10 ADVICE: the ancestor
    walk used to add pid 1 to 'mine', so the descendant closure swallowed
    every process on the box and 'stray' was structurally empty. Live,
    not mocked."""
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


def test_session_fingerprint_records_file_open_cost(spark):
    """Split sizing follows ``spark.sql.files.openCostInBytes``; a delta it
    causes is named from the sidecar alone."""
    fp = bench._session_fingerprint(spark)
    assert fp["file_open_cost"] == spark.conf.get("spark.sql.files.openCostInBytes")
    got = _causes(
        _rec({"qx": 1.0}, session=dict(fp, file_open_cost="4194304")),
        _rec({"qx": 5.0}, session=fp),
    )
    assert got["qx"]["cause"] == "session-config-change"
    assert "file_open_cost" in got["qx"]["detail"]


def test_metric_shift_detection():
    assert bench_diff._metric_shift(None, {"shuffle_write": 5}) is None
    flat = {"shuffle_write": 1 << 30, "disk_spill": 0}
    assert bench_diff._metric_shift(flat, dict(flat)) is None
    # sub-MiB absolute wiggle is ignored even when relatively large
    assert bench_diff._metric_shift({"disk_spill": 10}, {"disk_spill": 1000}) is None
    got = bench_diff._metric_shift(
        {"shuffle_write": 1 << 30}, {"shuffle_write": 2 << 30}
    )
    assert got and got.startswith("shuffle_write")


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


def test_stdout_lines_contract():
    """Round-11 verdict #1: the final stdout line silently ejected 47 of
    88 per-query timings (slowest-first truncation + bulky fields), so
    the driver read phantom drops. Pins the two-line contract:

    - penultimate line carries EVERY timing and parses on its own;
    - final line parses, stays under budget, and under truncation keeps
      the slowest queries.
    """
    timings = {f"query_with_a_rather_long_name_{i:03d}": 3.0 - i * 0.01
               for i in range(90)}
    out = {"metric": "m", "value": round(sum(timings.values()), 3),
           "unit": "sec", "sf": 0.1,
           "box_end": {"loadavg": [0, 0, 0], "bulk": "x" * 500}}
    box = {"loadavg": [0.0, 0.0, 0.0], "stray": [], "stray_count": 0}
    full, final = bench._stdout_lines(out, timings, box)
    f = json.loads(full)
    assert f["complete"] is True
    assert f["queries_total"] == 90
    assert set(f["queries"]) == set(timings)        # ALL timings present
    assert f["queries"]["query_with_a_rather_long_name_000"] == 3.0
    g = json.loads(final)                           # final line parses
    assert len(final) <= 1950
    assert "box_end" not in g
    assert g["queries_total"] == 90
    assert len(g["queries"]) < 90  # truncation did bind in this setup
    # the kept queries are the slowest ones
    slowest = sorted(timings, key=timings.get, reverse=True)[: len(g["queries"])]
    assert set(g["queries"]) == set(slowest)
