"""Smoke test of the benchmark itself, at scale 0.001.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: every workload in BENCHMARK.json) it runs the
benchmark untraced and traced for one second of steady passes and asserts
that the outputs check out, that every metric BENCHMARK.json names is
printed with its unit, and that in every traced operation
``queries.build_s + plan.s + exec.s`` matches the operation's wall time
within ``TOLERANCE``. Exits 1 on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: allowed |build + plan + exec - wall| per operation: 2% of the wall + 10 ms
TOLERANCE = (0.02, 0.010)


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "0.001"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, f"{workload}: exit {out.returncode}\n{out.stderr[-2000:]}"
    return json.loads(out.stdout.strip().splitlines()[-1])


def _check_metrics(workload: str, result: dict, spec: list[dict]) -> None:
    assert result["correct"] and result["failed"] == 0, f"{workload}: {result}"
    assert result["attempted"] >= 1
    missing = {m["name"] for m in spec} - result["metrics"].keys()
    assert not missing, f"{workload}: metrics missing {sorted(missing)}"
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], f"{workload}: {m['name']} unit {got}"
        assert isinstance(got["value"], (int, float)), f"{workload}: {m['name']} {got}"


def _check_spans(workload: str) -> None:
    with open(os.path.join(ROOT, ".perfbench_out", f"{workload}-s1-t1.json")) as f:
        ops = json.load(f)["traced_ops"]
    assert ops, f"{workload}: no traced operations"
    rel, absolute = TOLERANCE
    for op in ops:
        m = op["metrics"]
        parts = m["queries.build_s"] + m["plan.s"] + m["exec.s"]
        assert abs(parts - op["wall_s"]) <= rel * op["wall_s"] + absolute, \
            f"{workload}/{op['op']}: build+plan+exec {parts:.4f} s vs wall {op['wall_s']:.4f} s"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    for w in workloads:
        _check_metrics(w, _run(w, 0), bench["end_to_end"])
        _check_metrics(w, _run(w, 1), bench["per_layer"])
        _check_spans(w)
        print(f"ok {w}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
