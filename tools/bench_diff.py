"""Name the recorded fact behind each query that moved between two bench runs.

Usage:  python tools/bench_diff.py OLD.json NEW.json

Both files are ``BENCH_SUMMARY.json`` sidecars written by ``bench.py`` at the
same scale factor; an older one comes from ``git show REV:BENCH_SUMMARY.json``.
For each query in both records whose time moved by more than 15 % and by at
least 0.2 s, one JSON line (largest slowdown first) names the first recorded
difference: ``plan-changed`` (the query's plan hash), ``stage-metric-shift``
(a shuffle or spill counter moved by more than 20 %), ``session-config-change``
(the session fingerprint), else ``unexplained``. Nothing is rerun: whether an
``unexplained`` move is code or box takes an interleaved A/B
(``tools/ab_code_version.py``).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

DRIFT = 0.15  # relative move a query must exceed to count as moved
MIN_ABS_S = 0.2  # ... and the absolute move it must reach
METRIC_SHIFT = 0.2  # relative stage-metric change that names a cause


def _metric_shift(prev_m: dict | None, cur_m: dict | None) -> str | None:
    """Name the largest shuffle/spill metric that moved >METRIC_SHIFT
    between the records, or None when both sides are missing or flat."""
    if not prev_m or not cur_m:
        return None
    worst_key, worst_rel = None, METRIC_SHIFT
    for k, cur in cur_m.items():
        prev = prev_m.get(k, 0)
        base = max(prev, 1 << 20)  # ignore sub-MiB wiggle
        rel = abs(cur - prev) / base
        if rel > worst_rel:
            worst_key, worst_rel = k, rel
    if worst_key is None:
        return None
    return f"{worst_key} {prev_m.get(worst_key, 0)} -> {cur_m[worst_key]}"


def diff(old: dict, new: dict) -> list[dict]:
    """One row per moved query: its old and new seconds and the cause."""
    sf_key = f"{new['sf']:g}"
    old_sm, new_sm = ((r.get("stage_metrics") or {}).get(sf_key, {}) for r in (old, new))
    old_ph, new_ph = (r.get("plan_hash") or {} for r in (old, new))
    old_fp, new_fp = old.get("session") or {}, new.get("session") or {}
    config = {
        k: [old_fp.get(k), new_fp.get(k)]
        for k in sorted(old_fp.keys() | new_fp.keys())
        if old_fp and new_fp and old_fp.get(k) != new_fp.get(k)
    }
    rows = []
    for q in sorted(old["queries"].keys() & new["queries"].keys()):
        o, n = old["queries"][q], new["queries"][q]
        # sidecar timings carry 3 decimals: round so 1.0 -> 1.2 is a 0.2 s move
        if round(abs(n - o), 3) < MIN_ABS_S or abs(n - o) <= DRIFT * o:
            continue
        row = {"query": q, "old": o, "new": n}
        shift = _metric_shift(old_sm.get(q), new_sm.get(q))
        if old_ph.get(q) and new_ph.get(q) and old_ph[q] != new_ph[q]:
            row.update(cause="plan-changed", detail=f"{old_ph[q]} -> {new_ph[q]}")
        elif shift:
            row.update(cause="stage-metric-shift", detail=shift)
        elif config:
            row.update(cause="session-config-change", detail=config)
        else:
            row["cause"] = "unexplained"
        rows.append(row)
    return sorted(rows, key=lambda r: r["old"] - r["new"])


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    old, new = (json.loads(Path(p).read_text()) for p in sys.argv[1:])
    if old.get("sf") != new.get("sf"):
        sys.exit(f"bench_diff: records at different scale factors: {old.get('sf')} vs {new.get('sf')}")
    for row in diff(old, new):
        print(json.dumps(row))


if __name__ == "__main__":
    main()
