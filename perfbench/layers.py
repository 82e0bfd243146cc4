"""Layer tracing from outside the engine.

A traced operation records one span per layer call (build, plan, each sink
step) and afterwards reads what Spark did in that window from the driver's
in-process status store: jobs, their stages' task metrics, and the Python
worker SQL metrics. The store answers with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import re
import time

from monster_etl_spark.explain import plan_summary

#: Spark SQL metric display name -> per-layer metric
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
#: metrics summed over the operations of a pass
SUMMED = (
    "queries.build_s", "queries.build_jobs", "queries.build_tasks", "queries.build_self_s",
    "plan.s", "plan.exchanges", "plan.broadcasts", "plan.python_nodes",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
    "exec.executor_run_s", "exec.executor_cpu_s", "exec.gc_s",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "driver.gap_s", *PYTHON_METRICS.values(),
    "sources.build_s", "sources.write_s", "sources.read_s",
    "sources.bytes_in", "sources.bytes_out",
)
#: every per-layer metric the traced run reports, with its unit
PER_LAYER_UNITS = {
    "session.start_s": "s",
    **{m: ("s" if m.endswith("_s") or m in ("plan.s", "exec.s")
           else "bytes" if "bytes" in m else "count") for m in SUMMED},
    "exec.core_util": "ratio",
    "sources.write_amp": "ratio",
    "trace.overhead_s": "s",
}

#: one ``SQLPlanMetric(name,accumulatorId,metricType)`` of a metric list
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*?),(\d+),(\w+)\)")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _parse_total(text: str) -> float:
    """Total of a formatted SQL metric (``"...\\n9.7 s (2.4 s, ...)"``), in
    bytes or seconds; used only when the accumulator is already gone."""
    m = re.search(r"\n?([\d.,]+) (\w+)", text.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0) if m else 0.0


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


class StatusStore:
    """New jobs, stages and SQL executions since the previous ``collect``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.accumulators = self.sc._jvm.org.apache.spark.util.AccumulatorContext
        self.collect()

    def _job_ids(self) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(None))

    def _new_executions(self):
        n = self.sql.executionsCount()
        k, out = 16, []
        while n:
            it = self.sql.executionsList(max(0, n - k), k).iterator()
            out = []
            while it.hasNext():
                e = it.next()
                if e.executionId() > self.last_exec:
                    out.append(e)
            if len(out) < k or k >= n:
                break
            k *= 2
        return out

    def _python_metrics(self, execution) -> dict[str, float]:
        out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        seen, formatted = set(), None
        # one py4j call for the execution's metric list: a plan can hold
        # hundreds, and a call per metric made tracing cost seconds per query
        for display, acc_id, kind in _PLAN_METRIC.findall(execution.metrics().toString()):
            name, acc_id = PYTHON_METRICS.get(display), int(acc_id)
            if name is None or acc_id in seen:
                continue
            seen.add(acc_id)
            acc = self.accumulators.get(acc_id)
            if acc.isDefined():
                out[name] += acc.get().value() * {"timing": 1e-3, "nsTiming": 1e-9}.get(kind, 1.0)
            else:
                if formatted is None:
                    formatted = self.sql.executionMetrics(execution.executionId())
                text = formatted.get(acc_id)
                out[name] += _parse_total(text.get()) if text.isDefined() else 0.0
        return out

    def collect(self):
        """Returns ``(jobs, python)``: each job as ``(start, end, stages)``
        with stage dicts, and the Python worker metrics summed."""
        self.bus.waitUntilEmpty()
        ids = self._job_ids()
        last = getattr(self, "last_job", None)
        jobs, seen_stages = [], set()
        for j in ids:
            if last is None or j <= last:
                continue
            jd = self.store.job(j)
            start = jd.submissionTime().get().getTime() / 1e3
            end = jd.completionTime().get().getTime() / 1e3 if jd.completionTime().isDefined() else start
            stages, sids = [], jd.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                stages.append({
                    "tasks": sd.numTasks(),
                    "failed_tasks": sd.numFailedTasks(),
                    "run_s": sd.executorRunTime() / 1e3,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1e3,
                    "shuffle_read": sd.shuffleReadBytes(),
                    "shuffle_write": sd.shuffleWriteBytes(),
                    "spill": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                })
            jobs.append((start, end, stages))
        self.last_job = ids[-1] if ids else (last if last is not None else -1)
        python = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        if last is not None:
            for e in self._new_executions():
                for k, v in self._python_metrics(e).items():
                    python[k] += v
        n = self.sql.executionsCount()
        if n:
            it = self.sql.executionsList(n - 1, 1).iterator()
            self.last_exec = it.next().executionId()
        else:
            self.last_exec = -1
        return jobs, python


def traced_op(spark, store: StatusStore, op) -> dict:
    """Run ``op`` once with a span per layer call; returns the operation's
    record: its spans and every summed per-layer metric."""
    spans = []

    def span(name, fn):
        s = time.time()
        out = fn()
        spans.append((name, s, time.time()))
        return out

    store.collect()  # start from a clean window: drop earlier untraced work
    t0 = time.time()
    df = span("sources.build" if op.sources else "queries.build", lambda: op.build(spark))
    span("plan", lambda: df._jdf.queryExecution().executedPlan())
    for name, fn in op.sink_steps(spark, df):
        span(name, fn)
    t1 = time.time()

    jobs, python = store.collect()
    facts = plan_summary(df)
    _, b0, b1 = spans[0]
    build_jobs = [j for j in jobs if j[0] <= b1 + 0.002]
    exec_jobs = [j for j in jobs if j[0] > b1 + 0.002]
    exec_stages = [s for j in exec_jobs for s in j[2]]
    dur = {name: e - s for name, s, e in spans}
    sink_s = sum(d for n, d in dur.items() if n not in ("queries.build", "sources.build", "plan"))
    build_s = b1 - b0
    rec = dict.fromkeys(SUMMED, 0.0)
    rec.update({
        "queries.build_s": build_s,
        "queries.build_jobs": len(build_jobs),
        "queries.build_tasks": sum(s["tasks"] for j in build_jobs for s in j[2]),
        "queries.build_self_s": build_s - _union([j[:2] for j in build_jobs], b0, b1),
        "plan.s": dur["plan"],
        "plan.exchanges": facts.shuffles,
        "plan.broadcasts": facts.broadcasts,
        "plan.python_nodes": facts.python_evals + facts.map_in_pandas,
        "exec.s": sink_s,
        "exec.jobs": len(exec_jobs),
        "exec.stages": len(exec_stages),
        "exec.tasks": sum(s["tasks"] for s in exec_stages),
        "exec.failed_tasks": sum(s["failed_tasks"] for s in exec_stages),
        "exec.executor_run_s": sum(s["run_s"] for s in exec_stages),
        "exec.executor_cpu_s": sum(s["cpu_s"] for s in exec_stages),
        "exec.gc_s": sum(s["gc_s"] for s in exec_stages),
        "exec.shuffle_read_bytes": sum(s["shuffle_read"] for s in exec_stages),
        "exec.shuffle_write_bytes": sum(s["shuffle_write"] for s in exec_stages),
        "exec.spill_bytes": sum(s["spill"] for s in exec_stages),
        "driver.gap_s": (t1 - t0) - _union([j[:2] for j in jobs], t0, t1),
        **python,
    })
    if op.sources:
        rec.update({
            "sources.build_s": build_s,
            "sources.write_s": dur["sources.write"],
            "sources.read_s": dur["sources.read"],
            "sources.bytes_in": op.inp.tsv_bytes,
            "sources.bytes_out": op.bytes_out(),
        })
    return {
        "op": op.name,
        "wall_s": t1 - t0,
        "spans": [{"name": n, "parent": "op", "start": s, "end": e} for n, s, e in spans],
        "metrics": rec,
    }


def pass_metrics(records: list[dict], cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass on ``cores`` cores: sums plus
    the two ratios."""
    out = {m: sum(r["metrics"][m] for r in records) for m in SUMMED}
    out["exec.core_util"] = out["exec.executor_run_s"] / (out["exec.s"] * cores) if out["exec.s"] else 0.0
    out["sources.write_amp"] = (
        out["sources.bytes_out"] / out["sources.bytes_in"] if out["sources.bytes_in"] else 0.0
    )
    return out
