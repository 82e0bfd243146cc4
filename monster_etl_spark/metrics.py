"""Per-query jobs, shuffle and spill from Spark's in-process status store.

The round-4 scale soak left one alpha (sf100 q5 at 1.19) attributed to
"disk-bound single box" by inference, not measurement. This module turns
that class of call into data: snapshot the status store before and after
a query, and the jobs between the two snapshots are the query's jobs;
their stages give its shuffle bytes written/read and memory/disk spill.

It reads the driver's ``AppStatusStore`` (``sc._jsc.sc().statusStore()``),
the record the UI and the History Server render. The store is kept with
``spark.ui.enabled=false``, the engine's default, so every session can
measure; no port is opened and nothing is read over HTTP.
"""

from __future__ import annotations

from typing import NamedTuple

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import SparkSession

# status-store stage getter -> short report key
_FIELDS = {
    "shuffleWriteBytes": "shuffle_write",
    "shuffleReadBytes": "shuffle_read",
    "memoryBytesSpilled": "mem_spill",
    "diskBytesSpilled": "disk_spill",
}


class Snapshot(NamedTuple):
    """The session's context and the id of the newest job its status
    store held (-1: none)."""

    sc: SparkContext
    last_job: int


def _jobs_newest_first(sc: SparkContext):
    """Every retained job, newest first: ``jobsList`` with no status
    filter. It also lists jobs run under a job group, which
    ``statusTracker().getJobIdsForGroup(None)`` misses."""
    it = sc._jsc.sc().statusStore().jobsList(sc._jvm.java.util.ArrayList()).iterator()
    while it.hasNext():
        yield it.next()


def snapshot(spark: SparkSession) -> Snapshot:
    """Drain the listener bus, then record the newest job id."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    newest = next(_jobs_newest_first(sc), None)
    return Snapshot(sc, newest.jobId() if newest is not None else -1)


def jobs(before: Snapshot, after: Snapshot) -> list[dict]:
    """The jobs newer than ``before`` and no newer than ``after``, oldest
    first: id, submission and completion time in epoch milliseconds,
    stage ids, task count and description (the call site when unset).
    The walk stops at the first older job, so only the measured query's
    jobs cross py4j: the cost follows the query, not the retained
    history."""
    out = []
    for j in _jobs_newest_first(after.sc):
        jid = j.jobId()
        if jid <= before.last_job:
            break
        if jid > after.last_job:
            continue
        start = j.submissionTime().get().getTime()
        end = j.completionTime()
        desc = j.description()
        sids = j.stageIds()
        out.append({
            "job": jid,
            "start_ms": start,
            "end_ms": end.get().getTime() if end.isDefined() else start,
            "stages": [sids.apply(i) for i in range(sids.size())],
            "tasks": j.numTasks(),
            "desc": desc.get() if desc.isDefined() else j.name(),
        })
    return out[::-1]


def _last_attempt(store, sid: int):
    """The stage's last attempt, or None once the store has evicted it.
    The store keeps ``spark.ui.retainedStages`` stages (default 1000) and
    evicts the oldest by completion time asynchronously; a skipped stage
    has none, so it goes first, even one of the query just run."""
    try:
        return store.lastStageAttempt(sid)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() != "java.util.NoSuchElementException":
            raise
        return None


def delta(before: Snapshot, after: Snapshot) -> dict[str, int]:
    """Shuffle bytes written/read and memory/disk spill summed over the
    last attempt of every stage of ``jobs(before, after)``. Each job gets
    its own stage ids (a reused shuffle shows up as a new, skipped stage
    with zero bytes), so queries run one after another never share a
    stage. An evicted stage counts zero: exact for a skipped stage, short
    only for a query with more stages than the store retains."""
    out = dict.fromkeys(_FIELDS.values(), 0)
    store = after.sc._jsc.sc().statusStore()
    for sid in sorted({s for j in jobs(before, after) for s in j["stages"]}):
        stage = _last_attempt(store, sid)
        if stage is None:
            continue
        for getter, key in _FIELDS.items():
            out[key] += getattr(stage, getter)()
    return out


def fmt_bytes(n: int) -> str:
    """Human-readable bytes for soak log lines (binary units)."""
    size = float(n)
    for unit in ("B", "KiB", "MiB", "GiB", "TiB"):
        if abs(size) < 1024 or unit == "TiB":
            return f"{size:.1f}{unit}" if unit != "B" else f"{int(size)}B"
        size /= 1024
    return f"{size:.1f}TiB"
