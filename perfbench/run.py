"""Layered benchmark for monster_etl_spark.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 8 --trace 0

Runs one workload (see ``workloads.py``) in a fresh ``local[4]`` session from
this single process, one operation at a time (closed loop, one client), on
inputs generated from ``--seed``, with an ``IdleSpinners`` busy loop on each
core throughout:

1. set-up: from process start until the session is up and the inputs are
   written;
2. one cold pass over the operation list, in list order;
3. the output check against the DuckDB oracles (untimed);
4. one untimed warm-up pass;
5. steady passes, each in a seed-permuted order, for ``--seconds`` in all,
   in ``SETUPS`` segments; between two segments one more set-up runs in a
   fresh process of this script (``--setup-only``), timed the same way.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. In the traced run the steady passes
alternate untraced and traced, and ``trace.overhead_s`` is the difference
between the traced and the untraced steady pass. The line before it is the
run's full record, which is also written, with every traced operation's
spans, to ``.perfbench_out/``.
Exits 2 without a result when the engine is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
CORES = 4
DRIVER_MEMORY = "4g"
E2E_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s",
    "latency_p50_s": "s", "latency_p90_s": "s",
}


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _start_time(pid: int) -> int | None:
    """The start time of ``pid`` in clock ticks since boot, which tells a
    process from a later one that reuses its PID; None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[19])
    except (OSError, IndexError, ValueError):
        return None


class RssSampler(threading.Thread):
    """Peak of the summed RSS of this process's descendants (the driver JVM
    and the Python workers it forks), sampled every 100 ms.

    A process counts from its second sample on. The JVM forks short-lived
    shell commands for file permissions, and a child caught between fork
    and exec shows the JVM's whole RSS: one such sample read 2.7 GB in a
    1.4 GB run. Processes in ``exclude`` and their descendants are left
    out. ``started`` maps every descendant seen to its start time."""

    def __init__(self, exclude=()):
        super().__init__(daemon=True)
        self.peak_mb, self.started, self._halt = 0.0, {}, threading.Event()
        self.exclude = set(exclude)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def descendants(self) -> set[int]:
        parent = {}
        for p in os.listdir("/proc"):
            if p.isdigit():
                try:
                    with open(f"/proc/{p}/stat") as f:
                        parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        out, frontier = set(), {os.getpid()}
        while frontier:
            frontier = {c for c, pp in parent.items() if pp in frontier} - out - self.exclude
            out |= frontier
        return out

    def record(self) -> set[int]:
        current = self.descendants()
        for pid in current - self.started.keys():
            start = _start_time(pid)
            if start is not None:
                self.started[pid] = start
        return current

    def run(self):
        previous: set[int] = set()
        while not self._halt.wait(0.1):
            current, total = self.record(), 0
            for pid in current & previous:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self._page
                except (OSError, IndexError, ValueError):
                    pass
            previous = current
            self.peak_mb = max(self.peak_mb, total / 2**20)

    def stop(self):
        self._halt.set()
        self.join()

    def reap(self, timeout: float = 30.0) -> None:
        """Wait for every descendant seen to exit; kill one still running
        after ``timeout``. A PID whose start time changed belongs to
        another process by now and is left alone."""
        self.record()
        deadline = time.time() + timeout
        for pid, start in sorted(self.started.items()):
            while _start_time(pid) == start and time.time() < deadline:
                time.sleep(0.05)
            if _start_time(pid) == start:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass


class IdleSpinners:
    """One busy loop per core at the lowest priority (``SCHED_IDLE``).

    They keep the virtual CPUs from halting. A halted virtual CPU waits for
    the host when it wakes, which showed as 6-14 % steal and made the same
    run up to 1.7x slower from one run to the next. Any runnable thread of
    the engine preempts a spinner at once."""

    #: a spinner also stops when its parent is gone or after an hour
    CODE = ("import os, time\n"
            "os.sched_setscheduler(0, os.SCHED_IDLE, os.sched_param(0))\n"
            "parent, end = os.getppid(), time.monotonic() + 3600\n"
            "while os.getppid() == parent and time.monotonic() < end:\n"
            "    for _ in range(100_000):\n"
            "        pass\n")

    def __init__(self, n: int):
        self.procs = [subprocess.Popen([sys.executable, "-c", self.CODE]) for _ in range(n)]
        self.pids = {p.pid for p in self.procs}

    def stop(self) -> None:
        for p in self.procs:
            p.kill()
        for p in self.procs:
            p.wait()


def _percentile(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _median_pass(samples: list[tuple[int, float]]) -> float:
    """A steady pass: the sum over the operation list of each operation's
    median wall time. Steadier than the median of the few whole passes a
    run holds, and it uses every sample."""
    by_op: dict[int, list[float]] = {}
    for i, x in samples:
        by_op.setdefault(i, []).append(x)
    return sum(statistics.median(v) for v in by_op.values())


def _configure_env(work: str) -> None:
    """Session fingerprint and import path, through the environment only."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_SCRATCH_DIR": os.path.join(work, "scratch"),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        # Python workers import the engine: put the checkout on their path
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    import tempfile

    tempfile.tempdir = tmp


def _fingerprint(spark) -> dict:
    conf = spark.conf
    get = lambda k: conf.get(k, None)  # noqa: E731
    return {
        "master": spark.sparkContext.master,
        "heap": spark.sparkContext.getConf().get("spark.driver.memory"),
        "shuffle_partitions": get("spark.sql.shuffle.partitions"),
        "aqe_initial_partition_num": get("spark.sql.adaptive.coalescePartitions.initialPartitionNum"),
        "limit_initial_num_partitions": get("spark.sql.limit.initialNumPartitions"),
        "spark_version": spark.version,
    }


def _stop_jvm(sampler: RssSampler) -> None:
    """Stop the session, the driver JVM and the workers, and wait for them."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    sampler.stop()
    sampler.reap()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float,
                    help="input size as a TPC-H scale factor (default: the workload's)")
    # one extra set-up in a fresh process; prints its times and exits
    ap.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "monster_etl_spark", "__init__.py")) or \
            not os.path.isfile(os.path.join(ROOT, "tools", "driver_check.py")):
        print(f"perfbench: engine not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {workloads.WORKLOADS}",
              file=sys.stderr)
        return 2
    if args.scale is None:
        args.scale = workloads.SCALE[args.workload]

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _configure_env(work)
    os.chdir(work)
    # a --setup-only process runs under its parent's spinners
    spinners = None if args.setup_only else IdleSpinners(CORES)
    try:
        sampler = RssSampler(spinners.pids if spinners else ())
        sampler.start()
        try:
            if args.setup_only:
                _, _, start_s, setup_s = _setup(args, workloads, work)
            else:
                record = _run(args, workloads, work, sampler)
        finally:
            _stop_jvm(sampler)
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
        if args.setup_only:
            print(json.dumps({"session_start_s": start_s, "setup_s": setup_s}))
            return 0
    finally:
        if spinners:
            spinners.stop()
    name = f"{args.workload}-s{args.seed}-t{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        metrics = {k: {"value": record["layers"][k], "unit": u}
                   for k, u in record["layer_units"].items()}
    else:
        metrics = {k: {"value": record["end_to_end"][k], "unit": u} for k, u in E2E_UNITS.items()}
    record.pop("traced_ops", None)
    print(json.dumps(record))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


def _setup(args, workloads, work: str):
    """Start the session and generate the inputs; returns the session, the
    inputs, the ``get_spark`` wall time and the time since process start."""
    from monster_etl_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    start_s = time.time() - t0
    inp = workloads.prepare(args.workload, args.seed, args.scale, os.path.join(work, "inputs"))
    return spark, inp, start_s, time.time() - T_START


def _setup_process(args, sampler: RssSampler) -> tuple[float, float]:
    """One more set-up in a fresh process of this script; returns its set-up
    and ``get_spark`` times. That process and its JVM are kept out of the
    RSS."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--scale", str(args.scale), "--setup-only"]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    sampler.exclude.add(proc.pid)
    try:
        out, err = proc.communicate(timeout=150)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"set-up process exited {proc.returncode}: {err[-2000:]}")
    times = json.loads(out.strip().splitlines()[-1])
    return times["setup_s"], times["session_start_s"]


def _run(args, workloads, work: str, sampler: RssSampler) -> dict:
    import layers

    steal0, ticks0 = _cpu_ticks()
    load0 = _loadavg()
    spark, inp, start_s, setup_s = _setup(args, workloads, work)
    ops = workloads.operations(args.workload, inp)
    rng = random.Random(args.seed)
    attempted, failures = 0, []
    phases = {"setup": time.time() - T_START}
    rss = {"setup": sampler.peak_mb}

    def run_pass(order, traced_store=None, deadline=None):
        """Runs ``ops[i]`` for ``i`` in ``order``, stopping early once past
        ``deadline``; returns the wall time, ``(i, seconds)`` per operation
        that succeeded, the trace records and whether the pass completed."""
        nonlocal attempted
        lat, recs = [], []
        t0 = time.perf_counter()
        for i in order:
            if deadline is not None and time.perf_counter() >= deadline:
                return time.perf_counter() - t0, lat, recs, False
            op = ops[i]
            attempted += 1
            s = time.perf_counter()
            try:
                if traced_store is None:
                    op.run(spark)
                else:
                    recs.append(layers.traced_op(spark, traced_store, op))
                lat.append((i, time.perf_counter() - s))
            except Exception as e:  # a failed operation counts, the run goes on
                failures.append(f"{op.name}: {type(e).__name__}: {str(e)[:300]}")
        return time.perf_counter() - t0, lat, recs, True

    # the cold pass runs in list order: its first operation pays the JVM's
    # warm-up, so a seed-permuted order would add that cost's spread to it
    cold_s, cold_lat, _, _ = run_pass(range(len(ops)))
    phases["cold"], rss["cold"] = cold_s, sampler.peak_mb

    t = time.perf_counter()
    check_lat = []
    for op in ops[:1] if args.workload == "etl_write" else ops:
        attempted += 1
        s = time.perf_counter()
        try:
            err = op.check(spark)
        except Exception as e:
            err = f"{op.name}: {type(e).__name__}: {str(e)[:300]}"
        check_lat.append((op.name, time.perf_counter() - s))
        if err:
            failures.append(err)
    phases["check"], rss["check"] = time.perf_counter() - t, sampler.peak_mb

    # untimed warm-up: after the check, an operation still ran 20-30 % slower
    # in its first steady pass than in its fourth
    t = time.perf_counter()
    run_pass(rng.sample(range(len(ops)), len(ops)))
    phases["warm_up"] = time.perf_counter() - t

    store = layers.StatusStore(spark) if args.trace else None
    steady, traced_lat, traced_passes, traced_ops = [], [], [], []
    setups, starts, phases["steady"] = [setup_s], [start_s], 0.0
    n_passes = 0
    # the first pass, and in the traced run the first traced pass, run to
    # the end; the rest stop when their segment's time is up
    full_passes = 1 + args.trace
    # host contention on this box changes over tens of seconds: segments
    # spread over the run average more of it than one block of steady time
    for segment in range(SETUPS):
        if segment:
            t = time.perf_counter()
            s, st = _setup_process(args, sampler)
            setups.append(s)
            starts.append(st)
            phases[f"setup_process_{segment}"] = time.perf_counter() - t
        t = time.perf_counter()
        t_end = t + args.seconds / SETUPS
        while n_passes < full_passes or time.perf_counter() < t_end:
            traced = bool(args.trace) and n_passes % 2 == 1
            _, lat, recs, complete = run_pass(
                rng.sample(range(len(ops)), len(ops)), store if traced else None,
                t_end if n_passes >= full_passes else None)
            n_passes += 1
            if traced:
                traced_lat.extend(lat)
                traced_ops.extend(recs)
                if complete:
                    traced_passes.append(layers.pass_metrics(recs, CORES))
            else:
                steady.extend(lat)
        phases["steady"] += time.perf_counter() - t
    rss["steady"] = sampler.peak_mb
    # next to the RSS: most of the JVM's share is heap that G1 committed
    heap = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()

    steal1, ticks1 = _cpu_ticks()
    latencies = [x for _, x in steady]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "seconds": args.seconds,
        "trace": args.trace,
        "fingerprint": _fingerprint(spark),
        "box": {
            "cpus_online": os.cpu_count(),
            "steal_share": (steal1 - steal0) / max(1, ticks1 - ticks0),
            "loadavg_1m_start": load0,
            "loadavg_1m_end": _loadavg(),
        },
        "setup_s": setups,
        "session_start_s": starts,
        "phase_s": phases,
        # not a printed metric: G1's heap growth, which differs from run to
        # run, moves it by up to 0.21 (quartile distance over median)
        "peak_rss_mb": rss["steady"],
        "peak_rss_mb_after": rss,
        "jvm_heap_mb_after_steady": {"used": heap.getUsed() / 2**20,
                                     "committed": heap.getCommitted() / 2**20},
        "operations_per_pass": len(ops),
        "steady_passes": n_passes,
        "latency_samples": len(latencies),
        "op_s": {
            "cold": [(ops[i].name, x) for i, x in cold_lat],
            "check": check_lat,
            "steady": [(ops[i].name, x) for i, x in steady],
        },
        "attempted": attempted,
        "failed": len(failures),
        "error_rate": len(failures) / attempted,
        "failures": failures,
        "end_to_end": {
            "setup_s": statistics.median(setups),
            "cold_pass_s": cold_s,
            "pass_s": _median_pass(steady),
            "latency_p50_s": statistics.median(latencies),
            "latency_p90_s": _percentile(latencies, 90),
        },
    }
    if args.trace:
        values = {m: statistics.median(p[m] for p in traced_passes) for m in traced_passes[0]}
        values["session.start_s"] = statistics.median(starts)
        values["trace.overhead_s"] = _median_pass(traced_lat) - _median_pass(steady)
        record["layers"] = values
        record["layer_units"] = layers.PER_LAYER_UNITS
        record["traced_op_s"] = [(ops[i].name, x) for i, x in traced_lat]
        record["traced_ops"] = traced_ops
    return record


if __name__ == "__main__":
    sys.exit(main())
