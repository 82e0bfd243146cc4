"""SparkSession factory with the engine's config posture.

Reference parity (SURVEY.md §4): the reference is fail-fast on parse errors
(``MsgIO.scala:93-96``, ``MsgTransformations.scala:216-221``). We reproduce
that *posture* with ``spark.sql.ansi.enabled=true`` so casts throw instead of
silently yielding NULL. Individual operators that intentionally tolerate bad
input use ``try_cast`` explicitly, so they behave identically whether or not
the session that runs them is ANSI (the driver harness supplies its own
session; nothing in this package may depend on session-level ANSI).

Scale posture: batch shuffles are sized by BYTES, not cores — AQE starts
them at ``coalescePartitions.initialPartitionNum`` (default 1024 here) and
coalesces neighbors up to the advisory partition size, so a laptop-sized
input collapses to a few tasks while a 100 TB shuffle keeps enough
partitions that no single sort task owns tens of millions of rows.
``spark.sql.shuffle.partitions`` stays at the core count only for the
paths AQE cannot resize (stateful streaming state stores). AQE also
handles skew-join splitting at runtime.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# the worker daemon shim (see its docstring); alone in its directory, so
# putting that directory on the workers' path exposes nothing else
_DAEMON_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pydaemon")
# Spark and PySpark name each Unix socket "<dir>/.<uuid4>.sock", 43 bytes
# past the directory; sun_path holds 107 bytes and a NUL
_SOCKET_NAME_BYTES = 43
_SUN_PATH_BYTES = 107


def _default_heap() -> str:
    """Half of physical RAM in whole GiB, at least 1g, capped at 16g."""
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, min(16, ram // 2 // 2**30))}g"


@functools.cache
def _socket_dir() -> str | None:
    """A private (0700) directory for this process's Unix sockets, made on
    first use and removed at exit, or None when no directory short enough
    for a socket path can be made. ``$TMPDIR`` comes first; a deep one
    (a benchmark's per-run work directory) falls back to ``/tmp``."""
    for base in (tempfile.gettempdir(), "/tmp"):
        try:
            path = tempfile.mkdtemp(prefix="etl-", dir=base)
        except OSError:
            continue
        if len(os.fsencode(path)) + _SOCKET_NAME_BYTES <= _SUN_PATH_BYTES:
            atexit.register(shutil.rmtree, path, True)
            return path
        os.rmdir(path)
    return None


def _python_worker_conf(master: str) -> dict[str, str]:
    """How a local session starts and reaches its Python workers; nothing
    for other masters, whose workers run on hosts that hold neither the
    shim's directory nor the socket directory."""
    if not master.startswith("local"):
        return {}
    conf = {
        # Workers import PySpark from the installed package, not from
        # pyspark.zip (see pydaemon/etl_pydaemon.py). 4-core box, sf0.01,
        # these two lines alone, 2 sessions a side: a session's first
        # multimodal_jpeg_pixel_stats 3.37/3.47 -> 2.92/2.93 s, steady
        # queries unchanged. With all four lines, fresh local[4] session,
        # first Python query's 4 tasks summed, 3 sessions a side:
        # python.boot_s 2.24-2.33 -> 0.64-0.77 s; perfbench curation
        # cold_pass_s 6.65 -> 6.15 s (medians, lower in 10 of 10 pairs).
        "spark.python.daemon.module": "etl_pydaemon",
        "spark.executorEnv.PYTHONPATH": _DAEMON_DIR,
    }
    sock = _socket_dir()
    if sock is not None:
        conf.update({
            # Python workers and local-data transfers over a Unix socket
            # instead of loopback TCP, where some tasks stall for one
            # delayed ACK (~40 ms). multimodal_wav_sample_stats at sf0.01,
            # socket line alone, median of 15 runs in 2 sessions a side:
            # 0.145/0.141 -> 0.108/0.102 s. All four lines against none,
            # the 42 multimodal_*/knn_* queries at sf0.01, 6 sessions a
            # side: total 11.2-12.0 -> 10.8-11.8 s, lower in every
            # session; wav, mp3, mp4, ogg, webm -38 to -46 ms each.
            "spark.python.unix.domain.socket.enabled": "true",
            # Unix-socket mode skips the TCP auth secret; a 0700
            # directory keeps other users from connecting instead.
            "spark.python.unix.domain.socket.dir": sock,
        })
    return conf


def get_spark(
    app_name: str = "monster-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    ansi: bool = True,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    A ``local*`` master also gets the Python-worker lines of
    :func:`_python_worker_conf`; ``extra_conf`` overrides any line.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    cores = os.cpu_count() or 32 if cpus == "*" else int(cpus)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # default: one shuffle partition per core — right for the test SFs
        # and for stateful streaming (state-store partitioning is fixed at
        # first checkpoint and AQE never applies to streaming shuffles).
        # Batch shuffles do NOT inherit this number: AQE starts them at
        # `initialPartitionNum` (below) and coalesces to ~advisory-sized
        # partitions, so big sorts/joins are sized by bytes, not by cores.
        # SPARK_GRAFT_SHUFFLE_PARTITIONS still overrides both for soaks.
        env_sp = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        if env_sp:
            shuffle_partitions = int(env_sp)
        else:
            shuffle_partitions = cores
    # Scale-adaptive shuffle sizing ON BY DEFAULT (round-4 finding: the
    # per-core default OOMs an 8g heap at sf100 — 32 partitions x 19M rows
    # per sort task — and spill-drags the contamination join 2.2x; see
    # SCALE.md third decade). AQE's coalescing starts every batch shuffle
    # at `initialPartitionNum` and merges neighbors up to the advisory
    # size, so small SFs land on a handful of tasks while a 21 GB shuffle
    # keeps ~hundreds of ~64 MB partitions — the 128-256 MB/partition rule
    # applied automatically instead of via an env knob.
    initial_partitions = max(1024, shuffle_partitions)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE, its partition coalescing and its skew-join splitting are on
        # by default in Spark 4 (tests/test_session.py pins them)
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(initial_partitions),
        )
        # Let AQE coalesce shuffles UNDER persist()/cache too (off by
        # default): without it a cached subtree materializes at the full
        # initialPartitionNum — bpe_learn_merges' vocabulary cache came
        # out as 1024 partitions at sf0.1, and every per-round pair-count
        # rescan then paid a 1024-task wave (~0.5-1 s/round of pure
        # scheduling; round-11, guide §2.2 "fewer, larger partitions").
        # Output PARTITIONING of a cache is not part of any result
        # contract here (all declared queries canonicalize order).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # AQE coalescing is parallelism-first (default), but its floor is
        # minPartitionSize=1m — a CPU-dense shuffle over a few MB (the
        # inverted shingle self-join: 5 x 1 MB partitions at ~0.8 s CPU
        # each at sf0.1) collapses to a handful of tasks and serializes.
        # A smaller floor lets small intermediates use the cores
        # (target stays max(bytes/defaultParallelism, floor)); at scale
        # bytes/parallelism >> advisory, so this is inert at 100 TB
        # (round-11; guide §2.5 stragglers / §2.2 partition sizing).
        # 16k was TRIED and REVERTED (round-11 second pass): a stage
        # sweep showed 0.3-0.7 s coalesced-to-one-task stages on
        # sub-256k CPU-dense shuffles, but lowering the floor globally
        # exploded task counts on the mid-size (tens-of-MB) shuffles —
        # measured on text_bigram_logprob: floor 256k = 1.43 s best /
        # no >=100-task stages; 16k = 3.24 s with four 512-task stages;
        # 64k = 9.4 s with 144-task stages (per-task codegen/hash-build
        # setup dominates CPU-dense joins). Bytes-blind global floors
        # cannot fix per-operator serialization; the remaining serial
        # tails are accepted (or spread at the operator where safe).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        # File splits are max(openCost, (bytes + files x openCost) / cores),
        # capped at maxPartitionBytes: with the 4m default a 6 MB TSV scans
        # (and its JSON output writes) as 2 tasks on 4 cores; at 1m, 4.
        # Interleaved A/B on a 4-core box, perfbench etl_write (seeds
        # 21-25, 5 rounds), pass_s median: 4m 3.10 s, 1m 2.45 s, 512k
        # 2.19 s; 1m and 512k both beat 4m in 5/5. 1m vs 512k over 10
        # rounds (seeds 21-30): 2.29 vs 2.09 s, 512k lower in 7/10 only
        # (it cuts the 6.2 MB file into 3 x 1.68 + 1.16 MB, 1m into
        # 3 x 1.82 + 0.77 MB), not the 9/10 a kept gain needs, so the
        # value nearer the default stays. Cost at
        # scale: once bytes/cores passes 128 MB this line no longer sets
        # the split size, but every file is charged 1m instead of 4m when
        # files are packed into a task, so a layout of many small files
        # packs up to 4x more of them per task.
        .config("spark.sql.files.openCostInBytes", "1m")
        # PySpark 4's DataFrame-debugging wrapper adds ~3 py4j round
        # trips (conf.get + origin set/clear) plus a Python stack walk to
        # EVERY Column/DataFrame API call; expression-dense operators pay
        # seconds of driver time per plan BUILD (dedup_simhash: 9,439
        # round trips = 2.3 s before, 0.6 s after; whole-bench build time
        # 35.9 s -> measured below). Error messages lose only the
        # user-code call-site enrichment (round-11; guide §4 — the
        # JVM<->Python boundary exists on the driver too).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "true" if ansi else "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # local[32] is a single JVM doing 32 executors' work: media
        # queries stream ~100 MB of blobs per task through Arrow with
        # several transient copies JVM-side, so an 8g heap OOMs the
        # whole process at sf10 (observed on the animated-GIF tier,
        # 17 GB of blobs in flight). Measured sweet spot is 16g: 8g
        # dies, 48g is ~1.7x SLOWER on the same query (G1 young gen
        # sprawls over tens of GB and cache/TLB locality collapses).
        # On a real cluster this maps to ordinary executor sizing. Under
        # 32 GB of RAM the default is half of physical memory (the rest
        # is for Python workers and the page cache); SPARK_DRIVER_MEMORY
        # overrides.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", _default_heap()))
    )
    for k, v in {**_python_worker_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
