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

import os

from pyspark.sql import SparkSession


def _default_heap() -> str:
    """Half of physical RAM in whole GiB, at least 1g, capped at 16g."""
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, min(16, ram // 2 // 2**30))}g"


def get_spark(
    app_name: str = "monster-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    ansi: bool = True,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
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
    env_init = os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS")
    initial_partitions = int(env_init) if env_init else max(1024, shuffle_partitions)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(initial_partitions),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
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
        # PySpark 4's DataFrame-debugging wrapper adds ~3 py4j round
        # trips (conf.get + origin set/clear) plus a Python stack walk to
        # EVERY Column/DataFrame API call; expression-dense operators pay
        # seconds of driver time per plan BUILD (dedup_simhash: 9,439
        # round trips = 2.3 s before, 0.6 s after; whole-bench build time
        # 35.9 s -> measured below). Error messages lose only the
        # user-code call-site enrichment (round-11; guide §4 — the
        # JVM<->Python boundary exists on the driver too).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # executeTake's incremental partition scan (1, then x4 per wave)
        # serializes every bounded probe: CC's take(cap+1) on the jaccard
        # pair subtree ran as FOUR sequential jobs of 1/4/16/11 tasks
        # (~2.1 s of the q_corpus_curation wall at sf0.1, stage-level
        # evidence in OPTIMIZATION_r12.md). Starting the first wave at
        # the core count turns that into one parallel wave. Scale-safe:
        # extra work per take() is bounded by (cores - 1) partitions,
        # and every take/limit site in this engine is a bounded probe on
        # an expensive subtree, where one wave strictly wins (round-12;
        # guide §2.6 stragglers/idle capacity). Capped at the core count
        # so a large SPARK_GRAFT_SHUFFLE_PARTITIONS soak value does not
        # widen every probe's first wave past one wave of tasks.
        .config("spark.sql.limit.initialNumPartitions", str(min(shuffle_partitions, cores)))
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
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
