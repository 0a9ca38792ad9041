"""SparkSession factory with the engine's standard configuration.

Local mode here (`local[N]`, one JVM); on a real cluster the same confs apply
per executor — nothing below is local-mode-specific except driver memory.
AQE is on (skew-join splitting + partition coalescing handle hot LSH bands at
runtime, SURVEY.md O20); Arrow transfer is on for every pandas UDF boundary.
"""

from __future__ import annotations

import os
import pathlib

from pyspark.sql import SparkSession

# Share of the host's RAM given to the driver heap: in local mode the driver
# JVM shares the host with one Python worker per core, the caller's own
# process and (on tmpfs) the shuffle files.
HEAP_SHARE = 0.4

# Entries of Spark's generated-class cache (spark.sql.codegen.cache.maxEntries,
# default 100), keyed by generated source. One run_pipeline over the
# 3,000-row benchmark corpus generates 145 classes and one run_curation 140,
# 237 distinct between them: an LRU of 100 cycling through 145 keys never
# hits, so every run in a session re-ran Janino and the JIT on ~130 classes
# (measured on 4 vCPU: 12.1 CPU-s of HotSpot compiler threads and 9.0 of
# executor threads per repeated run; with this cache, 0 compiles after the
# first run and 8.7 / 6.2 CPU-s). 1,000 holds several runs' worth of both
# workloads with headroom. Only a session that runs the same plans again
# gains (perfbench's timed call after its warm-up, the test session,
# design_regime's ladders); a one-shot CLI run (jobs/run_pipeline,
# jobs/run_curation: one run per process) compiles each class once either
# way. A static conf: a session that get_spark did not build keeps Spark's
# default.
CODEGEN_CACHE_ENTRIES = 1000


def host_ram_bytes() -> int:
    """Physical RAM (the ``/proc/meminfo`` MemTotal figure) or the cgroup
    memory limit, whichever is lower."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for limit_file in (
        "/sys/fs/cgroup/memory.max",  # cgroup v2; "max" = unlimited
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
    ):
        try:
            limit = pathlib.Path(limit_file).read_text().strip()
        except OSError:
            continue
        if limit.isdigit():
            ram = min(ram, int(limit))
    return ram


def default_driver_memory() -> str:
    """Driver heap sized from the host: HEAP_SHARE of RAM, whole GiB, >= 1g."""
    return f"{max(1, int(host_ram_bytes() * HEAP_SHARE / 2**30))}g"


def default_parallelism() -> int:
    """Local task slots: ``SPARK_GRAFT_CPUS``, else the host's CPU count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    parallelism: int | None = None,
    app_name: str = "simhash_spark",
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    arrow_batch_rows: int = 10_000,
) -> SparkSession:
    if driver_memory is None:
        driver_memory = default_driver_memory()
    if parallelism is None:
        parallelism = default_parallelism()
    if shuffle_partitions is None:
        # ~2x cores: enough granularity for AQE to coalesce, not so many that
        # task overhead dominates at local scale. On a 1000-executor cluster
        # this would be set to ~2-3x total cores instead.
        shuffle_partitions = max(parallelism * 2, 8)
    builder = (
        SparkSession.builder.master(f"local[{parallelism}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(parallelism))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # ObjectHashAggregate (collect_list/collect_set) falls back to a full
        # SORT-based agg after only 128 distinct keys per partition by
        # default; the bucket-pair agg has ~1 group per bucket with bounded
        # (<= bucket_cap) values each, so in-memory hash agg is both safe
        # and ~3x faster. Per-partition bound at cluster scale comes from
        # sizing shuffle partitions, not from this threshold.
        .config("spark.sql.execution.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
        # local-mode shuffle files on tmpfs: this sandbox has very expensive
        # syscalls (70%+ system time on disk-backed shuffle); on a real
        # cluster this conf is per-node spark.local.dir as usual.
        # SPARK_GRAFT_LOCAL_DIR overrides (comma-separated dirs round-robin,
        # like any spark.local.dir): the wide-index design run shuffles more
        # bytes than tmpfs-plus-JVM can hold, so it splits across tmpfs+disk.
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"),
        )
        # Catalyst's Union constraint rewrite crashes with
        # "NoSuchElementException: key not found: <attr>" on the candidate
        # union plan once localCheckpoint re-analyzes it (Spark 4.1,
        # UnionBase.rewriteConstraints). The engine's joins/filters all carry
        # explicit predicates, so inferred constraints buy nothing here.
        .config("spark.sql.constraintPropagation.enabled", "false")
        # bypass-merge shuffle writes reducers x mappers files; with this
        # sandbox's syscall cost that dominated candidate generation (thread
        # dumps: FileChannel.map0/transferTo). Sort-based writer = one file
        # per map task.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        # straggler mitigation FOR CLUSTER DEPLOYMENTS: speculation is a
        # deliberate no-op in local mode (TaskSchedulerImpl.start() skips
        # the speculation scheduler when isLocal), so it neither helps nor
        # hurts here — it is set so the same session factory shipped to a
        # real cluster clones genuine stragglers (quantile 0.75,
        # multiplier 1.5), the standard defense against slow executors.
        .config("spark.speculation", "true")
        .config("spark.speculation.multiplier", "1.5")
        .config("spark.speculation.quantile", "0.75")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread_small_input(df, min_partitions: int | None = None):
    """Round-robin repartition a NARROW input scan up to session parallelism.

    A single-file, single-row-group parquet table (the driver's sf tables)
    is an unsplittable scan: every downstream CPU-heavy stage (fingerprint /
    winnow / shingle explode) then runs as ONE task no matter how many cores
    the session has. This guard repartitions only when the scan has fewer
    partitions than the session's default parallelism — at production scale
    the input already has thousands of splits, the condition is false, and
    NO shuffle is added. The added exchange for small inputs moves the raw
    rows once, before any per-row expansion multiplies the volume.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
