"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point and scaled down by environment:
AQE on (runtime re-plan + skew-join splitting), Arrow enabled for all
pandas UDF exchange, shuffle partitions sized to cores locally (on a real
cluster this is overridden via spark-submit --conf). The driver heap
defaults to min(16g, half of the host's MemTotal); SPARK_DRIVER_MEM
overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _mem_total_kib(meminfo: str = "/proc/meminfo") -> int | None:
    """MemTotal from ``meminfo``, in KiB; None where it can't be read."""
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return None


def _driver_memory() -> str:
    """SPARK_DRIVER_MEM if set, else min(16g, half of MemTotal) in MiB
    (16g where MemTotal can't be read)."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    total = _mem_total_kib()
    cap = 16 << 10
    return f"{cap if total is None else min(cap, total >> 11)}m"


def _cpus() -> int:
    """Cores this host offers Spark: SPARK_GRAFT_CPUS, else os.cpu_count()."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "kenlm_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = _cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # Local mode makes the driver THE executor: a full 84-query sweep
        # at a 100x scale factor needed more than 8g, so the default is
        # 16g, capped at half the host's memory so a small host is not
        # driven into swap.  On a real cluster executor memory is a
        # spark-submit concern, not this default.
        .config("spark.driver.memory", _driver_memory())
        # Benchmark/driver sessions run hundreds of jobs; the context
        # cleaner frees checkpoint/broadcast blocks only after a JVM GC
        # collects their weak references, and the default periodic-GC
        # interval (30 min) is longer than a whole sweep — accumulated
        # blocks OOM'd the 100x local sweep (r8).  2 min keeps block
        # release bounded; no effect on any single query's plan or time.
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def load_table(spark: SparkSession, sf_dir: str, name: str):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def checkpoint_disk(df):
    """Eager localCheckpoint at DISK_ONLY — for CORPUS-SCALE intermediates.

    The default MEMORY_AND_DISK level parks checkpoint blocks in unified
    storage memory, where `spark.memory.storageFraction` PROTECTS them
    from eviction: a benchmark/driver pattern that runs the same query
    twice in one session (the previous run's blocks are only released by
    the async ContextCleaner) starves the second run's aggregations —
    measured at a 100x local scale as AGGREGATE_OUT_OF_MEMORY inside the
    minhash pair machinery (r8).  DISK_ONLY keeps execution memory whole;
    re-reads come through the OS page cache, which held it within noise
    at every measured scale.  Values are unaffected — storage level is
    not a semantic."""
    from pyspark.storagelevel import StorageLevel

    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)


def ensure_min_partitions(df, min_parts: int | None = None):
    """Repartition ONLY if the scan has fewer splits than requested.

    Small single-file inputs otherwise serialize compute-heavy per-row work
    (explode, UDF scoring) onto one task. At production scale the scan has
    thousands of splits and this is a no-op — no shuffle is added.
    """
    spark = df.sparkSession
    min_parts = min_parts or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min_parts:
        return df.repartition(min_parts)
    return df
