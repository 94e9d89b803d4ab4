"""SparkSession factory.

Pinned defaults for determinism and scale-readiness:
  - UTC session timezone (oracle comparisons; ref serializes ISO-8601 UTC,
    lib/Connections2JSONLD.js:84-85).
  - AQE on (runtime coalesce + skew-join handling — the engine's MemStore/
    LevelStore duality analog, ref lib/GtfsIndex.js:99-146, is broadcast vs
    shuffled join and AQE picks).
  - Arrow on (the extraction stage is an Arrow-batched pandas UDF).
  - shuffle partitions sized to local cores; on a real cluster set this to
    ~2-3x total executor cores via spark-submit conf.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)


def default_driver_memory(mem_total_kib: int | None) -> str:
    """Driver heap for a host with ``mem_total_kib`` of physical memory:
    about 40% of it in whole GiB (at least 1g), capped at 16g. The JVM's
    RSS runs well above its heap (off-heap buffers, metaspace, Python
    workers beside it), so a heap near the host's RAM gets the JVM
    OOM-killed. ``None`` (size unknown) keeps the 16g cap."""
    if mem_total_kib is None:
        return "16g"
    return f"{max(1, min(16, int(mem_total_kib * 0.4) // (1 << 20)))}g"


def _mem_total_kib() -> int | None:
    """``MemTotal`` from /proc/meminfo; None where it is unavailable."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def get_spark(
    app_name: str = "gtfsrt2lc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session. Env overrides:

    SPARK_GRAFT_CPUS   -> local[N] parallelism (default local[*])
    SPARK_GRAFT_DRIVER_MEM -> driver memory (default: ``default_driver_memory``
                              of the host's MemTotal, logged at INFO)
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32
    if driver_memory is None:
        driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        if driver_memory is None:
            driver_memory = default_driver_memory(_mem_total_kib())
            log.info("spark.driver.memory=%s (sized from host memory)", driver_memory)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # binary/html columns are KB-sized: default 10k-row Arrow batches
        # balloon to 100s of MB per python worker and collapse throughput at
        # high thread counts (measured 4x at local[32]); cap the batch size
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        # dictionaries broadcast, page facts never do (SURVEY.md §4)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
