"""SparkSession factory with the engine's standard configuration.

All knobs here are scale knobs: in the sandbox we run ``local[N]`` with a
modest shuffle-partition count; on a real cluster the same builder is used
by ``spark-submit --py-files`` entry scripts with ``master`` left to the
submitter and ``shuffle_partitions`` sized to ``2-3x total executor cores``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """~40% of physical RAM, clamped to [8g, 16g].

    Round-2 raised the cap to 48g ("GC trouble at 8g"); the round-3
    controlled heap × parallelism matrix (tools/bench_matrix.py,
    BENCH/matrix.json: fresh JVM per cell, 27M-edge PageRank, repeats)
    found NO reproducible 48g advantage — cell medians at 8g matched or
    beat 48g at both local[8] and local[32], and the round-2 recorded
    scaling collapse happened under the 48g default. A modest cap also
    mirrors what a per-executor heap on a real cluster looks like;
    SPARK_GRAFT_DRIVER_MEM overrides either way."""
    try:
        total_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
    except (ValueError, OSError, AttributeError):
        total_gb = 16.0
    return f"{max(8, min(16, int(total_gb * 0.4)))}g"


def _usable_cores() -> int:
    """Cores this process may run on (its CPU affinity set, which honours
    taskset and container cpusets), not the host's total."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def get_spark(
    app_name: str = "spark-gds",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for iterative graph jobs.

    - AQE on: coalesces the many small shuffles of late supersteps and
      splits skewed message partitions at runtime (we *also* salt hot keys
      semantically; AQE alone splits by bytes, not by key).
    - Arrow on: every Python-side kernel in this engine is a vectorized
      pandas/Arrow UDF (``applyInPandas`` / ``mapInArrow``); there are no
      per-row Python UDFs anywhere.
    - Explicit shuffle partition count: iterative superstep jobs are far
      more sensitive to fixed shuffle width than one-shot ETL; the default
      200 thrashes small-scale runs and undershoots large clusters.
    """
    cores = os.environ.get("SPARK_GRAFT_CPUS") or str(_usable_cores())
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        # local[N] → N shuffle partitions; cluster submitters override.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cores
        shuffle_partitions = 32 if n == "*" else int(n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Iterative algorithms re-plan every superstep; keep planner chatter low.
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Superstep loops cache the edge plan + localCheckpoint state every
        # iteration; an undersized heap turns the loop GC-bound (measured:
        # 8g caused GCLocker retry storms and 1.6× superstep slowdown at
        # 27M edges on the 128 GiB sandbox). Local mode = one JVM for
        # driver + executors, so size it like an executor: ~40% of physical
        # RAM, clamped to [8g, 16g]; SPARK_GRAFT_DRIVER_MEM overrides.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
