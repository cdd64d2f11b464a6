"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for correctness at local[*] test scale while staying the
right *shape* for a 1000-executor cluster: AQE on (runtime re-plan +
skew-join splitting), Arrow on (every pandas UDF is Arrow-batched),
shuffle partitions sized to the parallelism level.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ent-res-feedback-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Parameters
    ----------
    cores: local parallelism (``local[cores]``); default ``local[*]``.
        The scaling protocol (BENCH/BASELINE.md) runs interleaved
        local[2] vs local[8] pairs on disjoint pinned cores.
    shuffle_partitions: defaults to ``max(2 * cores, 32)`` — at cluster
        scale this would instead be sized to total executor cores; AQE
        coalesces small post-shuffle partitions either way.
    """
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        n = cores if cores else (os.cpu_count() or 8)
        shuffle_partitions = max(2 * n, 32)

    # NOTE (round-6, measured): a custom preloading Python-worker daemon
    # (spark.python.daemon.module importing numpy/pandas pre-fork) was
    # probed and REVERTED — module imports amortize through the OS page
    # cache across workers, so the preload bought nothing while adding a
    # failure surface. The per-task Python cost it did not touch has a
    # measured cause: pyspark's worker calls importlib.invalidate_caches()
    # once per task (setup_spark_files), and on CPython 3.11 each of a
    # warm worker's ~16 zipimporters then re-reads the pyspark.zip
    # directory — 137-253 ms per task, timed inside the worker (a trivial
    # pandas UDF over 8k rows: 291 ms; the same query without Python:
    # 41 ms). That is pyspark's worker, not a setting here, so the engine
    # cuts Python tasks per job (CC's driver finish, no Python in the
    # lineage or the feedback round's doc lookup) instead of tuning the
    # worker.

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime re-plan, small-partition coalesce,
        # automatic skew-join splitting for the hot-block self-join.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # SIZE-based coalescing, not parallelism-based: AQE's default
        # parallelism-first mode coalesces every post-shuffle stage to
        # ~1 partition per core, which quantizes pandas-UDF-heavy stages
        # (featurization costs ~6.5 s/MB, so a 21 MB task is a ~135 s
        # straggler; measured in BENCH/ANALYSIS.md "size-based AQE
        # coalescing"). A small 2 MB advisory target keeps those stages
        # at fine equal quanta — straggler loss bounded by one quantum —
        # and leaves the deliberate shuffle-partition sizing alone
        # (partitions above 2 MB are never merged), while genuinely tiny
        # shuffles still coalesce. 2 MB beat 8 MB head-to-head in the
        # 550k-doc probe (8-core arm 45.6s vs 65.6s: at 8 MB the heavy
        # stage collapsed to 1 task/core, the exact quantization this
        # setting removes). The quantum is data-sized, not cluster-sized,
        # so the same setting holds from local[2] to a 1000-executor
        # cluster; it also sets the skew-join split granularity.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow batching for every pandas UDF / applyInPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Keep parquet scans prunable: one row-group sized split per task.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Deterministic timestamps in tests.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file (a job's JSON report) through Spark's
    Hadoop FileSystem, so it lands on the same filesystem as the job's
    parquet outputs: with a ``file://``, ``hdfs://`` or ``s3a://`` path a
    plain ``open()`` would create a bogus local ``file:/...`` tree under
    the working directory instead. Parent directories are created."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    out = hpath.getFileSystem(conf).create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
