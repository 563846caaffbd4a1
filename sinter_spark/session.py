"""SparkSession factory tuned for the validation engine.

Local-mode defaults are sized from the host: every core
(``os.cpu_count()``) and a driver heap of 40% of physical RAM, capped
at 48g. ``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEMORY`` override those
two; on a real cluster every knob here is overridable via
``extra_conf`` or spark-submit conf. AQE stays on so skewed
aggregations/joins re-plan at runtime; Arrow is on because every
kernel path is Arrow-batched.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """40% of physical RAM, capped at 48g. A max heap above what the
    host has lets the JVM grow past physical memory (GC feels no
    pressure until the heap nears its max) until the kernel kills it."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(int(phys * 0.4) >> 20, 48 * 1024)}m"


def get_spark(
    cores: int | str | None = None,
    app_name: str = "sinter_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores) * 2, 8) if str(cores).isdigit() else 64
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # 64m splits: enough scan tasks to feed every core on wide
        # binary payloads without drowning narrow-column scans in
        # per-task scheduling overhead (measured: 16m → 640 tasks per
        # branch at 10GB, several seconds of pure scheduling at 32
        # threads; 128m → 3 tasks at 200MB, starved cores)
        .config("spark.sql.files.maxPartitionBytes", str(64 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate synthesizes size(arr) > 0 from every
        # explode and PushDownPredicates then moves it below any
        # exchange — for this engine's explodes the array is always a
        # COMPUTED column (violation arrays, LSH band/bucket arrays,
        # gram arrays), so the inferred filter re-evaluates the whole
        # expensive expression on the pre-exchange side (Catalyst does
        # not CSE across exchanges) and can re-serialize it onto one
        # core on a single-row-group input. It never reaches parquet
        # stats (size() is not pushable), so it buys nothing here.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # always use the sort-based shuffle writer: below the default
        # bypassMergeThreshold (200 reduce partitions) Spark's bypass
        # writer creates one file PER REDUCER per map task — 64×64 =
        # 4096 file creates for a 64-partition local shuffle, which on
        # this VM's high-latency disk taxed EVERY shuffle ~1.3 s
        # regardless of data size (measured: a 33k-row repartition
        # round trip 1.6 s → 0.4 s with the sort writer). The sort
        # writer emits one data+index file per map task — exactly what
        # any production shuffle with R > 200 uses anyway, so this
        # aligns local behavior with scale instead of diverging from it
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
