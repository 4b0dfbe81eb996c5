"""SparkSession factory with scale-oriented defaults.

Local sandbox runs on ``local[N]``; the same config block is what we'd
ship to a 1000-executor cluster via spark-submit (AQE, skew-join
handling, Arrow batching). Timezone is pinned to UTC because tier
bucketing uses ``date_trunc`` (reference analog: netCDF epoch
"days since 2000-01-01", /root/reference/src/smos/interface.py:116-122).

Execution memory is bounded per task by the Tungsten page size
(``spark.buffer.pageSize``), the analog of the reference's explicit
pivot buffer (its ``--imgbuffer``, ``src/smos/reshuffle.py:135-138``).
Spark's default derives the page from the heap, 64 MB under the 8 GB
driver, and every hash aggregate, sort and broadcast hash relation
takes at least one page per task. The engine pins 2 MB: a task still
reaches 16 GB (8192 pages), above any executor's per-task share; a
record larger than a page gets a page of its own size; and pages stay
at or above the 1 MB floor from which the on-heap allocator pools
them. ``extra_conf`` overrides it like any other setting.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

#: the directory that holds the smos_spark package
_PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)


def get_spark(
    master: str | None = None,
    app_name: str = "smos_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's config.

    Defaults honor the driver environment variables:
      SPARK_GRAFT_CPUS  → local[N] parallelism (default 32)
    A driver launched by spark-submit keeps spark-submit's `--master`
    unless `master` is given.

    Python workers start through `smos_spark._pydaemon` (PySpark's
    daemon without the per-task rescan of `pyspark.zip`); the package
    root is put on the executors' PYTHONPATH so it resolves from any
    working directory.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # spark-submit starts the JVM first and hands it to the Python driver
    # through this variable; the JVM's conf already holds its --master
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        master = f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = SparkSession.builder
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder.appName(app_name)
        # --- correctness-critical ---
        .config("spark.sql.session.timeZone", "UTC")
        # overflow raises instead of wrapping; the exact-integer
        # operators state their domain against this (Spark 4's default,
        # pinned so a cluster-wide override cannot turn it off)
        .config("spark.sql.ansi.enabled", "true")
        # --- scale/perf: these are the flags we'd set on the real cluster ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size ≙ reference --imgbuffer memory knob
        # (/root/reference/src/smos/reshuffle.py:135-138)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Tungsten page: every task that runs a hash aggregate, a sort or
        # a broadcast hash relation takes at least one page, and Spark
        # derives the default from the heap (64 MB under an 8 GB driver)
        # while this engine's tasks hold a few hundred KB to a few MB.
        # A task can hold at most 8192 pages, so 2 MB still lets it use
        # 16 GB, more than any executor's per-task execution memory. A
        # record larger than a page gets a page of its own size. The
        # on-heap allocator pools pages of 1 MB and more, so a smaller
        # page would be allocated fresh every time. The page also bounds
        # the first-level hash map of a code-generated partial aggregate
        # (one page, at most 65,536 rows), so more of a large map task's
        # groups go to the second-level map: the same rows in another
        # order, which moves the 1m tier's shuffle bytes by 0.3%.
        .config("spark.buffer.pageSize", "2m")
        .config("spark.python.daemon.module", "smos_spark._pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
