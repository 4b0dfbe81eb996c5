"""SparkSession factory with scale-oriented defaults.

Local sandbox runs on ``local[N]``; the same config block is what we'd
ship to a 1000-executor cluster via spark-submit (AQE, skew-join
handling, Arrow batching). Timezone is pinned to UTC because tier
bucketing uses ``date_trunc`` (reference analog: netCDF epoch
"days since 2000-01-01", /root/reference/src/smos/interface.py:116-122).
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
      SPARK_GRAFT_SF_DIR is consumed by bench.py, not here.

    Python workers start through `smos_spark._pydaemon` (PySpark's
    daemon without the per-task rescan of `pyspark.zip`); the package
    root is put on the executors' PYTHONPATH so it resolves from any
    working directory.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
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
        .config("spark.driver.memory", os.environ.get("SMOS_SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "smos_spark._pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
