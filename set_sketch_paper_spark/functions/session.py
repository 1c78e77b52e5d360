"""SparkSession construction with scale-appropriate defaults.

local[N] in this sandbox stands in for an N-executor cluster; every setting
here is one we would also set (with larger numbers) via spark-submit on a
real cluster: AQE for runtime re-planning and skew-join splitting, Arrow for
the pandas-UDF boundary, and shuffle partitions sized to the parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Janino-compiled class cache (spark.sql.codegen.cache.maxEntries, default
# 100).  One NearDupPipeline op compiles ~85 classes cold, so at 100 entries
# the LRU evicts its own classes: on the perfbench batch_dedup corpus every
# warm op recompiled 19 of them; at 2000 a warm op compiles 0.
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "set-sketch-paper-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # ~2x cores keeps all threads busy through stragglers without
        # drowning small stages in task overhead
        shuffle_partitions = max(8, 2 * cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
