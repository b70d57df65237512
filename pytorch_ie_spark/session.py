"""SparkSession factory with scale-oriented defaults.

Local mode is the sandbox proxy for a multi-executor cluster; every config
here is chosen to also be the right default on a 1000-executor cluster
reading 100 TB (AQE on, adaptive coalescing, Arrow for all pandas UDF
boundaries, sane shuffle partition count).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# At cluster scale shuffle partitions should track total cores (2-3x);
# locally we match the local[N] thread count to avoid tiny-partition overhead.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "pytorch_ie_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # static conf: the generated-class LRU must hold a pass's working
        # set, or every warm pass recompiles. Measured working sets: 141
        # classes per kg_build benchmark pass, 90 per incremental-ingest
        # pass; with Spark's default of 100 a warm kg_build pass recompiled
        # 127-129 of them
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # deterministic float handling for correctness comparisons
        .config("spark.sql.legacy.allowNegativeScaleOfDecimal", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
