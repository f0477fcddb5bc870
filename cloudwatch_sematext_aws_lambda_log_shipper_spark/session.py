"""SparkSession factory with scale-aware defaults.

Local mode for tests/bench; on a real cluster the same conf keys apply
(AQE, adaptive skew-join, Arrow) and only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .config import DEFAULT_CONFIG, EngineConfig, local_cpus


def get_spark(
    app_name: str = "log_shipper_spark",
    config: EngineConfig = DEFAULT_CONFIG,
    master: str | None = None,
) -> SparkSession:
    builder = (
        SparkSession.builder.master(master or f"local[{local_cpus()}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(config.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        # 24g, not the full host RAM: with a 90g heap G1's young gen
        # balloons to ~45GB and allocation-heavy paths (gzip Arrow UDF,
        # variant parse) hit 2-10s young-GC pauses — measured 10-120s
        # intermittent stalls on identical queries. 24g keeps pauses
        # sub-100ms at sf0.1 while leaving headroom for broadcast joins.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        # The exact-arith ANN paths codegen 64+-term unrolled dot
        # expressions whose generated methods exceed HotSpot's
        # 8000-byte DontCompileHugeMethods ceiling — by default those
        # methods run BYTECODE-INTERPRETED (measured 9x slower than
        # JIT'd on a 1.5M-row scoring join; slower even than the
        # interpreted HOF fold). Lifting the ceiling lets C2 compile
        # them. -Xss64m: Catalyst's tree transforms recurse once per
        # expression node, and a dim-768 unrolled left-fold (1537
        # nodes) overflows the default ~1MB thread stack AT PLAN TIME
        # (StackOverflowError in withColumn) — a deeper stack is the
        # fix that keeps the fold's bit pattern intact. Same flags
        # belong in spark.executor.extraJavaOptions on a real cluster
        # (local[...] executors share the driver JVM).
        # -XX:ReservedCodeCacheSize=512m: with DontCompileHugeMethods
        # off, C2 emits unusually LARGE nmethods for the unrolled dot
        # folds, and a session that plans/compiles hundreds of distinct
        # query shapes (the bench, a long-lived service) fills the
        # default 240m cache — measured r16: the non-profiled CodeHeap
        # hit used=118879Kb free=0Kb mid-bench, after which new hot
        # methods stay tier-3/interpreted (a uniform ~1.3-1.45x
        # late-session inflation with zero GC signal; the unresolved
        # r15 "full-bench poisoning"). 512m is the measured fix, not a
        # local-mode tuning: any long-lived deployment of this engine
        # compiles the same kernels.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:-DontCompileHugeMethods -Xss64m"
            " -XX:ReservedCodeCacheSize=512m",
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:-DontCompileHugeMethods -Xss64m"
            " -XX:ReservedCodeCacheSize=512m",
        )
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark_graft_warehouse"),
        )
    )
    for k, v in config.extra_spark_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
