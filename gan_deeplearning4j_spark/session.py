"""SparkSession factory.

Replaces the reference's backend/Spark setup (dl4jGANComputerVision.java:103-115
CUDA config, :316-322 SparkConf with Kryo + local[4]) with a DataFrame-engine
configuration: Arrow-vectorized Python interop instead of Kryo, AQE instead of
hand-tuned parallelism, UTC session time so timestamp semantics are stable.

Scale notes (100 TB target):
- AQE handles skew-join splitting and post-shuffle coalescing at runtime, so
  ``spark.sql.shuffle.partitions`` here is an upper bound, not a hand-tuned knob.
- ``maxPartitionBytes`` 128m keeps scan tasks memory-bounded regardless of input
  file layout.

Driver cost per query: ``spark.sql.codegen.cache.maxEntries`` is
``CODEGEN_CACHE_ENTRIES`` (Spark's default is 100). The cache maps generated
source to its compiled class, so a long-lived driver that re-runs the same
queries compiles each class once instead of on every pass. It is a static
conf: it takes effect only when ``get_spark`` creates the SparkContext, and
``ensure_engine_conf`` cannot apply it to a session built elsewhere.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import DEFAULT_SEED

# Spark's generated-class cache size. One pass over perfbench's 9 headline
# queries generates 211 distinct classes and one over bench.py's 19 generates
# 312; at the default of 100 every pass evicts and recompiles all of them
# (Janino, then the JIT again). 1000 holds about 3x the largest working set.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "gan_deeplearning4j_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession configured for this engine.

    Static confs (the codegen cache size, driver memory) apply only when this
    call creates the SparkContext; an already running one keeps its own."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus * 2, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark-graft-warehouse"),
        )
        .config("spark.engine.seed", str(DEFAULT_SEED))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    return builder.getOrCreate()


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable subset of engine conf to a foreign session.

    The verification driver hands us its own SparkSession; timestamp-sensitive
    queries (anything comparing/formatting ``timestamp`` columns against a
    DuckDB oracle, which is timezone-naive) require UTC session time.

    Only runtime confs can be set here. Static ones, such as
    ``spark.sql.codegen.cache.maxEntries``, are fixed when the session's
    SparkContext starts, so a foreign session keeps its own codegen cache
    size (Spark's default 100).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark
