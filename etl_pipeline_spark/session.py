"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we would set per-executor on a real
cluster: AQE on (skew-join splitting + partition coalescing), Arrow
enabled for the pandas-UDF cleaning path, shuffle partitions sized to
cores (not the 200 default), UTC session timezone so results compare
bit-for-bit against the DuckDB oracle. Spark's generated-code cache
(``spark.sql.codegen.cache.maxEntries``) is sized to the engine's
working set so warm queries reuse their compiled classes; it is a
static conf, so only sessions built here get it (a caller's session
passed to ``__spark_entry__`` keeps Spark's default of 100).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Entries in Spark's JVM-wide LRU cache of generated classes (Spark's
# default is 100). One pass over the whole queries.QUERIES registry
# (sf0.01) plus a CDC replay and compaction compiles 1,599 distinct
# classes (read from CodegenMetrics with an unbounded cache; the 12
# benchmark analytics queries alone need about 185). At 100 every warm
# pass evicts and recompiles its classes in a cycle, and the JIT then
# compiles each new class again. 4096 leaves headroom for plan shapes
# that change with data size, and for Guava's per-segment LRU (4
# segments of 1,024). Static: it must be on the builder.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "etl_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. On a real cluster the same confs ship via
    ``spark-submit --conf``; nothing here is local-only except the
    driver-memory sizing.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # INT96 (Spark's legacy default) is deprecated in the Parquet
        # spec, 50% wider, and carries NO footer min/max statistics —
        # which disables both Spark's own row-group pruning on ts
        # predicates and the manifest-level file pruning behind
        # MiniLakeTable.read_range. TIMESTAMP_MICROS is what Iceberg,
        # DuckDB and modern writers emit.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # micro-batch changelog files are tens of MB; default 128MB splits
        # would pin each batch's map side to one task
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        # table reads name their dirs from the manifest (a compaction of
        # a 32-bucket table with one delta each passes 64); past the
        # default threshold of 32 Spark lists them with a Spark job of
        # one task per dir, which costs far more than listing them here
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
