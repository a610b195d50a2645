"""SparkSession factory tuned for this engine.

Local mode here stands in for a multi-executor cluster: all knobs are
chosen so the same code scales out (AQE, partition counts sized to
cores, Arrow batches for the pandas-UDF kernels).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pyrosar_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "48g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. Shuffle
    partitions default to 2× cores locally — on a real cluster this
    would be sized to total executor cores; AQE coalesces the rest.

    The generated-code cache (``spark.sql.codegen.cache.maxEntries``,
    a static conf, so it is set here in the builder) holds 1000 classes
    instead of Spark's default 100. One ``corpus_dedup`` pass
    (near_dup_pairs, dup_ngram_spans, strip_boilerplate_chunks,
    dedup_clusters) needs ~137 distinct classes; repeated in order
    against a 100-entry LRU, every lookup misses and each pass would
    recompile all of them with Janino. At 1000 a repeated query
    compiles nothing. ``extra_conf`` can still override it.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus * 2, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # file-split bin-packing: the 128MB default packs a many-small-
        # file table into a handful of scan tasks (measured: a 2M-doc
        # table read as ~8 tasks left 24 of 32 cores idle and slowed the
        # flagship 5x). 16MB keeps >=4 task waves per core at every
        # size this sandbox runs; a real cluster sizes this to
        # total-cores x waves as usual.
        .config("spark.sql.files.maxPartitionBytes", "16777216")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
