"""SparkSession factory tuned for this engine.

Local test profile runs on local[N]; the same configuration keys are the
ones that matter on a large cluster (AQE, adaptive skew join, pushdown).
Nothing here is local-mode-specific except the master default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "topic_store_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-oriented defaults.

    AQE is enabled so partition counts coalesce at runtime and skewed
    joins split automatically — the same plan survives a 100x scale-up
    where static tuning would not.

    Python workers start through ``topic_store_spark.worker_daemon``
    (``spark.python.daemon.module``, a Spark extension point): it drops
    Spark's ``pyspark.zip``, py4j zip and spark-core jar from the
    worker's ``sys.path`` when the same pyspark and py4j versions import
    from a directory, and otherwise changes nothing.  With the archives
    on the path every task re-reads their zip directories: an identity
    ``mapInArrow`` over 2 partitions cost 360-440 ms of worker CPU with
    them and 50-60 ms without (local[2], 4-vCPU VM).
    """
    # executor python workers must be able to import this package even when
    # the driver script runs from elsewhere (UDF/mapInPandas closures
    # reference module functions by name)
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r11: AQE's coalescing floor is BYTE-based (default 1MB/
        # partition) and badly underestimates CPU-dense work — a
        # few-MB candidate-pair shuffle feeding array_intersect
        # verification coalesced to 2 tasks and serialized the most
        # expensive stage of the dedup carriers (measured: the whole
        # dedup_word_overlap query 5.1-6.9s -> ~3.3s from this floor
        # alone, both PPJoin variants).  64k keeps small CPU-heavy
        # stages parallel; at real scale post-shuffle partitions are
        # far above any floor, so this only affects the regime where
        # coalescing was hurting.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # r12: the default 100-entry whole-stage-codegen class cache
        # thrashes under any multi-query workload — 50 distinct queries
        # generate far more codegen units, so every execution re-ran
        # janino compilation for every stage.  Measured: the word-overlap
        # carrier 5.72s -> 2.76s min in a 14-query session from this
        # alone (matching its solo-session 2.88s).  5000 cached classes
        # is a few hundred MB of driver/executor metaspace at worst —
        # nothing against a 100 TB workload's compile churn.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "topic_store_spark.worker_daemon")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
