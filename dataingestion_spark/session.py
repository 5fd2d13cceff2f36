"""SparkSession factory with the engine's recommended configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark starts every Python worker from this module (see worker_daemon.py).
WORKER_DAEMON_MODULE = "dataingestion_spark.worker_daemon"


def get_spark(app_name: str = "dataingestion_spark", cpus: str | int | None = None,
              shuffle_partitions: int | None = None, driver_mem: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Local-mode session tuned for this engine.

    On a real cluster, drop ``master`` and size ``spark.sql.shuffle.partitions``
    to ~2-3× total executor cores; everything else carries over. UTC session
    time zone is required for engine-independent timestamp semantics, and
    nanosAsLong lets Spark read TIMESTAMP(NANOS) parquet.

    Python workers fork from ``WORKER_DAEMON_MODULE``, so executors must be
    able to import ``dataingestion_spark``, as they already must for the
    package's UDFs, and before any task runs: install it in the executors'
    Python rather than ship it with ``addPyFile``.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "*"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or (32 if cpus == "*" else cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffled-hash joins are enabled through AQE's RUNTIME threshold
        # only (rewrite decided from observed post-shuffle sizes): the
        # static planner's preferSortMergeJoin=false route sizes the
        # build side from estimates that can be badly wrong after
        # filters/UDFs, and an SHJ build side does not spill — a
        # misestimate there can OOM where sort-merge would have spilled
        # (r14 ADVICE). Measured r15: with the current plans the static
        # preference selected no SHJ anywhere (executed ann_recall /
        # bm25_hybrid / kmv_setops plans identical under both settings),
        # so keeping the safe default costs nothing. Env-tunable.
        .config("spark.sql.join.preferSortMergeJoin",
                os.environ.get("SPARK_GRAFT_PREFER_SMJ", "true"))
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "64m"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # manifest-store reads pass exact file paths (often >32 of them);
        # the default threshold (32) turns every such read into an extra
        # distributed-listing Spark job, which on local FS costs more than
        # the sequential driver stat it replaces. Cluster deployments on
        # object stores should restore the default (driver-side HEADs of
        # hundreds of paths are slower than one listing job there).
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        .config("spark.driver.memory",
                driver_mem or os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.python.daemon.module", WORKER_DAEMON_MODULE)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
