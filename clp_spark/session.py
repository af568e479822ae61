"""SparkSession factory tuned for the CLP-style pipeline.

Local defaults: local[N] and N shuffle partitions, N = SPARK_GRAFT_CPUS or
else the cores this process may run on. Every knob is cluster-safe: on a real
multi-executor cluster only `master` changes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "clp-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # one partition per core locally; on a cluster this should be
        # ~2-3x total cores (AQE coalesces the excess).
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # deterministic cross-engine timestamp arithmetic
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime coalescing + skew-join splitting (hot logtypes)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow everywhere: pandas UDFs move batches, not rows. 20000 is a
        # measured compromise: 65536-row batches are ~8% faster on the
        # decode bridge (fewer batch flushes) but regress the staged search
        # path ~40% (one giant batch per partition kills UDF-stage
        # pipelining); see BASELINE.md round 5.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # scan parallelism: default 128 MiB splits are right for 100 TB;
        # keep them so the same code scales down locally via AQE coalesce
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # count(*)/min/max answered from parquet footers where possible
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # task-side output commit (no serial driver-side rename storm for
        # many-file partitioned writes)
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    return builder.getOrCreate()
