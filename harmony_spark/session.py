"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]``; the same config block is what we would
ship to a 1000-executor cluster — AQE on (runtime shuffle-partition
coalescing + skew-join splitting), Arrow for every pandas-UDF boundary,
and shuffle partitions sized for the local box (one per core unless
the caller passes ``shuffle_partitions``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "harmony-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime coalescing of shuffle partitions + skew-join handling.
        # At 100 TB these replace hand-tuned static partition counts.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalesce floor (default 1m) sizes partitions by BYTES,
        # which under-parallelizes CPU-bound post-shuffle stages whose
        # data is small but whose per-row work is heavy (window sorts,
        # rank passes, edit distances): a ~5 MB shuffle coalesced to
        # 5 tasks leaves 27 of 32 cores idle (measured: the q219 rank
        # window ran 5 tasks; 64k floor -> full parallelism, -20%).
        # At 100 TB post-shuffle partitions are >> 1 MB, so the lower
        # floor is inert there — it only stops byte-based coalescing
        # from serializing compute-heavy small stages.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow is the only sane Python<->JVM boundary at scale.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast-join threshold: dims (region/nation/customer-at-sf0.1)
        # stay broadcastable; at 100 TB the fact side never shuffles for
        # dim joins.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("HARMONY_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()
