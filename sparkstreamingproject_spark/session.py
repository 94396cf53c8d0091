"""SparkSession builders with scale-tuned defaults.

The reference hand-tunes parallelism (local[2] = Kafka partition count,
``OdsBaseLogApp.scala:24``) and connection amortization; here the same
concerns are expressed as Spark confs: AQE for runtime re-planning
(shuffle coalescing, broadcast conversion, skew-join splitting),
sensible shuffle partitioning, Arrow for any Python boundary.

At 100 TB these defaults matter more than any operator code:
- AQE coalesces the 32 (locally) / thousands (cluster) of shuffle
  partitions down to actual data volume, and converts sort-merge joins
  to broadcast when the runtime side is small.
- ``maxPartitionBytes`` keeps scan tasks ~128 MB so a 100 TB table
  becomes ~800k well-sized tasks instead of a few huge ones.
- Arrow keeps the (rare) Python-UDF boundary vectorized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def configure(builder: SparkSession.Builder, shuffle_partitions: int | None = None) -> SparkSession.Builder:
    """Apply engine defaults to any SparkSession builder."""
    sp = shuffle_partitions or default_parallelism()
    return (
        # local-mode heap: the driver JVM hosts all executor threads,
        # so the 1 GiB default starves AQE broadcast builds ~10× past
        # the bench SF (found by the sf1.0 spot-bench: a runtime-sized
        # 64 MB broadcast needs driver headroom the default lacks).
        # Sized for the 128 GiB/32-thread test host; no-op when a
        # cluster deploy sets real executor memory via spark-submit
        # (driver.memory only applies at JVM launch).
        builder.config("spark.driver.memory",
                       os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.showConsoleProgress", "false")
    )


def get_spark(app_name: str = "sparkstreamingproject-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    An explicit ``master`` wins. Otherwise a script run by
    ``spark-submit`` (which sets ``PYSPARK_GATEWAY_PORT`` before Python
    starts) keeps the ``--master`` it was submitted with, and a plain
    ``python`` process runs on ``local[$SPARK_GRAFT_CPUS]``, else
    ``local[<cpu count>]``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        master = f"local[{default_parallelism()}]"
    if master is not None:
        builder = builder.master(master)
    spark = configure(builder, shuffle_partitions).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def drain_cleaner(spark: SparkSession, wait_s: float = 5.0) -> None:
    """Quiesce async session state between timed measurements.

    Iterative kernels (localCheckpoint rounds, AQE runtime broadcasts)
    leave the ContextCleaner a backlog that taxes the NEXT query —
    measured at 5-7× on sf1.0 (scripts/scale_bench.py found 110 s vs
    16 s for the query after k-core) and as a uniform ~1.3-2× lift on
    the r10 quiet sidecar block (VERDICT r10 §wrong 1). Unpersist
    alone does not fix it; dropping references, forcing GC on both
    sides, and giving the cleaner a drain window does. Benchmarks call
    this before each timed kernel; production analogue in SCALE.md."""
    import gc
    import time as _time

    gc.collect()
    sc = spark.sparkContext
    it = sc._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        it.next()._2().unpersist(True)
    sc._jvm.System.gc()
    _time.sleep(wait_s)
    sc._jvm.System.gc()


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Force deterministic event-time semantics on an externally-built
    session (the verify driver builds its own). Runtime-settable."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
