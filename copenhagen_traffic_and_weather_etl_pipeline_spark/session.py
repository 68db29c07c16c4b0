"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); the configuration is
still written for a multi-executor cluster: AQE on (runtime coalesce +
skew-join splitting), explicit shuffle partitioning, Arrow enabled for
the few Pandas-UDF paths, and a session time zone pinned so string
date/time stamping is deterministic (the reference stamps wall-clock
time in Europe/Copenhagen: deployment_function.py:58-63).

The session also keeps every whole-stage class it compiles. Spark's
generated-class cache (``spark.sql.codegen.cache.maxEntries``, an LRU
keyed by the generated source) defaults to 100 entries. One pass over
the analytics mix's ten registry queries generates about 280 distinct
classes, so at the default every pass walks the cache in a cycle,
misses on every class and recompiles all of them with Janino (about
280 x 8-10 ms a pass). At 1000 entries a long-lived session that
reruns the package's queries (perfbench, the test suite's one shared
session, a dashboard server) compiles each class once.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The reference stamps rows in Europe/Copenhagen (deployment_function.py:58).
# For oracle comparisons we default to UTC so Spark and DuckDB agree on
# naive parquet timestamps; ingestion jobs may override to CPH time.
DEFAULT_TZ = "UTC"
COPENHAGEN_TZ = "Europe/Copenhagen"


def get_spark(
    app_name: str = "cph-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    tz: str = DEFAULT_TZ,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    At 100 TB the same settings hold: AQE picks post-shuffle parallelism
    and splits skewed partitions; ``maxPartitionBytes`` keeps scan tasks
    memory-bounded; broadcast threshold lets dimension joins skip the
    shuffle entirely.

    The generated-class cache holds 1000 compiled whole-stage classes,
    more than 3x the ~280 one pass of the analytics mix needs, so a
    repeated plan set compiles once instead of on every pass.
    ``extra_conf`` overrides the size. It is a static SQL conf: it
    takes effect only when this call creates the session; if a session
    already exists, ``getOrCreate`` returns it with the size it was
    started with.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", tz)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
