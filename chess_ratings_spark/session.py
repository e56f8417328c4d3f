"""SparkSession construction for tests and benchmarks.

The driver supplies its own session to ``__spark_entry__`` functions, so
engine code must never *require* this builder — queries set any
runtime-settable conf they need themselves (see ``tables.load_events``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "chess-ratings-spark") -> SparkSession:
    """Local-mode session tuned for the test/bench environment.

    local[N] = one JVM, N executor threads; shuffle partitions sized to
    cores (the 200 default over-parallelizes small scale factors and the
    AQE coalescer handles the rest). On a real cluster these settings are
    cluster-conf concerns, not engine code.

    ``spark.sql.codegen.cache.maxEntries`` sizes the JVM-wide LRU of
    Janino-compiled classes (Spark's default: 100). Queries run as many
    small jobs, and the registry cycles through more distinct classes
    than 100, so with the default a class is evicted before its query
    comes back and every warm pass recompiles (``lake_stream_udf``:
    42-95 of its 131 classes per warm pass). Measured census (CodegenMetrics
    compile count with an unbounded cache, local[4]): one pass of the
    full registry compiles 4010-4018 distinct classes at sf0.1 (43-50 s
    of compile time) and 4496 over sf0.1, sf0.01 and sf0.001 together;
    6000 holds that union with a third to spare. Holding the sf0.1
    census costs, against the default after the same pass and a GC,
    +29 MB metaspace, +4 MB compressed class space and +27 MB JIT code
    cache.

    The conf is static and JVM-global: it takes effect only in a JVM
    this builder starts. A session the driver builds itself keeps
    Spark's default, and the engine cannot change it at runtime; its
    queries stay correct and only recompile more.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "6000")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
