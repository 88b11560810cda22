"""SparkSession configuration.

Two entry paths:
  * ``get_spark()`` — build a session for local tests / bench.
  * ``configure_session(spark)`` — apply the required runtime-settable
    configs to an EXISTING session (the driver constructs its own session,
    so every config we depend on must be settable at runtime; all of the
    ones below are, verified on PySpark 4.1.2).

Required configs and why (SURVEY.md §1.2/§4.3):
  * ``spark.sql.legacy.parquet.nanosAsLong=true`` — the ``events`` table is
    parquet TIMESTAMP(NANOS) which Spark 4 cannot read otherwise
    ([PARQUET_TYPE_ILLEGAL]). With the flag, ``ts`` arrives as bigint
    nanoseconds and is normalized in tables.load_tables.
  * ``spark.sql.session.timeZone=UTC`` — the DuckDB oracle compares naive
    timestamps; UTC removes local-tz skew from timestamp<->ntz casts.
  * ``spark.sql.shuffle.partitions`` — at test scale (<=600k rows) 200
    default partitions are pure scheduling overhead; 32 matches cores.
    At 100 TB this would instead be sized to ~128 MB per post-shuffle
    partition (or left to AQE coalescing, which stays enabled).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs required by the engine to any session."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    # Scan-split size tracks the data scale, not the cluster default: the
    # test-scale tables are single ~1-10 MB parquet files, which at the
    # 128 MB default scan as 1-3 tasks — a nearly serial scan on a 32-core
    # machine (measured: the flagship Q1 drops 0.33 s -> 0.21 s at sf0.1
    # with 4 MB splits). On a real cluster with 100 TB of >=128 MB files
    # this setting goes back up; the principle (split so the scan fills
    # the cores) is what the engine encodes. Row-group boundaries still
    # cap the effective split granularity.
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
    # AQE is on by default in Spark 4; keep it that way (runtime coalescing,
    # skew-join splitting — both essential at scale, harmless locally).
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Arrow-batched toPandas/createDataFrame: columnar transfer instead of
    # row-at-a-time Py4J serialization (10-100x on wide result sets).
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # Python UDTFs evaluate Arrow-batched too (ArrowEvalPythonUDTF instead
    # of row-pickling BatchEvalPythonUDTF) — keeps the engine-wide "Python
    # enters plans only through Arrow" rule (tests/test_plan_audit.py).
    spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
    return spark


def get_spark(app_name: str = "bangdatapipeline_spark", cpus: str | None = None) -> SparkSession:
    """Build (or fetch) a local session with the engine's configs."""
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        # local mode runs all executor threads inside the driver JVM, so
        # this IS the executor heap. Measured across heap/collector
        # combinations on the full 115-query bench prefix: G1 at 48g
        # develops multi-second mixed-GC pauses on the array-heavy graph
        # kernels (same cached-input query swinging 1.6s <-> 9.5s run to
        # run); ParallelGC at any size is fast on average but spiky (one
        # young-gen collection measured at 18s late in the run); G1 at
        # 16g is the stable point — pauses stay bounded and per-query
        # medians match standalone timings. On a real cluster the heap
        # is per-executor and sized to partition budgets instead.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # long-lived bench/driver sessions execute hundreds of plans;
        # capping SQL-UI retention keeps listener state from becoming
        # old-gen ballast (the UI itself is disabled anyway)
        .config("spark.sql.ui.retainedExecutions", "25")
        .config("spark.ui.enabled", "false")
        # static config, settable only at session build: saveAsTable targets
        # (bucketing demos) land in tmp, never in the repo working dir
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "bdp_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return configure_session(spark)
