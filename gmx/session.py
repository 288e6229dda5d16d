"""SparkSession factory tuned for the engine.

Local sandbox runs on ``local[$SPARK_GRAFT_CPUS]`` but every setting is chosen
for the 1000-executor / 100 TB target: AQE on (runtime re-planning + skew-join
splitting for the hot-cell joins), Arrow for all pandas interchange, shuffle
partitions sized to the parallelism level.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def usable_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the number of cores this process
    may run on."""

    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def app_scoped(spark: SparkSession, name: str) -> tuple[str, str]:
    """Key for a process-lifetime memo of session-bound handles (tables,
    persisted DataFrames): scoped to the live SparkContext's application,
    so an entry made under an earlier, stopped session is never reused."""

    return spark.sparkContext.applicationId, name


def get_spark(app: str = "gmx", cpus: int | None = None, shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = usable_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus * 2, 8)
    # At full machine width every Arrow-stage task occupies a JVM thread AND
    # a Python worker process — two runnable threads per task.  Scheduling
    # `width` tasks on a `width`-core box then doubles the runnable count and
    # this host degenerates into kernel time (measured: 44-68% sys CPU, 3-10x
    # extraction wall-time swings at local[32]; stable at local[16]).
    # Declaring task.cpus=2 at width >= 24 sizes the scheduler to the real
    # per-task footprint: local[32] then runs 16 concurrent tasks and matches
    # local[16] wall time (8-11s vs 9s extraction, measured) instead of
    # thrashing.  The same sizing is what you'd give a real 32-core executor
    # running Arrow-heavy stages.  Override: SPARK_GRAFT_TASK_CPUS.
    task_cpus = int(os.environ.get("SPARK_GRAFT_TASK_CPUS", "2" if cpus >= 24 else "1"))
    return (
        SparkSession.builder.appName(app)
        .master(f"local[{cpus}]")
        .config("spark.task.cpus", str(task_cpus))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # metadata XML payloads are KB-sized strings: keep Arrow batches bounded
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # local-mode split sizing: the sandbox corpus is a few hundred MB, so
        # the 128m default (right for a 100 TB cluster scan) packs it into
        # ~4 input partitions and caps scan parallelism below the core count;
        # 8m keeps scan tasks >= cores at bench scale.  Production overrides
        # via SPARK_GRAFT_MAX_PARTITION_BYTES=128m.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"),
        )
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark 4.1 defaults this to true: every Column/functions call then
        # walks the Python stack and makes ~8 extra JVM round trips to record
        # its call site (measured: a served bbox-overlap plan build makes
        # 2386 py4j round trips, a point-cell expression costs 27.6 ms vs
        # 15.6 ms with it off).  What is lost: the Python call-site block in
        # AnalysisException text.  PySpark reads the flag once per process
        # (pyspark.errors.utils._enable_debugging_cache), so it is set here,
        # in the one builder every entry point uses.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
