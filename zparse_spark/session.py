"""SparkSession factory tuned for the validation engine.

Local mode is the test harness; the conf is written for a multi-executor
cluster: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), Arrow on (pandas UDF batches), explicit shuffle parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "zparse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else all
    cores). On a real cluster, pass ``master=None`` and let
    ``spark-submit`` supply it — every other conf below is
    cluster-appropriate as-is.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_s = os.environ.get("SPARK_GRAFT_CPUS", "")
        shuffle_partitions = int(cpus_s) if cpus_s.isdigit() else 32

    # Python WORKERS import the package by name inside mapInPandas /
    # pandas_udf closures; the driver's sys.path does NOT propagate to
    # them, so a driver launched outside the repo dir would crash with
    # ModuleNotFoundError on the first Python stage. Export the package
    # root on PYTHONPATH before the JVM forks workers (local mode
    # inherits the env; on a real cluster ``spark-submit --py-files``
    # ships the package instead and this is a harmless no-op).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime join-strategy switch, skew-join splitting,
        # small-partition coalescing — the engine relies on these at scale
        # (SURVEY.md §4.3).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas UDFs / toPandas: the engine forbids row-at-a-time
        # Python (BatchEvalPython) — everything Python-side is Arrow batches.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # PySpark 4.x records a Python call site on every Column/DataFrame
        # op: a stack walk plus extra py4j round trips each time. Building
        # one violations() plan made about three times as many py4j calls
        # with it on, and at small batches driver-side plan time is a large
        # share of a gate call. The cost of turning it off: PySpark error
        # messages lose the user call-site block, which would point inside
        # zparse_spark anyway.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
