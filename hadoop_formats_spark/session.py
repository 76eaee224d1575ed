"""SparkSession factory tuned for this engine.

Local defaults match the test/bench environment (``local[N]`` on one
big box) but every knob is the one you'd set on a real cluster:
AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow enabled for the Python boundary, shuffle
partitions sized to cores (at 100 TB you'd raise
``spark.sql.shuffle.partitions`` and let AQE coalesce).

Importing the package keeps Python workers' zip import caches valid
without re-reading unchanged archives on every request (see
``hadoop_formats_spark._stat_check_zip_invalidation``).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "hadoop_formats_spark",
    *,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # make this package importable in Python workers (executors)
    pypath = os.environ.get("PYTHONPATH", "")
    if REPO_ROOT not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            REPO_ROOT + (os.pathsep + pypath if pypath else "")
        )
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    from .seqfile.datasource import register
    from .seqfile.map_datasource import register as register_map

    # a second registration in the same JVM replaces the first
    register(spark)
    register_map(spark)
    return spark
