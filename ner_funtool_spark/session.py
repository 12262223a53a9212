"""SparkSession factory tuned for the KG-construction workload.

Local mode stands in for a multi-executor cluster: partitioning, AQE and
broadcast decisions are identical; only the shuffle transport differs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds this package, as the workers must see it
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app: str = "ner_funtool_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 16384 (r6, measured): 4x fewer Arrow batch crossings on the
        # flagship mapInArrow stage (0.75 -> 0.70 s min at sf0.1) and a
        # larger dictionary-encode dedup window; rows on every Arrow
        # path here are <= ~1 KB, so worst-case batch memory stays
        # O(16 MB) per worker (guide §4.2 batch-size note)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
        # Spark's Python daemon imports pyspark from SPARK_HOME's
        # pyspark.zip, which holds no bytecode: every new session's daemon
        # compiles it (0.8-1.3 s of worker start per task, 0.24-0.35 s
        # from the installed copy), and each task of a reused worker
        # re-reads the archives' directories.
        # _daemon.py runs the stock daemon on the installed, byte-compiled
        # copy when it is the same release, and unchanged otherwise.  The
        # workers find this package (and the daemon module) through the
        # driver's own path: the master is local, so it is valid there too.
        .config("spark.python.daemon.module", "ner_funtool_spark._daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
