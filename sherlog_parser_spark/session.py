"""SparkSession factory with scale-oriented defaults, and the scope that
owns every frame the package caches.

Settings chosen for the 100 TB design point (SURVEY.md §4.2) and safe on
local[N]: AQE on (runtime coalescing + skew-join splitting), Arrow
enabled for the pandas-UDF path, sensible shuffle parallelism.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


class CacheScope:
    """Owns the frames it caches: ``keep`` persists a frame and records
    it, ``release`` unpersists them all, and a ``with`` block releases on
    exit.  Spark's CacheManager holds a cached frame until it is
    unpersisted; ContextCleaner does not reclaim it."""

    def __init__(self) -> None:
        self._frames: list[DataFrame] = []

    def keep(self, df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER) -> DataFrame:
        self._frames.append(df.persist(level))
        return df

    def release(self) -> None:
        while self._frames:
            self._frames.pop().unpersist()

    def __enter__(self) -> CacheScope:
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def get_spark(
    app_name: str = "sherlog-parser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        if master.startswith("local[") and master != "local[*]":
            try:
                cores = int(master[len("local["):-1])
            except ValueError:
                pass
        shuffle_partitions = max(cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
    )
    # Sandbox-only local-FS fast path: without libhadoop, Hadoop forks a
    # `chmod` per mkdir/create (~2.5ms each, serialized), which dominates
    # partitioned fan-out writes.  BareLocalFileSystem no-ops permission
    # calls.  Real clusters (HDFS/S3/Iceberg) never hit this path.
    barefs_jar = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "java", "sherlog-barefs.jar")
    if os.path.exists(barefs_jar):
        b = (
            b.config("spark.jars", barefs_jar)
            .config("spark.driver.extraClassPath", barefs_jar)
            .config("spark.executor.extraClassPath", barefs_jar)
            .config("spark.hadoop.fs.file.impl", "sherlog.BareLocalFileSystem")
        )
    b = (
        b
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # the curation DAG generates ~150 classes a run; at Spark's
        # default of 100 cached classes a long-lived session compiles
        # most of them anew on every run
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # PySpark's DataFrame origin capture costs ~6 Py4J round trips
        # per F.* / Column call (1.5 ms vs 0.36 ms for F.col), most of a
        # DAG build's driver time.  Without it a DataFrame error message
        # no longer names the Python line that built the failing column.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
