"""SparkSession factory with the engine's frozen configs.

Explicit shuffle partitioning and AQE on (SURVEY.md §4); Arrow enabled for
all pandas/Arrow UDF boundaries. Local-mode defaults sized for this sandbox
(local[N] single JVM); on a real cluster the same code runs under
``spark-submit --py-files engine.zip`` with the master/memory flags coming
from the submit command instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Driver heap share of the box's physical memory when SPARK_DRIVER_MEM is
# unset. In local mode the driver JVM holds every executor too, and the
# Python workers, the test process and the OS page cache share the rest:
# a heap sized past physical RAM (the old fixed 48g on a 15 GB box with no
# swap) lets the kernel OOM-killer end the JVM with no error report.
HEAP_FRACTION = 0.5


def driver_memory() -> str:
    """``spark.driver.memory``: SPARK_DRIVER_MEM if set, else
    HEAP_FRACTION of /proc/meminfo MemTotal (in MiB)."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kib = int(line.split()[1])
                return f"{max(1024, int(kib * HEAP_FRACTION) // 1024)}m"
    raise RuntimeError("no MemTotal in /proc/meminfo; set SPARK_DRIVER_MEM")


def get_spark(app: str = "fulltext-engine", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # match parallelism, not the 200 default (local mode)
        n = master.split("[")[-1].rstrip("]") if "[" in master else "8"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    b = (SparkSession.builder.master(master).appName(app)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
         .config("spark.driver.memory", driver_memory())
         # v2 commit: tasks move their output files directly; the driver
         # only writes _SUCCESS (v1 renames every file serially on the
         # driver — a hidden serial stage that caps scaling efficiency)
         .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
         .config("spark.ui.enabled", "false"))
    extra = dict(extra or {})
    # fail loudly on heap exhaustion instead of thrashing or being killed
    extra.setdefault("spark.driver.extraJavaOptions",
                     "-XX:+ExitOnOutOfMemoryError")
    for k, v in extra.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
