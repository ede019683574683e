"""SparkSession factory with engine defaults tuned for the target workload.

Defaults follow the scale design in SURVEY.md §4: AQE on (runtime re-planning,
skew-join splitting, partition coalescing), Arrow on (all Python boundaries are
vectorized pandas/Arrow UDFs per BASELINE.json input_hint), shuffle partitions
sized for the local test harness but overridable for cluster runs.

Graph loops do not use the shuffle partition setting directly: a graph's
loops size their partitions from its edge count, at least one per task slot
(``operators.graph_build.loop_partitions``), and ``spark.sql.shuffle.partitions``
is their cap. It still sets the partitions of every shuffle Spark plans on its
own (joins and aggregations without an explicit repartition).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "wspr-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all cores)
    so the same entry points serve tests, perfbench, and spark-submit (where
    master is supplied externally and this value is ignored).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("WSPR_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound JVM-side Arrow batch buffers: giant batches (100 MB+ of
        # wide array rows) leave netty's pooled-chunk path and turn into
        # per-batch mmap/munmap — measured as 190-240 s of kernel time
        # (page faults + cross-core TLB shootdowns) per 6 CC rounds at
        # 240M edges. 32 MB keeps batch allocations pooled at any scale.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(32 * 1024 * 1024))
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("WSPR_DRIVER_MEM", "8g"))
        # iterative workloads re-use cached state; favor memory-and-disk
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
