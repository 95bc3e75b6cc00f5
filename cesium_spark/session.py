"""SparkSession factory with the engine's scale-oriented defaults.

Local-mode testing, multi-executor design: every config here is equally
valid under ``spark-submit --py-files engine.zip`` on a real cluster
(BASELINE.json north_rule). AQE + skew-join handle conversation-length
skew at runtime (SURVEY.md §4.4); Arrow batching bounds Python-worker
memory for the pandas-UDF kernels.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# One BLAS/OpenMP thread per Python worker: the kernels parallelize
# across Spark tasks, and letting every worker's OpenBLAS spin its own
# thread pool burns the machine in kernel-side spin-wait (measured:
# local[32] pipeline 2.7x SLOWER than local[8], 79 min sys time, until
# pinned). Set in the driver env BEFORE the JVM forks (local mode
# workers inherit it) and mirrored to executorEnv for cluster mode.
_WORKER_THREAD_ENV = {
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "VECLIB_MAXIMUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
}


def _host_defaults(meminfo: str = "/proc/meminfo") -> tuple[str, str]:
    """(cpus, driver memory): ``SPARK_GRAFT_CPUS`` and
    ``CESIUM_SPARK_DRIVER_MEM`` when set, else the CPUs this process may
    run on and half the host's MemTotal (local mode runs the executors
    in the driver JVM), in whole GiB from 1g to 48g; 48g if unreadable."""
    cpus = (len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity")
            else os.cpu_count() or 1)
    try:
        with open(meminfo) as fh:
            kib = int(fh.read().split("MemTotal:")[1].split()[0])
        gib = min(48, max(1, kib >> 21))
    except (OSError, IndexError, ValueError):
        gib = 48
    return (os.environ.get("SPARK_GRAFT_CPUS") or str(cpus),
            os.environ.get("CESIUM_SPARK_DRIVER_MEM") or f"{gib}g")


def get_spark(
    master: str | None = None,
    app_name: str = "cesium_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    for k, v in _WORKER_THREAD_ENV.items():
        os.environ.setdefault(k, v)
    cpus, driver_mem = _host_defaults()
    inherit = master == "inherit"  # spark-submit owns --master
    if not inherit:
        master = master or f"local[{cpus}]"
    # shuffle partitions ≈ parallelism for local mode; a real cluster
    # would size this to 2-3× total cores (AQE coalesces the excess).
    if shuffle_partitions is None:
        if inherit or "[" not in master:
            n = cpus
        else:
            n = master[master.find("[") + 1:master.find("]")]
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    b = SparkSession.builder
    if not inherit:
        b = b.master(master)
    b = (
        b.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        # dynamic partition overwrite = idempotent window-level MERGE
        # emulation on the parquet backend (SURVEY.md §2.9)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    for k, v in _WORKER_THREAD_ENV.items():
        b = b.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
