"""SparkSession factory with engine defaults (local-mode testing; the same
settings ship unchanged to a real cluster via spark-submit --py-files)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _warm_kernel(batches):
    """Runs once per Python worker: pull in the heavyweight kernel imports
    (numpy, pyarrow, the blob codec stack) so reused workers
    (spark.python.worker.reuse, default on) have them loaded before the
    first real mapInArrow task. Being itself a mapInArrow function, it
    also exercises the Arrow worker entry path (serializers, pandas) the
    real kernels use. Importing the package also installs the worker's
    stat-checked zip-directory refresh (`_pyworker`), without which even a
    warm reused worker re-reads pyspark.zip's directory on every task
    (130-160 ms on Python 3.11.7, 4-vCPU VM)."""
    import numpy  # noqa: F401
    import pyarrow  # noqa: F401

    from copybook_rs_spark import blob  # noqa: F401

    yield from batches


def warm_python_workers(spark: SparkSession, cores: int) -> None:
    """Spawn + warm one reused Python worker per task slot at session setup.

    Worker spawn and numpy/pyarrow/serializer import (~1 s per worker) are
    process setup, not query work (guide §4.5: heavyweight init once per
    task/worker, amortized). Without this, the first heavy Arrow-kernel
    job of a session pays ~cores x import inline — and a tiny data warmup
    job cannot reach all slots because partition pruning collapses it to a
    few tasks. `cores` simultaneous one-row tasks force the daemon to fork
    a full worker pool once through the SAME mapInArrow path the kernels
    use; every later kernel task reuses a warm worker. No data or results
    are touched. Reuse alone does not make a task cheap: on Python
    3.10-3.12 pyspark's per-task `importlib.invalidate_caches()` re-reads
    every zip archive directory on sys.path unless the package import has
    made that refresh stat-checked (`_pyworker`; spark-submit workers,
    which skip this warm-up, get it with their first kernel)."""
    if getattr(spark, "_cbsp_workers_warm", False):
        return
    sc = spark.sparkContext
    sc.setJobDescription("session setup: warm python worker pool")
    try:
        spark.range(0, cores, 1, numPartitions=cores).mapInArrow(
            _warm_kernel, "id long"
        ).count()
    finally:
        sc.setJobDescription(None)
    spark._cbsp_workers_warm = True


def get_spark(
    app_name: str = "copybook_rs_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or max(cores, 8)
    # single-box stand-in for per-node shuffle disks: tmpfs keeps the
    # exchange memory-bound like a real cluster's node-local NVMe
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/cbsp-spark")
    os.makedirs(local_dir, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.local.dir", local_dir)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Arrow batching is the engine's unit of kernel work
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    warm_python_workers(spark, cores)
    return spark
