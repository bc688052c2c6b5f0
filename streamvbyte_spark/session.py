"""SparkSession factory with the engine's scale-oriented defaults.

Configs chosen for the 100 TB target (AQE re-planning, Arrow-batched Python
exchange, pushdown-friendly parquet scans) but harmless on local[N].
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

# the codec kernels byte-view uint32 buffers (codec/core.py v.view(np.uint8),
# codec/batched.py scatter/gather) and the stored wires are little-endian —
# SURVEY.md §1.3's portability note made loud (r8 verdict item 7).  Every
# platform this engine targets is LE; a BE host must not silently produce
# byte-swapped streams.
# explicit raise, not assert: Spark Python workers may run under
# PYTHONOPTIMIZE, which strips asserts (the same hazard CLAUDE.md pins for
# kernel guards) — the check must survive optimized interpreters
if sys.byteorder != "little":
    raise RuntimeError(
        "streamvbyte_spark requires a little-endian host: the codec kernels "
        "and the stored stream wires byte-view native uint32 buffers")

# glibc malloc tuning for the Python workers: without it every large NumPy
# allocation is mmap'd and returned to the OS on free, so each Arrow batch
# repays the kernel page-fault cost. Keeping freed memory in the heap pool is
# worth >2x on the codec kernels.
_WORKER_MALLOC_ENV = {
    "MALLOC_MMAP_MAX_": "0",
    "MALLOC_TRIM_THRESHOLD_": "-1",
}


def default_cpus() -> int:
    """Local-mode core count: SPARK_GRAFT_CPUS if set, else the CPUs this
    process may run on (its affinity mask)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def get_spark(app: str = "streamvbyte-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    os.environ.update(_WORKER_MALLOC_ENV)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 16k docs x ~512 tokens ~ 8M values/batch: python-side peak (values +
        # index scratch) stays ~300-400 MB per worker — safe on 4-8 GB/core
        # executors while keeping per-batch Python overhead negligible
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.python.worker.reuse", "true")
    )
    for k, v in _WORKER_MALLOC_ENV.items():
        b = b.config(f"spark.executorEnv.{k}", v)
    return b.getOrCreate()
