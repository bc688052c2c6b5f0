"""SparkSession factory with the engine's defaults.

The defaults keep the codec kernels fed and the Python stages cheap: AQE
re-planning, Arrow-batched Python exchange in batches of at most 4 MiB
(``ARROW_BATCH_BYTES``), reused Python workers with a malloc that keeps
freed memory, and pushdown-friendly parquet scans.  They hold on local[N]
and on a cluster alike.  The session's shuffle partitions are also the
width of every CPU-heavy stage: ``fanout_width`` reads it and
``fanout_scan`` is the one scan fan-out rule.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession

# the codec kernels byte-view uint32 buffers (codec/batched.py's uint32
# stores and loads over byte buffers) and the stored wires are little-endian
# — SURVEY.md §1.3's portability note made loud.  The package __init__
# imports this module, so the guard runs on every import of the package.
# Every platform this engine targets is LE; a BE host must not silently
# produce byte-swapped streams.
# explicit raise, not assert: Spark Python workers may run under
# PYTHONOPTIMIZE, which strips asserts (the same hazard CLAUDE.md pins for
# kernel guards) — the check must survive optimized interpreters
if sys.byteorder != "little":
    raise RuntimeError(
        "streamvbyte_spark requires a little-endian host: the codec kernels "
        "and the stored stream wires byte-view native uint32 buffers")


def _drop_spark_archives_from_worker_path() -> None:
    """Inside a Spark Python worker, drop Spark's own zips and jars
    ($SPARK_HOME/python/lib, $SPARK_HOME/jars) from sys.path and
    sys.path_importer_cache.  Every task calls importlib.invalidate_caches(),
    which makes each cached zip finder re-read its archive's directory
    (pyspark.zip, the py4j zip, spark-core's jar: 100+ ms per task); pyspark
    and py4j are already imported by then.  User files and --py-files zips
    live elsewhere and stay."""
    spark_home = os.environ.get("SPARK_HOME")
    if "PYTHON_WORKER_FACTORY_SECRET" not in os.environ or not spark_home:
        return
    home = os.path.realpath(spark_home)
    roots = tuple(os.path.join(home, d, "") for d in ("python/lib", "jars"))

    def spark_archive(p) -> bool:
        return isinstance(p, str) and os.path.realpath(p).startswith(roots)

    sys.path[:] = [p for p in sys.path if not spark_archive(p)]
    for key in [k for k in sys.path_importer_cache if spark_archive(k)]:
        del sys.path_importer_cache[key]


_drop_spark_archives_from_worker_path()

# glibc malloc tuning for the Python workers: without it every large NumPy
# allocation is mmap'd and returned to the OS on free, so each Arrow batch
# repays the kernel page-fault cost. Keeping freed memory in the heap pool is
# worth >2x on the codec kernels.
_WORKER_MALLOC_ENV = {
    "MALLOC_MMAP_MAX_": "0",
    "MALLOC_TRIM_THRESHOLD_": "-1",
}


# The one Arrow batch rule: a JVM -> Python batch closes at 4 MiB (~1,970
# rows of 512 tokens) or at 2^14 rows, whichever comes first.  A worker
# keeps its largest batch's peak for the rest of the run (freed memory
# stays in its heap, the kernels' scratch pools live as long as the
# process), so the byte bound is what holds Python RSS; bulk_codec on 4
# cores reads Python 1,034 MB + JVM 2,888 MB (the sweep behind 4 MiB is in
# ROADMAP direction 4).  Below ~2,000 rows a batch, Spark's per-batch work
# shows.  The bound caps a stage's input, not its output: a decode stage
# writes up to ~2.7x what it reads.  The row cap binds only on rows under
# 256 bytes; it keeps every batch within codec/batched._dict_costs'
# 2^14-row presence table and gives a temporary conf override a value to
# restore.
ARROW_BATCH_BYTES = 4 << 20
ARROW_BATCH_ROWS = 1 << 14


def default_cpus() -> int:
    """Local-mode core count: SPARK_GRAFT_CPUS if set, else the CPUs this
    process may run on (its affinity mask)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """spark.driver.memory: SPARK_DRIVER_MEMORY if set, else a sixth of
    the host's MemTotal in whole GiB, between 1g and 16g (16g where
    meminfo cannot be read)."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    try:
        with open(meminfo) as f:
            mem_kb = next(int(line.split()[1]) for line in f
                          if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "16g"
    return f"{max(1, min(16, mem_kb // 6 // 2**20))}g"


def fanout_width(spark: SparkSession) -> int:
    """The task count of every CPU-heavy stage: the session's shuffle
    partitions, which get_spark sets to the host's CPU count.  The codec
    and text kernels are CPU-bound on small bytes, so the shuffles they run
    behind are NUMBERED with this width — AQE's byte-based coalescing would
    collapse a count-less one to a single task, and a numbered repartition
    (REPARTITION_BY_NUM in the plan) is exempt from it."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def fanout_scan(df: DataFrame, key: str) -> DataFrame:
    """The one scan fan-out rule: repartition the RAW rows to
    ``fanout_width`` tasks by ``key`` only when the input is coarser than
    that width, so the heavy projection above runs wide.  A single-row-group
    parquet file (every test table) scans as one task and fans out; an
    input that already scans that wide (a real multi-file corpus) passes
    through untouched, as does a streaming input (micro-batch partitioning
    is its trigger's business, and .rdd is undefined there)."""
    if df.isStreaming:
        return df
    width = fanout_width(df.sparkSession)
    if df.rdd.getNumPartitions() < width:
        df = df.repartition(width, key)
    return df


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
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(ARROW_BATCH_BYTES))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_BATCH_ROWS))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.python.worker.reuse", "true")
    )
    for k, v in _WORKER_MALLOC_ENV.items():
        b = b.config(f"spark.executorEnv.{k}", v)
    return b.getOrCreate()
