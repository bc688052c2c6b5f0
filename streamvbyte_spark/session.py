"""SparkSession factory with the engine's defaults.

The defaults keep the codec kernels fed and the Python stages cheap: AQE
re-planning, Arrow-batched Python exchange in batches of at most 4 MiB
(``ARROW_BATCH_BYTES``) each way, reused Python workers, and
pushdown-friendly parquet scans.  They hold on local[N]
and on a cluster alike.  The session's shuffle partitions are also the
width of every CPU-heavy stage: ``fanout_width`` reads it and
``fanout_scan`` is the one scan fan-out rule.

Imported inside a Python worker (every kernel's unpickling imports the
package), the module also tunes the worker itself: it drops Spark's own
archives from the import path, and in a worker forked by
``pyspark.daemon`` it turns on ``TCP_QUICKACK`` on the task's socket at
the start of every task.  A reused worker's socket otherwise falls into
Linux's delayed-ACK mode from its third task on, and each task then waits
one delayed-ACK timeout (~40 ms) before its first input batch arrives.
"""

from __future__ import annotations

import os
import socket
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


def _in_worker() -> bool:
    """True inside a Spark Python worker: the worker factory hands every
    worker its secret through the environment."""
    return "PYTHON_WORKER_FACTORY_SECRET" in os.environ


def _drop_spark_archives_from_worker_path() -> None:
    """Inside a Spark Python worker, drop Spark's own zips and jars
    ($SPARK_HOME/python/lib, $SPARK_HOME/jars) from sys.path and
    sys.path_importer_cache.  Every task calls importlib.invalidate_caches(),
    which makes each cached zip finder re-read its archive's directory
    (pyspark.zip, the py4j zip, spark-core's jar: 100+ ms per task); pyspark
    and py4j are already imported by then.  User files and --py-files zips
    live elsewhere and stay."""
    spark_home = os.environ.get("SPARK_HOME")
    if not _in_worker() or not spark_home:
        return
    home = os.path.realpath(spark_home)
    roots = tuple(os.path.join(home, d, "") for d in ("python/lib", "jars"))

    def spark_archive(p) -> bool:
        return isinstance(p, str) and os.path.realpath(p).startswith(roots)

    sys.path[:] = [p for p in sys.path if not spark_archive(p)]
    for key in [k for k in sys.path_importer_cache if spark_archive(k)]:
        del sys.path_importer_cache[key]


def _quickack(f) -> None:
    """Turn on TCP_QUICKACK on the TCP socket behind ``f`` (a socket or a
    file over one), so the kernel ACKs what it receives at once instead of
    holding the ACK for its delayed-ACK timeout.  Does nothing on any other
    file or socket (a Unix socket has no ACKs) or where the host has no
    TCP_QUICKACK, and never raises."""
    if not hasattr(socket, "TCP_QUICKACK"):
        return
    try:
        sock = socket.socket(fileno=f.fileno())
    except (OSError, ValueError):
        return
    try:
        if sock.family in (socket.AF_INET, socket.AF_INET6):
            sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_QUICKACK, 1)
    except OSError:
        pass
    finally:
        sock.detach()  # the fd stays the caller's


def _quickack_every_task() -> None:
    """In a worker forked by pyspark.daemon, wrap the daemon's per-task
    ``worker_main`` so each task turns on TCP_QUICKACK before it reads its
    command.  The JVM writes a task's input in several small writes
    without TCP_NODELAY, so once the kernel has put a reused worker's
    socket into delayed-ACK mode (from its third task on) each task waits
    ~40 ms for the ACK that lets the JVM send its first batch.  Quick ACK
    does not stick (the kernel leaves it again on its own), so setting it
    once per process is not enough.  Outside daemon mode there is no
    ``worker_main`` and nothing is done; the wrap is installed once per
    process."""
    main = sys.modules.get("__main__")
    task = getattr(main, "worker_main", None)
    if (not _in_worker() or not hasattr(socket, "TCP_QUICKACK")
            or task is None or getattr(task, "quickack", False)):
        return

    def worker_main(infile, outfile):
        _quickack(infile)
        return task(infile, outfile)

    worker_main.quickack = True
    main.worker_main = worker_main


def worker_quickack() -> int | None:
    """TCP_QUICKACK as read on this process's first TCP socket — in a
    Python worker, its socket to the JVM: 1 in quick-ACK mode, 0 in
    delayed-ACK mode, None without a TCP socket or TCP_QUICKACK.  The probe
    behind tools/worker_roundtrip.py and the tests of the wrap above."""
    if not hasattr(socket, "TCP_QUICKACK"):
        return None
    for name in os.listdir("/proc/self/fd"):
        try:
            sock = socket.socket(fileno=int(name))
        except (OSError, ValueError):
            continue
        try:
            if (sock.family in (socket.AF_INET, socket.AF_INET6)
                    and sock.type == socket.SOCK_STREAM):
                return sock.getsockopt(socket.IPPROTO_TCP,
                                       socket.TCP_QUICKACK)
        except OSError:
            pass
        finally:
            sock.detach()
    return None


_drop_spark_archives_from_worker_path()
_quickack_every_task()


# The one Arrow batch rule: a JVM -> Python batch closes at 4 MiB (~1,970
# rows of 512 tokens) or at 2^14 rows, whichever comes first, and a decoder
# writes back at most 4 MiB of tokens a batch (arrow_rows.decode_slices,
# read when the decode is planned), so the byte bound holds a Python
# worker's peak both ways (the sweep behind 4 MiB is in ROADMAP direction
# 4).  Below ~2,000 rows a batch, Spark's per-batch work shows.  The row
# cap binds only on rows under 256 bytes; it keeps every batch within
# codec/batched._dict_costs' 2^14-row presence table and gives a temporary
# conf override a value to restore.
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
    return (
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
        .getOrCreate()
    )
