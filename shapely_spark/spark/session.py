"""SparkSession factory with the engine's standard configuration.

Tuned for correctness-first local runs that mirror cluster behavior:
AQE on (skew-join splitting + partition coalescing — the runtime half of
the engine's hot-cell skew strategy), Arrow on (every kernel crosses the
JVM→Python boundary as Arrow batches), UTC timestamps.

The JVM talks to the Python worker daemon, the accumulator server and the
driver's data servers over Unix domain sockets, not loopback TCP. Over
TCP every Python task stalled ~40 ms (the length of Linux's minimum
delayed-ACK timeout) before its first Arrow batch. An identity ``mapInPandas`` task of 1,000 rows ran a median 55-57 ms on
TCP against 20 ms on a socket file (local[4], 4-core host). The
socket files live in one short private directory per driver process
(``_socket_dir``), so their paths fit ``sun_path`` wherever the checkout
or ``TMPDIR`` is.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession


@functools.cache
def _socket_dir() -> str:
    """The directory of this process's Spark socket files: private (0700)
    and removed at exit. Spark names each socket ``<dir>/.<uuid4>.sock``,
    the directory plus 43 bytes, and ``sun_path`` holds at most 107; the
    default directory, ``java.io.tmpdir``, can be longer than 64 bytes
    (a per-run directory inside the checkout), and SparkContext then fails
    at start with ``OSError: AF_UNIX path too long``. Under /tmp the
    socket path is 66 bytes whatever TMPDIR is. Spark removes the socket
    files themselves when the context stops."""
    d = tempfile.mkdtemp(prefix="spark-uds-", dir="/tmp")
    atexit.register(shutil.rmtree, d, True)
    return d


def get_spark(
    app: str = "shapely_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    # one BLAS/OpenMP thread per Python worker — Spark already parallelizes
    # across workers; nested numpy threading oversubscribes and thrashes
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(8, cpus)
    # repo root on the worker PYTHONPATH so the preloading daemon module
    # (shapely_spark.spark.daemon) and kernel imports resolve in workers
    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    worker_pp = repo_root + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = worker_pp
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local-mode split sizing: synthetic parquet compresses ~10:1, so the
        # 128m default would pack a 1M-row table into <8 splits and starve
        # local[32]; 8m keeps ≥3 tasks/core. On a real cluster against 100 TB
        # the default is right — override via env.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize per-batch Python overhead in the
        # refine/kNN kernels (measured 2× on the spatial join at 64k vs
        # 10k); 32k keeps text-heavy batches (docs ~KB/row) under ~100 MB
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "32768"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # warm-import worker daemon (see daemon.py): forked Python workers
        # inherit numpy/pandas/pyarrow + kernel modules copy-on-write instead
        # of re-importing per worker — the per-worker import tax otherwise
        # scales WITH parallelism and caps scaling efficiency.
        .config("spark.python.daemon.module", "shapely_spark.spark.daemon")
        .config("spark.executorEnv.PYTHONPATH", worker_pp)
        # socket files instead of loopback TCP between the JVM and Python:
        # removes a ~40 ms delayed-ACK stall from every Python task (module
        # docstring); the short directory keeps each path inside sun_path
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", _socket_dir())
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
