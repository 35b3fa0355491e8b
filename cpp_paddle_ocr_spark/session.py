"""SparkSession factory with the engine's tuned configuration.

The analog of engine bring-up (SURVEY.md §3.2): where the reference
configures MKLDNN/IR-optim/zero-copy per predictor
(``src/ocr_det.cpp:64-87``), we configure Arrow batching, AQE and shuffle
sizing once per session.

When ``get_spark`` launches the JVM it also installs the engine's ``file:``
filesystem (``jvm/ForkFreeLocalFileSystem.java``, built into
``jvm/fork-free-fs.jar`` by ``scripts/make_jar.sh``): the jar goes on the
driver and executor classpath and ``spark.hadoop.fs.file.impl`` names the
class. pip-installed PySpark has no native libhadoop, so the stock local
filesystem sets the mode of every file, ``.crc`` and dir it creates by
starting a ``chmod`` process (~3.5 ms each, ~285 per 64-bucket job); the
class sets the same bits in-process. A JVM that already runs (spark-submit,
an earlier session) keeps the filesystem it was launched with, since the
class can only be named where the same launch puts its jar on the classpath.
"""

from __future__ import annotations

import os
import pathlib

from pyspark import SparkContext
from pyspark.sql import SparkSession

#: Pages per Arrow record batch — the engine's master batch knob (X3): plays
#: the role of ``rec_batch_num``/``cls_batch_num`` at the page level. 32 keeps
#: worst-case batch bytes bounded (32 × 8 MiB cap = 256 MiB) while amortizing
#: the JVM→Python Arrow channel.
ARROW_BATCH_ROWS = 32


#: BLAS/OpenMP pools inside Python workers oversubscribe the box: N workers ×
#: N BLAS threads = N² runnable threads. Our numeric kernels are small
#: elementwise/matmul ops where the pool is pure overhead — pinning to 1
#: measured 653 → 1460 docs/s at local[32] (BENCH/BASELINE.md).
_THREAD_VARS = (
    "OMP_NUM_THREADS",
    "OPENBLAS_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
    "VECLIB_MAXIMUM_THREADS",
)

LOCAL_FS_CLASS = "cpp_paddle_ocr_spark.jvm.ForkFreeLocalFileSystem"
LOCAL_FS_JAR = pathlib.Path(__file__).with_name("jvm") / "fork-free-fs.jar"


def _local_fs_conf() -> dict[str, str]:
    """Confs that make ``LOCAL_FS_CLASS`` the ``file:`` filesystem. Empty
    unless this call launches the JVM: a JVM already up, or one
    spark-submit started for this process, may not have the jar on its
    classpath."""
    if (
        SparkContext._gateway is not None
        or "PYSPARK_GATEWAY_PORT" in os.environ
        or not LOCAL_FS_JAR.is_file()
    ):
        return {}
    return {
        "spark.driver.extraClassPath": str(LOCAL_FS_JAR),
        "spark.executor.extraClassPath": str(LOCAL_FS_JAR),
        "spark.hadoop.fs.file.impl": LOCAL_FS_CLASS,
    }


def get_spark(
    app_name: str = "cpp-paddle-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    for var in _THREAD_VARS:
        os.environ.setdefault(var, "1")  # local mode: workers inherit
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    # driver heap: half of physical memory, at most 32g. ParallelGC grows the
    # heap toward its maximum under html churn; a 32g maximum on a 16 GB host
    # got the test-suite JVM OOM-killed at 13.4 GB RSS
    phys_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{max(1, min(32, phys_gib // 2))}g")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # pin the session timezone: event-time windows (F.window) align to
        # the UTC epoch, so an unpinned host tz with a non-whole-hour offset
        # would shift window boundaries and formatted timestamps
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        # python worker reuse keeps per-executor model weights warm (X4)
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # fat binary rows: the default 4096-row columnar reader batch holds
        # GBs of html per in-flight batch and GC-thrashes the executor —
        # 128 rows ≈ 4 MB typical / 256 MB worst-case (measured 5x at
        # local[32], BENCH/BASELINE.md)
        .config("spark.sql.parquet.columnarReaderBatchSize", "128")
        .config("spark.driver.memory", mem)
        # G1's humongous-allocation handling collapses under the 2 MB html
        # byte-array churn (measured 600+ s of GC per 20k-page job);
        # throughput-oriented ParallelGC fits this batch workload: ~3× and
        # far lower variance (BENCH/BASELINE.md)
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        # task-side commit (v2): the v1 driver-side sequential rename of every
        # task directory is a serial tail that grows with partition count
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2"
        )
    )
    for var in _THREAD_VARS:  # cluster mode: ship to executors too
        b = b.config(f"spark.executorEnv.{var}", "1")
    for k, v in {**_local_fs_conf(), **(extra_conf or {})}.items():
        b = b.config(k, v)
    return b.getOrCreate()
