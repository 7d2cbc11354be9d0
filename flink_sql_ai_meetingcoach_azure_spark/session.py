"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]``; the configuration is chosen so the
same logical plans scale to a real multi-executor cluster: AQE on (runtime
coalesce + skew-join handling), Arrow enabled for the pandas-UDF inference
path, UTC session timezone so timestamp semantics match the DuckDB oracle.

Python workers fork from :mod:`.worker_daemon`: stock workers re-read the
central directory of ``pyspark.zip`` and the py4j zip 16 times before every
task (140-260 ms on CPython 3.11.7, 4 vCPUs); that daemon's workers re-read
an archive only after it changed (0.2 ms per task).

Local files are written without a child process per file: pyspark ships no
``libhadoop.so``, so Hadoop's stock ``RawLocalFileSystem`` runs ``chmod``
for every file it creates (each parquet part, ``.crc``, log and marker) and
``readlink`` for each FileContext create and rename (every offset, commit
and sink-metadata log entry): 4,130 of them in a 37 s ``coach`` benchmark
run on 4 vCPUs. ``NioLocalFileSystem.java`` does both in-process with
java.nio. On a ``local[...]`` master, the call to :func:`get_spark` that
launches the JVM compiles it once with the JDK's ``javac`` (classes cached
under ``_jvm/<source hash>/`` next to it), puts it on
``spark.driver.extraClassPath`` and sets it as the ``file://``
``FileSystem`` and ``AbstractFileSystem``. A JVM launched without it, or a
host without ``javac`` (one warning), keeps Hadoop's stock classes.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import warnings

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"

#: the directory holding this package: Python workers import it by name (a
#: UDF pickles package functions by reference), so it goes on their path
#: instead of relying on the driver's working directory
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_NIO_FS_SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "NioLocalFileSystem.java")
#: compiled classes live in ``<this>/<hash of source and Hadoop jar>/``
NIO_FS_CACHE = os.path.join(os.path.dirname(_NIO_FS_SOURCE), "_jvm")
NIO_FS_CLASS = "flink_sql_ai_meetingcoach_azure_spark.NioLocalFileSystem"


@functools.lru_cache(maxsize=None)
def nio_fs_classes() -> str | None:
    """The class directory of ``NioLocalFileSystem.java``, compiled on first
    use; None, with one warning, when it cannot be compiled."""
    hadoop = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    with open(_NIO_FS_SOURCE, "rb") as f:
        key = hashlib.sha256(f.read() + repr(sorted(hadoop)).encode()).hexdigest()[:16]
    out = os.path.join(NIO_FS_CACHE, key)
    if os.path.isdir(out):
        return out
    java_home = os.environ.get("JAVA_HOME")
    javac = (os.path.join(java_home, "bin", "javac") if java_home
             else shutil.which("javac"))
    try:
        if not hadoop or not javac:
            raise OSError("no javac or no Hadoop client jar")
        os.makedirs(NIO_FS_CACHE, exist_ok=True)
        tmp = tempfile.mkdtemp(dir=NIO_FS_CACHE)
        try:
            # release 17: the oldest JVM Spark 4 runs on loads the classes
            subprocess.run([javac, "--release", "17", "-cp", hadoop[0],
                            "-d", tmp, _NIO_FS_SOURCE],
                           check=True, capture_output=True, timeout=300)
            os.rename(tmp, out)
        except OSError:
            if not os.path.isdir(out):  # else a concurrent process compiled it
                raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return out
    except (OSError, subprocess.SubprocessError) as e:
        warnings.warn(f"{os.path.basename(_NIO_FS_SOURCE)} not compiled ({e}); "
                      "local files are written by Hadoop's stock filesystem, "
                      "which starts a process per file", RuntimeWarning,
                      stacklevel=3)
        return None


def _jvm_loads(class_name: str) -> bool:
    try:
        SparkContext._jvm.java.lang.Class.forName(class_name)
    except Py4JJavaError:
        return False
    return True


def _half_of_memory_gb() -> int:
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(1, total // 2 // 1024**3)


def get_spark(
    app_name: str = "meetingcoach-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``) and
    ``SPARK_DRIVER_MEM`` the JVM heap (default half of physical memory,
    so the collector bounds the heap before the host does).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no nanos
        # timestamp type — read as bigint nanos and convert (queries._events)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_PARENT)
        .config("spark.python.daemon.module",
                "flink_sql_ai_meetingcoach_azure_spark.worker_daemon")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM", f"{_half_of_memory_gb()}g"))
        # many distinct codegen'd plans in one session (bench/correctness
        # suites) exhaust the default JVM code cache, stalling JIT/Janino —
        # first big query of each family then pays minutes, not seconds
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing",
        )
    )
    conf = dict(extra_conf or {})
    local = master == "local" or master.startswith("local[")
    if local and SparkContext._gateway is None:  # this call launches the JVM
        classes = nio_fs_classes()
        if classes:
            cp = conf.get("spark.driver.extraClassPath")
            conf["spark.driver.extraClassPath"] = (
                classes + os.pathsep + cp if cp else classes)
        nio_fs = classes is not None
    else:
        nio_fs = local and _jvm_loads(NIO_FS_CLASS)
    if nio_fs:
        builder = (
            builder.config("spark.hadoop.fs.file.impl", NIO_FS_CLASS)
            .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
                    NIO_FS_CLASS + "$Fs")
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_scale_conf(
    target_tb: float = 100.0,
    executors: int = 1000,
    executor_cores: int = 4,
    executor_mem_gb: int = 16,
) -> dict[str, str]:
    """The documented knob set for running this engine's plans against a
    real cluster at ``target_tb`` — the sizing rationale the local
    configuration in :func:`get_spark` is a miniature of. Returns a conf
    dict to pass as ``extra_conf`` (or feed to spark-submit).

    Sizing rules (each keyed to a failure mode at scale):

    - ``shuffle.partitions``: target ~128-200 MB of shuffle input per
      task AFTER column pruning (~1/4 of scan bytes): too few -> spill
      and stragglers; too many -> scheduler overhead and tiny files.
      AQE coalescing trims the excess at runtime, so err high.
    - ``files.maxPartitionBytes`` 256m: scan tasks sized so a pruned
      read still amortizes task launch, without single-task skew.
    - ``advisoryPartitionSizeInBytes`` 128m / skew thresholds: AQE's
      split targets — a skewed LSH bucket or hot join key splits into
      ~128 MB chunks instead of one 30-minute task.
    - ``autoBroadcastJoinThreshold`` 64m: dims (nation/region/supplier,
      query-term sets, centroid tables, tier maps) broadcast; anything
      larger flows to the shuffle joins these plans already declare.
    - shuffle compression + zstd: shuffle bytes dominate cost at this
      scale; zstd trades ~5% CPU for ~30% fewer bytes over lz4.
    """
    shuffle_bytes = target_tb * (1024**4) / 4  # post-pruning estimate
    n_shuffle = max(2 * executors * executor_cores,
                    int(shuffle_bytes / (160 * 1024**2)))
    return {
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.sql.files.maxPartitionBytes": str(256 * 1024**2),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(128 * 1024**2),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "3",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": str(
            256 * 1024**2
        ),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024**2),
        "spark.io.compression.codec": "zstd",
        "spark.shuffle.compress": "true",
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(executor_cores),
        "spark.executor.memory": f"{executor_mem_gb}g",
        # streaming state + checkpoints must survive executor loss
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
    }
