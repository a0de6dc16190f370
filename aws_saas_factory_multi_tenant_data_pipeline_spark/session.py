"""SparkSession factory with engine-wide defaults.

Scale posture: these configs are the local[N] test harness defaults; on a
real cluster the same code runs with cluster-provided parallelism. AQE is
on so skewed tenant keys / shuffle sizes re-plan at runtime (the reference
relies on Kinesis shard hashing by tenant — apigateway-stack.ts:126 — we
rely on AQE + explicit repartition-by-tenant before partitioned writes).
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext, StorageLevel
from pyspark.sql import DataFrame, SparkSession

#: number of local cores the harness uses (driver contract: SPARK_GRAFT_CPUS)
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))

#: Hadoop ``LocalFileSystem`` that sets permissions in-process instead of
#: forking a ``chmod`` per directory, file and ``.crc`` (source next to the
#: jar; rebuild with ``tools/build_jvm.py``)
FS_SHIM_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "mtdp-fs.jar")
FS_SHIM_CLASS = "mtdp.fs.InProcessPermsLocalFileSystem"


def fs_shim_conf(
    jar: str, extra_conf: Mapping[str, str], context_active: bool, class_loadable: bool = True
) -> dict[str, str]:
    """Conf keys that make ``file:`` paths use the in-process-permission
    file system, or none when it cannot be used safely.

    The jar must be on the JVM's classpath at launch, so nothing is set
    when the jar is missing, when a SparkContext is already active (its
    conf is fixed and a ``fs.file.impl`` naming an unloadable class would
    fail every write), when an already-running JVM cannot load the class,
    or when the caller picked its own ``fs.file.impl``. A caller's
    ``spark.driver.extraClassPath`` is kept after the jar. ``local[N]``
    executors share the driver's JVM, so the driver classpath suffices.
    """
    if (
        context_active
        or not class_loadable
        or not os.path.isfile(jar)
        or "spark.hadoop.fs.file.impl" in extra_conf
    ):
        return {}
    cp = extra_conf.get("spark.driver.extraClassPath")
    return {
        "spark.driver.extraClassPath": jar + os.pathsep + cp if cp else jar,
        "spark.hadoop.fs.file.impl": FS_SHIM_CLASS,
    }


def _jvm_loads(name: str) -> bool:
    """Whether the running JVM, if any, can load class ``name``."""
    jvm = SparkContext._jvm
    if jvm is None:
        return True  # not launched yet: it starts with the classpath we set
    try:
        jvm.java.lang.Class.forName(name)
    except Py4JJavaError:
        return False
    return True


def get_spark(
    app_name: str = "mtdp-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    - UTC session timezone (oracle comparability; the reference stamps
      epoch-seconds UTC, FirehoseStreamingSinkJob.java:80)
    - AQE with skew-join handling on for every query in the session
      (tenant skew is the realistic case); no operator turns it off,
      pinned by tests/test_plans.py::test_operator_sets_no_aqe_conf
    - shuffle partitions sized to cores for local mode, not the 200 default
    - Arrow enabled for Pandas-UDF / toPandas paths
    - ``file:`` paths through ``FS_SHIM_CLASS`` when ``fs_shim_conf`` allows
      it, so local lake writes fork no ``chmod`` per file and directory
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Untagged parquet timestamp[us] (isAdjustedToUTC=false) must read as
        # TIMESTAMP, not TIMESTAMP_NTZ: the whole engine pins the session to
        # UTC, DuckDB's naive TIMESTAMP then agrees value-for-value, and
        # instant functions (unix_micros/unix_timestamp/...) stay applicable.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Above 32 paths (Spark's default) a file listing runs as a Spark
        # job with one task per path. On local[N] that job costs far more
        # than listing on the driver: 0.41 s vs 0.06 s for 40 local files,
        # 7.3 s vs 0.35 s for 2,000 (4 vCPUs). A streaming micro-batch over
        # more than 32 landing files would otherwise pay it every trigger.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
    )
    extra_conf = extra_conf or {}
    shim = fs_shim_conf(
        FS_SHIM_JAR,
        extra_conf,
        context_active=SparkContext._active_spark_context is not None,
        class_loadable=_jvm_loads(FS_SHIM_CLASS),
    )
    for k, v in {**extra_conf, **shim}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def persisted(df: DataFrame) -> Iterator[DataFrame]:
    """Persist ``df`` (MEMORY_AND_DISK, spill-safe) for the ``with`` block
    and unpersist it on the way out, also when the block raises.

    The one persist in the package: every operator leaves the shared
    session's cache as it found it. A frame the block returns must not
    read the cache after the block ends, so return a
    ``localCheckpoint(eager=True)`` of it. When ``df``'s plan is already
    cached (``df.storageLevel`` asks the session's CacheManager, so a
    persist through another DataFrame object or ``cacheTable`` counts),
    the caller owns that cache: ``df`` is yielded as is and stays cached.
    """
    level = df.storageLevel
    if level.useMemory or level.useDisk:
        yield df
        return
    df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield df
    finally:
        df.unpersist()
