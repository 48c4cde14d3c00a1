"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the
configuration below is chosen so the same logical plans scale to a
multi-executor cluster at ~100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast conversion) — replaces the reference's hand-set
  parallelism hints (reference: flink-statistics OfflineDataSetUtils.java:210,
  flink-process Hdfs2RedisVersion5.java:102).
- shuffle.partitions ~= cores locally; on a real cluster this would be
  2-3x total executor cores, but AQE coalescing makes the initial number
  far less critical than in static planning.
- session timezone pinned UTC so event-time window math is reproducible
  and comparable against the DuckDB oracle (DuckDB timestamps are
  UTC-naive). The reference's +8h day-window alignment
  (flink-statistics ActionLogJobSecond.java:226) is expressed explicitly
  as a window offset instead of an ambient JVM timezone.
- Arrow enabled: every Pandas-UDF boundary is Arrow-batched.
- Driver heap (``spark.driver.memory``): ``$SPARK_GRAFT_DRIVER_MEM``
  verbatim when set (e.g. ``4g``). Otherwise half of the host's memory,
  rounded down to whole GiB, capped at 48g and at least 1g. The host's
  memory is the physical RAM, or the cgroup memory limit where one is
  set and smaller. Locally the driver JVM is the only Spark process;
  the other half is left for the JVM's off-heap memory (~1.5 GB at a
  7g heap), the Python process, pandas and DuckDB. A heap larger than
  the host lets the JVM grow until the kernel kills it. The resolved
  heap and its inputs are logged (INFO, this module's logger) when
  ``get_spark`` launches the JVM, and the test suite prints the same
  line in its report header.
- Streaming checkpoints commit through Hadoop's FileSystem API
  (``FileSystemBasedCheckpointFileManager``), not the default FileContext
  manager. On ``file:`` the FileContext rename reaches
  ``AbstractFileSystem.renameInternal``, which stats both paths with
  ``getFileLinkStatus``; without native libhadoop each stat forks a
  ``readlink`` process, several per checkpoint file. The FileSystem
  manager renames with ``FileSystem.rename``, which on Hadoop's
  ``LocalFileSystem`` is one atomic ``rename(2)``. That is as atomic as
  the default on LOCAL DISK ONLY: for checkpoints on HDFS or an object
  store, set ``spark.sql.streaming.checkpointFileManagerClass`` to
  Spark's default, ``...checkpointing.FileContextBasedCheckpointFileManager``,
  through ``extra_conf``. Spark's checkpoint file checksums wrap either
  manager and are unchanged.
- ``file:`` is Hadoop's ``LocalFileSystem`` (``spark.hadoop.fs.file.impl``).
  PySpark's ``hive-exec`` jar registers Hive's ``ProxyLocalFileSystem``
  for ``file:``, whose rename returns false when the target exists; the
  FileSystem manager reads that as "already written", so a replayed
  batch's state files kept the old copy and left their temp files behind.
  Hive's class differs from Hadoop's only in that rename. Like the heap,
  this holds from the call that starts the SparkContext.
- State stores keep one committed version in memory
  (``spark.sql.streaming.maxBatchesToRetainInMemory=1``). Spark's
  default of 2 also keeps the previous version for a task retried
  after a failure; ``local[N]`` gives each task one attempt, so that
  copy is memory nothing reads.

``extra_conf`` overrides every setting above.
"""

from __future__ import annotations

import logging
import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
LOCAL_FILE_SYSTEM = "org.apache.hadoop.fs.LocalFileSystem"

_GIB = 1 << 30
# the heap every host got before the default was sized to the host;
# hosts with 96 GiB or more keep it
_MAX_DEFAULT_HEAP_GIB = 48
# cgroup v2, then v1; v1 reports "no limit" as ~2**63
_CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)

_log = logging.getLogger(__name__)


def _host_memory() -> tuple[int, int | None]:
    """(physical memory, cgroup memory limit or None), in bytes."""
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in _CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        # "max" (v2) or a v1 sentinel past any real memory: no limit
        if raw.isdigit() and int(raw) < 1 << 60:
            return physical, int(raw)
        break
    return physical, None


def _default_driver_memory(physical: int, cgroup_limit: int | None) -> str:
    """Half the host's memory in whole GiB, within [1g, 48g]."""
    host = physical if cgroup_limit is None else min(physical, cgroup_limit)
    return f"{max(1, min(_MAX_DEFAULT_HEAP_GIB, host // 2 // _GIB))}g"


def resolve_driver_memory() -> tuple[str, str]:
    """(``spark.driver.memory`` for a new JVM, a line naming it and its
    inputs). Probes the host only; starts no JVM."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or None
    physical, cgroup_limit = _host_memory()
    heap = override or _default_driver_memory(physical, cgroup_limit)
    limit = "none" if cgroup_limit is None else f"{cgroup_limit / _GIB:.1f} GiB"
    return heap, (
        f"spark driver heap {heap} (SPARK_GRAFT_DRIVER_MEM={override}, "
        f"physical {physical / _GIB:.1f} GiB, cgroup limit {limit})"
    )


def _driver_memory() -> str:
    """``spark.driver.memory`` for a new JVM; logs the value and its inputs."""
    heap, line = resolve_driver_memory()
    _log.info("%s", line)
    return heap


def get_spark(
    app_name: str = "flink_project_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    Note: JVM-level options (driver memory) only take effect on the first
    session created in the process, so the heap is resolved (and logged)
    only when the call launches the JVM.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # FAIR scheduling lets independent jobs share executor slots —
        # the bench's parallel cache-build chains and any multi-tenant
        # deployment benefit; FIFO would serialize concurrent pipelines
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # driver testdata stores events.ts as parquet TIMESTAMP(NANOS) which
        # Spark has no native type for; read as long and normalize in
        # fixtures.load_tables (runtime-settable, so it also applies when the
        # harness hands us its own session)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local-disk checkpoints only, see the module docstring
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            CHECKPOINT_FILE_MANAGER,
        )
        .config("spark.sql.streaming.maxBatchesToRetainInMemory", "1")
        .config("spark.hadoop.fs.file.impl", LOCAL_FILE_SYSTEM)
    )
    # opt-in live-Kafka tier (tests/test_kafka_live.py): pull the
    # spark-sql-kafka connector from Maven when the environment has a
    # broker + network. "1"/"true" selects the coordinate matching the
    # running pyspark; any other value is used as the coordinate
    # verbatim. Only effective on the FIRST session in the process
    # (jars are a JVM-level option), like driver memory below.
    kafka_pkg = os.environ.get("SPARK_GRAFT_KAFKA_PACKAGE")
    if kafka_pkg:
        if kafka_pkg.lower() in ("1", "true", "yes"):
            import pyspark

            # the Scala ABI suffix follows the pyspark line: Spark 4.x
            # wheels are built against Scala 2.13, Spark 3.x against
            # 2.12 — a hardcoded 2.13 would pull an ABI-incompatible
            # connector under pyspark 3.x
            major = int(pyspark.__version__.split(".")[0])
            scala = "2.13" if major >= 4 else "2.12"
            kafka_pkg = (
                f"org.apache.spark:spark-sql-kafka-0-10_{scala}:"
                + pyspark.__version__
            )
        builder = builder.config("spark.jars.packages", kafka_pkg)
    # local-mode memory: single JVM, driver is the only process. The heap
    # is fixed when the py4j gateway launches the JVM; a session stopped
    # and created again in the same process keeps that JVM and its heap.
    if SparkContext._gateway is None:
        builder = builder.config("spark.driver.memory", _driver_memory())
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread(df, parallelism: int | None = None):
    """Repartition a DataFrame ahead of a CPU-dense projection.

    Columnar scans parallelize by input bytes, but operators whose cost
    is per-VALUE (hashing every shingle, folding 64-dim arrays) can be
    compute-bound on a handful of scan partitions — locally a <1 MB
    parquet file is ONE partition, and on a cluster a few compressed
    row groups can starve a 1000-core job the same way. An explicit
    round-robin repartition to the session's default parallelism costs
    one tiny shuffle of the *input* rows and unlocks every core for the
    expensive projection that follows.
    """
    if parallelism is None:
        parallelism = df.sparkSession.sparkContext.defaultParallelism
    # unconditional: the old `df.rdd.getNumPartitions() >= parallelism`
    # guard paid a full plan->RDD conversion per call and read the
    # PRE-AQE static partition count (post-shuffle frames reported
    # shuffle.partitions while AQE coalesced them to a handful at
    # runtime, so the guard skipped exactly the frames that needed
    # spreading). Callers apply spread() to small scans ahead of
    # CPU-dense projections, where the round-robin exchange is noise.
    return df.repartition(parallelism)
