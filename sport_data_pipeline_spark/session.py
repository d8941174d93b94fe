"""SparkSession factory with scale-appropriate defaults.

Local mode is a correctness/bench harness; the conf is chosen so the same
logical plans survive a 1000-executor cluster: AQE on (runtime re-plan,
skew-join splitting, partition coalescing), UTC session timezone (oracle
parity), Arrow transfers for the pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: Above this k, ``orderBy().limit(k)`` plans as a sort + limit instead of
#: TakeOrderedAndProject, which preallocates a k-slot heap in every task:
#: an effectively unbounded draw (``weighted_sample(df, id, 10**9, w)``)
#: would ask each task for GBs of heap for a 200-row input. Far above
#: every k this package plans, far below task-heap scale.
TOPK_SORT_FALLBACK_THRESHOLD = 100_000


def _local_dir() -> str:
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    return "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp/spark-local"


def _driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else half of physical memory: local
    mode is a driver-only JVM, so it gets real heap, but never more than
    the host can back — a heap blow-up must surface as a Java
    OutOfMemoryError, not as the kernel killing the JVM."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, phys // 2 // 2**30)}g"


def get_session(
    app_name: str = "sport_data_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned local SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. Shuffle
    partitions default to the core count — not Spark's 200 — because at
    local scale 200 partitions of a 60k-row shuffle is pure scheduling
    overhead, and on a real cluster this knob is sized to data volume.
    Runtime confs come from ``configure_runtime``, applied after
    ``extra_conf``.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _driver_memory())
        # Shuffle/spill to tmpfs when available: local-mode shuffles write
        # many small files and filesystem syscall overhead dominates small
        # stages (observed ~70% system time). A real cluster writes shuffle
        # to local SSDs — tmpfs is the single-node equivalent.
        .config("spark.local.dir", _local_dir())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure_runtime(spark)
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
    return spark


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally provided session.

    The driver harness owns its own SparkSession; these are the confs our
    operators rely on that can be applied after the fact. ``get_session``
    applies them too.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # events.parquet stores TIMESTAMP(NANOS) which Spark's reader rejects;
    # read as long and convert (catalog.load_table does the conversion).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Spark 4.1 refuses to initialize a pushFilters-implementing Python
    # data source reader while this is off (its default) — required for
    # the bronze_snapshot source's file-level pruning; runtime-settable.
    # load_snapshots() additionally degrades to the no-pushdown reader
    # for sessions that never pass through here.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.conf.set(
        "spark.sql.execution.topKSortFallbackThreshold", str(TOPK_SORT_FALLBACK_THRESHOLD)
    )
    # Externally built sessions default to 200 shuffle partitions — pure
    # scheduling overhead at harness scale (see get_session); runtime-
    # settable, results are partition-layout-invariant by construction.
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    return spark
