"""SparkSession construction tuned for both local testing and cluster scale.

Local mode is a single JVM (``local[N]``); on a real cluster the same
configs hold — AQE handles runtime partition coalescing and skew joins,
so the static ``shuffle.partitions`` value is a ceiling, not a schedule.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# C2 inlining bound for the driver JVM: the largest bytecode size of a
# hot method C2 inlines (JDK 17 default 325). Smaller inline trees make
# each C2 compile cheaper, so the compile queue drains instead of running
# behind for most of a short process. In -XX:+CITime runs of perfbench
# `batch` (4 cores) C2 compiled for 30 s of the run's about 70 s of
# process-tree CPU, and 2800-3500 methods ran tier-2 code while queued;
# with the bound, 20 s and about 350. `batch` CPU per op fell and the
# warm sf0.1 headline passes kept their wall time (CHANGES.md has the
# pairs, and the levers tried and rejected).
DRIVER_JAVA_OPTIONS = "-XX:FreqInlineSize=100"


def default_driver_memory() -> str:
    """Spark's ``spark.driver.memory`` unless ``SPARK_GRAFT_DRIVER_MEM``
    is set: 16g, or half the host's physical memory when that is less,
    so a default heap never outgrows the machine it runs on."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    half_mib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2 // 2**20
    return f"{min(16 * 1024, half_mib)}m"


def get_spark(
    app_name: str = "s2_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned session.

    Scale notes: every config here is chosen to survive a 1000-executor
    cluster — AQE on (runtime coalesce + skew-join splitting), Arrow on
    (pandas-UDF fast path), UTC session TZ (oracle comparability),
    and broadcast threshold left at default so Catalyst auto-broadcasts
    the small dimension tables (region/nation/…).
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        # the launcher places a caller's spark.driver.extraJavaOptions
        # after these, so both apply; only the driver JVM gets them (in
        # local mode the executors run inside it)
        .config("spark.driver.defaultJavaOptions", DRIVER_JAVA_OPTIONS)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # fixtures write TIMESTAMP(NANOS) which Spark's vectorized reader
        # rejects; read as i64 nanos and normalize in tables.t()
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # generated-class cache (a static, JVM-wide conf). Spark keeps 100
        # entries; one round of the batch benchmark (12 headline queries,
        # two bulk appends, a streaming mirror) needs about 260 distinct
        # classes, so at 100 the LRU evicts every class before its plan
        # runs again and each repeat re-runs Janino and the JIT on it.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # an ordered limit(k) at or below this plans TakeOrderedAndProject,
        # whose per-task priority queue allocates 2k slots up front: with
        # Spark's unbounded default a limit of 10**9 throws
        # OutOfMemoryError on any heap. Above it Spark sorts and collects
        # the limit instead. Far above every limit the engine plans (the
        # registry's at most 500, the unary read cap of 1000), whose
        # plans keep the top-k operator.
        .config("spark.sql.execution.topKSortFallbackThreshold", "1000000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
