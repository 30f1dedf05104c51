"""SparkSession factory with scale-oriented defaults.

Defaults mirror what we'd ship for a 1000-executor cluster reading
100 TB: AQE on (runtime coalescing + skew-join splitting), Arrow for
every Python<->JVM hop, and shuffle-partition counts that AQE can
shrink. Local sessions take their cores and memory from the host.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conservative-at-scale knobs. On a real cluster these ride on
# spark-submit conf; locally they make local[N] behave like a
# miniature cluster (AQE coalescing, skew splitting, Arrow batches).
SCALE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size for pandas UDFs: big enough to amortize, small
    # enough to bound executor memory per batch at wide rows.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # 128 MiB input splits — parquet row-group aligned.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Broadcast anything under 64 MiB; all rsyslog lookup tables are
    # tiny dimensions, so joins against them must never shuffle.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # RFC 5424 allows repeated SD param names and rsyslog keeps the
    # last occurrence; default EXCEPTION policy would abort the whole
    # job on the first repeated key in map_from_arrays/_entries
    # (mmpstrucdata, mmnormalize).
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
}


def host_nproc() -> int:
    """CPUs this process may run on (its affinity mask, not the box)."""
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    """Physical memory (``MemTotal``), in MiB."""
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20


def get_spark(
    app_name: str = "rsyslog_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Unset ``master`` means ``local[$SPARK_GRAFT_CPUS]``, else one slot
    per CPU of :func:`host_nproc`. The driver gets ``$SPARK_DRIVER_MEM``,
    else half the host's memory, at most 24g.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or host_nproc()
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # one shuffle partition per core (local[*] and non-local masters:
        # per host CPU); AQE coalesces further
        n = master.partition("[")[2].rstrip("]")
        shuffle_partitions = max(8, int(n) if n.isdigit() else host_nproc())
    conf = {
        **SCALE_CONF,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM")
        or f"{min(24 * 1024, host_mem_mb() // 2)}m",
        **(extra_conf or {}),
    }
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
