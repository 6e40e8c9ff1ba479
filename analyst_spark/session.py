"""SparkSession factory tuned for both local testing and cluster scale.

The defaults here are chosen so the same code runs on ``local[32]``
(the test harness) and on a large multi-executor cluster:

* AQE on — runtime shuffle-partition coalescing, skew-join splitting
  and dynamic broadcast decisions make one config work across scale
  factors; at 100 TB the static ``shuffle.partitions`` value is only a
  starting point AQE refines.
* Arrow on — every pandas UDF / ``applyInPandas`` hop is
  Arrow-batched, never row-at-a-time pickling.
* UTC session timezone — timestamp semantics match the DuckDB oracle
  and are stable across driver machines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _local_driver_memory() -> str:
    """Heap for a local-master driver: 32g, capped at half the host's
    physical RAM so the JVM never grows past what the machine has."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "32g"
    return f"{min(32 * 1024, phys // 2 // (1 << 20))}m"


def get_spark(app_name: str = "analyst_spark", cpus: str | None = None) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    On a real cluster the ``master`` comes from spark-submit and the
    local[] default is ignored; nothing else here is local-specific.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # binary-column safety: default 10k rows/batch × MB-scale
        # image/audio cells = multi-GB Arrow batches in the Python
        # worker; 2048 caps batch memory with negligible overhead for
        # narrow rows
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.maxResultSize", "4g")
        # UI off by default (driver/bench runs); SPARK_GRAFT_UI=1
        # turns it on so profiling tools can read the REST API
        .config(
            "spark.ui.enabled",
            "true"
            if os.environ.get("SPARK_GRAFT_UI", "").lower()
            in ("1", "true", "yes", "on")
            else "false",
        )
        .config("spark.sql.caseSensitive", "false")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory", _local_driver_memory()
        )
        # Shuffle/spill files on tmpfs: the test host's disk has high
        # iowait variance; on a real cluster local dirs are NVMe and
        # this override is skipped. CAUTION: this host wipes
        # /dev/shm/spark-local on an hourly cron — any single Spark
        # job whose shuffle files must survive past the top of the
        # hour should set SPARK_GRAFT_LOCAL_DIR=/tmp/spark-local
        # (slower, durable); short gate/bench runs keep tmpfs speed.
        local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
        if not local_dir and os.path.isdir("/dev/shm"):
            local_dir = "/dev/shm/spark-local"
        if local_dir:
            os.makedirs(local_dir, exist_ok=True)
            builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Runtime SQL confs the engine depends on, set here (not inside
    # readers) so they apply even when getOrCreate returned a
    # pre-existing session whose builder configs were ignored:
    # - UTC: every timestamp_ntz->timestamp cast in tables.py is only
    #   wall-clock-correct under UTC (enforced there).
    # - inferTimestampNTZ off: NTZ rejects half the timestamp
    #   expression surface (unix_micros, unix_timestamp, ...).
    # - nanosAsLong: some testdata generators emit TIMESTAMP(NANOS),
    #   which the vectorized parquet reader rejects.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark
