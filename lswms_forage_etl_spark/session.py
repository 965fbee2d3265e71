"""SparkSession factory with scale-oriented defaults.

Defaults chosen for a local[N] harness, N = $SPARK_GRAFT_CPUS or else the
CPUs this process may run on, but expressed so the same settings are
correct on a 1000-executor cluster:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast-join demotion/promotion) — the engine relies on AQE instead of
  hand-tuned partition counts.
- Arrow on — every model operator (GWR/GP, §2.9) crosses the Python boundary
  via Arrow-batched pandas UDFs, never row-at-a-time.
- UTC session timezone — the reference encodes dates as int yyyymmdd
  (data_extraction_v2.py:110-114); a fixed zone keeps the codec stable across
  driver/executor/oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "lswms_forage_etl_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        .config("spark.executor.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
