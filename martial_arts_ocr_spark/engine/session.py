"""SparkSession builder with the engine's scale-oriented defaults.

Settings chosen for the 100 TB target (SURVEY.md §4.3) and applied
identically in tests/bench so measured plans are the shipped plans:

* AQE on (+ skew-join): runtime shuffle re-planning replaces hand-tuned
  partition counts at unknown scale;
* Arrow batch cap: extraction UDF memory ∝ batch_rows × html size — 256
  rows/batch keeps executor-side Python workers bounded with multi-MB pages;
* shuffle partitions default to the session's ``defaultParallelism``
  (the cores the master grants), so a default session is sized for its
  host; on a real cluster AQE coalesces, so over-provisioning is the safe
  direction.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 256

# Captured at IMPORT time: under spark-submit the driver-side gateway env
# is set before any user code runs, so this is True exactly when a
# launcher (with its own --master/spark.master) owns the JVM. It must be
# a module-level snapshot because pyspark's in-process launch_gateway
# ALSO sets PYSPARK_GATEWAY_PORT once the first session is built — a
# live check would misclassify every session built after the first one.
_LAUNCHER_OWNS_MASTER = "PYSPARK_GATEWAY_PORT" in os.environ


def build_session(
    app_name: str = "martial_arts_ocr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # only call .master() when one was explicitly chosen (arg or env).
    # Under spark-submit the driver JVM already exists with the
    # --master/spark.master the operator chose (_LAUNCHER_OWNS_MASTER),
    # and the old unconditional builder.master("local[*]") silently
    # overrode it — the cluster entry point would run local-mode on the
    # driver machine with no error (review fix, round 4). Outside
    # spark-submit there is no launcher master, so the local[*] default
    # still applies.
    master = master or os.environ.get("SPARK_MASTER")
    if master is None and not _LAUNCHER_OWNS_MASTER:
        master = "local[*]"
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    b = (
        b
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_BATCH_ROWS))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # pin the conf event-time NTZ reads silently rest on (round-4
        # review): parquet timestamp[us] isAdjustedToUTC=false must read
        # as TIMESTAMP_NTZ (the inferTimestampNTZ DEFAULT, but a default
        # is not a contract). The session TIMEZONE is deliberately NOT
        # pinned: the oracle engine (DuckDB, driver-owned) always follows
        # the host TZ and cannot be configured from here, so both engines
        # following the host TZ is the equilibrium that stays exact under
        # ANY host TZ — pinning Spark alone to UTC was tried and broke
        # events_hourly (LTZ date_trunc) under TZ=America/New_York; the
        # TZ-robustness gate run pins the equilibrium each round.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if shuffle_partitions is None:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(spark.sparkContext.defaultParallelism))
    return spark
