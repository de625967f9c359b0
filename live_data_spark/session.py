"""SparkSession factory tuned for large-scale analytics.

The reference delegates all execution to Snowflake; here the equivalent
engine-posture decisions (columnar scans, adaptive re-planning, broadcast
thresholds, UTC timestamp discipline) are set once on the session so every
operator in the package inherits them.

Scale notes (100 TB posture):
- AQE on: runtime partition coalescing, skew-join splitting, dynamic
  broadcast decisions replace any hand-tuned shuffle counts.
- Two partition counts, one per engine. Batch exchanges start at
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``
  (``shuffle_partitions``, default 32), the *initial* number AQE
  coalesces down; under AQE it is what ``numShufflePartitions``
  resolves to. On a real cluster set it ~2-3x total cores.
- ``spark.sql.shuffle.partitions`` sizes streaming state. Streaming
  runs without AQE, and a stateful query freezes this count into its
  checkpoint at first start as its state-store partition count, paying
  one store load and commit per partition every micro-batch. It is set
  to ``defaultParallelism`` (the cores; total executor cores on a
  cluster) unless ``extra_conf`` names it.
- Session timezone pinned to UTC so parquet TIMESTAMP (isAdjustedToUTC=false)
  values are stable regardless of host TZ (SURVEY.md §7.2a).
- Arrow enabled for the few Pandas-UDF paths (similarity/multimodal).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "live_data_spark"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and submit via spark-submit/YARN/K8s.
    ``shuffle_partitions`` is the batch exchanges' initial count (32 when
    unset); streaming state partitions follow the cores (module notes).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # zstd over default snappy: ~30% smaller files at comparable CPU —
        # at 100 TB that's scan bytes, shuffle spill, and storage cost
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    builder = builder.config(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        str(shuffle_partitions or 32),
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in (extra_conf or {}):
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
    return spark
