"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the configs below are the ones that
matter at cluster scale too: AQE (runtime re-planning, skew-join
splitting, partition coalescing), Arrow for the pandas-UDF boundary,
and a shuffle-partition count sized for the test machine (on a real
1000-executor cluster this would be raised or left to AQE's
coalescing with a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "c99_vectordb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.session.timeZone", "UTC")
        # some driver testdata vintages carried TIMESTAMP(NANOS) parquet
        # columns, which Spark rejects by default; allow reading them as
        # BIGINT nanos — functions.text.normalize_event_time converts
        # either vintage to canonical (ts TIMESTAMP_NTZ, ts_us BIGINT)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-spread ``df`` over the cluster's ``defaultParallelism`` tasks,
    keyed on ``keys`` (at least one; the row id).

    The rule, stated once for every caller:

    - **When to spread:** right before a compute-dense map-side stage
      (per-row UDFs, hashing, vector folds, codecs) whose input is a
      single split -- every small single-file parquet table scans as
      one task -- or a byte-small exchange that AQE would coalesce.
      The shuffle moves only the input rows; the stage after it gains
      the whole cluster.
    - **How:** an explicit partition count, which plans as
      ``REPARTITION_BY_NUM`` and which AQE's byte-sized coalescing
      never folds (it cannot see per-row compute), keyed on the row id,
      so there is no round-robin sort-before-repartition.
    - **When not to spread:** inside iterative, overhead-bound loops
      (graph/kcore/SSSP measured 2-4x worse, OPTIMIZATION_r12 lesson
      2), and on input that already has at least ``defaultParallelism``
      partitions.
    """
    if not keys:
        raise ValueError("spread: give at least one key column")
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *keys)
