"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for correctness-at-scale first (AQE on, skew-join
handling on, UTC session time) and tuned so the same code runs on
local[32] for tests and on a large cluster unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "stac-geoparquet-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    - AQE enabled: runtime coalescing of shuffle partitions, skew-join
      splitting, and dynamic join-strategy switching cover the 100-TB
      cases (skewed keys, mis-estimated build sides) without hand-tuning.
    - Arrow enabled for all pandas/arrow UDF paths (the geometry codec
      and multimodal operators run as Arrow-vectorized batches).
    - Session timezone pinned to UTC: the reference types all STAC
      timestamps as timestamp[us, UTC] (arrow/_to_arrow.py:101-103).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r10 optimization: coalesce post-shuffle partitions to the
        # advisory byte size instead of splitting down to max
        # parallelism.  parallelismFirst=true (the default) turns every
        # tiny reduce stage into `cores` near-empty tasks — pure
        # scheduling overhead at test scale (q1 final agg: 32 tasks of
        # <1 ms; 0.53 s -> 0.20 s with this off) and exactly the many-
        # small-blocks shuffle regime guide §2.2 warns about at scale.
        # At 100 TB post-shuffle partitions exceed the 64 MB advisory
        # size, so coalescing never reduces parallelism there; the
        # advisory size stays conf-overridable per deployment.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # TPC-H-ish dims (region/nation/customer/supplier/part at test SFs)
        # are broadcast; at 100 TB the fact side never ships.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # r11 optimization (guide §5: the driver should do almost no
        # work): every PySpark DataFrame/Column call is wrapped by
        # errors.utils._with_origin, which per call reads a session
        # conf, walks the Python stack, and makes TWO extra py4j round
        # trips (PySparkCurrentOrigin.set/clear) purely to decorate
        # error messages with user-code call sites.  A registry-wide
        # construction profile measured ~91 s of the 114 s warm bench
        # as driver-side construction, and this wrapper is a fixed tax
        # on all of it (~2,900 py4j round trips for ONE mid-size query
        # build).  Debug-origin capture off = identical plans/results,
        # errors merely lose the "was called from user_file.py:N" hint.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

