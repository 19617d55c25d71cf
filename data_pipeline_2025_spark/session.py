"""SparkSession factory tuned for both local testing and cluster scale.

Defaults are chosen for the driver's local[32] / 128 GiB test box but
every knob is the one you'd set on a 1000-executor cluster too:
AQE on (runtime re-planning, skew-join splitting, partition
coalescing), a generous broadcast threshold so the reference's tiny
dimensions (supermarkets ≈ supplier/nation/region) always broadcast,
and UTC session time so results are reproducible against any oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One flag per scale concern — see SURVEY.md §4 / §7.
DEFAULT_CONF: dict[str, str] = {
    # Determinism / oracle parity
    "spark.sql.session.timeZone": "UTC",
    # Shuffle sizing: 32 matches local core count; on a real cluster
    # AQE coalesces from a higher initial number anyway.
    "spark.sql.shuffle.partitions": "32",
    # Adaptive execution: runtime partition coalescing + skew-join
    # splitting + dynamic broadcast — the main 100 TB safety net.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimensions up to 64 MiB broadcast instead of shuffling the fact.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Scan granularity: 128 MiB splits keep 100 TB ≈ 800k tasks.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Arrow for any pandas-UDF path (vectors, multimodal stubs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Quieter local runs; harmless on a cluster.
    "spark.ui.showConsoleProgress": "false",
    # PySpark otherwise records the Python call site of every Column
    # function for error messages, at about four extra py4j round
    # trips each: a served history request made 562 round trips with
    # it and 314 without, and building the plan is most of a point
    # request's cost (SCALE.md, serving patterns).
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # The driver's events.parquet stores ts as TIMESTAMP(NANOS),
    # which Spark refuses by default; read it as long nanos and let
    # the catalog convert to a microsecond timestamp (truncation —
    # same as DuckDB's ns→µs behavior).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(
    app_name: str = "data-pipeline-2025-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (``local[*]``
    when unset) so tests, bench.py and the driver all agree.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    # local[N] runs the whole "cluster" in the driver JVM; the 1g
    # default heap is too small for 32 concurrent tasks. 4g suffices
    # now that persisted frames are cached per-(session, sf_dir) with
    # eviction (operators/dedup.py) instead of leaking one copy per
    # query call — the round-1 16g setting was compensating for that
    # leak. Only effective before JVM launch, harmless afterwards.
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "4g"))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

