"""Table catalog for the driver's synthetic parquet tables.

TESTDATA.md: tables ``region nation customer supplier part orders
lineitem events documents embeddings`` live at
``{sf_dir}/{name}.parquet``. We read them lazily and keep per-path
DataFrame handles; Catalyst prunes columns and pushes filters into
the parquet scan, so handing the full table to every operator is
free (check ``.explain`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimensions small enough to broadcast at ANY scale factor (bounded
# cardinality in TPC-H-like generators: region=5, nation=25,
# supplier grows slowly). Fact tables must never be broadcast.
BROADCAST_TABLES = {"region", "nation", "supplier"}


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name != "events":
        return spark.read.parquet(table_path(sf_dir, name))
    # Defensive confs for sessions that didn't come from
    # session.get_spark:
    # nanosAsLong makes a TIMESTAMP(NANOS) ts readable (older
    # generator versions); UTC makes normalize_ts's NTZ→LTZ cast
    # epoch-exact and renders timestamps identically to DuckDB's
    # timezone-naive values.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return normalize_ts(spark.read.parquet(table_path(sf_dir, name)))


def normalize_ts(df: DataFrame) -> DataFrame:
    """Normalize an events ``ts`` to TIMESTAMP whatever the generator
    wrote (a frame without ``ts`` passes through):

    - TIMESTAMP(NANOS) → long nanos under nanosAsLong → truncate to
      µs exactly like DuckDB's ns→µs conversion;
    - timestamp[us] without tz → TIMESTAMP_NTZ → reinterpret the wall
      clock as UTC (the caller pins the session tz), which is
      bit-identical to what DuckDB reads into its naive TIMESTAMP.

    Downstream epoch math (unix_micros, windows, watermarks) requires
    the LTZ type. Works on batch and streaming frames alike."""
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


class Catalog:
    """Lazy table accessor bound to one scale-factor directory."""

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_") or name not in TABLES:
            raise AttributeError(name)
        return self.table(name)

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            self._cache[name] = load_table(self.spark, self.sf_dir, name)
        return self._cache[name]

    def register_views(self) -> None:
        """Register all tables as temp views for spark.sql() use."""
        for name in TABLES:
            self.table(name).createOrReplaceTempView(name)


def fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition a NARROW input to the session's default parallelism
    before a compute-heavy or row-multiplying transform (tokenize /
    shingle / vector fold) — but ONLY when the scan is under-parallel.

    A small single-file table arrives as ONE scan partition, so the
    expansion would run on one core no matter how many the cluster
    has. Shuffling the narrow rows first moves 1× the input;
    shuffling the exploded stream later would move ~N×. At real
    scale the file scan is already wide (one partition per ~128 MB
    split), so this is a NO-OP there — an unconditional repartition
    would re-shuffle the whole corpus for nothing. With key columns
    the placement is hash-deterministic (and co-locates the later
    per-key aggregation); results are unaffected either way.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *keys) if keys else df.repartition(n)
