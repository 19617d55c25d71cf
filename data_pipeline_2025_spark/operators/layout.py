"""Physical-layout operators — multi-dimensional clustering for
data skipping (Delta OPTIMIZE ZORDER / Iceberg sort-order analog).

At 100 TB the scan cost of a selective query is decided by how many
files min/max pruning can SKIP, and a single-column sort only helps
predicates on that column. Z-ordering interleaves the bits of
several key columns so that any file (= contiguous run of the sort
order) covers a bounded RANGE IN EVERY DIMENSION — min/max pruning
then works for predicates on any of them. q163 makes that claim
measurable and engine-exact: same rows, three layouts, the per-file
min/max spans that pruning would use, summed. Round 6 wires the
measured claim into actual skipped I/O: the txn manifest carries
per-file footer bounds and ``txn.read_committed(prune=...)`` skips
files (streaming/timetravel.py q201).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..registry import register

Z_BITS = 16
Z_FILES = 32
_Z_EPOCH = "2024-01-01"


def _interleave_sql(u: str, d: str) -> str:
    """Bit-interleave expression (Morton/Z code) valid in BOTH Spark
    SQL and DuckDB: u's bit i lands at position 2i, d's at 2i+1."""
    terms = [
        f"((({u} >> {i}) & 1) << {2 * i}) + ((({d} >> {i}) & 1) << {2 * i + 1})"
        for i in range(Z_BITS)
    ]
    return "(" + " + ".join(terms) + ")"


# File assignment is EQUAL-WIDTH VALUE-RANGE bucketing on the sort
# key — round 6 (verdict item): the previous harness used a global
# ntile window (equal-count files, but one task sorts everything —
# the last global-sort diagnostic in the repo). Value-range buckets
# need only one broadcast min/max scalar row and assign each row
# independently (the q109/q143 bucketed_prefix_agg principle), so
# the audit itself is now all-parallel, exactly like the production
# write path (repartitionByRange + local sort). File counts per
# bucket become unequal, which is irrelevant to the quantity being
# measured: the per-file min/max SPANS that skipping prunes on.
def _bucket_sql(key: str, lo: str, hi: str, intdiv: str) -> str:
    """Bucket id in [0, Z_FILES): identical integer arithmetic in
    Spark SQL (intdiv='div') and DuckDB (intdiv='//')."""
    return (
        f"CAST((({key}) - ({lo})) * {Z_FILES} {intdiv}"
        f" (({hi}) - ({lo}) + 1) AS BIGINT)"
    )


_ORACLE_Q163 = f"""
WITH base AS (
    SELECT event_id,
           user_id & 65535 AS u,
           date_diff('day', DATE '{_Z_EPOCH}', CAST(ts AS DATE)) AS d
    FROM events
),
keyed AS (
    SELECT *, {_interleave_sql('u', 'd')} AS z FROM base
),
rng AS (
    SELECT MIN(u) AS ulo, MAX(u) AS uhi,
           MIN(d) AS dlo, MAX(d) AS dhi,
           MIN(z) AS zlo, MAX(z) AS zhi
    FROM keyed
),
layouts AS (
    SELECT 'day_sorted' AS layout, u, d,
           {_bucket_sql('d', 'dlo', 'dhi', '//')} AS f
    FROM keyed, rng
    UNION ALL
    SELECT 'user_sorted' AS layout, u, d,
           {_bucket_sql('u', 'ulo', 'uhi', '//')} AS f
    FROM keyed, rng
    UNION ALL
    SELECT 'zorder' AS layout, u, d,
           {_bucket_sql('z', 'zlo', 'zhi', '//')} AS f
    FROM keyed, rng
),
per_file AS (
    SELECT layout, f,
           MAX(u) - MIN(u) AS uspan,
           MAX(d) - MIN(d) AS dspan
    FROM layouts GROUP BY layout, f
)
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(uspan) AS BIGINT) AS sum_user_span,
       CAST(SUM(dspan) AS BIGINT) AS sum_day_span
FROM per_file
GROUP BY layout
ORDER BY layout
"""


@register(
    "q163_zorder_locality",
    oracle=_ORACLE_Q163,
    doc="Z-order (Morton) clustering audit: the same rows bucketed "
    "into ≤32 'files' under three sort orders — day-sorted, "
    "user-sorted, z-ordered (16-bit interleave of user and "
    "epoch-day) — with each file's min/max span per dimension "
    "summed, exactly the statistics min/max file skipping prunes "
    "on. Single-column sorts degenerate on the other dimension; "
    "z-order bounds both. Round 6: file assignment is equal-width "
    "value-range bucketing from one broadcast min/max scalar (all-"
    "parallel, like the production write path) — the former global "
    "ntile window is gone.",
    tags=("layout", "zorder", "skipping"),
)
def q163_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    base = cat.events.select(
        "event_id",
        F.expr("user_id & 65535").alias("u"),
        F.datediff(F.to_date("ts"), F.lit(_Z_EPOCH).cast("date")).alias("d"),
    )
    keyed = base.withColumn("z", F.expr(_interleave_sql("u", "d")))
    rng = keyed.agg(
        F.min("u").alias("ulo"),
        F.max("u").alias("uhi"),
        F.min("d").alias("dlo"),
        F.max("d").alias("dhi"),
        F.min("z").alias("zlo"),
        F.max("z").alias("zhi"),
    )
    # r10 optimization (guide §2.4/§7.2): the former 3-leg union
    # recomputed the events scan + the 96-term Morton expression once
    # per leg, and the min/max agg subtree three more times (plan: 12
    # parquet scans). One pass now emits all three (layout, f) pairs
    # per row via an inline explode — the z expression and the scan
    # run ONCE — and the 1-row range frame is checkpointed so its agg
    # runs once too. Row multiset fed to the groupBy is identical to
    # the union's.
    rng = rng.localCheckpoint(eager=True)
    withrng = keyed.crossJoin(F.broadcast(rng))
    legs = F.array(
        *[
            F.struct(
                F.lit(name).alias("layout"),
                F.expr(_bucket_sql(key, lo, hi, "div")).alias("f"),
            )
            for name, key, lo, hi in (
                ("day_sorted", "d", "dlo", "dhi"),
                ("user_sorted", "u", "ulo", "uhi"),
                ("zorder", "z", "zlo", "zhi"),
            )
        ]
    )
    layouts = withrng.select(
        "u", "d", F.explode(legs).alias("leg")
    ).select(F.col("leg.layout").alias("layout"), "u", "d", F.col("leg.f").alias("f"))
    per_file = layouts.groupBy("layout", "f").agg(
        (F.max("u") - F.min("u")).alias("uspan"),
        (F.max("d") - F.min("d")).alias("dspan"),
    )
    return (
        per_file.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("uspan").alias("sum_user_span"),
            F.sum("dspan").alias("sum_day_span"),
        )
        .orderBy("layout")
    )


# --------------- q239: multi-format sink/source round-trip parity
#
# The sources/sinks axis beyond parquet (SURVEY §2.1): the same
# slice of events written to PARQUET, ORC, JSON, and CSV through
# Spark's native writers, read back with an EXPLICIT schema (the
# discipline that makes text formats safe — inference would turn
# CSV bigints into strings on an unlucky sample), and aggregated —
# every format leg must reproduce the direct aggregate
# bit-for-bit. This pins the two classic text-format hazards:
# double round-tripping (Spark writes shortest-round-trip decimal
# strings; the exact-decimal money path then makes the sum
# rendering-independent) and type erosion. Columns are
# bigint/double/string only; the timestamp is carried as an ISO
# day STRING — date/time serialization across four formats is a
# config matrix, not a correctness property, so it is normalized
# before the sink boundary (the same choice the gold sinks make).
# At 100 TB: columnar formats carry footer stats and prune;
# JSON/CSV legs exist for interchange, and the parity harness is
# how you prove an interchange copy lossless before promoting it.

_RT_FORMATS = ("csv", "json", "orc", "parquet")
_RT_SCHEMA = (
    "event_id BIGINT, user_id BIGINT, value DOUBLE, "
    "event_type STRING, day STRING"
)

_ORACLE_Q239 = """
WITH agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
               AS value_sum_d,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
)
SELECT f.fmt AS format, a.n_rows, a.value_sum_d, a.n_users
FROM agg a, (VALUES ('csv'), ('json'), ('orc'), ('parquet')) AS f(fmt)
ORDER BY f.fmt
"""


@register(
    "q239_format_roundtrip",
    oracle=_ORACLE_Q239,
    doc="Sink/source format parity: the same events slice written "
    "to CSV/JSON/ORC/parquet via the native writers, read back "
    "under an explicit schema, aggregated — all four legs must "
    "reproduce the direct aggregate bit-for-bit (double "
    "round-tripping + type erosion pinned).",
    tags=("sources", "sinks", "formats"),
)
def q239_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from functools import reduce

    from ..artifacts import built_scratch

    def build(root: str) -> None:
        ev = Catalog(spark, sf_dir).events.select(
            "event_id",
            "user_id",
            "value",
            "event_type",
            F.to_date("ts").cast("string").alias("day"),
        )
        for fmt in _RT_FORMATS:
            w = ev.write.format(fmt)
            if fmt == "csv":
                w = w.option("header", "true")
            w.save(os.path.join(root, fmt))

    root = built_scratch(spark, sf_dir, "q239", build)
    legs = []
    for fmt in _RT_FORMATS:
        path = os.path.join(root, fmt)
        r = spark.read.schema(_RT_SCHEMA).format(fmt)
        if fmt == "csv":
            r = r.option("header", "true")
        back = r.load(path)
        legs.append(
            back.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.expr(
                    "CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2)"
                    " AS DOUBLE)"
                ).alias("value_sum_d"),
                F.countDistinct("user_id").cast("bigint").alias("n_users"),
            ).select(F.lit(fmt).alias("format"), "*")
        )
    return reduce(DataFrame.unionByName, legs).orderBy("format")
