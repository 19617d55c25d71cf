"""Bucketed co-located fact⋈fact join (q94) — the storage-layout
half of the shuffle-minimization story (SCALE.md): when BOTH join
sides are written bucketed on the join key with the same bucket
count, Spark's scan already satisfies the join's required
distribution and the exchange disappears from the plan.

This matters precisely where broadcasting stops working: fact⋈fact
joins (orders ⋈ lineitem at 100 TB — neither side fits in memory).
Without bucketing every such join shuffles BOTH inputs end to end;
with ingest-time bucketing the shuffle is paid ONCE at write time
and amortized over every subsequent join, which is why warehouses
bucket their biggest fact tables on their most-joined key.

Mechanics here: the two bucketed tables are external parquet tables
(CLUSTERED BY (key) INTO 8 BUCKETS, SORTED BY) materialized under
the hardened artifact root (artifacts.py) and registered in the
session catalog on first use — the same ingest-time-materialization
contract as the silver products table and the trigram index. The
query joins them under a MERGE hint (locally the tiny sides would
otherwise broadcast, hiding the demonstrated path; at 100 TB merge
IS the only option) and tests/test_plans.py asserts the join runs
with no shuffle on the join key — the only exchange in the plan is
the one for the final small aggregation.

Reference basis: the reference keeps prices+items co-resident in
Postgres with btree-indexed joins (salim/tables.sql); bucketing is
the distributed analog of that co-location.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import artifact_path, sf_key
from ..catalog import Catalog
from ..functions.money import dec, money_out
from ..registry import register

N_BUCKETS = 8


def ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize orders/lineitem as bucketed external tables (once
    per session+sf_dir) and return their catalog names."""
    key = sf_key(sf_dir)
    names = (f"dp2025_orders_b_{key}", f"dp2025_lineitem_b_{key}")
    cat = Catalog(spark, sf_dir)
    for name, df, bucket_col in (
        (names[0], cat.orders, "o_orderkey"),
        (names[1], cat.lineitem, "l_orderkey"),
    ):
        if spark.catalog.tableExists(name):
            continue
        (
            df.write.mode("overwrite")
            .bucketBy(N_BUCKETS, bucket_col)
            .sortBy(bucket_col)
            .option("path", artifact_path(sf_dir, f"bucketed/{name}"))
            .format("parquet")
            .saveAsTable(name)
        )
    return names


_ORACLE_Q94 = """
SELECT o.o_orderstatus,
       l.l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS line_count,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty_d
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus, l.l_returnflag
"""


@register(
    "q94_bucketed_colocated_join",
    oracle=_ORACLE_Q94,
    doc=f"Fact⋈fact join over tables bucketed INTO {N_BUCKETS} "
    "BUCKETS on the join key: the scan satisfies the join "
    "distribution, so the join itself is shuffle-free (plan-"
    "asserted) — the write-once/join-many layout for joins too big "
    "to broadcast.",
    tags=("join", "bucketing", "scale"),
)
def q94_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders_t, lineitem_t = ensure_bucketed_tables(spark, sf_dir)
    o = spark.table(orders_t).hint("merge")
    l = spark.table(lineitem_t).hint("merge")
    qty = dec("l_quantity")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("line_count"),
            money_out(F.sum(qty)).alias("total_qty_d"),
        )
    )
