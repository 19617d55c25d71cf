"""Domain mapping: the reference's supermarket data model projected
onto the driver's TPC-H-ish tables.

The reference (SURVEY.md §1.3) models `supermarkets` (a tiny store
dimension, salim/tables.sql:4-12) and `products` (an append-only
stream of price observations keyed by (supermarket_id, barcode,
collected_at), salim/tables.sql:14-41). The driver's synthetic
tables carry the same shapes:

    supermarkets := supplier ⋈ nation      (bounded dimension)
    products     := lineitem ⋈ part        (one observation per line)

with  barcode       := l_partkey   (cross-store product identity, J4)
      supermarket   := l_suppkey
      price         := l_extendedprice            (decimal 12,2)
      promo_price   := price*(1-discount) when discount>0 (A10's
                       "promo iff discounted" convention)
      collected_at  := l_shipdate  (event time for history/trend)
      product_id    := md5 content hash of the identifying fields —
                       a deterministic surrogate for the reference's
                       SERIAL id (SURVEY §7 hard-part #3). A hash
                       (not a global row_number) because at 100 TB a
                       surrogate must not require a total sort;
                       (l_orderkey, l_linenumber) alone is NOT unique
                       in the synthetic data, full row content is.

Both the Spark builders and the matching DuckDB CTE text live here so
every domain operator states its semantics once and reuses them.

Scale note: products is a fact-table view — the part join broadcasts
(bounded dimension), so materializing it is one scan with pushed
filters; nothing here shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .artifacts import materialize
from .catalog import Catalog
from .functions.money import dec, dec_lit
from .streaming import txn

SUPERMARKETS_CTE = """supermarkets AS (
  SELECT s_suppkey AS supermarket_id, s_name AS name, n_name AS city
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
)"""

PRODUCTS_CTE = """products AS (
  SELECT
    md5(l_orderkey || '|' || l_linenumber || '|' || l_partkey || '|' || l_suppkey
        || '|' || CAST(CAST(l_quantity AS DECIMAL(12,3)) AS VARCHAR)
        || '|' || CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR)
        || '|' || CAST(CAST(l_shipdate AS DATE) AS VARCHAR)) AS product_id,
    l_suppkey AS supermarket_id,
    CAST(l_partkey AS VARCHAR) AS barcode,
    p_name AS canonical_name,
    p_brand AS brand,
    p_type AS category,
    CAST(l_quantity AS DECIMAL(12,3)) AS size_value,
    CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
    CASE WHEN l_discount > 0 THEN ROUND(
      CAST(l_extendedprice AS DECIMAL(12,2)) *
      (CAST('1.0000' AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))), 2)
    END AS promo_price,
    l_shipdate AS collected_at
  FROM lineitem JOIN part ON l_partkey = p_partkey
)"""


def domain_sql(body: str) -> str:
    """Wrap an oracle body with the domain CTEs."""
    return f"WITH {SUPERMARKETS_CTE},\n{PRODUCTS_CTE}\n{body}"


def supermarkets(cat: Catalog) -> DataFrame:
    return (
        cat.supplier.join(
            F.broadcast(cat.nation),
            cat.supplier.s_nationkey == cat.nation.n_nationkey,
        )
        .select(
            F.col("s_suppkey").alias("supermarket_id"),
            F.col("s_name").alias("name"),
            F.col("n_name").alias("city"),
        )
    )


def in_memory(df: DataFrame) -> DataFrame:
    """A small frame (the ~100-row store dimension) collected once
    into a local relation, so a query that reads or broadcasts it
    rescans no file and runs no nested join."""
    return df.sparkSession.createDataFrame(df.toPandas(), df.schema)


def products(cat: Catalog) -> DataFrame:
    """The products fact view: a silver txn table published once per
    (process, sf_dir) — the engine's ingest-time materialization,
    mirroring the reference where `products` IS a loaded Postgres
    table (tables.sql:14-41), not a per-query join. The md5 surrogate
    id is computed once at write time instead of per query (SCALE.md:
    "materialize the id at ingest"); every domain query then scans a
    columnar table with pushed filters and no join. The read is the
    committed snapshot, so a frame held across requests keeps its
    files when another process republishes (artifacts.py)."""
    path = materialize(cat.sf_dir, "products_silver", lambda: _products_expr(cat))
    return txn.read_committed(cat.spark, path)


def _products_expr(cat: Catalog) -> DataFrame:
    price = dec("l_extendedprice")
    disc = dec("l_discount", 6, 4)
    one = dec_lit("1.0000")
    return (
        cat.lineitem.join(
            F.broadcast(cat.part),
            cat.lineitem.l_partkey == cat.part.p_partkey,
        )
        .select(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("l_orderkey"),
                    F.col("l_linenumber"),
                    F.col("l_partkey"),
                    F.col("l_suppkey"),
                    dec("l_quantity", 12, 3).cast("string"),
                    dec("l_extendedprice").cast("string"),
                    F.col("l_shipdate").cast("date").cast("string"),
                )
            ).alias("product_id"),
            F.col("l_suppkey").alias("supermarket_id"),
            F.col("l_partkey").cast("string").alias("barcode"),
            F.col("p_name").alias("canonical_name"),
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("category"),
            dec("l_quantity", 12, 3).alias("size_value"),
            price.alias("price"),
            F.when(F.col("l_discount") > 0, F.round(price * (one - disc), 2)).alias(
                "promo_price"
            ),
            F.col("l_shipdate").alias("collected_at"),
            # Raw double retained (underscore = not part of the domain
            # schema): predicates on the DECIMAL price column can't
            # push into the parquet scan (cast blocks it), so range
            # queries add a superset pre-filter on this raw column —
            # see search.q02. Queries never output it.
            F.col("l_extendedprice").alias("_price_raw"),
        )
    )
