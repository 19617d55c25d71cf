"""Cheapest-product queries — the reference's `GET /products/
lowest-prices` (SURVEY.md §2.3 J2, §2.5 W1/W3, §2.6 O1, §2.4 A11;
salim/app/server/routes/products.py:70-143).

Two deliberate reference quirks preserved:
- W1 keeps TIES: the reference's min-price subquery JOIN matches all
  rows at the per-store minimum, so we use rank()==1, not
  row_number (SURVEY §2.5).
- A11's savings%% is computed against the max of the RETURNED PAGE
  (after ORDER BY eff LIMIT limit*3), not the whole table
  (products.py:115-126) — the window runs after the limit.

Scale: the per-store argmin is one partial-aggregatable window over
data shuffled by supermarket_id; no row explosion, AQE handles skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..domain import effective
from ..functions.money import to_double
from ..mapping import domain_sql, products
from ..registry import register

_ORACLE_Q07 = domain_sql("""
SELECT supermarket_id, barcode, canonical_name, product_id,
       CAST(COALESCE(promo_price, price) AS DOUBLE) AS effective_d
FROM (
    SELECT *, rank() OVER (
        PARTITION BY supermarket_id
        ORDER BY COALESCE(promo_price, price)
    ) AS rk
    FROM products
)
WHERE rk = 1
""")


@register(
    "q07_cheapest_per_store",
    oracle=_ORACLE_Q07,
    doc="Per-store argmin with TIES kept — rank()==1 replicates the "
    "reference's min-subquery join (J2/W1).",
    tags=("window", "argmin"),
)
def q07_cheapest_per_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..domain import cheapest_per_store

    df = products(Catalog(spark, sf_dir))
    return cheapest_per_store(df).select(
        "supermarket_id",
        "barcode",
        "canonical_name",
        "product_id",
        to_double(effective()).alias("effective_d"),
    )


PAGE_LIMIT = 20  # reference default; query fetches limit*3 rows (O1)

_ORACLE_Q08 = domain_sql(f"""
SELECT product_id, barcode, canonical_name, supermarket_id,
       CAST(eff AS DOUBLE) AS effective_d,
       CASE WHEN eff < max_eff
            THEN CAST(max_eff - eff AS DOUBLE) * 100 / CAST(max_eff AS DOUBLE)
       END AS savings_pct
FROM (
    SELECT *, max(eff) OVER () AS max_eff
    FROM (
        SELECT product_id, barcode, canonical_name, supermarket_id,
               COALESCE(promo_price, price) AS eff
        FROM products
        ORDER BY COALESCE(promo_price, price), product_id
        LIMIT {PAGE_LIMIT * 3}
    )
)
""")


@register(
    "q08_lowest_prices_page",
    oracle=_ORACLE_Q08,
    doc="Global cheapest page: ORDER BY eff LIMIT limit*3, then "
    "savings%% vs the PAGE max (O1 + A11 + W3).",
    tags=("topk", "window"),
)
def q08_lowest_prices_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..domain import lowest_prices_page

    df = products(Catalog(spark, sf_dir))
    return lowest_prices_page(df, PAGE_LIMIT).select(
        "product_id",
        "barcode",
        "canonical_name",
        "supermarket_id",
        to_double(F.col("eff")).alias("effective_d"),
        "savings_pct",
    )
