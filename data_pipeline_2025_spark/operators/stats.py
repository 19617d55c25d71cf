"""Catalog statistics — the reference's categories/brands/stats
endpoints and get_store_info MCP tool (SURVEY.md §2.4 A2-A5, §2.6
O4; salim/app/server/routes/utils.py:17-50, mcp.py:531-556).

The reference rounds percentages in Python (banker's rounding,
utils.py:49) — we expose full-precision doubles instead so the value
is engine-agnostic; a presentation layer can round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..functions.money import to_double
from ..mapping import domain_sql, products, supermarkets
from ..registry import register

_ORACLE_Q14 = domain_sql("""
SELECT DISTINCT category FROM products
WHERE category IS NOT NULL
ORDER BY category
""")


@register(
    "q14_distinct_categories",
    oracle=_ORACLE_Q14,
    doc="DISTINCT + sort with NULL drop (A4/O4, utils.py:17-18).",
    tags=("distinct",),
)
def q14_distinct_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = products(Catalog(spark, sf_dir))
    return (
        df.select("category").where(F.col("category").isNotNull()).distinct().orderBy("category")
    )


_ORACLE_Q15 = domain_sql("""
SELECT p.supermarket_id,
       s.name AS supermarket_name,
       COUNT(*)            AS product_count,
       COUNT(promo_price)  AS promo_count,
       CAST(COUNT(promo_price) AS DOUBLE) * 100 / COUNT(*) AS sale_pct,
       CAST(SUM(price) AS DOUBLE) / COUNT(*)               AS avg_price_d,
       COUNT(DISTINCT category)                            AS category_count,
       string_agg(DISTINCT category, ',' ORDER BY category) AS categories
FROM products p
JOIN supermarkets s USING (supermarket_id)
GROUP BY p.supermarket_id, s.name
ORDER BY p.supermarket_id
""")


@register(
    "q15_store_stats",
    oracle=_ORACLE_Q15,
    doc="Per-store stats: counts, conditional promo count, sale%%, "
    "avg price, distinct category roster (A2/A3/A5, mcp.py:531-556).",
    tags=("agg", "stats"),
)
def q15_store_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..domain import store_stats

    cat = Catalog(spark, sf_dir)
    return store_stats(products(cat), supermarkets(cat)).orderBy("supermarket_id")


_ORACLE_Q48 = """
SELECT p_type,
       COUNT(*) AS parts,
       round(quantile_cont(CAST(p_retailprice AS DOUBLE), 0.25), 6) AS p25,
       round(quantile_cont(CAST(p_retailprice AS DOUBLE), 0.50), 6) AS p50,
       round(quantile_cont(CAST(p_retailprice AS DOUBLE), 0.90), 6) AS p90
FROM part
GROUP BY p_type
ORDER BY p_type
"""


@register(
    "q48_price_percentiles",
    oracle=_ORACLE_Q48,
    doc="Exact interpolated percentiles per category (Spark "
    "percentile() ≡ DuckDB quantile_cont; rounded to absorb "
    "interpolation-order ulps).",
    tags=("agg", "percentile"),
)
def q48_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    p = F.col("p_retailprice").cast("double")
    return (
        cat.part.groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("parts"),
            F.round(F.percentile(p, F.lit(0.25)), 6).alias("p25"),
            F.round(F.percentile(p, F.lit(0.50)), 6).alias("p50"),
            F.round(F.percentile(p, F.lit(0.90)), 6).alias("p90"),
        )
        .orderBy("p_type")
    )


_ORACLE_Q55 = domain_sql("""
,spread AS (
    SELECT barcode,
           COUNT(*) AS n,
           SUM(CAST(COALESCE(promo_price, price) AS DECIMAL(18,2)))            AS s,
           SUM(CAST(COALESCE(promo_price, price) AS DECIMAL(18,2))
             * CAST(COALESCE(promo_price, price) AS DECIMAL(18,2)))            AS sq,
           MIN(COALESCE(promo_price, price)) AS lo,
           MAX(COALESCE(promo_price, price)) AS hi
    FROM products
    GROUP BY barcode
    HAVING COUNT(*) >= 2
)
SELECT barcode, n,
       CAST(s AS DOUBLE) / n AS mean_d,
       (CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1) AS var_d,
       CAST(hi - lo AS DOUBLE) AS spread_d,
       CAST(hi - lo AS DOUBLE) * 100 / CAST(hi AS DOUBLE) AS spread_pct
FROM spread
""")


@register(
    "q55_price_spread",
    oracle=_ORACLE_Q55,
    doc="Cross-store price dispersion per barcode: mean/variance "
    "derived from EXACT decimal sum/sum-of-squares (engine-stable, "
    "unlike builtin stddev over doubles), spread and spread%%.",
    tags=("agg", "stats", "variance"),
)
def q55_price_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..domain import effective

    df = products(Catalog(spark, sf_dir))
    eff2 = effective().cast("decimal(18,2)")
    agg = (
        df.groupBy("barcode")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(eff2).alias("s"),
            F.sum(eff2 * eff2).alias("sq"),
            F.min(effective()).alias("lo"),
            F.max(effective()).alias("hi"),
        )
        .where(F.col("n") >= 2)
    )
    s_d = to_double(F.col("s"))
    sq_d = to_double(F.col("sq"))
    return agg.select(
        "barcode",
        "n",
        (s_d / F.col("n")).alias("mean_d"),
        ((sq_d - s_d * s_d / F.col("n")) / (F.col("n") - 1)).alias("var_d"),
        to_double(F.col("hi") - F.col("lo")).alias("spread_d"),
        (to_double(F.col("hi") - F.col("lo")) * 100 / to_double(F.col("hi"))).alias(
            "spread_pct"
        ),
    )


_ORACLE_Q16 = domain_sql("""
SELECT s.supermarket_id, s.name, s.city,
       COUNT(p.product_id)  AS product_count
FROM supermarkets s
LEFT JOIN products p USING (supermarket_id)
WHERE lower(s.city) LIKE '%a%'
GROUP BY s.supermarket_id, s.name, s.city
ORDER BY s.name, s.supermarket_id
""")


@register(
    "q16_store_directory",
    oracle=_ORACLE_Q16,
    doc="Store directory with city ILIKE filter + left-join product "
    "counts, alphabetical (Q10/J5/O6, mcp.py:475-483).",
    tags=("join", "filter"),
)
def q16_store_directory(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    dim = supermarkets(cat).where(F.lower(F.col("city")).contains("a"))
    counts = products(cat).groupBy("supermarket_id").agg(
        F.count(F.lit(1)).alias("pc")
    )
    return (
        dim.join(counts, "supermarket_id", "left")
        .select(
            "supermarket_id",
            "name",
            "city",
            F.coalesce(F.col("pc"), F.lit(0)).alias("product_count"),
        )
        .orderBy("name", "supermarket_id")
    )
