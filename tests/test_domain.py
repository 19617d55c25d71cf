"""Tier-2 endpoint-equivalent tests (SURVEY.md §5): the domain
operator library runs over the salim-shaped fixture corpus (Hebrew
names, engineered ties/trends) and must match DuckDB running the
literal SQL the reference's SQLAlchemy endpoints would produce."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from data_pipeline_2025_spark import domain
from data_pipeline_2025_spark.fixtures import write_fixtures

from .oracle import _canon_rows


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("salim")
    write_fixtures(str(d))
    return str(d)


@pytest.fixture(scope="session")
def frames(spark, fixture_dir):
    products = spark.read.parquet(f"{fixture_dir}/products.parquet")
    markets = spark.read.parquet(f"{fixture_dir}/supermarkets.parquet")
    return products, markets


@pytest.fixture(scope="session")
def oracle(fixture_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW products AS SELECT * FROM read_parquet('{fixture_dir}/products.parquet')"
    )
    con.execute(
        f"CREATE VIEW supermarkets AS SELECT * FROM read_parquet('{fixture_dir}/supermarkets.parquet')"
    )
    return con


def check(sdf, con, sql):
    s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
    cur = con.execute(sql)
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()
    sc, sr = _canon_rows(s_cols, s_rows)
    oc, orows = _canon_rows(o_cols, o_rows)
    assert sc == oc, f"columns differ: {sc} vs {oc}"
    assert sr == orows


def test_search_hebrew_ilike_and_pagination(frames, oracle):
    products, _ = frames
    got = domain.search_products(
        products, term="חלב", promo=None, offset=2, limit=5
    ).select("product_id", "barcode", "canonical_name")
    check(
        got,
        oracle,
        """
        SELECT product_id, barcode, canonical_name FROM (
            SELECT *, row_number() OVER (ORDER BY product_id) AS rn
            FROM products WHERE lower(canonical_name) LIKE '%חלב%'
        ) WHERE rn > 2 AND rn <= 7
        """,
    )


def test_search_filters_match_reference_chain(frames, oracle):
    products, _ = frames
    got = domain.search_products(
        products,
        term="e",
        promo=True,
        min_price="5.00",
        max_price="40.00",
        supermarket_id=2,
        limit=100,
    ).select("product_id")
    check(
        got,
        oracle,
        """
        SELECT product_id FROM (
            SELECT *, row_number() OVER (ORDER BY product_id) AS rn FROM products
            WHERE lower(canonical_name) LIKE '%e%'
              AND promo_price IS NOT NULL
              AND price >= 5.00 AND price <= 40.00
              AND supermarket_id = 2
        ) WHERE rn <= 100
        """,
    )


def test_search_id_zero_quirk(frames):
    """supermarket_id=0 is falsy → NO store filter (products.py:61-62)."""
    products, _ = frames
    all_rows = domain.search_products(products, limit=10_000).count()
    zero_rows = domain.search_products(products, supermarket_id=0, limit=10_000).count()
    assert zero_rows == all_rows


def test_cheapest_per_store_keeps_ties(frames, oracle):
    products, _ = frames
    got = domain.cheapest_per_store(products).select(
        "supermarket_id", "barcode", "product_id"
    )
    # the engineered tie: store 1 has TWO rows at the minimum
    tie_rows = [r for r in got.collect() if r["supermarket_id"] == 1]
    assert len(tie_rows) == 2
    check(
        got,
        oracle,
        """
        SELECT supermarket_id, barcode, product_id FROM (
            SELECT *, rank() OVER (
                PARTITION BY supermarket_id
                ORDER BY COALESCE(promo_price, price)) AS rk
            FROM products
        ) WHERE rk = 1
        """,
    )


def test_lowest_prices_page_plans_no_window_and_no_exchange(frames):
    """The page max and the page rows come from one aggregate over
    the one-partition top-k: no unpartitioned window (its WindowExec
    logs a "No Partition Defined" WARN on every call) and no
    shuffle."""
    from data_pipeline_2025_spark.plans import plan_of

    products, _ = frames
    plan = plan_of(domain.lowest_prices_page(products, limit=5))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan and "Exchange" not in plan


def test_lowest_prices_page_local_max(frames, oracle):
    products, _ = frames
    got = domain.lowest_prices_page(products, limit=5).select(
        "product_id", F.col("eff").cast("double").alias("eff_d"), "savings_pct"
    )
    check(
        got,
        oracle,
        """
        SELECT product_id, CAST(eff AS DOUBLE) AS eff_d,
               CASE WHEN eff < max_eff
                    THEN CAST(max_eff - eff AS DOUBLE) * 100 / CAST(max_eff AS DOUBLE)
               END AS savings_pct
        FROM (
            SELECT *, max(eff) OVER () AS max_eff FROM (
                SELECT product_id, COALESCE(promo_price, price) AS eff
                FROM products ORDER BY COALESCE(promo_price, price), product_id
                LIMIT 15
            )
        )
        """,
    )


def test_price_trend_engineered_series(frames, oracle):
    products, _ = frames
    trends = {
        r["barcode"]: r["trend"] for r in domain.price_trend(products).collect()
    }
    assert trends["7290000000010"] == "increasing"
    assert trends["7290000000011"] == "decreasing"
    assert trends["7290000000012"] == "stable"
    check(
        domain.price_trend(products).select("barcode", "points", "trend"),
        oracle,
        """
        WITH h AS (
            SELECT barcode, COALESCE(promo_price, price) AS eff,
                   row_number() OVER (PARTITION BY barcode
                       ORDER BY collected_at DESC, product_id) AS rn,
                   count(*) OVER (PARTITION BY barcode) AS cnt
            FROM products
        ),
        agg AS (
            SELECT barcode, MAX(cnt) AS points,
                   CAST(SUM(CASE WHEN rn <= cnt // 2 THEN eff END) AS DOUBLE)
                       / SUM(CASE WHEN rn <= cnt // 2 THEN 1 ELSE 0 END) AS recent_avg,
                   CAST(SUM(CASE WHEN rn > cnt // 2 THEN eff END) AS DOUBLE)
                       / SUM(CASE WHEN rn > cnt // 2 THEN 1 ELSE 0 END) AS older_avg
            FROM h GROUP BY barcode HAVING MAX(cnt) >= 2
        )
        SELECT barcode, points,
               CASE WHEN recent_avg > older_avg * 1.05 THEN 'increasing'
                    WHEN recent_avg < older_avg * 0.95 THEN 'decreasing'
                    ELSE 'stable' END AS trend
        FROM agg
        """,
    )


def test_basket_totals_complete_filter(frames, oracle):
    products, markets = frames
    basket = ["7291000000000", "7291000000001", "7291000000002"]
    totals = domain.basket_store_totals(products, markets, basket)
    got = totals.where(F.col("product_count") == 3).select(
        "supermarket_id",
        "supermarket_name",
        F.col("total_effective").cast("double").alias("total_effective_d"),
        "product_count",
    )
    in_list = ", ".join(f"'{b}'" for b in basket)
    check(
        got,
        oracle,
        f"""
        WITH offers AS (
            SELECT *, COALESCE(promo_price, price) AS eff FROM products
            WHERE barcode IN ({in_list})
        ),
        best AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY supermarket_id, barcode
                    ORDER BY eff, product_id) AS rn
                FROM offers
            ) WHERE rn = 1
        )
        SELECT b.supermarket_id, s.name AS supermarket_name,
               CAST(SUM(b.eff) AS DOUBLE) AS total_effective_d,
               COUNT(*) AS product_count
        FROM best b JOIN supermarkets s USING (supermarket_id)
        GROUP BY b.supermarket_id, s.name
        HAVING COUNT(*) = 3
        """,
    )


def test_compare_offers_savings_null_convention(frames, oracle):
    products, markets = frames
    got = domain.compare_offers(products, markets, "7291000000000").select(
        "supermarket_id",
        "product_id",
        F.col("effective_price").cast("double").alias("eff_d"),
        F.col("savings").cast("double").alias("savings_d"),
    )
    rows = got.collect()
    assert any(r["savings_d"] is None for r in rows)  # no-promo → NULL, not 0
    check(
        got,
        oracle,
        """
        SELECT supermarket_id, product_id,
               CAST(COALESCE(promo_price, price) AS DOUBLE) AS eff_d,
               CAST(price - promo_price AS DOUBLE) AS savings_d
        FROM products WHERE barcode = '7291000000000'
        """,
    )


def test_store_stats(frames, oracle):
    products, markets = frames
    got = domain.store_stats(products, markets).select(
        "supermarket_id", "product_count", "promo_count", "sale_pct", "categories"
    )
    check(
        got,
        oracle,
        """
        SELECT p.supermarket_id,
               COUNT(*) AS product_count,
               COUNT(promo_price) AS promo_count,
               CAST(COUNT(promo_price) AS DOUBLE) * 100 / COUNT(*) AS sale_pct,
               string_agg(DISTINCT category, ',' ORDER BY category) AS categories
        FROM products p JOIN supermarkets s USING (supermarket_id)
        GROUP BY p.supermarket_id
        """,
    )
