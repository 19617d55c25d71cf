"""Deterministic salim-shaped fixture generator (FIXTURES.md §1-§2).

Own implementation of the reference's seeded generators' OBSERVABLE
properties (seed 42, 3 chains with price modifiers, ~12% promo rate,
Hebrew+Latin names — generate_products.py / generate_hebrew_sql.py
per SURVEY.md §2.1 S16), plus the engineered distributional
properties FIXTURES.md requires so the domain tests are meaningful:

- a per-store TIE at the minimum effective price (pins W1 rank
  semantics);
- every foundation barcode present in all 3 stores with distinct
  prices (J4 cross-store identity);
- barcodes with ≥6 history points trending up / down / flat
  (exercises A13's ±5% bands);
- promo rows in every store; NULL brands; Hebrew categories.

Output: two parquet files (supermarkets, products) with the
normative schemas — Decimal prices, not doubles.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time
from datetime import datetime, timedelta
from decimal import Decimal, ROUND_HALF_UP

import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42

SUPERMARKETS = [
    # (id, name, city)
    (1, "Rami Levi", "Tel Aviv"),
    (2, "Yohananof", "Haifa"),
    (3, "Carrefour", "Jerusalem"),
]

CHAIN_MODIFIER = {1: "0.95", 2: "1.02", 3: "1.00"}

# (name, brand, category, base_price) — Latin + Hebrew mix.
BASE_PRODUCTS = [
    ("Milk 1L", "Tnuva", "Dairy", "5.90"),
    ("חלב 3% ליטר", "תנובה", "חלב ומוצריו", "6.20"),
    ("White Bread", "Angel", "Bakery", "4.50"),
    ("לחם אחיד פרוס", "אנג'ל", "מאפים", "4.80"),
    ("Eggs L 12", None, "Dairy", "12.90"),
    ("ביצים L תריסר", None, "חלב ומוצריו", "13.50"),
    ("Cottage 5%", "Tnuva", "Dairy", "5.40"),
    ("קוטג' 5%", "תנובה", "חלב ומוצריו", "5.60"),
    ("Olive Oil 750ml", "Yad Mordechai", "Pantry", "32.90"),
    ("שמן זית כתית", "יד מרדכי", "שימורים ובישול", "34.90"),
    ("Pasta Penne 500g", "Osem", "Pantry", "7.90"),
    ("פסטה פנה", "אוסם", "שימורים ובישול", "8.20"),
    ("Tomatoes 1kg", None, "Produce", "6.90"),
    ("עגבניות קילו", None, "ירקות ופירות", "7.10"),
    ("Chicken Breast 1kg", None, "Meat", "39.90"),
    ("חזה עוף קילו", None, "בשר ודגים", "42.00"),
    ("Hummus 400g", "Sabra", "Deli", "9.90"),
    ("חומוס אחלה", "אחלה", "סלטים", "10.50"),
    ("Cola 1.5L", "Coca Cola", "Drinks", "8.90"),
    ("קולה 1.5 ליטר", "קוקה קולה", "משקאות", "9.20"),
]

ANCHOR = datetime(2025, 8, 1, 8, 0, 0)


def _d2(x: float | str) -> Decimal:
    return Decimal(str(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)


def build_rows() -> tuple[list[dict], list[dict]]:
    rng = random.Random(SEED)
    markets = [
        {
            "supermarket_id": sid,
            "name": name,
            "branch_name": None,
            "city": city,
            "address": None,
            "website": f"https://example.test/{sid}",
            "created_at": datetime(2025, 1, 1),
        }
        for sid, name, city in SUPERMARKETS
    ]

    products: list[dict] = []
    pid = 0

    def emit(sid, barcode, name, brand, category, price, promo, collected_at):
        nonlocal pid
        pid += 1
        products.append(
            {
                "product_id": pid,
                "supermarket_id": sid,
                "barcode": barcode,
                "canonical_name": name,
                "brand": brand,
                "category": category,
                "size_value": None,
                "size_unit": None,
                "price": price,
                "currency": "ILS",
                "list_price": price,
                "promo_price": promo,
                "promo_text": "מבצע!" if promo is not None else None,
                "loyalty_only": rng.random() < 0.1,
                "in_stock": rng.choice([True, True, True, False, None]),
                "collected_at": collected_at,
                "source": "generated",
                "raw_hash": None,
            }
        )

    # foundation products: every barcode in all 3 stores, 3-5
    # observations each across the last 30 days
    for i, (name, brand, category, base) in enumerate(BASE_PRODUCTS):
        barcode = f"729{1000000000 + i}"
        for sid, _, _ in SUPERMARKETS:
            n_obs = rng.randint(3, 5)
            for k in range(n_obs):
                jitter = Decimal(str(rng.uniform(0.95, 1.05)))
                price = _d2(Decimal(base) * Decimal(CHAIN_MODIFIER[sid]) * jitter)
                promo = (
                    _d2(price * Decimal(str(rng.uniform(0.7, 0.9))))
                    if rng.random() < 0.12
                    else None
                )
                ts = ANCHOR - timedelta(days=29 - k * 6, hours=sid)
                emit(sid, barcode, name, brand, category, price, promo, ts)

    # engineered per-store minimum TIE (W1): two products in store 1
    # sharing the global minimum effective price
    for code, name in (("7290000000001", "Tie A"), ("7290000000002", "Tie B")):
        emit(1, code, name, None, "Pantry", _d2("1.00"), None, ANCHOR)

    # engineered trends (A13): ≥6 points, newest-first halves differ
    def series(barcode, name, prices):
        for k, p in enumerate(prices):  # oldest → newest
            emit(
                2,
                barcode,
                name,
                "TrendCo",
                "Pantry",
                _d2(p),
                None,
                ANCHOR - timedelta(days=len(prices) - 1 - k),
            )

    series("7290000000010", "Trend Up", ["10.00", "10.20", "10.40", "12.00", "12.40", "12.80"])
    series("7290000000011", "Trend Down", ["12.80", "12.40", "12.00", "10.40", "10.20", "10.00"])
    series("7290000000012", "Trend Flat", ["10.00", "10.10", "10.00", "10.10", "10.00", "10.10"])
    return markets, products


_MARKET_SCHEMA = pa.schema(
    [
        ("supermarket_id", pa.int32()),
        ("name", pa.string()),
        ("branch_name", pa.string()),
        ("city", pa.string()),
        ("address", pa.string()),
        ("website", pa.string()),
        ("created_at", pa.timestamp("us")),
    ]
)

_PRODUCT_SCHEMA = pa.schema(
    [
        ("product_id", pa.int64()),
        ("supermarket_id", pa.int32()),
        ("barcode", pa.string()),
        ("canonical_name", pa.string()),
        ("brand", pa.string()),
        ("category", pa.string()),
        ("size_value", pa.decimal128(12, 3)),
        ("size_unit", pa.string()),
        ("price", pa.decimal128(12, 2)),
        ("currency", pa.string()),
        ("list_price", pa.decimal128(12, 2)),
        ("promo_price", pa.decimal128(12, 2)),
        ("promo_text", pa.string()),
        ("loyalty_only", pa.bool_()),
        ("in_stock", pa.bool_()),
        ("collected_at", pa.timestamp("us")),
        ("source", pa.string()),
        ("raw_hash", pa.string()),
    ]
)


def write_fixtures(out_dir: str) -> tuple[str, str]:
    """Write supermarkets.parquet + products.parquet; returns paths."""
    markets, products = build_rows()
    mpath = f"{out_dir}/supermarkets.parquet"
    ppath = f"{out_dir}/products.parquet"
    pq.write_table(
        pa.Table.from_pylist(markets, schema=_MARKET_SCHEMA), mpath
    )
    pq.write_table(
        pa.Table.from_pylist(products, schema=_PRODUCT_SCHEMA), ppath
    )
    return mpath, ppath


def write_single_file(df, dst: str, mtime: float | None = None) -> None:
    """Write DataFrame ``df`` as the one parquet file ``dst`` — a file
    stream's source drop. Spark writes the frame as one partition to
    a hidden sibling directory, its part file moves to ``dst``, and
    ``mtime`` (when given) orders the drop for the stream's listing."""
    tmp = os.path.join(os.path.dirname(dst), "_tmp-" + os.path.basename(dst))
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
    shutil.move(part, dst)
    shutil.rmtree(tmp)
    if mtime is not None:
        os.utime(dst, (mtime, mtime))


def split_ascending(spark, path: str, id_col: str, out_dir: str, parts: int = 3) -> None:
    """Write the parquet table at ``path`` into ``out_dir`` as
    ``parts`` single files of ascending ``id_col`` ranges with
    increasing mtimes, so a one-file-per-batch stream replays a
    time-ordered crawl (oldest first)."""
    from pyspark.sql import functions as F

    table = spark.read.parquet(path)
    max_id = table.agg(F.max(id_col)).collect()[0][0] or 0
    step = max_id // parts + 1
    os.makedirs(out_dir, exist_ok=True)
    now = time.time()
    for p in range(parts):
        in_range = (F.col(id_col) >= p * step) & (F.col(id_col) < (p + 1) * step)
        write_single_file(
            table.where(in_range), os.path.join(out_dir, f"part{p:03d}.parquet"), now + p
        )
