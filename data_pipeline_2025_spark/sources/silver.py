"""Silver normalization: typed, deduplicated price observations +
dimension upsert — the consumer half of the reference pipeline
(SURVEY.md §2.1 S9-S11, rabbitmq-to-postgres/app.py:112-252).

Semantics preserved:
- null-guarded coercion: '' → NULL on numeric casts (the Python
  `float(x) if x else None`, app.py:216-218 — Spark's cast is
  already NULL-safe for '' → we rely on it, F9);
- two-format date parsing with malformed → NULL
  (app.py:186-199, try_to_timestamp);
- event time (PriceUpdateDate) AND processing time both kept (T5);
- raw JSON retention (raw_hash integrity key, JSONB analog — F8);
- dedup on the natural key, replacing UNIQUE(supermarket_id,
  barcode, collected_at) + ON CONFLICT DO NOTHING (T6);
- get-or-create store dimension via left-anti + union (S10) with
  the chain-id→name fallback "Chain {id}" (app.py:125-133).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Known chain ids (rabbitmq-to-postgres/app.py:125-131 hardcodes a
# similar dimension; values are the reference's public portal ids).
CHAIN_NAMES = {
    "7290027600007": "Shufersal",
    "7290700100008": "Rami Levi",
    "7290803800003": "Yohananof",
    "7290055700007": "Carrefour",
    "7290876100000": "Victory",
}


def chain_name_col(chain_id_col: str = "chain_id"):
    mapping = F.create_map(
        *[F.lit(x) for kv in CHAIN_NAMES.items() for x in kv]
    )
    return F.coalesce(
        mapping[F.col(chain_id_col)],
        F.format_string("Chain %s", F.col(chain_id_col)),
    )


def normalize_items(bronze: DataFrame) -> DataFrame:
    """bronze envelope rows → typed price_items (S9)."""
    item = F.col("item")
    event_time = F.coalesce(
        F.try_to_timestamp(item["PriceUpdateDate"], F.lit("yyyy-MM-dd HH:mm:ss")),
        F.try_to_timestamp(item["PriceUpdateDate"]),
    )
    return bronze.select(
        "source_file",
        "ingested_at",
        "chain_id",
        "store_id",
        item["ItemCode"].alias("item_code"),
        item["ItemName"].alias("item_name"),
        item["ManufacturerName"].alias("manufacturer_name"),
        # try_cast everywhere: under ANSI mode a plain cast of '' or
        # garbage THROWS; the reference's `float(x) if x else None`
        # maps malformed/empty to NULL instead (F9).
        item["ItemPrice"].try_cast("decimal(12,2)").alias("item_price"),
        item["UnitOfMeasurePrice"]
        .try_cast("decimal(10,4)")
        .alias("unit_of_measure_price"),
        item["Quantity"].try_cast("decimal(12,3)").alias("quantity"),
        item["UnitQty"].alias("unit_qty"),
        item["UnitOfMeasure"].alias("unit_of_measure"),
        event_time.alias("price_update_date"),
        item["ItemStatus"].try_cast("int").alias("item_status"),
        item["AllowDiscount"].try_cast("int").alias("allow_discount"),
        item["bIsWeighted"].try_cast("int").alias("is_weighted"),
        item["ItemId"].alias("item_id"),
        F.to_json(item).alias("raw_data"),
        F.md5(F.to_json(item)).alias("raw_hash"),
    )


# The natural key mirrors UNIQUE(supermarket_id, barcode,
# collected_at) (tables.sql:40) with raw_hash as the content backstop.
DEDUP_KEY = ["chain_id", "store_id", "item_code", "price_update_date", "raw_hash"]


def dedupe_price_items(items: DataFrame) -> DataFrame:
    """Idempotent under replay: one row per DEDUP_KEY."""
    return items.dropDuplicates(DEDUP_KEY)


def upsert_stores(existing: DataFrame, incoming: DataFrame) -> DataFrame:
    """Get-or-create (S10): keep existing rows authoritative, append
    only unseen (chain_id, store_id). On Delta this would be
    MERGE WHEN NOT MATCHED; parquet-land it is left_anti + union."""
    new_rows = (
        incoming.select("chain_id", "store_id")
        .where(F.col("store_id").isNotNull())
        .distinct()
        .join(existing, ["chain_id", "store_id"], "left_anti")
        .select(
            "chain_id",
            "store_id",
            chain_name_col().alias("chain_name"),
        )
    )
    return existing.unionByName(new_rows, allowMissingColumns=True)


def availability_links(items: DataFrame) -> DataFrame:
    """product↔store junction with ON CONFLICT DO NOTHING semantics
    (S11) — distinct natural pairs."""
    return (
        items.select("raw_hash", "chain_id", "store_id")
        .where(F.col("store_id").isNotNull())
        .dropDuplicates(["raw_hash", "chain_id", "store_id"])
    )
