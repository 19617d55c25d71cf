"""The reference's LLM tool surface (SURVEY.md §2.10-§2.11) as
Python functions over DataFrames — the engine's "UDF registry".

Seven tools, mirroring salim/app/server/routes/mcp.py:58-142
(search_product, compare_results, find_best_basket, get_stores,
get_store_info) plus the two JS-layer tools
(simple-proxy.js:1243-1619: find_most_expensive_basket,
calculate_savings). Result dict shapes follow mcp.py:159-296.

Every tool takes the (products, supermarkets) pair first — open it
once per server or session with ``open_frames`` — and composes the
oracle-tested ``domain`` queries, the same ones the REST routes use.
Collection happens here (tools return JSON-able dicts, the
reference's tool contract), so every limit is applied BEFORE collect,
and each tool call collects once.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import domain
from .catalog import Catalog
from .functions.money import to_double
from .mapping import in_memory, products, supermarkets

SEARCH_LIMIT = 10  # mcp.py:155


def open_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The (products, supermarkets) pair every tool takes; the store
    dimension is held in memory."""
    cat = Catalog(spark, sf_dir)
    return products(cat), in_memory(supermarkets(cat))


def search_product(prods: DataFrame, dim: DataFrame, term: str) -> list[dict[str, Any]]:
    """Name search, top-10 by (effective price, product_id)."""
    rows = (
        prods.where(F.lower(F.col("canonical_name")).contains(term.lower()))
        .orderBy(domain.effective(), "product_id")
        .limit(SEARCH_LIMIT)
        .select(
            "product_id",
            "barcode",
            "canonical_name",
            "brand",
            "category",
            to_double(F.col("price")).alias("price"),
            to_double(F.col("promo_price")).alias("promo_price"),
        )
        .collect()
    )
    return [r.asDict() for r in rows]


def compare_results(prods: DataFrame, dim: DataFrame, barcode: str) -> dict[str, Any]:
    """Cross-store comparison for one barcode (mcp.py:197-296):
    offers sorted cheapest-first, best price + cheapest store,
    savings vs most expensive."""
    offers = domain.ordered(
        domain.compare_offers(prods, dim, barcode).select(
            "supermarket_id",
            F.col("name").alias("supermarket_name"),
            to_double(F.col("price")).alias("price"),
            to_double(F.col("promo_price")).alias("promo_price"),
            to_double(F.col("effective_price")).alias("effective_price"),
            "product_id",
        ),
        "effective_price",
        "product_id",
    ).collect()
    if not offers:
        return {"found": False, "barcode": barcode, "results": []}
    best = offers[0]
    worst = offers[-1]
    return {
        "found": True,
        "barcode": barcode,
        "results": [r.asDict() for r in offers],
        "best_price": best["effective_price"],
        "cheapest_store": best["supermarket_name"],
        # savings convention of mcp.py:280 — 0, not None (A10)
        "max_savings": round(worst["effective_price"] - best["effective_price"], 2),
    }


def resolve_basket_terms(
    prods: DataFrame, terms: list[str]
) -> tuple[list[str], list[str]]:
    """Resolve mixed barcode/name basket terms to barcodes.

    The reference's basket tool accepts product NAMES and resolves
    each one by re-running the product search (mcp.py:308-352); its
    "best match" rule — first hit whose name contains the term —
    always selects the ilike-search's top result, i.e. the cheapest
    matching offer. That is ``min_by((effective, product_id))`` per
    term, so the whole list resolves in ONE aggregate here instead of
    a search per term: one ``min_by`` column per term, whose key is
    null on rows that do not match it (``min_by`` skips null keys, so
    a term with no hit resolves to null). ``contains`` reads only the
    name, so the aggregate runs over the frame's held cheapest offer
    per name (``domain.cheapest_per_name``, one partition) instead of
    over every offer.

    Returns (barcodes in term order, deduped; unresolved terms).
    All-digit terms are treated as already-barcodes (pass-through).
    """
    name_terms = sorted({t for t in terms if not t.isdigit()})
    resolved: dict[str, str] = {}
    if name_terms:
        names = domain.held(
            prods, "cheapest_per_name",
            lambda: in_memory(domain.cheapest_per_name(prods)).coalesce(1),
        )
        key = F.struct("eff", "product_id")
        # one row, |name_terms| columns: the basket size caps it
        # (mcp.MAX_BASKET_ITEMS), never the corpus size
        row = names.agg(
            *[
                F.min_by("barcode", F.when(F.col("name").contains(F.lower(F.lit(t))), key)).alias(f"t{i}")
                for i, t in enumerate(name_terms)
            ]
        ).collect()[0]
        resolved = dict(zip(name_terms, row))
    barcodes: list[str] = []
    unresolved: list[str] = []
    for t in terms:
        b = t if t.isdigit() else resolved.get(t)
        if b is None:
            unresolved.append(t)
        elif b not in barcodes:
            barcodes.append(b)
    return barcodes, unresolved


def _complete_baskets(
    prods: DataFrame, dim: DataFrame, terms: list[str]
) -> tuple[list[str], list[str], list[dict[str, Any]]]:
    """The one basket path: resolve the terms, total each store's
    basket, keep the complete ones (A7), cheapest first with ties by
    supermarket_id. Returns (barcodes, unresolved terms, stores)."""
    barcodes, unresolved = resolve_basket_terms(prods, terms)
    if not barcodes:
        return barcodes, unresolved, []
    rows = domain.ordered(
        domain.basket_store_totals(prods, dim, barcodes)
        .where(F.col("product_count") == len(barcodes))
        .select(
            "supermarket_id",
            "supermarket_name",
            to_double(F.round("total_price", 2)).alias("total_price"),
            to_double(F.round("total_effective", 2)).alias("total_promo_price"),
            to_double(F.round("total_savings", 2)).alias("total_savings"),
            "product_count",
        ),
        "total_promo_price",
        "supermarket_id",
    ).collect()
    return barcodes, unresolved, [r.asDict() for r in rows]


def find_best_basket(
    prods: DataFrame, dim: DataFrame, barcodes: list[str]
) -> dict[str, Any]:
    """Cheapest complete basket (mcp.py:319-447): per-store totals,
    complete filter (A7), ascending rank, best/worst summary.
    Entries may be barcodes OR name terms — names are resolved the
    way the reference's tool resolves them (mcp.py:320-352)."""
    barcodes, unresolved, stores = _complete_baskets(prods, dim, barcodes)
    if not barcodes:
        return {
            "requested_products": 0,
            "complete_baskets": 0,
            "stores": [],
            "unresolved": unresolved,
        }
    out: dict[str, Any] = {
        "requested_products": len(barcodes),
        "complete_baskets": len(stores),
        "stores": stores,
    }
    if unresolved:
        out["unresolved"] = unresolved
    if stores:
        best, worst = stores[0], stores[-1]
        out["best_store"] = best["supermarket_name"]
        out["best_total"] = best["total_promo_price"]
        out["max_potential_savings"] = round(
            worst["total_promo_price"] - best["total_promo_price"], 2
        )
    return out


def find_most_expensive_basket(
    prods: DataFrame, dim: DataFrame, barcodes: list[str]
) -> dict[str, Any]:
    """The JS layer's descending variant (simple-proxy.js:1079-1110),
    top-5 slice (O3). Accepts barcodes or name terms."""
    _, _, stores = _complete_baskets(prods, dim, barcodes)
    # a stable descending sort keeps ties in supermarket_id order
    stores.sort(key=lambda s: s["total_promo_price"], reverse=True)
    return {
        "stores": [
            {
                "supermarket_name": s["supermarket_name"],
                "total_promo_price": s["total_promo_price"],
                "product_count": s["product_count"],
            }
            for s in stores[:5]
        ]
    }


def calculate_savings(
    prods: DataFrame, dim: DataFrame, barcodes: list[str]
) -> dict[str, Any]:
    """Cheapest vs most expensive complete basket: amount, pct
    (1-decimal string), recommendation (simple-proxy.js:625-703).
    Accepts barcodes or name terms."""
    _, _, stores = _complete_baskets(prods, dim, barcodes)
    if len(stores) < 2:
        return {"comparable": False, "complete_baskets": len(stores)}
    best, worst = stores[0], stores[-1]
    amount = round(worst["total_promo_price"] - best["total_promo_price"], 2)
    pct = amount * 100 / worst["total_promo_price"]
    return {
        "comparable": True,
        "cheapest_store": best["supermarket_name"],
        "most_expensive_store": worst["supermarket_name"],
        "savings_amount": amount,
        "savings_percent": f"{pct:.1f}",
        "price_range": f"{best['total_promo_price']} - {worst['total_promo_price']}",
        "recommendation": best["supermarket_name"],
    }


def get_stores(
    prods: DataFrame, dim: DataFrame, city: str | None = None, name: str | None = None
) -> list[dict[str, Any]]:
    """Store directory with optional ILIKE filters (mcp.py:475-483)."""
    return [r.asDict() for r in domain.store_directory(dim, city, name).collect()]


def get_store_info(
    prods: DataFrame, dim: DataFrame, supermarket_id: int
) -> dict[str, Any]:
    """Per-store profile (mcp.py:531-556): counts, promo share,
    category roster. A store with no products has zero counts. The
    store row is a filter over the in-memory dimension and the profile
    a filter over the frame's held ``domain.store_profiles``: both are
    local relations, so neither runs a Spark job."""
    store = dim.where(F.col("supermarket_id") == supermarket_id).collect()
    if not store:
        return {"found": False, "supermarket_id": supermarket_id}
    profiles = domain.held(
        prods, "store_profiles", lambda: in_memory(domain.store_profiles(prods))
    )
    stats = profiles.where(F.col("supermarket_id") == supermarket_id).collect()
    s = stats[0] if stats else {"product_count": 0, "promo_count": 0, "sale_pct": 0.0, "categories": None}
    return {
        "found": True,
        "supermarket_id": store[0]["supermarket_id"],
        "name": store[0]["name"],
        "city": store[0]["city"],
        "product_count": s["product_count"],
        "products_on_sale": s["promo_count"],
        "sale_percentage": round(s["sale_pct"], 1),
        "categories": s["categories"].split(",") if s["categories"] else [],
    }


ALL_TOOLS = {
    "search_product": search_product,
    "compare_results": compare_results,
    "find_best_basket": find_best_basket,
    "find_most_expensive_basket": find_most_expensive_basket,
    "calculate_savings": calculate_savings,
    "get_stores": get_stores,
    "get_store_info": get_store_info,
}
