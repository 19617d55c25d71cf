"""The domain operator library: the reference's query surface as
pure functions over (products, supermarkets) DataFrames.

Any frame with the products schema works — mapping.products() (the
driver's synthetic tables) and fixtures.build_products() (the
salim-shaped corpus with Hebrew names) both flow through the same
code, which is exactly the parity claim: one implementation, two
data worlds, oracle-checked in both (tests/test_correctness.py and
tests/test_domain.py).

Semantics ledger (SURVEY.md §2):
  search_products     Q1-Q7 incl. the id-0 falsy quirk
  compare_offers      Q8/J1/J4/O2/A10 (savings NULL convention)
  cheapest_per_store  J2/W1 — rank()==1 KEEPS ties
  lowest_prices_page  O1 (limit*3) + A11/W3 (page-local max)
  price_history       Q12/W2/O5
  price_trend         A13 (newest-first half-split, ±5% bands)
  history_minmax      A14 + W2 latest row
  basket_store_totals A6/A7 prerequisite (argmin offer per
                      store×product, mcp.py savings-0 convention)
  cheapest_per_name   the per-name argmin a basket's name terms
                      resolve against (mcp.py:308-352)
  store_profiles      A2/A3/A5 per store id, products only
  store_stats         store_profiles + the store names (q15)
  store_directory     store list with city/name ILIKE filters

Point requests (one barcode, a basket's barcodes, one store) run in
one partition: each key-filtered query calls ``coalesce(1)`` right
after its key filter, so every window, aggregate and join after it is
satisfied by SinglePartition and plans no Exchange. ``with_stores``
joins the store dimension inside that partition, and ``ordered``
sorts a small result there instead of paying a global orderBy's
range-sample job. A whole-table input is never coalesced — search,
lowest prices and the store-wide aggregates (price_trend,
history_minmax and store_stats over a whole table) keep their
parallel plans and broadcast the dimension.

A served request never aggregates the whole table for an answer that
does not depend on its key. Such an answer (the stats, the category
and brand lists, the per-store profiles, the lowest-price head and
the per-name cheapest offers a basket's name terms resolve against)
is a function of the products frame alone, and a held frame is one
committed snapshot, so ``held`` computes it once per frame; a request
then filters or pages that small held value.
"""

from __future__ import annotations

import threading
import weakref
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .functions.money import to_double


# products frame -> {name: (the lock its build holds, [value once built])}
_HELD: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_HELD_LOCK = threading.Lock()


def held(products: DataFrame, name: str, build: Callable[[], Any]) -> Any:
    """``build()``, computed once per products frame and kept while
    the frame lives. A frame the server or a session holds reads one
    committed snapshot (``txn.read_committed``), so the value never
    goes stale; a new frame (a reopened snapshot, a repartitioned or a
    test's own frame) gets its own values. Concurrent first requests
    build a value once; a build that raises is retried by the next
    request. ``build`` must depend on ``products`` alone, and its value
    must not reference the frame, or the frame would never be freed."""
    with _HELD_LOCK:
        slots = _HELD.setdefault(products, {})
        lock, box = slots.setdefault(name, (threading.Lock(), []))
    with lock:
        if not box:
            box.append(build())
    return box[0]


def effective() -> Column:
    """coalesce(promo_price, price) — F4, the system's load-bearing
    expression (products.py:84 et al.)."""
    return F.coalesce(F.col("promo_price"), F.col("price"))


def ordered(df: DataFrame, *cols) -> DataFrame:
    """``df`` sorted by ``cols`` in one partition: for a small result
    (a key-filtered answer, the store dimension, a distinct list),
    where a global orderBy would add a range-sample job and a
    shuffle."""
    return df.coalesce(1).sortWithinPartitions(*cols)


def with_stores(offers: DataFrame, supermarkets: DataFrame) -> DataFrame:
    """Join the store dimension to key-filtered ``offers`` (one
    partition): the dimension is coalesced too and hash-joined inside
    that task, so the plan needs neither an exchange nor a broadcast
    job."""
    return offers.join(supermarkets.coalesce(1).hint("shuffle_hash"), "supermarket_id")


def search_products(
    products: DataFrame,
    *,
    term: str | None = None,
    category: str | None = None,
    brand: str | None = None,
    promo: bool | None = None,
    min_price=None,
    max_price=None,
    supermarket_id: int | None = None,
    offset: int = 0,
    limit: int = 100,
) -> DataFrame:
    """GET /products (products.py:20-64): lazily-composed filter
    chain + deterministic pagination by product_id.

    Quirks preserved: promo tri-state (Q4); `if supermarket_id:` is
    falsy — id 0 (and None) mean "no filter" (Q6, products.py:61-62);
    limit/offset bounds are the caller's job as in FastAPI.
    """
    df = products
    if term is not None:
        df = df.where(F.lower(F.col("canonical_name")).contains(term.lower()))
    if category is not None:
        df = df.where(F.col("category") == category)
    if brand is not None:
        df = df.where(F.lower(F.col("brand")).contains(brand.lower()))
    if promo is True:
        df = df.where(F.col("promo_price").isNotNull())
    elif promo is False:
        df = df.where(F.col("promo_price").isNull())
    if min_price is not None:
        df = df.where(F.col("price") >= min_price)
    if max_price is not None:
        df = df.where(F.col("price") <= max_price)
    if supermarket_id:  # deliberate falsy check — the Q6 quirk
        df = df.where(F.col("supermarket_id") == supermarket_id)
    # Pagination compiles to TakeOrderedAndProject(offset+limit, offset):
    # a parallel partial top-k per partition, merged on the driver —
    # never a single-partition row_number window (which would funnel
    # every filtered row through one task at scale). Keyset pagination
    # (WHERE product_id > last_seen ORDER BY product_id LIMIT n) is the
    # O(page) production path; see operators/search.py docstring.
    return df.orderBy("product_id").offset(offset).limit(limit)


def compare_offers(
    products: DataFrame, supermarkets: DataFrame, barcode: str
) -> DataFrame:
    """All offers for one barcode across stores (products.py:162-226):
    store dimension joined in one partition, savings = price - promo
    (NULL when no promo — the products.py:214 convention)."""
    offers = products.where(F.col("barcode") == barcode).coalesce(1)
    return (
        with_stores(offers, supermarkets)
        .withColumn("effective_price", effective())
        .withColumn("savings", F.col("price") - F.col("promo_price"))
    )


def cheapest_per_store(products: DataFrame) -> DataFrame:
    """Per-store argmin KEEPING ties (W1): the reference's
    min-subquery join matches every row at the min price, so this is
    rank()==1, never row_number."""
    w = Window.partitionBy("supermarket_id").orderBy(effective())
    return (
        products.withColumn("_rk", F.rank().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )


def lowest_prices_page(products: DataFrame, limit: int = 20) -> DataFrame:
    """ORDER BY effective LIMIT limit*3, then savings%% against the
    max of the returned page (O1 + A11/W3, products.py:115-126).
    Output adds eff / savings_pct columns.

    The page is one partition (a top-k), so its max and its rows come
    from one global aggregate with no Exchange; the rows are
    re-sorted into page order (struct order = eff, then product_id)
    and expanded back. An unpartitioned window would plan the same
    but log Spark's "No Partition Defined" WARN on every call."""
    page = (
        products.withColumn("eff", effective())
        .orderBy("eff", "product_id")
        .limit(limit * 3)
    )
    cols = page.columns
    first = ["eff", "product_id"]
    rows = F.collect_list(F.struct(*first, *[c for c in cols if c not in first]))
    maxc = F.col("_max")
    return (
        page.agg(F.max("eff").alias("_max"), F.sort_array(rows).alias("_rows"))
        .select("_max", F.inline("_rows"))
        .select(
            *cols,
            F.when(
                F.col("eff") < maxc,
                to_double(maxc - F.col("eff")) * 100 / to_double(maxc),
            ).alias("savings_pct"),
        )
    )


def price_history(products: DataFrame, barcode: str, cutoff) -> DataFrame:
    """History for one barcode since cutoff (products.py:229-260);
    ``cutoff`` is a timestamp literal or a Column."""
    return (
        products.where(
            (F.col("barcode") == barcode)
            & (F.col("collected_at") >= F.lit(cutoff).cast("timestamp"))
        )
        .coalesce(1)
        .withColumn("effective_price", effective())
    )


def _history_frame(products: DataFrame) -> DataFrame:
    wo = Window.partitionBy("barcode").orderBy(
        F.col("collected_at").desc(), "product_id"
    )
    wc = Window.partitionBy("barcode")
    return products.withColumns(
        {
            "eff": effective(),
            "rn": F.row_number().over(wo),
            "cnt": F.count(F.lit(1)).over(wc),
        }
    )


def history_minmax(products: DataFrame, *extra: Column) -> DataFrame:
    """current / lowest / highest effective per barcode (A14).
    ``extra`` aggregates over the same rows (``eff``, ``rn``, ``cnt``
    in scope) ride along in the one groupBy."""
    h = _history_frame(products)
    return h.groupBy("barcode").agg(
        to_double(F.max(F.when(F.col("rn") == 1, F.col("eff")))).alias("current_d"),
        to_double(F.min("eff")).alias("low_d"),
        to_double(F.max("eff")).alias("high_d"),
        *extra,
    )


def price_trend(
    products: DataFrame, *extra: Column, min_points: int = 2
) -> DataFrame:
    """A13 (products.py:283-296): newest-first ordering, first
    len//2 rows = recent half; recent > older*1.05 → increasing,
    < older*0.95 → decreasing, else stable. Keeps barcodes with at
    least ``min_points`` points (2 — a trend needs two; one point,
    whose recent half is empty, reads stable).

    Computed in history_minmax's groupBy, so a row also carries
    current/low/high and ``extra``: the served history gets its whole
    answer from one aggregate."""
    half = F.floor(F.col("cnt") / 2)
    recent_sum = F.sum(F.when(F.col("rn") <= half, F.col("eff")))
    recent_n = F.sum(F.when(F.col("rn") <= half, 1).otherwise(0))
    older_sum = F.sum(F.when(F.col("rn") > half, F.col("eff")))
    older_n = F.sum(F.when(F.col("rn") > half, 1).otherwise(0))
    agg = history_minmax(
        products,
        F.max("cnt").alias("points"),
        (to_double(recent_sum) / recent_n).alias("recent_avg"),
        (to_double(older_sum) / older_n).alias("older_avg"),
        *extra,
    ).where(F.col("points") >= min_points)
    return agg.withColumn(
        "trend",
        F.when(F.col("recent_avg") > F.col("older_avg") * 1.05, "increasing")
        .when(F.col("recent_avg") < F.col("older_avg") * 0.95, "decreasing")
        .otherwise("stable"),
    )


def cheapest_per_name(products: DataFrame) -> DataFrame:
    """The cheapest offer of each lowercased name: one row per
    ``name`` = lower(canonical_name) with the argmin
    ``(eff, product_id)`` and its ``barcode``. A predicate on the name
    alone (a basket term's ``contains``) picks the same argmin over
    these rows as over every offer, from a table as small as the
    number of distinct names."""
    best = F.min(F.struct(effective().alias("eff"), "product_id", "barcode"))
    return (
        products.groupBy(F.lower(F.col("canonical_name")).alias("name"))
        .agg(best.alias("best"))
        .select("name", "best.*")
    )


def basket_store_totals(
    products: DataFrame, supermarkets: DataFrame, barcodes: list[str]
) -> DataFrame:
    """Per-store basket totals (A6): cheapest offer per
    store×product (argmin w/ product_id tie-break), then sums.
    Caller applies the complete-basket filter (A7:
    product_count == len(barcodes))."""
    offers = (
        products.where(F.col("barcode").isin(*barcodes))
        .coalesce(1)
        .withColumn("eff", effective())
    )
    w = Window.partitionBy("supermarket_id", "barcode").orderBy("eff", "product_id")
    best = offers.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    return (
        with_stores(best, supermarkets)
        .groupBy("supermarket_id", F.col("name").alias("supermarket_name"))
        .agg(
            F.sum("price").alias("total_price"),
            F.sum("eff").alias("total_effective"),
            F.sum(F.col("price") - F.col("eff")).alias("total_savings"),
            F.count(F.lit(1)).alias("product_count"),
        )
    )


def store_profiles(products: DataFrame) -> DataFrame:
    """Per-store profile by ``supermarket_id`` (A2/A3/A5,
    mcp.py:531-556): counts, promo share, average price and the sorted
    category roster. Products only, so a server holds it per frame."""
    total = F.count(F.lit(1))
    promo = F.count("promo_price")
    return products.groupBy("supermarket_id").agg(
        total.alias("product_count"),
        promo.alias("promo_count"),
        (promo.cast("double") * 100 / total).alias("sale_pct"),
        (to_double(F.sum("price")) / total).alias("avg_price_d"),
        F.countDistinct("category").alias("category_count"),
        F.array_join(F.array_sort(F.collect_set("category")), ",").alias("categories"),
    )


def store_stats(products: DataFrame, supermarkets: DataFrame) -> DataFrame:
    """``store_profiles`` of the stores in the dimension, with their
    names. The name is a function of the id, so aggregating before the
    join gives the join-then-group answer (q15's oracle)."""
    names = supermarkets.select("supermarket_id", F.col("name").alias("supermarket_name"))
    return store_profiles(products).join(F.broadcast(names), "supermarket_id")


def store_directory(
    supermarkets: DataFrame, city: str | None = None, name: str | None = None
) -> DataFrame:
    """Store list with optional case-insensitive substring filters on
    city and name, ordered by (name, supermarket_id) (mcp.py:475-483)."""
    df = supermarkets
    if city:
        df = df.where(F.lower(F.col("city")).contains(city.lower()))
    if name:
        df = df.where(F.lower(F.col("name")).contains(name.lower()))
    return ordered(df, "name", "supermarket_id")
