"""Seeded inputs for the benchmark: the TPC-H-shaped tables the
serving and batch paths read, the serve request stream, and the
ingest price-file drops.

Everything is a pure function of ``seed`` (and the scale factor or
drop index): the same arguments give byte-identical outputs, which
``perfbench/tests/test_inputs.py`` asserts. The table shapes follow
the ones the package's catalog expects (``catalog.TABLES``): key
ranges, enum domains, date ranges and the 5% near-duplicate document
share match the reference test tiers, so plans and selectivities are
the ones the package was tuned on.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJECTIVES = ("blue", "old", "small", "new", "large", "hot", "cold", "red")
NOUNS = ("widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear")
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING", "HOUSEHOLD")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("error", "view", "purchase", "signup", "click")


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _ts(base: datetime, seconds: np.ndarray) -> pa.Array:
    epoch_us = int((base - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(epoch_us + seconds.astype(np.int64), pa.timestamp("us"))


def _days(start: datetime, n_days: int, rng, n: int) -> pa.Array:
    return _ts(start, rng.integers(0, n_days, n) * 86_400_000_000)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _zipf_ranks(rng, n_keys: int, n, s: float = 1.1) -> np.ndarray:
    """``n`` (an int or a shape) draws of ranks in [0, n_keys) with P(r) ∝ 1/(r+1)^s."""
    w = 1.0 / np.arange(1, n_keys + 1) ** s
    return rng.choice(n_keys, size=n, p=w / w.sum())


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf`` (sf0.1 gives
    600k lineitem rows)."""
    n_supp = max(10, round(10_000 * sf))
    n_cust = max(150, round(150_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(1_500, round(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, round(1_000_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_vec = max(500, round(20_000 * sf))
    n_users = max(15, n_cust // 10)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = _rng(seed, 1)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })

    r = _rng(seed, 2)
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    })

    r = _rng(seed, 3)
    pk = np.arange(n_part)
    names = np.array([f"{a} {n}" for a in ADJECTIVES for n in NOUNS])
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": names[r.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[r.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1),
    })

    r = _rng(seed, 4)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(datetime(1995, 1, 1), 2404, r, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
    })

    r = _rng(seed, 5)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_line)],
        "l_shipdate": _days(datetime(1995, 1, 2), 2499, r, n_line),
    })

    r = _rng(seed, 6)
    secs = np.sort(r.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(datetime(2024, 1, 1), secs),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })

    r = _rng(seed, 7)
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[r.integers(0, len(words), int(r.integers(10, 101)))]) for _ in range(n_doc)]
    # 5% near-duplicates: another document's text plus one token
    for i in r.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(r.integers(0, n_doc))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })

    r = _rng(seed, 8)
    vecs = r.normal(size=(n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, 64 * (n_vec + 1), 64), pa.int32()),
            pa.array(vecs.ravel(), pa.float32()),
        ),
        "label": pa.array(r.integers(0, 10, n_vec), pa.int32()),
    })
    return t


def write_tables(seed: int, sf: float, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ------------------------------------------------------------ serve

# (kind, requests per block of 20) — the request mix of the serve
# workload: 30% search, 25% compare, 15% baskets, 10% history and 5%
# each of lowest prices, store info, stores and stats/categories
SERVE_MIX = (
    ("search", 6),
    ("compare", 5),
    ("basket", 3),
    ("history", 2),
    ("lowest", 1),
    ("store_info", 1),
    ("stores", 1),
    ("stats", 1),
)
UNKNOWN_BARCODE_EVERY = 50  # 2% of barcode requests name an unknown barcode
CHECK_EVERY = 4  # every 4th compare/best-basket request is oracle-checked
BASKET_TOOLS = ("find_best_basket", "calculate_savings", "find_most_expensive_basket")
BASKET_SIZES = (3, 4, 5, 6, 7, 8)
HISTORY_DAYS = (30, 90, 365)


def serve_requests(
    seed: int, barcodes: list[str], names: list[str], store_ids: list[int], n: int
) -> list[dict]:
    """``n`` requests of the serve mix. The stream is a sequence of
    blocks of 20 requests, each block holding the mix exactly in a
    seeded order, so any prefix of the stream has the mix's
    proportions. Within a kind, the variant (REST or MCP, basket size
    and tool, history window, ...) cycles through a fixed set from a
    seeded starting point, and every 50th barcode request names an
    unknown barcode; so a run of a few blocks serves the same variants
    whatever the seed, and only the keys change. Keys are Zipf-skewed
    over a seeded permutation of the data's barcodes and name terms.
    Each request is ``{kind, method, path, body, status, check}``:
    ``status`` is the correct HTTP status, ``check`` marks the seeded
    subset whose answer is recomputed in DuckDB."""
    r = _rng(seed, 20)
    bc = [barcodes[i] for i in r.permutation(len(barcodes))]
    words = sorted({w for name in names for w in name.split()})
    terms = sorted(set(names)) + words
    terms = [terms[i] for i in r.permutation(len(terms))]
    block = [k for k, count in SERVE_MIX for _ in range(count)]
    kinds = [k for _ in range(-(-n // len(block))) for k in r.permutation(block)][:n]
    bc_rank = _zipf_ranks(r, len(bc), n)
    term_rank = _zipf_ranks(r, len(terms), n)
    item_bc = _zipf_ranks(r, len(bc), (n, 8))
    item_term = _zipf_ranks(r, len(terms), (n, 8))
    store_pick = r.integers(0, len(store_ids), n)
    city_pick = r.integers(0, 25, n)
    start = int(r.integers(0, 3600))
    seen = {k: start for k, _ in SERVE_MIX}
    barcode_requests = start
    out: list[dict] = []
    checked = 0

    def barcode(i: int) -> str:
        nonlocal barcode_requests
        barcode_requests += 1
        if barcode_requests % UNKNOWN_BARCODE_EVERY == 0:
            return str(900_000_000 + barcode_requests)
        return bc[bc_rank[i]]

    for i in range(n):
        kind = kinds[i]
        j = seen[kind]  # this request's place among its kind's
        seen[kind] += 1
        rest = j % 2 == 0
        req = {"kind": kind, "method": "GET", "body": None, "status": 200, "check": False}
        if kind == "search":
            term = terms[term_rank[i]]
            if rest:
                req["path"] = f"/products?q={term.replace(' ', '+')}&limit=20"
            else:
                req.update(method="POST", path="/api/mcp/tools/search_product",
                           body={"arguments": {"term": term}}, tool="search_product")
        elif kind == "compare":
            b = barcode(i)
            unknown = int(b) >= 900_000_000
            if rest:
                req["path"] = f"/products/barcode/{b}"
                req["status"] = 404 if unknown else 200
            else:
                req.update(method="POST", path="/api/mcp/tools/compare_results",
                           body={"arguments": {"barcode": b}}, tool="compare_results")
            checked += 1
            req["check"] = checked % CHECK_EVERY == 0
            req["barcode"] = b
        elif kind == "basket":
            # every size once per six baskets; the tool paired with a
            # size shifts by one each round
            size = BASKET_SIZES[j % len(BASKET_SIZES)]
            tool = BASKET_TOOLS[(j + j // len(BASKET_SIZES)) % len(BASKET_TOOLS)]
            n_bc = (size + j % 2) // 2  # the rest are name terms
            items = ([bc[item_bc[i, m]] for m in range(n_bc)]
                     + [terms[item_term[i, m]] for m in range(n_bc, size)])
            req.update(method="POST", path=f"/api/mcp/tools/{tool}",
                       body={"arguments": {"barcodes": items}}, tool=tool)
            if tool == "find_best_basket":
                checked += 1
                req["check"] = checked % CHECK_EVERY == 0
        elif kind == "history":
            b = barcode(i)
            unknown = int(b) >= 900_000_000
            days = HISTORY_DAYS[j % len(HISTORY_DAYS)]
            req["path"] = f"/products/barcode/{b}/history?days={days}"
            req["status"] = 404 if unknown else 200
        elif kind == "lowest":
            req["path"] = "/products/lowest-prices?limit=20"
        elif kind == "store_info":
            sid = store_ids[store_pick[i]]
            req.update(method="POST", path="/api/mcp/tools/get_store_info",
                       body={"arguments": {"supermarket_id": sid}}, tool="get_store_info")
        elif kind == "stores":
            city = f"NATION_{city_pick[i]}"
            if rest:
                req["path"] = f"/supermarkets?city={city}"
            else:
                req.update(method="POST", path="/api/mcp/tools/get_stores",
                           body={"arguments": {"city": city}}, tool="get_stores")
        else:  # stats
            req["path"] = "/stats" if rest else "/categories"
        out.append(req)
    return out


# ------------------------------------------------------------ ingest

CHAINS = ("7290027600007", "7290700100008", "7290803800003", "9999999999999")
STORES_PER_CHAIN = 3
FILES_PER_DROP = 8
# items per file after the drop's single-item file, and days late per
# file: fixed sets in a seeded order, so every drop offers the same
# number of rows and touches the same number of date partitions
FILE_SIZES = (5, 10, 15, 20, 25, 30, 40)
DAYS_LATE = (0, 0, 0, 0, 0, 0, 1, 2)
REPLAY_SHARE = 0.10
ITEM_POOL = 400  # distinct item codes (and names) across the run
INGEST_BASE_DATE = datetime(2025, 8, 1)
_HEB_A = ("חלב", "לחם", "גבינה", "ביצים", "שמן", "אורז", "קפה", "תה", "סוכר", "קמח",
          "עגבניות", "מלפפון", "במבה", "שוקולד", "יוגורט", "חומוס")
_HEB_B = ("תנובה", "אסם", "שטראוס", "עלית", "טרה", "אחלה", "יד מרדכי", "מעדנות",
          "פרוס", "מלא", "קלאסי", "דל שומן", "גדול", "משפחתי", "אורגני")


def item_catalog(seed: int) -> list[tuple[str, str]]:
    """(item_code, Hebrew item name) for the run's item pool. Names
    repeat across drops, so the index sees both fresh and known
    names."""
    r = _rng(seed, 30)
    out = []
    for i in range(ITEM_POOL):
        a, b = _HEB_A[r.integers(0, len(_HEB_A))], _HEB_B[r.integers(0, len(_HEB_B))]
        out.append((f"729{1000000 + i:07d}", f"{a} {b} {int(r.integers(1, 40)) * 50} גרם"))
    return out


def _price_file(chain: str, store: str, items: list[dict]) -> bytes:
    payload = items[0] if len(items) == 1 else items
    return json.dumps(
        {"Root": {"ChainId": chain, "StoreId": store, "Items": {"Item": payload}}},
        ensure_ascii=False,
    ).encode()


def _original_files(seed: int, drop: int) -> list[tuple[str, str, list[dict]]]:
    """The drop's non-replay files: (chain, store, items). Event time
    is the drop's day, or one or two days earlier for late files; the
    hour/minute/second encode (file, drop), so no two files share a
    timestamp and every item's content is unique across the run."""
    r = _rng(seed, 31, drop)
    catalog = item_catalog(seed)
    sizes = (1, *(int(x) for x in r.permutation(FILE_SIZES)))
    lates = [int(x) for x in r.permutation(DAYS_LATE)]
    files = []
    for j in range(FILES_PER_DROP):
        chain = CHAINS[int(r.integers(0, len(CHAINS)))]
        store = f"{int(r.integers(1, STORES_PER_CHAIN + 1)):03d}"
        day = INGEST_BASE_DATE + timedelta(days=drop - lates[j])
        stamp = f"{day:%Y-%m-%d} {j:02d}:{drop % 60:02d}:{drop // 60 % 60:02d}"
        codes = r.choice(len(catalog), sizes[j], replace=False)
        items = []
        for c in codes:
            code, name = catalog[int(c)]
            u = r.random()
            price = "" if u < 0.03 else f"{r.uniform(2, 80):.2f}"
            date = f"bad-date-{drop}-{j}" if 0.03 <= u < 0.06 else stamp
            items.append({
                "ItemCode": code, "ItemName": name, "ManufacturerName": "יצרן",
                "ItemPrice": price, "UnitOfMeasurePrice": "1.0000",
                "Quantity": "1.000", "UnitQty": "1", "UnitOfMeasure": "יחידה",
                "PriceUpdateDate": date, "ItemStatus": "1", "AllowDiscount": "1",
                "bIsWeighted": "0", "ItemId": code,
            })
        files.append((chain, store, items))
    return files


def price_drop(seed: int, drop: int) -> tuple[list[tuple[str, bytes]], list[tuple[str, str, dict]]]:
    """Drop ``drop``'s files as (file name, bytes), plus the original
    items it introduces as (chain, store, item). About 10% of the
    files are byte-identical replays of files from the previous two
    drops under new names; replays introduce no items."""
    files = [(f"PriceFull_{drop:04d}_{j:02d}.json", _price_file(*f), f)
             for j, f in enumerate(_original_files(seed, drop))]
    out = [(name, data) for name, data, _ in files]
    items = [(c, s, it) for _, _, (c, s, its) in files for it in its]
    if drop > 0:
        r = _rng(seed, 32, drop)
        n_replay = max(1, round(REPLAY_SHARE * FILES_PER_DROP))
        for k in range(n_replay):
            src = max(0, drop - 1 - int(r.integers(0, 2)))
            chain, store, its = _original_files(seed, src)[int(r.integers(0, FILES_PER_DROP))]
            out.append((f"PriceFull_{drop:04d}_replay{k}.json", _price_file(chain, store, its)))
    return out, items
