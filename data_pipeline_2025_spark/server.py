"""HTTP/REST parity shim — the reference's FastAPI surface served by
the engine (salim/app/server/main.py:68-76 root + routers). Every
@router route in the reference's four route files (products.py,
supermarkets.py, utils.py, mcp.py) has a matching entry in the route
tables below, including the single-row fetches (/products/{id},
/supermarkets/{id}), /products/price-history/{barcode}, and the MCP
metadata/health endpoints.

FastAPI is not installed in this container, so the server is plain
stdlib (ThreadingHTTPServer + a regex route table): zero
dependencies, actually serves requests. ``create_server`` opens the
(products, supermarkets) pair once; each handler is a plain
``(prods, dim, params, **path_args)`` callable over that pair —
``params`` is the query string for GET and the JSON body for POST —
composing the same ``domain`` queries the MCP tools use, so any ASGI
framework can mount them 1:1. Parameter validation mirrors the
reference's FastAPI Query constraints (limit ∈ [1,1000] default 100,
offset ≥ 0, days ∈ [1,365] default 30 — products.py:22-31,239)
including the 422 status FastAPI returns on violations, 404 for an
unknown barcode (products.py:190-192), and FastAPI's bare 500 body.
"""

from __future__ import annotations

import datetime as _dt
import json
import logging
import re
import threading
from decimal import Decimal
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import domain, mcp
from .catalog import Catalog
from .mapping import in_memory, products, supermarkets

_log = logging.getLogger(__name__)

MAX_LIMIT = 1000  # the reference's cap on ``limit`` (products.py:22-31)
# A request body larger than this is refused (413) before it is read;
# the largest valid body, a basket of mcp.MAX_BASKET_ITEMS terms, is
# a few KB.
MAX_BODY_BYTES = 64 * 1024


class HttpError(Exception):
    def __init__(self, status: int, detail: str):
        super().__init__(detail)
        self.status = status
        self.detail = detail


def _jsonable(v: Any) -> Any:
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    return v


def _rows(df) -> list[dict[str, Any]]:
    return [_jsonable(r.asDict()) for r in df.collect()]


def _int_param(params, name, default, lo=None, hi=None):
    raw = params.get(name)
    if raw is None:
        return default
    try:
        val = int(raw)
    except ValueError:
        raise HttpError(422, f"{name} must be an integer")
    if (lo is not None and val < lo) or (hi is not None and val > hi):
        raise HttpError(422, f"{name} out of range")
    return val


def _float_param(params, name):
    raw = params.get(name)
    if raw is None:
        return None
    try:
        return float(raw)
    except ValueError:
        raise HttpError(422, f"{name} must be a number")


def _bool_param(params, name):
    raw = params.get(name)
    if raw is None:
        return None
    if raw.lower() in ("true", "1"):
        return True
    if raw.lower() in ("false", "0"):
        return False
    raise HttpError(422, f"{name} must be a boolean")


# ------------------------------------------------------------ handlers

_PRODUCT_COLS = [
    "product_id",
    "supermarket_id",
    "barcode",
    "canonical_name",
    "brand",
    "category",
    "price",
    "promo_price",
    "collected_at",
]


def get_products(prods: DataFrame, dim: DataFrame, params: dict) -> list[dict]:
    """GET /products (products.py:20-64)."""
    page = domain.search_products(
        prods,
        term=params.get("q") or params.get("name"),
        category=params.get("category"),
        brand=params.get("brand"),
        promo=_bool_param(params, "on_promotion"),
        min_price=_float_param(params, "min_price"),
        max_price=_float_param(params, "max_price"),
        supermarket_id=_int_param(params, "supermarket_id", None),
        offset=_int_param(params, "offset", 0, lo=0),
        limit=_int_param(params, "limit", 100, lo=1, hi=MAX_LIMIT),
    )
    return _rows(page.select(*_PRODUCT_COLS))


def get_barcode(prods: DataFrame, dim: DataFrame, params: dict, barcode: str) -> list[dict]:
    """GET /products/barcode/{barcode} (products.py:174-226): offers
    across stores sorted cheapest-first; 404 when unknown."""
    offers = domain.compare_offers(prods, dim, barcode).select(
        *_PRODUCT_COLS, F.col("name").alias("supermarket_name"), "effective_price", "savings"
    )
    out = _rows(domain.ordered(offers, "effective_price", "product_id"))
    if not out:
        raise HttpError(404, f"no products with barcode {barcode}")
    return out


def get_product(prods: DataFrame, dim: DataFrame, params: dict, product_id: str) -> dict:
    """GET /products/{product_id} (products.py:148-160): fetch one
    row by primary key, 404 when absent. The reference key is a
    serial int; ours is the md5 surrogate the mapping layer derives
    (mapping.py:19), so the path segment is the hash string — same
    contract (exact-match single fetch), engine-native key."""
    row = (
        prods.where(F.col("product_id") == product_id)
        .limit(1)
        .select(*_PRODUCT_COLS)
        .collect()
    )
    if not row:
        raise HttpError(404, "Product not found")
    return _jsonable(row[0].asDict())


def get_supermarket(
    prods: DataFrame, dim: DataFrame, params: dict, supermarket_id: str
) -> dict:
    """GET /supermarkets/{supermarket_id} (supermarkets.py:24-35):
    one dim row by id, 404 when absent."""
    row = dim.where(F.col("supermarket_id") == int(supermarket_id)).limit(1).collect()
    if not row:
        raise HttpError(404, "Supermarket not found")
    return _jsonable(row[0].asDict())


def get_history(prods: DataFrame, dim: DataFrame, params: dict, barcode: str) -> dict:
    """GET /products/barcode/{barcode}/history (products.py:229-296):
    history window + trend + low/high. Anchored at the data's max
    collected_at (the reference anchors at now(); a data anchor keeps
    the response deterministic). One query, one row: the anchor is a
    window over the barcode's rows, and one groupBy returns the trend,
    low/high and the entries, newest first."""
    days = _int_param(params, "days", 30, lo=1, hi=365)
    keyed = prods.where(F.col("barcode") == barcode).coalesce(1)
    anchor = F.max("collected_at").over(Window.partitionBy("barcode"))
    hist = domain.price_history(
        keyed.withColumn("_anchor", anchor),
        barcode,
        F.col("_anchor") - F.expr(f"INTERVAL {days} DAYS"),
    )
    entry = F.struct("rn", "product_id", "price", "promo_price", "effective_price", "collected_at")
    entries = F.array_sort(F.collect_list(entry)).alias("entries")
    rows = domain.price_trend(hist, entries, min_points=1).collect()
    if not rows:
        raise HttpError(404, f"no products with barcode {barcode}")
    s = rows[0]
    return {
        "barcode": barcode,
        "days": days,
        "price_history": [
            _jsonable({k: v for k, v in e.asDict().items() if k != "rn"}) for e in s["entries"]
        ],
        "trend": s["trend"],
        "lowest_price": s["low_d"],
        "highest_price": s["high_d"],
    }


def get_lowest_prices(prods: DataFrame, dim: DataFrame, params: dict) -> list[dict]:
    """GET /products/lowest-prices (products.py:82-143). A page holds
    at most ``3 * MAX_LIMIT`` rows, so it is computed over the frame's
    held head of that many cheapest offers, not over the whole table;
    the head is one partition, so the page's top-k shuffles nothing."""
    limit = _int_param(params, "limit", 20, lo=1, hi=MAX_LIMIT)
    head = domain.held(
        prods,
        "lowest_head",
        lambda: in_memory(
            prods.orderBy(domain.effective(), "product_id").limit(3 * MAX_LIMIT)
        ).coalesce(1),
    )
    page = domain.lowest_prices_page(head, limit=limit)
    return _rows(page.select(*_PRODUCT_COLS, "eff", "savings_pct"))


def get_supermarkets(prods: DataFrame, dim: DataFrame, params: dict) -> list[dict]:
    """GET /supermarkets (+ city/name filters, mcp.py:475-483)."""
    return _rows(domain.store_directory(dim, params.get("city"), params.get("name")))


def get_supermarket_products(
    prods: DataFrame, dim: DataFrame, params: dict, supermarket_id: str
) -> list[dict]:
    """GET /supermarkets/{id}/products (supermarkets.py:38-58)."""
    prods = prods.where(F.col("supermarket_id") == int(supermarket_id))
    if params.get("category"):
        prods = prods.where(F.col("category") == params["category"])
    if params.get("q"):
        prods = prods.where(
            F.lower(F.col("canonical_name")).contains(params["q"].lower())
        )
    limit = _int_param(params, "limit", 100, lo=1, hi=MAX_LIMIT)
    return _rows(
        prods.orderBy("product_id").limit(limit).select(*_PRODUCT_COLS)
    )


def _distinct(prods: DataFrame, col: str) -> list[str]:
    """Sorted distinct values of one column, nulls out; held per
    frame."""
    return list(domain.held(prods, f"distinct {col}", lambda: [
        r[col] for r in domain.ordered(prods.select(col).dropna().distinct(), col).collect()
    ]))


def get_categories(prods: DataFrame, dim: DataFrame, params: dict) -> list[str]:
    """GET /categories (utils.py:17-18)."""
    return _distinct(prods, "category")


def get_brands(prods: DataFrame, dim: DataFrame, params: dict) -> list[str]:
    """GET /brands (utils.py:28-29)."""
    return _distinct(prods, "brand")


def _stats(prods: DataFrame) -> dict:
    row = prods.agg(
        F.count(F.lit(1)).alias("total_products"),
        F.countDistinct("supermarket_id").alias("total_supermarkets"),
        F.count("promo_price").alias("products_on_sale"),
        F.avg(F.col("price").cast("double")).alias("avg_price"),
    ).collect()[0]
    total = row["total_products"]
    on_sale = row["products_on_sale"]
    return {
        "total_products": total,
        "total_supermarkets": row["total_supermarkets"],
        "products_on_sale": on_sale,
        "sale_percentage": round(on_sale * 100 / total, 1) if total else 0.0,
        "average_price": round(row["avg_price"], 2) if row["avg_price"] else None,
    }


def get_stats(prods: DataFrame, dim: DataFrame, params: dict) -> dict:
    """GET /stats (utils.py:40-50): counts, on-sale share, avg price
    (percentages as Python-float math — A3); held per frame."""
    return dict(domain.held(prods, "stats", lambda: _stats(prods)))


def post_tool(prods: DataFrame, dim: DataFrame, body: Any, name: str) -> dict:
    """POST /api/mcp/tools/{name} (mcp.py:593-625)."""
    if not isinstance(body, dict):
        raise HttpError(422, "body must be a JSON object")
    try:
        result = mcp.execute_tool(prods, dim, name, body.get("arguments", {}))
    except KeyError:
        raise HttpError(404, f"unknown tool {name}")
    except mcp.ToolValidationError as exc:
        raise HttpError(422, str(exc))
    return {"tool": name, "result": _jsonable(result)}


# ------------------------------------------------------------- routing

# GET routes whose answer never changes.
_STATIC: dict[str, Any] = {
    # main.py:68-70 welcome banner
    "/": {"message": "Welcome to Salim API - Israeli Supermarket Price Comparison"},
    "/health": {"status": "healthy", "service": "salim-api"},  # utils.py:56-59
    # mcp.py:637-643, 580-591
    "/api/mcp/health": {"status": "healthy", "mcpConnected": True, "server": mcp.server_info()},
    "/api/mcp/server/info": {"server": mcp.server_info()},
    "/api/mcp/tools": {"tools": mcp.list_tools()},
}

# (method, path pattern, handler name), first match wins: the literal
# /products/... routes come before /products/{product_id}, as
# FastAPI's router resolves them.
_ROUTES: list[tuple[str, re.Pattern[str], str]] = [
    (method, re.compile(f"^{pattern}$"), handler)
    for method, pattern, handler in (
        ("GET", r"/products", "get_products"),
        ("GET", r"/products/lowest-prices", "get_lowest_prices"),
        # the reference's literal path (products.py:228) and the
        # engine-native alias serve the same payload
        ("GET", r"/products/price-history/(?P<barcode>[^/]+)", "get_history"),
        ("GET", r"/products/barcode/(?P<barcode>[^/]+)/history", "get_history"),
        ("GET", r"/products/barcode/(?P<barcode>[^/]+)", "get_barcode"),
        ("GET", r"/products/(?P<product_id>[^/]+)", "get_product"),
        ("GET", r"/supermarkets", "get_supermarkets"),
        ("GET", r"/supermarkets/(?P<supermarket_id>\d+)", "get_supermarket"),
        ("GET", r"/supermarkets/(?P<supermarket_id>\d+)/products", "get_supermarket_products"),
        ("GET", r"/categories", "get_categories"),
        ("GET", r"/brands", "get_brands"),
        ("GET", r"/stats", "get_stats"),
        ("POST", r"/api/mcp/tools/(?P<name>[^/]+)", "post_tool"),
    )
]


def _dispatch(frames, method: str, path: str, params: Any) -> Any:
    if method == "GET" and path in _STATIC:
        return _STATIC[path]
    for m, pattern, handler in _ROUTES:
        match = pattern.match(path)
        if match and m == method:
            # looked up by name at call time, so a rebound module
            # attribute (a wrapper, a test double) serves the request
            return globals()[handler](*frames, params, **match.groupdict())
    raise HttpError(404, f"no route for {method} {path}")


def create_server(
    spark: SparkSession, sf_dir: str, host: str = "127.0.0.1", port: int = 0
) -> ThreadingHTTPServer:
    """Build (not start) the HTTP server; port 0 = ephemeral. The
    (products, supermarkets) pair is opened here, once, and every
    request reads it; the store dimension is held in memory. Call
    .serve_forever() in a thread; .server_address[1] is the bound
    port."""
    cat = Catalog(spark, sf_dir)
    frames = (products(cat), in_memory(supermarkets(cat)))

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet test output
            pass

        def _respond(self, status: int, payload: Any) -> None:
            data = json.dumps(payload).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _read_body(self) -> Any:
            """The parsed JSON body, {} when there is none."""
            try:
                length = int(self.headers.get("Content-Length") or 0)
            except ValueError:
                length = -1
            if length < 0:
                raise HttpError(400, "invalid Content-Length")
            if length > MAX_BODY_BYTES:
                raise HttpError(413, f"body over {MAX_BODY_BYTES} bytes")
            if not length:
                return {}
            try:
                return json.loads(self.rfile.read(length))
            except ValueError:  # not JSON, or not UTF-8
                raise HttpError(422, "invalid JSON body")

        def _handle(self, method: str) -> None:
            try:
                parsed = urlparse(self.path)
                body = self._read_body()
                if method == "GET":
                    params = {k: v[0] for k, v in parse_qs(parsed.query).items()}
                else:
                    params = body
                result = _dispatch(frames, method, parsed.path.rstrip("/") or "/", params)
            except HttpError as exc:
                self._respond(exc.status, {"detail": exc.detail})
            except Exception:  # FastAPI's default 500: no internals leak
                _log.exception("%s %s failed", method, self.path)
                self._respond(500, {"detail": "Internal Server Error"})
            else:
                self._respond(200, result)

        def do_GET(self):
            self._handle("GET")

        def do_POST(self):
            self._handle("POST")

    return ThreadingHTTPServer((host, port), Handler)


def serve_background(
    spark: SparkSession, sf_dir: str, host: str = "127.0.0.1", port: int = 0
) -> tuple[ThreadingHTTPServer, threading.Thread]:
    srv = create_server(spark, sf_dir, host, port)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, t
