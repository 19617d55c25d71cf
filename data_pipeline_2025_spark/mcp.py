"""MCP protocol surface for the seven engine tools.

The reference declares its LLM tools with JSON-schema and serves
them over two endpoints: GET /api/mcp/tools (list the declarations,
salim/app/server/routes/mcp.py:585-591) and POST
/api/mcp/tools/{name} (validate + dispatch, mcp.py:593-625); the
schema declarations themselves are mcp.py:58-142, and the two
JS-layer tools follow simple-proxy.js:1243-1619. FastAPI is not
installed in this container, so the protocol surface is the same
data — TOOL_SCHEMAS — plus list_tools()/execute_tool() as plain
functions any HTTP shim can mount 1:1.

RESULT_SHAPES freezes each tool's result-dict contract (the key
sets of mcp.py:159-296 result payloads) so tests can assert the
implementation never drifts from the declaration.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from .tools import ALL_TOOLS

_STR = {"type": "string"}
_INT = {"type": "integer"}
# A basket's totals run as one task over one IN list of its barcodes,
# and each name term adds a column to the resolving aggregate: cap it.
MAX_BASKET_ITEMS = 100
_BASKET = {"type": "array", "items": {"type": "string"}, "maxItems": MAX_BASKET_ITEMS}

# JSON-schema tool declarations (shape of reference mcp.py:58-142).
TOOL_SCHEMAS: dict[str, dict[str, Any]] = {
    "search_product": {
        "name": "search_product",
        "description": "Search products by (partial) name; returns the "
        "top 10 offers ordered by effective price.",
        "inputSchema": {
            "type": "object",
            "properties": {"term": _STR},
            "required": ["term"],
        },
    },
    "compare_results": {
        "name": "compare_results",
        "description": "Compare one barcode across every store: all "
        "offers cheapest-first, best price, cheapest store, max savings.",
        "inputSchema": {
            "type": "object",
            "properties": {"barcode": _STR},
            "required": ["barcode"],
        },
    },
    "find_best_basket": {
        "name": "find_best_basket",
        "description": "Cheapest complete basket: per-store totals for "
        "a list of products (barcodes or name terms — names resolve to "
        "their best search hit, as in the reference tool), stores "
        "carrying every item, best/worst summary.",
        "inputSchema": {
            "type": "object",
            "properties": {"barcodes": _BASKET},
            "required": ["barcodes"],
        },
    },
    "find_most_expensive_basket": {
        "name": "find_most_expensive_basket",
        "description": "Descending basket variant: top-5 most expensive "
        "complete baskets.",
        "inputSchema": {
            "type": "object",
            "properties": {"barcodes": _BASKET},
            "required": ["barcodes"],
        },
    },
    "calculate_savings": {
        "name": "calculate_savings",
        "description": "Savings analysis between the cheapest and most "
        "expensive complete basket: amount, percent, recommendation.",
        "inputSchema": {
            "type": "object",
            "properties": {"barcodes": _BASKET},
            "required": ["barcodes"],
        },
    },
    "get_stores": {
        "name": "get_stores",
        "description": "Store directory with optional case-insensitive "
        "city / name contains-filters.",
        "inputSchema": {
            "type": "object",
            "properties": {"city": _STR, "name": _STR},
            "required": [],
        },
    },
    "get_store_info": {
        "name": "get_store_info",
        "description": "Per-store profile: product count, promo share, "
        "category roster.",
        "inputSchema": {
            "type": "object",
            "properties": {"supermarket_id": _INT},
            "required": ["supermarket_id"],
        },
    },
}

# Result contracts (mcp.py:159-296 payload key sets). Tuples of
# (always_keys, conditional_keys): a result must contain every
# always-key and nothing outside always ∪ conditional. List-returning
# tools declare the per-element keys under "element".
RESULT_SHAPES: dict[str, dict[str, Any]] = {
    "search_product": {
        "list": True,
        "element": {
            "product_id",
            "barcode",
            "canonical_name",
            "brand",
            "category",
            "price",
            "promo_price",
        },
    },
    "compare_results": {
        "always": {"found", "barcode", "results"},
        "conditional": {"best_price", "cheapest_store", "max_savings"},
    },
    "find_best_basket": {
        "always": {"requested_products", "complete_baskets", "stores"},
        "conditional": {"best_store", "best_total", "max_potential_savings"},
    },
    "find_most_expensive_basket": {"always": {"stores"}, "conditional": set()},
    "calculate_savings": {
        "always": {"comparable"},
        "conditional": {
            "complete_baskets",
            "cheapest_store",
            "most_expensive_store",
            "savings_amount",
            "savings_percent",
            "price_range",
            "recommendation",
        },
    },
    "get_stores": {
        "list": True,
        "element": {"supermarket_id", "name", "city"},
    },
    "get_store_info": {
        "always": {"found", "supermarket_id"},
        "conditional": {
            "name",
            "city",
            "product_count",
            "products_on_sale",
            "sale_percentage",
            "categories",
        },
    },
}

_JSON_TYPES = {
    "string": str,
    "integer": int,
    "array": list,
    "object": dict,
    "boolean": bool,
}


class ToolValidationError(ValueError):
    """Arguments do not satisfy the tool's declared inputSchema."""


def validate_arguments(name: str, arguments: dict[str, Any]) -> None:
    """Minimal JSON-schema check: required present, declared types,
    array ``maxItems``, no undeclared properties (the subset the
    reference's FastAPI layer enforces via pydantic)."""
    if not isinstance(arguments, dict):
        raise ToolValidationError(f"{name}: arguments must be an object")
    schema = TOOL_SCHEMAS[name]["inputSchema"]
    props = schema["properties"]
    for req in schema["required"]:
        if req not in arguments:
            raise ToolValidationError(f"{name}: missing required argument {req!r}")
    for key, val in arguments.items():
        if key not in props:
            raise ToolValidationError(f"{name}: unknown argument {key!r}")
        expect = _JSON_TYPES[props[key]["type"]]
        if expect is int and isinstance(val, bool):
            raise ToolValidationError(f"{name}: {key!r} must be an integer")
        if not isinstance(val, expect):
            raise ToolValidationError(
                f"{name}: {key!r} must be {props[key]['type']}"
            )
        limit = props[key].get("maxItems")
        if limit is not None and len(val) > limit:
            raise ToolValidationError(f"{name}: {key!r} has more than {limit} items")
        items = props[key].get("items")
        if items and not all(
            isinstance(x, _JSON_TYPES[items["type"]]) for x in val
        ):
            raise ToolValidationError(
                f"{name}: every element of {key!r} must be {items['type']}"
            )


def server_info() -> dict[str, Any]:
    """GET /api/mcp/server/info analog (mcp.py:580-583): the static
    server-metadata block (mcp.py:47-55) — name/version/description/
    capabilities/protocol_version/tools_count, with capabilities
    derived from the live tool table rather than hand-listed so the
    count can never drift from the declarations."""
    names = sorted(TOOL_SCHEMAS)
    return {
        "name": "shopping-mcp-server",
        "version": "0.1.0",
        "description": "Shopping comparison MCP server",
        "capabilities": names,
        "protocol_version": "2024-11-05",
        "tools_count": len(names),
    }


def list_tools() -> list[dict[str, Any]]:
    """GET /api/mcp/tools analog (mcp.py:585-591)."""
    return [TOOL_SCHEMAS[name] for name in sorted(TOOL_SCHEMAS)]


def execute_tool(
    prods: DataFrame, dim: DataFrame, name: str, arguments: dict[str, Any]
) -> Any:
    """POST /api/mcp/tools/{name} analog (mcp.py:593-625): unknown
    tool → KeyError; invalid arguments → ToolValidationError;
    otherwise dispatch to the DataFrame-backed implementation over the
    caller's (products, supermarkets) pair (tools.open_frames)."""
    if name not in ALL_TOOLS:
        raise KeyError(f"unknown tool {name!r}")
    validate_arguments(name, arguments)
    return ALL_TOOLS[name](prods, dim, **arguments)
