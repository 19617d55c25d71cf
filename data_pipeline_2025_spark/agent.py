"""NL shopping-assistant layer — the engine analog of the reference's
chat proxy (SURVEY.md §2.11; salim/app/shopping-chat/server/
simple-proxy.js).

The reference parses a Hebrew shopping question into
{products: [...], location} with an LLM (simple-proxy.js:2208-2268),
then for a SINGLE product runs a deterministic 2-step auto-workflow
search → compare (skipping the model's tool choice,
simple-proxy.js:1636-1723), and for baskets an agentic tool loop
capped at 3 iterations (simple-proxy.js:1782-1850).

This module preserves those semantics without an LLM dependency:

- ``parse_shopping_query`` is a deterministic rule parser that
  reproduces the reference prompt's own worked examples (products
  split on commas / ו־"and" conjunctions, location from the Hebrew
  ב־locative prefix or English "in", default "ישראל").
- ``run_shopping_session`` executes the same plans over the engine's
  MCP tools: 1 product → search_product then compare_results by the
  best hit's barcode; N products → find_best_basket (+
  calculate_savings when comparable) — every call dispatched through
  mcp.execute_tool (schema-validated) over one (products,
  supermarkets) pair opened per session, never more than
  MAX_ITERATIONS tool rounds.
- ``answer`` formatting accepts an optional ``phrase(context) ->
  str`` hook where the reference calls the LLM; the default is a
  deterministic template, so tests and offline runs need no model.
"""

from __future__ import annotations

import re
from typing import Any, Callable

from pyspark.sql import SparkSession

from . import mcp, tools

MAX_ITERATIONS = 3  # simple-proxy.js:1786
DEFAULT_LOCATION = "ישראל"  # prompt default, simple-proxy.js:2233

# Question scaffolding in the reference's example questions (Hebrew)
# plus English equivalents — never product words.
_STOPWORDS = {
    # Hebrew
    "איפה", "הכי", "זול", "זולה", "משתלם", "לקנות", "אני", "צריך",
    "צריכה", "רוצה", "של", "את", "מה", "כמה", "עולה", "יש",
    # English
    "where", "is", "the", "cheapest", "best", "buy", "i", "need",
    "to", "price", "of", "a", "an", "for", "find", "me", "get",
    "can", "you", "what", "does", "cost", "want", "please",
}


def _tokens(message: str) -> list[str]:
    return [t for t in re.split(r"[\s?!.:]+", message.strip()) if t]


def parse_shopping_query(message: str) -> dict[str, Any]:
    """Deterministic {products, location} extraction mirroring the
    reference prompt's worked examples (simple-proxy.js:2216-2221):

    - "איפה הכי זול פופקורן ברעננה?"        → ["פופקורן"], "רעננה"
    - "אני צריך חלב, לחם וביצים בתל אביב"   → ["חלב","לחם","ביצים"], "תל אביב"
    - "איפה הכי משתלם לקנות גבינה ויוגורט בכפר סבא?"
                                            → ["גבינה","יוגורט"], "כפר סבא"
    """
    toks = _tokens(message)
    location: str | None = None

    # English "in <city...>": location = everything after the last "in".
    low = [t.lower() for t in toks]
    if "in" in low:
        i = len(low) - 1 - low[::-1].index("in")
        if i + 1 < len(toks):
            location = " ".join(toks[i + 1 :])
            toks = toks[:i]

    # Hebrew locative ב־prefix: the LAST ב־word (not a conjunction,
    # length > 2) starts the location; trailing tokens belong to it
    # ("בתל אביב", "בכפר סבא").
    if location is None:
        for i in range(len(toks) - 1, -1, -1):
            t = toks[i]
            if t.startswith("ב") and len(t) > 2 and t not in _STOPWORDS:
                rest = toks[i + 1 :]
                if not any(w in _STOPWORDS for w in rest):
                    location = " ".join([t[1:], *rest]).strip()
                    toks = toks[:i]
                    break

    # Products: strip scaffolding, then split on commas and the
    # Hebrew ו־/English "and" conjunction; contiguous tokens between
    # separators form ONE (possibly multi-word) product.
    words: list[str] = []
    for t in toks:
        bare = t.strip(",")
        if bare.lower() in _STOPWORDS or not bare:
            if t.endswith(","):
                words.append(",")
            continue
        words.append(bare + ("," if t.endswith(",") else ""))

    products: list[str] = []
    current: list[str] = []

    def flush() -> None:
        if current:
            products.append(" ".join(current))
            current.clear()

    for w in words:
        trailing_comma = w.endswith(",")
        w = w.rstrip(",")
        if w.lower() == "and" or w == "ו":
            flush()
            continue
        if w.startswith("ו") and len(w) > 1 and current:
            # ו־conjunction glued to the next product ("וביצים")
            flush()
            w = w[1:]
        if w:
            current.append(w)
        if trailing_comma:
            flush()
    flush()

    return {"products": products, "location": location or DEFAULT_LOCATION}


def _default_phrase(ctx: dict[str, Any]) -> str:
    """Deterministic stand-in for the reference's final LLM call."""
    if ctx["plan"] == "single" and ctx.get("compare", {}).get("found"):
        cmp_ = ctx["compare"]
        return (
            f"הכי משתלם לקנות {ctx['products'][0]} ב{cmp_['cheapest_store']} "
            f"במחיר {cmp_['best_price']} (חיסכון עד {cmp_['max_savings']})."
        )
    if ctx["plan"] == "basket" and ctx.get("basket", {}).get("stores"):
        b = ctx["basket"]
        return (
            f"הסל הזול ביותר ({len(ctx['products'])} מוצרים) הוא "
            f"ב{b['best_store']} בסך {b['best_total']}."
        )
    return "לא נמצאו מוצרים מתאימים."


def run_shopping_session(
    spark: SparkSession,
    sf_dir: str,
    message: str,
    phrase: Callable[[dict[str, Any]], str] | None = None,
) -> dict[str, Any]:
    """Parse → plan → bounded tool loop → answer. Returns the full
    trace: {parsed, plan, tool_calls, answer, ...results}."""
    parsed = parse_shopping_query(message)
    products = parsed["products"]
    tool_calls: list[dict[str, Any]] = []
    frames = tools.open_frames(spark, sf_dir)

    def call(name: str, arguments: dict[str, Any]) -> Any:
        if len(tool_calls) >= MAX_ITERATIONS:
            raise RuntimeError(f"tool budget exceeded ({MAX_ITERATIONS})")
        result = mcp.execute_tool(*frames, name, arguments)
        tool_calls.append({"tool": name, "arguments": arguments})
        return result

    ctx: dict[str, Any] = {"parsed": parsed, "products": products}
    if len(products) == 1:
        # Deterministic 2-step auto-workflow (simple-proxy.js:1636-1723).
        ctx["plan"] = "single"
        hits = call("search_product", {"term": products[0]})
        ctx["search"] = hits
        if hits:
            ctx["compare"] = call("compare_results", {"barcode": hits[0]["barcode"]})
    elif products:
        ctx["plan"] = "basket"
        # The reference passes the parsed name terms straight to
        # find_best_basket, which resolves EACH term to its own best
        # search hit inside the tool (simple-proxy.js:1443;
        # mcp.py:308-352) — so "חלב, לחם וביצים" prices milk AND
        # bread AND eggs, not three milk offers. Mirror that: the
        # whole term list goes down in one tool round (terms that
        # are all-digits pass through as barcodes), savings in a
        # second — the 3-round budget holds for any basket size.
        basket = call("find_best_basket", {"barcodes": products})
        ctx["basket"] = basket
        if basket.get("complete_baskets", 0) >= 2:
            ctx["savings"] = call("calculate_savings", {"barcodes": products})
    else:
        ctx["plan"] = "none"

    ctx["tool_calls"] = tool_calls
    ctx["answer"] = (phrase or _default_phrase)(ctx)
    return ctx
