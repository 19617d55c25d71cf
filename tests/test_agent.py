"""NL layer tests: the deterministic parser must reproduce the
reference prompt's own worked examples (simple-proxy.js:2216-2221),
and the session runner must follow the reference's plans — 2-step
auto-workflow for one product, basket tools for many, never more
than 3 tool rounds."""

from __future__ import annotations

import pytest

from data_pipeline_2025_spark.agent import (
    MAX_ITERATIONS,
    parse_shopping_query,
    run_shopping_session,
)


@pytest.mark.parametrize(
    "message,products,location",
    [
        # the three worked examples from the reference prompt
        ("איפה הכי זול פופקורן ברעננה?", ["פופקורן"], "רעננה"),
        (
            "אני צריך חלב, לחם וביצים בתל אביב",
            ["חלב", "לחם", "ביצים"],
            "תל אביב",
        ),
        (
            "איפה הכי משתלם לקנות גבינה ויוגורט בכפר סבא?",
            ["גבינה", "יוגורט"],
            "כפר סבא",
        ),
        # English + default location
        ("where is the cheapest widget bolt in haifa", ["widget bolt"], "haifa"),
        ("i need milk, bread and eggs", ["milk", "bread", "eggs"], "ישראל"),
        ("popcorn", ["פופקורן".replace("פופקורן", "popcorn")], "ישראל"),
    ],
)
def test_parse_worked_examples(message, products, location):
    parsed = parse_shopping_query(message)
    assert parsed["products"] == products
    assert parsed["location"] == location


def test_single_product_auto_workflow(spark, sf_smoke):
    res = run_shopping_session(spark, sf_smoke, "where is the cheapest widget in haifa")
    assert res["plan"] == "single"
    assert [c["tool"] for c in res["tool_calls"]] == [
        "search_product",
        "compare_results",
    ]
    assert res["compare"]["found"] is True
    assert res["compare"]["cheapest_store"] in res["answer"]
    assert len(res["tool_calls"]) <= MAX_ITERATIONS


def test_basket_plan_uses_basket_tools(spark, sf_smoke):
    # digit terms are treated as barcodes and skip the search round
    res = run_shopping_session(spark, sf_smoke, "i need 3, 7 and 11")
    assert res["plan"] == "basket"
    tools_used = [c["tool"] for c in res["tool_calls"]]
    assert tools_used[0] == "find_best_basket"
    assert set(tools_used) <= {
        "search_product",
        "find_best_basket",
        "calculate_savings",
    }
    assert len(res["tool_calls"]) <= MAX_ITERATIONS
    if res["basket"]["complete_baskets"] >= 2:
        assert res["savings"]["comparable"] is True
        assert res["basket"]["best_store"] in res["answer"]


def test_basket_plan_resolves_each_name_term(spark, sf_smoke, smoke_frames):
    """The reference's worked example ('milk, bread and eggs')
    prices N DIFFERENT products — each term must resolve to ITS OWN
    best search hit, not to N hits of the first term."""
    from data_pipeline_2025_spark import tools

    # expected resolution = top search hit per term, per the
    # reference's best-match rule (mcp.py:322-347)
    terms = ["widget", "bolt", "rod"]
    expected = [tools.search_product(*smoke_frames, t)[0]["barcode"] for t in terms]
    assert len(set(expected)) == 3, "fixture terms must hit distinct products"

    res = run_shopping_session(spark, sf_smoke, "i need widget, bolt and rod")
    assert res["plan"] == "basket"
    tools_used = [c["tool"] for c in res["tool_calls"]]
    assert tools_used[0] == "find_best_basket"
    assert len(res["tool_calls"]) <= MAX_ITERATIONS
    basket = res["basket"]
    assert basket["requested_products"] == 3
    assert "unresolved" not in basket
    # the basket the agent priced is the basket of the 3 resolved
    # barcodes — byte-identical to calling the tool on them directly
    direct = tools.find_best_basket(*smoke_frames, expected)
    assert basket == direct


def test_resolve_basket_terms_mixed_and_unresolved(smoke_frames):
    from data_pipeline_2025_spark import tools

    top_widget = tools.search_product(*smoke_frames, "widget")[0]["barcode"]
    barcodes, unresolved = tools.resolve_basket_terms(
        smoke_frames[0], ["7", "widget", "zzz-no-such-product"]
    )
    assert barcodes == ["7", top_widget]
    assert unresolved == ["zzz-no-such-product"]


def test_no_products_is_graceful(spark, sf_smoke):
    res = run_shopping_session(spark, sf_smoke, "איפה הכי זול לקנות?")
    assert res["plan"] == "none"
    assert res["tool_calls"] == []
    assert res["answer"]
