"""Shape + invariant tests for the 7 MCP-shaped tools (mcp.py result
contracts). Value-level correctness of the underlying operators is
covered by the oracle suite; here we assert the tool contracts:
shapes, orderings, limits, and cross-tool consistency."""

from __future__ import annotations

from decimal import Decimal

import pytest

from data_pipeline_2025_spark import tools

BASKET = ["3", "7", "11", "19", "23"]


def test_search_product_limit_and_order(smoke_frames):
    res = tools.search_product(*smoke_frames, "widget")
    assert 0 < len(res) <= tools.SEARCH_LIMIT
    effs = [
        r["promo_price"] if r["promo_price"] is not None else r["price"] for r in res
    ]
    assert effs == sorted(effs)
    assert {"product_id", "barcode", "canonical_name"} <= set(res[0])


def test_compare_results_contract(smoke_frames):
    res = tools.compare_results(*smoke_frames, "50")
    assert res["found"] is True
    assert res["results"]
    assert res["best_price"] == res["results"][0]["effective_price"]
    assert res["cheapest_store"] == res["results"][0]["supermarket_name"]
    assert res["max_savings"] >= 0
    missing = tools.compare_results(*smoke_frames, "no-such-barcode")
    assert missing == {"found": False, "barcode": "no-such-barcode", "results": []}


def test_best_basket_and_savings_consistency(smoke_frames):
    best = tools.find_best_basket(*smoke_frames, BASKET)
    assert best["requested_products"] == len(BASKET)
    for s in best["stores"]:
        assert s["product_count"] == len(BASKET)  # complete only (A7)
    if best["complete_baskets"] >= 2:
        sav = tools.calculate_savings(*smoke_frames, BASKET)
        assert sav["comparable"] is True
        assert sav["cheapest_store"] == best["best_store"]
        assert sav["savings_amount"] == best["max_potential_savings"]
        worst = tools.find_most_expensive_basket(*smoke_frames, BASKET)
        assert worst["stores"][0]["supermarket_name"] == sav["most_expensive_store"]


def test_mcp_schema_covers_every_tool():
    from data_pipeline_2025_spark import mcp

    assert set(mcp.TOOL_SCHEMAS) == set(tools.ALL_TOOLS)
    assert set(mcp.RESULT_SHAPES) == set(tools.ALL_TOOLS)
    for schema in mcp.list_tools():
        s = schema["inputSchema"]
        assert s["type"] == "object"
        assert set(s["required"]) <= set(s["properties"])


SAMPLE_ARGS = {
    "search_product": {"term": "widget"},
    "compare_results": {"barcode": "50"},
    "find_best_basket": {"barcodes": BASKET},
    "find_most_expensive_basket": {"barcodes": BASKET},
    "calculate_savings": {"barcodes": BASKET},
    "get_stores": {},
    "get_store_info": {"supermarket_id": 1},
}


def test_mcp_results_match_declared_shapes(smoke_frames):
    """Every tool result, dispatched through the protocol layer, must
    match its declared result contract — keys ⊇ always, ⊆ always ∪
    conditional (list tools: element keys exactly as declared)."""
    from data_pipeline_2025_spark import mcp

    for name, args in SAMPLE_ARGS.items():
        res = mcp.execute_tool(*smoke_frames, name, args)
        shape = mcp.RESULT_SHAPES[name]
        if shape.get("list"):
            assert isinstance(res, list) and res, name
            for el in res:
                assert set(el) == shape["element"], (name, el)
        else:
            keys = set(res)
            assert shape["always"] <= keys, (name, keys)
            assert keys <= shape["always"] | shape["conditional"], (name, keys)


def test_mcp_validation_rejects_bad_calls(smoke_frames):
    import pytest as _pytest

    from data_pipeline_2025_spark import mcp

    with _pytest.raises(KeyError):
        mcp.execute_tool(*smoke_frames, "no_such_tool", {})
    bad_calls = [
        ("search_product", {}),  # missing term
        ("search_product", {"term": 7}),
        ("get_store_info", {"supermarket_id": "x"}),
        ("find_best_basket", {"barcodes": [1, 2]}),
        ("get_stores", {"zipcode": "x"}),
        # arguments that are not an object
        ("search_product", "term"),
        ("get_stores", "x"),
        ("get_stores", [1]),
    ]
    for name, args in bad_calls:
        with _pytest.raises(mcp.ToolValidationError):
            mcp.execute_tool(*smoke_frames, name, args)


def test_get_stores_and_info(smoke_frames):
    stores = tools.get_stores(*smoke_frames)
    assert stores
    names = [s["name"] for s in stores]
    assert names == sorted(names)
    filtered = tools.get_stores(*smoke_frames, city=stores[0]["city"][:3].lower())
    assert filtered
    info = tools.get_store_info(*smoke_frames, stores[0]["supermarket_id"])
    assert info["found"] is True
    assert info["product_count"] >= info["products_on_sale"] >= 0
    assert info["categories"] == sorted(info["categories"])
    assert tools.get_store_info(*smoke_frames, 10**9)["found"] is False


def test_store_info_for_a_store_without_products(spark, smoke_frames):
    """A store in the dimension with no products is still found, with
    zero counts (sf0.001 and sf0.01 have no such store, so one is
    added to the dimension here)."""
    prods, dim = smoke_frames
    empty_id = 10**6
    extra = spark.createDataFrame([(empty_id, "Empty Store", "NOWHERE")], dim.schema)
    dim = dim.unionByName(extra)
    info = tools.get_store_info(prods, dim, empty_id)
    assert info == {
        "found": True,
        "supermarket_id": empty_id,
        "name": "Empty Store",
        "city": "NOWHERE",
        "product_count": 0,
        "products_on_sale": 0,
        "sale_percentage": 0.0,
        "categories": [],
    }
    assert tools.get_store_info(prods, dim, empty_id + 1) == {
        "found": False,
        "supermarket_id": empty_id + 1,
    }


def test_most_expensive_basket_tie_order(spark):
    """Equal totals rank by supermarket_id ascending under the
    descending total order."""
    prods = spark.createDataFrame(
        [
            ("p1", 3, "100", Decimal("4.00"), None),
            ("p2", 3, "200", Decimal("6.00"), None),
            ("p3", 1, "100", Decimal("9.00"), Decimal("5.00")),
            ("p4", 1, "200", Decimal("5.00"), None),
            ("p5", 2, "100", Decimal("1.00"), None),
            ("p6", 2, "200", Decimal("2.00"), None),
            ("p7", 4, "100", Decimal("10.00"), None),
            ("p8", 4, "200", Decimal("0.00"), None),
        ],
        "product_id string, supermarket_id int, barcode string, "
        "price decimal(12,2), promo_price decimal(12,2)",
    )
    dim = spark.createDataFrame(
        [(i, f"store{i}", "city") for i in (1, 2, 3, 4)],
        "supermarket_id int, name string, city string",
    )
    res = tools.find_most_expensive_basket(prods, dim, ["100", "200"])
    assert [(s["supermarket_name"], s["total_promo_price"]) for s in res["stores"]] == [
        ("store1", 10.0),
        ("store3", 10.0),
        ("store4", 10.0),
        ("store2", 3.0),
    ]


@pytest.mark.parametrize("tool", ["find_best_basket", "find_most_expensive_basket", "calculate_savings"])
def test_basket_size_is_capped(smoke_frames, tool):
    """A basket of ``MAX_BASKET_ITEMS`` terms runs; one more is
    rejected before any query is built."""
    from data_pipeline_2025_spark import mcp

    full = [str(i) for i in range(1, mcp.MAX_BASKET_ITEMS + 1)]
    res = mcp.execute_tool(*smoke_frames, tool, {"barcodes": full})
    keys = set(res)
    shape = mcp.RESULT_SHAPES[tool]
    assert shape["always"] <= keys <= shape["always"] | shape["conditional"]
    with pytest.raises(mcp.ToolValidationError, match="more than"):
        mcp.execute_tool(*smoke_frames, tool, {"barcodes": full + ["1"]})
