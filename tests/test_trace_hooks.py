"""Guard for the hooks of perfbench's traced serve run
(perfbench/workload_serve.py ``_install_tracing``).

The traced run wraps module attributes of the serving layers by name.
A renamed attribute makes the traced run raise; a handler that the
request path holds by reference instead of looking it up by name
silently records no span. This test installs the hooks read-only,
sends one request of every serve kind and variant, and checks that
every wrapped ``server``, ``mcp``, ``tools`` and ``domain`` function
recorded a span, while no request opened a table.
"""

from __future__ import annotations

import os

from data_pipeline_2025_spark.server import serve_background

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")

BASKET = {"arguments": {"barcodes": ["3", "7", "widget"]}}
# one request of each serve kind (datagen.SERVE_MIX), both REST and MCP variants
REQUESTS = [
    ("GET", "/products?q=widget&limit=20", None),
    ("POST", "/api/mcp/tools/search_product", {"arguments": {"term": "widget"}}),
    ("GET", "/products/barcode/50", None),
    ("POST", "/api/mcp/tools/compare_results", {"arguments": {"barcode": "50"}}),
    ("POST", "/api/mcp/tools/find_best_basket", BASKET),
    ("POST", "/api/mcp/tools/calculate_savings", BASKET),
    ("POST", "/api/mcp/tools/find_most_expensive_basket", BASKET),
    ("GET", "/products/barcode/50/history?days=365", None),
    ("GET", "/products/lowest-prices?limit=20", None),
    ("POST", "/api/mcp/tools/get_store_info", {"arguments": {"supermarket_id": 1}}),
    ("GET", "/supermarkets?city=a", None),
    ("POST", "/api/mcp/tools/get_stores", {"arguments": {"city": "a"}}),
    ("GET", "/stats", None),
    ("GET", "/categories", None),
]


def test_traced_serve_hooks_record_every_layer(spark, sf_smoke, monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    import workload_serve
    from tracing import Tracer

    srv, _ = serve_background(spark, sf_smoke)
    port = srv.server_address[1]
    tr = Tracer()
    wrapped: list[str] = []
    wrap = tr.wrap

    def recording_wrap(owner, attr, name):
        wrapped.append(name)
        wrap(owner, attr, name)

    monkeypatch.setattr(tr, "wrap", recording_wrap)
    try:
        workload_serve._install_tracing(tr, spark)
        for i, (method, path, body) in enumerate(REQUESTS):
            req = {"method": method, "path": path, "body": body}
            status, _ = workload_serve._send(port, req, f"r{i}")
            assert status == 200, (path, body)
    finally:
        tr.restore()
        srv.shutdown()
        srv.server_close()

    calls: dict[str, int] = {}
    for _, name, *_ in tr.spans:
        calls[name] = calls.get(name, 0) + 1
    layered = [n for n in wrapped if n.split(".")[0] in ("server", "mcp", "tools", "domain")]
    assert len(layered) == 24
    assert [n for n in layered if not calls.get(n)] == []
    assert calls.get("catalog.load_table", 0) == 0
    assert calls.get("mapping.products", 0) == 0
    # server-thread spans carry the request id the URL hook set
    assert all(op is not None for _, name, *_, op in tr.spans if name.startswith("server."))

