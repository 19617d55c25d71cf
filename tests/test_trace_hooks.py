"""Guard for the hooks of perfbench's traced serve and ingest runs
(perfbench/workload_serve.py ``_install_tracing``, the wraps in
perfbench/workload_ingest.py ``run``).

A traced run wraps module attributes of the layers by name. A renamed
attribute makes the traced run raise; a function that the code path
holds by reference instead of looking it up by name silently records
no span. The serve test installs the hooks read-only, sends one
request of every serve kind and variant, and checks that every
wrapped ``server``, ``mcp``, ``tools`` and ``domain`` function
recorded a span, while no request opened a table. The ingest test
installs the ingest run's wraps, runs two drops, and checks that the
index build recorded a span on the first drop and the index update
on the second.
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




def test_traced_ingest_hooks_record_build_and_update(spark, tmp_path, monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    import datagen
    from tracing import Tracer

    from data_pipeline_2025_spark.operators import search
    from data_pipeline_2025_spark.streaming import ingest, txn

    src, sink, ckpt, index = (str(tmp_path / d) for d in ("landing", "silver", "ckpt", "index"))
    os.makedirs(src)
    tr = Tracer()
    # the wraps of workload_ingest.run's traced phase (inline there)
    txn_names = [f"txn.{fn}" for fn in ("stage_append", "commit_append", "read_committed")]
    try:
        for name in txn_names:
            tr.wrap(txn, name.split(".")[1], name)
        tr.wrap(search, "update_trigram_index", "search.update_trigram_index")
        tr.wrap(search, "build_trigram_index_at", "search.build_trigram_index_at")
        for d in range(2):
            for fname, data in datagen.price_drop(201, d)[0]:
                with open(os.path.join(src, fname), "wb") as f:
                    f.write(data)
            tr.default_op = f"d{d}"
            q = ingest.start_price_ingest(spark, src, sink, ckpt, index_dir=index)
            q.awaitTermination()
            assert q.exception() is None
    finally:
        tr.restore()

    calls: dict[tuple[str, str], int] = {}
    for _, name, *_, op in tr.spans:
        calls[name, op] = calls.get((name, op), 0) + 1
    assert calls.get(("search.build_trigram_index_at", "d0"), 0) >= 1
    assert calls.get(("search.update_trigram_index", "d1"), 0) >= 1
    # drop 1 reads the committed silver and index, and stages and
    # commits a file to each
    assert [n for n in txn_names if calls.get((n, "d1"), 0) < 1] == []
