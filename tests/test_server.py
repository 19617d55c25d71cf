"""End-to-end REST parity tests: real HTTP round trips against the
stdlib server over sf0.001 — the engine's analog of hitting the
reference's FastAPI routes."""

from __future__ import annotations

import json
import os
import socket
import sys
import threading
import urllib.error
import urllib.request
from urllib.parse import urlparse

import pytest

from data_pipeline_2025_spark import catalog, server
from data_pipeline_2025_spark.server import serve_background


@pytest.fixture(scope="module")
def base_url(spark, sf_smoke):
    srv, _ = serve_background(spark, sf_smoke)
    host, port = srv.server_address
    yield f"http://{host}:{port}"
    srv.shutdown()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=120) as resp:
        return resp.status, json.loads(resp.read())


def _post(url: str, payload):
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=120) as resp:
        return resp.status, json.loads(resp.read())


def _status_of(err_url: str, payload=None):
    try:
        if payload is None:
            _get(err_url)
        else:
            _post(err_url, payload)
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())
    raise AssertionError("expected an HTTP error")


def test_health(base_url):
    assert _get(f"{base_url}/health")[1] == {
        "status": "healthy",
        "service": "salim-api",
    }
    assert "Salim API" in _get(f"{base_url}/")[1]["message"]
    mcp_h = _get(f"{base_url}/api/mcp/health")[1]
    assert mcp_h["status"] == "healthy" and mcp_h["mcpConnected"] is True
    assert mcp_h["server"]["tools_count"] == len(mcp_h["server"]["capabilities"])


def test_products_filters_and_pagination(base_url):
    status, page = _get(
        f"{base_url}/products?q=widget&min_price=1000&limit=5&offset=2"
    )
    assert status == 200 and len(page) <= 5
    for p in page:
        assert "widget" in p["canonical_name"].lower()
        assert p["price"] >= 1000
    # offset shifts the window deterministically
    _, page0 = _get(f"{base_url}/products?q=widget&min_price=1000&limit=7")
    assert [p["product_id"] for p in page] == [
        p["product_id"] for p in page0[2:7]
    ]


def test_products_validation_422(base_url):
    assert _status_of(f"{base_url}/products?limit=0")[0] == 422
    assert _status_of(f"{base_url}/products?limit=1001")[0] == 422
    assert _status_of(f"{base_url}/products?offset=-1")[0] == 422
    assert _status_of(f"{base_url}/products?min_price=abc")[0] == 422


def test_barcode_compare_and_404(base_url):
    _, offers = _get(f"{base_url}/products/barcode/50")
    assert offers
    effs = [o["effective_price"] for o in offers]
    assert effs == sorted(effs)
    assert {"supermarket_name", "savings"} <= set(offers[0])
    assert _status_of(f"{base_url}/products/barcode/nope")[0] == 404


def test_history_trend_shape(base_url):
    _, hist = _get(f"{base_url}/products/barcode/50/history?days=365")
    assert hist["barcode"] == "50"
    # the reference's literal path (products.py:228) serves the same payload
    _, hist_ref = _get(f"{base_url}/products/price-history/50?days=365")
    assert hist_ref == hist
    assert hist["price_history"]
    assert hist["trend"] in ("increasing", "decreasing", "stable")
    assert hist["lowest_price"] <= hist["highest_price"]
    times = [e["collected_at"] for e in hist["price_history"]]
    assert times == sorted(times, reverse=True)
    assert _status_of(f"{base_url}/products/barcode/50/history?days=9999")[0] == 422


def test_lowest_prices_page(base_url):
    _, rows = _get(f"{base_url}/products/lowest-prices?limit=4")
    assert 0 < len(rows) <= 12  # limit*3 — O1's deliberate quirk
    effs = [r["eff"] for r in rows]
    assert effs == sorted(effs)


def test_product_by_id_and_404(base_url):
    """GET /products/{product_id} (products.py:148-160): single-row
    fetch by the engine's surrogate key, 404 on miss — and the
    literal sibling routes must still win over the id pattern."""
    _, page = _get(f"{base_url}/products?limit=1")
    pid = page[0]["product_id"]
    status, one = _get(f"{base_url}/products/{pid}")
    assert status == 200 and one["product_id"] == pid
    assert one == page[0]  # same row, same serialization
    assert _status_of(f"{base_url}/products/definitely-not-a-key")[0] == 404
    # literal segment still routes to the page handler, not the id fetch
    status, rows = _get(f"{base_url}/products/lowest-prices?limit=2")
    assert status == 200 and isinstance(rows, list)


def test_supermarket_by_id_and_404(base_url):
    """GET /supermarkets/{supermarket_id} (supermarkets.py:24-35)."""
    _, stores = _get(f"{base_url}/supermarkets")
    sid = stores[0]["supermarket_id"]
    status, one = _get(f"{base_url}/supermarkets/{sid}")
    assert status == 200 and one["supermarket_id"] == sid
    assert one == stores[0]
    assert _status_of(f"{base_url}/supermarkets/999999999")[0] == 404


def test_mcp_server_info(base_url):
    """GET /api/mcp/server/info (mcp.py:580-583)."""
    status, payload = _get(f"{base_url}/api/mcp/server/info")
    assert status == 200
    info = payload["server"]
    assert info["tools_count"] == len(info["capabilities"])
    assert "search_product" in info["capabilities"]
    assert info["protocol_version"] == "2024-11-05"
    # the tools listing and the info block agree on the tool set
    _, listing = _get(f"{base_url}/api/mcp/tools")
    assert sorted(t["name"] for t in listing["tools"]) == info["capabilities"]


def test_supermarkets_and_scoped_products(base_url):
    _, stores = _get(f"{base_url}/supermarkets")
    assert stores
    names = [s["name"] for s in stores]
    assert names == sorted(names)
    sid = stores[0]["supermarket_id"]
    _, prods = _get(f"{base_url}/supermarkets/{sid}/products?limit=5")
    assert prods and all(p["supermarket_id"] == sid for p in prods)


def test_catalog_endpoints(base_url):
    _, cats = _get(f"{base_url}/categories")
    assert cats == sorted(cats) and cats
    _, brands = _get(f"{base_url}/brands")
    assert brands == sorted(brands) and brands
    _, stats = _get(f"{base_url}/stats")
    assert stats["total_products"] >= stats["products_on_sale"]
    assert 0 <= stats["sale_percentage"] <= 100


def test_mcp_over_http(base_url):
    _, listing = _get(f"{base_url}/api/mcp/tools")
    assert {t["name"] for t in listing["tools"]} >= {
        "search_product",
        "find_best_basket",
    }
    _, res = _post(
        f"{base_url}/api/mcp/tools/search_product", {"arguments": {"term": "widget"}}
    )
    assert res["tool"] == "search_product" and res["result"]
    assert _status_of(f"{base_url}/api/mcp/tools/nope", {"arguments": {}})[0] == 404
    code, detail = _status_of(
        f"{base_url}/api/mcp/tools/search_product", {"arguments": {}}
    )
    assert code == 422 and "term" in detail["detail"]
    # a body or arguments that is not a JSON object
    for payload in ([], {"arguments": "term"}, {"arguments": [1]}):
        code, detail = _status_of(f"{base_url}/api/mcp/tools/search_product", payload)
        assert code == 422 and "object" in detail["detail"], payload


def _raw(base_url: str, request: bytes):
    """Send raw request bytes; return (status, JSON body)."""
    url = urlparse(base_url)
    with socket.create_connection((url.hostname, url.port), timeout=120) as sock:
        sock.sendall(request)
        data = b""
        while chunk := sock.recv(65536):
            data += chunk
    head, _, body = data.partition(b"\r\n\r\n")
    return int(head.split()[1]), json.loads(body)


@pytest.mark.parametrize("length", [b"abc", b"-5"])
def test_malformed_content_length_gets_400(base_url, length):
    request = (
        b"POST /api/mcp/tools/search_product HTTP/1.1\r\nHost: localhost\r\n"
        b"Content-Length: " + length + b"\r\n\r\n"
    )
    status, body = _raw(base_url, request)
    assert status == 400 and "Content-Length" in body["detail"]


@pytest.mark.parametrize("extra, status", [(0, 200), (1, 413)])
def test_body_size_cap(base_url, extra, status):
    """A body over ``MAX_BODY_BYTES`` is refused from its
    Content-Length alone, before any of it is sent; a body of exactly
    the cap is served."""
    head = (
        b"POST /api/mcp/tools/search_product HTTP/1.1\r\nHost: localhost\r\n"
        b"Content-Length: %d\r\n\r\n" % (server.MAX_BODY_BYTES + extra)
    )
    body = b""
    if status == 200:
        body = b'{"arguments": {"term": "widget"}, "pad": ""}'
        body = body[:-2] + b"x" * (server.MAX_BODY_BYTES - len(body)) + b'"}'
        assert len(body) == server.MAX_BODY_BYTES
    got, payload = _raw(base_url, head + body)
    assert got == status, payload
    if status == 200:
        assert payload["tool"] == "search_product" and payload["result"]


def test_500_hides_the_exception(base_url, monkeypatch):
    def boom(*args, **kwargs):
        raise RuntimeError("plan text that must not leak")

    monkeypatch.setattr(server, "get_categories", boom)
    assert _status_of(f"{base_url}/categories") == (
        500,
        {"detail": "Internal Server Error"},
    )


def _offers_or_empty(url: str) -> list:
    try:
        return _get(url)[1]
    except urllib.error.HTTPError as e:
        assert e.code == 404
        return []


@pytest.mark.parametrize("barcode", ["50", "no-such-barcode"])
def test_rest_and_mcp_compare_agree(base_url, barcode):
    rest = _offers_or_empty(f"{base_url}/products/barcode/{barcode}")
    _, mcp = _post(
        f"{base_url}/api/mcp/tools/compare_results", {"arguments": {"barcode": barcode}}
    )
    assert [(o["product_id"], o["effective_price"]) for o in rest] == [
        (o["product_id"], o["effective_price"]) for o in mcp["result"]["results"]
    ]
    assert bool(rest) == (barcode == "50")


def test_rest_and_mcp_store_lists_agree(base_url):
    _, stores = _get(f"{base_url}/supermarkets")
    city = stores[0]["city"][:3].lower()
    _, rest = _get(f"{base_url}/supermarkets?city={city}")
    _, mcp = _post(f"{base_url}/api/mcp/tools/get_stores", {"arguments": {"city": city}})
    assert rest and all(city in s["city"].lower() for s in rest)
    assert rest == mcp["result"]


def test_requests_open_no_tables(spark, sf_smoke, monkeypatch):
    """The (products, supermarkets) pair is opened when the server is
    created; requests after that read no table."""
    srv, _ = serve_background(spark, sf_smoke)
    loads = []
    load_table = catalog.load_table

    def counting(*args, **kwargs):
        loads.append(args)
        return load_table(*args, **kwargs)

    monkeypatch.setattr(catalog, "load_table", counting)
    base = "http://%s:%d" % srv.server_address
    try:
        for path in ("/products?q=widget", "/products/barcode/50",
                     "/products/barcode/50/history?days=365", "/products/lowest-prices",
                     "/supermarkets", "/stats", "/categories", "/brands"):
            assert _get(base + path)[0] == 200
        for tool, args in (("search_product", {"term": "widget"}),
                           ("find_best_basket", {"barcodes": ["3", "7", "widget"]}),
                           ("get_store_info", {"supermarket_id": 1})):
            assert _post(f"{base}/api/mcp/tools/{tool}", {"arguments": args})[0] == 200
    finally:
        srv.shutdown()
        srv.server_close()
    assert loads == []


def test_requests_survive_a_republished_silver(spark, sf_smoke, base_url):
    """Another process publishing the products silver again commits
    new files over it and leaves the superseded ones on disk, so a
    server that opened the frames before keeps answering the same
    offers."""
    from data_pipeline_2025_spark import artifacts
    from data_pipeline_2025_spark.streaming import txn

    url = f"{base_url}/products/barcode/50"
    before = _get(url)
    path = artifacts.artifact_path(sf_smoke, "products_silver")
    files = txn.committed_files(path)
    artifacts.publish(txn.read_committed(spark, path), path)
    assert txn.committed_files(path) != files
    assert all(os.path.exists(os.path.join(path, f)) for f in files)
    status, offers = _get(url)
    assert status == 200 and offers
    assert (status, offers) == before


def test_concurrent_requests_share_the_frames(base_url):
    """More clients than cores read the one frames pair at once and
    get the answers a lone client gets."""
    paths = [
        f"{base_url}/products/barcode/50",
        f"{base_url}/products?q=widget&limit=5",
        f"{base_url}/supermarkets",
    ]
    want = {p: _get(p)[1] for p in paths}
    got, errors = [], []

    def client(path):
        try:
            got.append((path, _get(path)[1]))
        except Exception as exc:  # reported by the assertion below
            errors.append(exc)

    threads = [
        threading.Thread(target=client, args=(paths[i % len(paths)],))
        for i in range(2 * (os.cpu_count() or 1))
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and len(got) == len(threads)
    assert all(body == want[path] for path, body in got)


@pytest.mark.parametrize("extra, status", [(0, 200), (1, 422)])
def test_basket_size_cap_over_http(base_url, extra, status):
    from data_pipeline_2025_spark.mcp import MAX_BASKET_ITEMS

    basket = [str(i) for i in range(1, MAX_BASKET_ITEMS + 1 + extra)]
    url = f"{base_url}/api/mcp/tools/find_best_basket"
    payload = {"arguments": {"barcodes": basket}}
    if status == 200:
        assert _post(url, payload)[0] == 200
    else:
        code, body = _status_of(url, payload)
        assert code == 422 and "more than" in body["detail"]


# ------------------------------------------- one Spark action per request

BASKET_ARGS = {"arguments": {"barcodes": ["3", "7", "widget", "blue"]}}
# (method, path, params, most Spark jobs of a warm request): one
# request of every serve kind and variant; params are the query for
# GET and the body for POST
JOB_BUDGET = [
    ("GET", "/products", {"q": "widget", "limit": "20"}, 1),
    ("POST", "/api/mcp/tools/search_product", {"arguments": {"term": "widget"}}, 1),
    ("GET", "/products/lowest-prices", {"limit": "20"}, 1),
    ("GET", "/products/barcode/50", {}, 2),
    ("GET", "/products/barcode/900000050", {}, 2),
    ("POST", "/api/mcp/tools/compare_results", {"arguments": {"barcode": "50"}}, 2),
    ("POST", "/api/mcp/tools/compare_results", {"arguments": {"barcode": "900000050"}}, 2),
    ("GET", "/products/barcode/50/history", {"days": "30"}, 2),
    ("GET", "/products/barcode/50/history", {"days": "90"}, 2),
    ("GET", "/products/barcode/50/history", {"days": "365"}, 2),
    ("GET", "/products/barcode/900000050/history", {"days": "30"}, 2),
    ("POST", "/api/mcp/tools/find_best_basket", BASKET_ARGS, 2),
    ("POST", "/api/mcp/tools/find_most_expensive_basket", BASKET_ARGS, 2),
    ("POST", "/api/mcp/tools/calculate_savings", BASKET_ARGS, 2),
    ("POST", "/api/mcp/tools/get_store_info", {"arguments": {"supermarket_id": 1}}, 0),
    ("GET", "/supermarkets", {"city": "a"}, 2),
    ("POST", "/api/mcp/tools/get_stores", {"arguments": {"city": "a"}}, 2),
    ("GET", "/stats", {}, 0),
    ("GET", "/categories", {}, 0),
    ("GET", "/brands", {}, 0),
]


def _serve(frames, method, path, params):
    """One request through the route table, in-process; an HTTP error
    status is an answer too."""
    try:
        return server._dispatch(frames, method, path, params)
    except server.HttpError as exc:
        return exc.status


@pytest.mark.parametrize(
    "method, path, params, budget",
    JOB_BUDGET,
    ids=[f"{p}{'-' + str(q) if q else ''}" for _, p, q, _ in JOB_BUDGET],
)
def test_request_job_budget(spark, smoke_frames, method, path, params, budget):
    """Key-filtered requests run in one partition, so a warm request
    costs one result job plus at most a broadcast of the store
    dimension; a basket's name terms add one job over the frame's held
    cheapest offer per name, and lowest prices pages its held head.
    Answers that do not depend on the request's key are held per
    frame, so a warm request for them runs no job. The first request
    (untimed) builds what the frame holds."""
    _serve(smoke_frames, method, path, params)
    sc = spark.sparkContext
    group = f"budget {method} {path} {params}"
    sc.setJobGroup(group, group)
    try:
        _serve(smoke_frames, method, path, params)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= budget, jobs


def test_held_values_are_built_once_per_frame(smoke_frames, monkeypatch):
    """Concurrent first requests on a frame build its held value once,
    and later requests reuse it; the value goes away with the
    frame."""
    import gc
    from concurrent.futures import ThreadPoolExecutor

    from data_pipeline_2025_spark import domain

    builds = []
    stats = server._stats

    def counting(prods):
        builds.append(prods)
        return stats(prods)

    monkeypatch.setattr(server, "_stats", counting)
    prods, dim = smoke_frames
    fresh = prods.select("*")
    with ThreadPoolExecutor(4) as pool:
        first = list(pool.map(lambda _: _serve((fresh, dim), "GET", "/stats", {}), range(4)))
    assert len(builds) == 1 and builds[0] is fresh
    assert _serve((fresh, dim), "GET", "/stats", {}) == first[0]
    assert all(answer == first[0] for answer in first) and len(builds) == 1
    # frames earlier tests left in reference cycles would otherwise
    # leave the map in the same collection as this one
    gc.collect()
    held = len(domain._HELD)
    del builds[:], fresh
    gc.collect()
    assert len(domain._HELD) == held - 1


# (method, path, params) of the key-filtered handlers and the store list
POINT_REQUESTS = [
    ("GET", "/products/barcode/50", {}),
    ("POST", "/api/mcp/tools/compare_results", {"arguments": {"barcode": "7"}}),
    ("GET", "/products/barcode/144/history", {"days": "365"}),
    ("GET", "/products/barcode/50/history", {"days": "30"}),
    ("POST", "/api/mcp/tools/find_best_basket", BASKET_ARGS),
    ("POST", "/api/mcp/tools/find_most_expensive_basket", BASKET_ARGS),
    ("POST", "/api/mcp/tools/calculate_savings", BASKET_ARGS),
    ("POST", "/api/mcp/tools/get_store_info", {"arguments": {"supermarket_id": 1}}),
    ("GET", "/supermarkets", {}),
    ("POST", "/api/mcp/tools/get_stores", {"arguments": {"city": "a"}}),
    ("GET", "/stats", {}),
    ("GET", "/categories", {}),
    ("GET", "/brands", {}),
]


def test_point_requests_do_not_depend_on_input_partitioning(smoke_frames):
    """Each answer is sorted inside one partition, so frames split into
    several partitions must give exactly the answers the opened
    frames give. A repartitioned frame is a new frame, so its held
    values are built again from it."""
    prods, dim = smoke_frames
    split = (prods.repartition(3, "product_id"), dim.repartition(3))
    for method, path, params in POINT_REQUESTS:
        assert _serve(split, method, path, params) == _serve(smoke_frames, method, path, params), path


# ------------------------------------------------- history vs DuckDB


@pytest.fixture(scope="module")
def duck(sf_smoke):
    from .oracle import duckdb_connect

    con = duckdb_connect(sf_smoke)
    yield con
    con.close()


def _history_oracle(duck, barcode: str, days: int) -> dict:
    """The history answer recomputed in DuckDB: the entries since the
    barcode's latest point minus ``days``, newest first, and the A13
    trend and low/high computed from them in Python."""
    from data_pipeline_2025_spark.mapping import domain_sql

    rows = duck.execute(
        domain_sql(
            """, h AS (SELECT * FROM products WHERE barcode = $barcode)
            SELECT product_id, price, promo_price, COALESCE(promo_price, price), collected_at
            FROM h WHERE collected_at >= (SELECT max(collected_at) FROM h) - to_days($days)
            ORDER BY collected_at DESC, product_id"""
        ),
        {"barcode": barcode, "days": days},
    ).fetchall()
    effs = [r[3] for r in rows]
    half = len(effs) // 2
    trend = "stable"
    if half:
        recent = float(sum(effs[:half])) / half
        older = float(sum(effs[half:])) / (len(effs) - half)
        if recent > older * 1.05:
            trend = "increasing"
        elif recent < older * 0.95:
            trend = "decreasing"
    as_float = lambda v: None if v is None else float(v)  # noqa: E731
    return {
        "barcode": barcode,
        "days": days,
        "price_history": [
            {
                "product_id": pid,
                "price": as_float(price),
                "promo_price": as_float(promo),
                "effective_price": as_float(eff),
                "collected_at": at.isoformat(),
            }
            for pid, price, promo, eff, at in rows
        ],
        "trend": trend,
        "lowest_price": as_float(min(effs)),
        "highest_price": as_float(max(effs)),
    }


@pytest.mark.parametrize("days", [1, 30, 365])
@pytest.mark.parametrize("barcode", ["7", "50", "144"])
def test_history_matches_duckdb(smoke_frames, duck, barcode, days):
    got = server.get_history(*smoke_frames, {"days": str(days)}, barcode=barcode)
    assert got == _history_oracle(duck, barcode, days)


def test_history_of_one_point_is_stable(smoke_frames, duck):
    """A one-day window that holds only the latest point: no recent
    half, so the trend is stable."""
    from data_pipeline_2025_spark.mapping import domain_sql

    barcode = duck.execute(
        domain_sql(
            """, h AS (SELECT barcode, collected_at,
                      max(collected_at) OVER (PARTITION BY barcode) AS latest
                      FROM products)
            SELECT barcode FROM h WHERE collected_at >= latest - to_days(1)
            GROUP BY barcode HAVING count(*) = 1 ORDER BY barcode LIMIT 1"""
        )
    ).fetchone()[0]
    got = server.get_history(*smoke_frames, {"days": "1"}, barcode=barcode)
    assert len(got["price_history"]) == 1 and got["trend"] == "stable"
    assert got == _history_oracle(duck, barcode, 1)


def test_history_of_an_unknown_barcode_is_404(smoke_frames):
    with pytest.raises(server.HttpError) as err:
        server.get_history(*smoke_frames, {"days": "30"}, barcode="900000050")
    assert err.value.status == 404


# ----------------------------------- held snapshot answers vs DuckDB


def _duck_float(v):
    return None if v is None else float(v)


def test_stats_and_lists_match_duckdb(smoke_frames, duck):
    from data_pipeline_2025_spark.mapping import domain_sql

    total, stores, on_sale, avg = duck.execute(
        domain_sql(
            """SELECT CAST(count(*) AS BIGINT), CAST(count(DISTINCT supermarket_id) AS BIGINT),
                      CAST(count(promo_price) AS BIGINT), avg(CAST(price AS DOUBLE))
               FROM products"""
        )
    ).fetchone()
    assert _serve(smoke_frames, "GET", "/stats", {}) == {
        "total_products": total,
        "total_supermarkets": stores,
        "products_on_sale": on_sale,
        "sale_percentage": round(on_sale * 100 / total, 1),
        "average_price": round(avg, 2),
    }
    for path, col in (("/categories", "category"), ("/brands", "brand")):
        want = duck.execute(
            domain_sql(f"SELECT DISTINCT {col} FROM products WHERE {col} IS NOT NULL ORDER BY 1")
        ).fetchall()
        assert _serve(smoke_frames, "GET", path, {}) == [v for (v,) in want], path


def test_store_info_matches_duckdb_for_every_store(smoke_frames, duck):
    from data_pipeline_2025_spark import tools
    from data_pipeline_2025_spark.mapping import domain_sql

    rows = duck.execute(
        domain_sql(
            """SELECT s.supermarket_id, s.name, s.city, CAST(count(p.product_id) AS BIGINT),
                      CAST(count(p.promo_price) AS BIGINT),
                      string_agg(DISTINCT p.category, ',' ORDER BY p.category)
               FROM supermarkets s LEFT JOIN products p USING (supermarket_id)
               GROUP BY ALL ORDER BY 1"""
        )
    ).fetchall()
    assert len(rows) == smoke_frames[1].count()
    for sid, name, city, total, promo, cats in rows:
        assert tools.get_store_info(*smoke_frames, sid) == {
            "found": True,
            "supermarket_id": sid,
            "name": name,
            "city": city,
            "product_count": total,
            "products_on_sale": promo,
            "sale_percentage": round(promo * 100 / total, 1) if total else 0.0,
            "categories": cats.split(",") if cats else [],
        }, sid


def test_basket_terms_resolve_as_duckdb(smoke_frames, duck):
    """Every word and every full name of the corpus, an unmatched and
    an upper-cased term resolve to the cheapest offer whose name
    contains the term (perfbench's serve oracle)."""
    from data_pipeline_2025_spark import tools
    from data_pipeline_2025_spark.mapping import domain_sql

    names = [n for (n,) in duck.execute(domain_sql("SELECT DISTINCT canonical_name FROM products"))
             .fetchall()]
    words = {w for n in names for w in n.split()}
    terms = sorted(set(names) | words) + ["zzz-no-such-product", names[0].upper()]
    for term in terms:
        hit = duck.execute(
            domain_sql(
                """SELECT barcode FROM products
                   WHERE contains(lower(canonical_name), lower($term))
                   ORDER BY COALESCE(promo_price, price), product_id LIMIT 1"""
            ),
            {"term": term},
        ).fetchone()
        want = ([hit[0]], []) if hit else ([], [term])
        assert tools.resolve_basket_terms(smoke_frames[0], [term]) == want, term


@pytest.mark.parametrize("limit", [1, 20, 1000])
def test_lowest_page_matches_duckdb(smoke_frames, duck, limit):
    from data_pipeline_2025_spark.mapping import domain_sql

    rows = duck.execute(
        domain_sql(
            """, page AS (
                 SELECT *, COALESCE(promo_price, price) AS eff FROM products
                 ORDER BY eff, product_id LIMIT 3 * $limit)
               SELECT product_id, supermarket_id, barcode, canonical_name, brand, category,
                      price, promo_price, collected_at, eff,
                      CASE WHEN eff < max(eff) OVER ()
                           THEN CAST(max(eff) OVER () - eff AS DOUBLE) * 100
                                / CAST(max(eff) OVER () AS DOUBLE) END
               FROM page ORDER BY eff, product_id"""
        ),
        {"limit": limit},
    ).fetchall()
    want = [
        dict(
            zip(
                server._PRODUCT_COLS + ["eff", "savings_pct"],
                [*r[:6], _duck_float(r[6]), _duck_float(r[7]), r[8].isoformat(),
                 _duck_float(r[9]), r[10]],
            )
        )
        for r in rows
    ]
    assert _serve(smoke_frames, "GET", "/products/lowest-prices", {"limit": str(limit)}) == want
