"""The ``serve`` workload: shoppers and the assistant calling the
REST and MCP surface over localhost HTTP.

A closed loop of k clients (k = Spark's core count): each client
sends its next request only after the previous reply arrived. All
clients draw from one seeded request stream (datagen.serve_requests)
against ``server.serve_background`` at sf0.01 (README.md says why
not sf0.1). Setup sends the first request of each route, tool and
status once. Latency is measured on the client, from sending the
request to reading the whole reply.
"""

from __future__ import annotations

import http.client
import itertools
import json
import os
import threading
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import parse_qs

import datagen
from common import job_totals, median, percentile

SF = 0.01
STREAM_LEN = 50_000


def _warm_set(requests: list[dict]) -> list[dict]:
    """The first request of each route and tool in the stream."""
    seen, out = set(), []
    for r in requests:
        key = (r["kind"], r.get("tool"), r["path"].split("?")[0].split("/")[1], r["status"])
        if key not in seen:
            seen.add(key)
            out.append(r)
    return out


def _send(port: int, req: dict, op: str | None = None) -> tuple[int, object]:
    path = req["path"]
    if op is not None:
        path += ("&" if "?" in path else "?") + f"_op={op}"
    body = json.dumps(req["body"]).encode() if req["body"] is not None else None
    headers = {"Content-Type": "application/json"} if body else {}
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request(req["method"], path, body=body, headers=headers)
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        conn.close()


def _shape_ok(req: dict, payload) -> bool:
    from data_pipeline_2025_spark.mcp import RESULT_SHAPES

    if "tool" not in req:
        return isinstance(payload, (list, dict))
    result = payload.get("result") if isinstance(payload, dict) else None
    shape = RESULT_SHAPES[req["tool"]]
    if shape.get("list"):
        return isinstance(result, list) and all(set(e) == shape["element"] for e in result)
    if not isinstance(result, dict):
        return False
    keys = set(result)
    return shape["always"] <= keys <= shape["always"] | shape["conditional"]


def _install_tracing(tr, spark) -> None:
    from data_pipeline_2025_spark import catalog, domain, mcp, server, tools

    for fn in ("get_products", "get_barcode", "get_history", "get_lowest_prices",
               "get_supermarkets", "get_stats", "get_categories"):
        tr.wrap(server, fn, f"server.{fn}")
    tr.wrap(mcp, "execute_tool", "mcp.execute_tool")
    tr.wrap(mcp, "validate_arguments", "mcp.validate_arguments")
    for name in list(tools.ALL_TOOLS):
        tr.wrap(tools.ALL_TOOLS, name, f"tools.{name}")
    tr.wrap(tools, "resolve_basket_terms", "tools.resolve_basket_terms")
    for fn in ("search_products", "compare_offers", "lowest_prices_page", "price_history",
               "price_trend", "history_minmax", "basket_store_totals"):
        tr.wrap(domain, fn, f"domain.{fn}")
    for mod in (server, tools):
        tr.wrap(mod, "products", "mapping.products")
        tr.wrap(mod, "supermarkets", "mapping.supermarkets")
    tr.wrap(catalog, "load_table", "catalog.load_table")
    tr.wrap(type(spark.range(1)), "collect", "spark.collect")

    # The client tags each request with ``_op``; the server parses the
    # URL first thing on its handler thread, which is where the
    # operation id and the Spark job group are set.
    parse_url = server.urlparse

    def urlparse_with_op(url, *args, **kwargs):
        parsed = parse_url(url, *args, **kwargs)
        op = parse_qs(parsed.query).get("_op")
        if op:
            tr.set_op(op[0])
            spark.sparkContext.setJobGroup(op[0], op[0])
        return parsed

    tr.patch(server, "urlparse", urlparse_with_op)


def _oracle_check(sf_dir: str, checks: list[tuple[dict, object]]) -> list[str]:
    """Recompute the checked compare and basket answers in DuckDB over
    the same parquet, through the package's domain SQL."""
    import duckdb

    from data_pipeline_2025_spark.mapping import domain_sql

    con = duckdb.connect()
    try:
        for t in ("supplier", "nation", "lineitem", "part"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        con.execute("CREATE TABLE products AS " + domain_sql("SELECT * FROM products"))
        con.execute("CREATE TABLE supermarkets AS " + domain_sql("SELECT * FROM supermarkets"))
        problems = []
        for req, payload in checks:
            if req["kind"] == "compare":
                want = con.execute(
                    "SELECT product_id, CAST(COALESCE(promo_price, price) AS DOUBLE) "
                    "FROM products WHERE barcode = ? ORDER BY 2, 1", [req["barcode"]]
                ).fetchall()
                rows = payload if "tool" not in req else payload["result"]["results"]
                got = [(r["product_id"], r["effective_price"]) for r in rows]
            else:
                barcodes = []
                for term in req["body"]["arguments"]["barcodes"]:
                    b = term if term.isdigit() else (con.execute(
                        "SELECT barcode FROM products WHERE contains(lower(canonical_name), lower(?)) "
                        "ORDER BY COALESCE(promo_price, price), product_id LIMIT 1", [term]
                    ).fetchone() or [None])[0]
                    if b is not None and b not in barcodes:
                        barcodes.append(b)
                stores = con.execute(
                    """WITH offers AS (
                         SELECT *, COALESCE(promo_price, price) AS eff FROM products
                         WHERE list_contains(?, barcode)),
                       best AS (
                         SELECT * FROM (SELECT *, row_number() OVER (
                           PARTITION BY supermarket_id, barcode ORDER BY eff, product_id) AS rn
                           FROM offers) WHERE rn = 1)
                       SELECT supermarket_id, CAST(ROUND(SUM(eff), 2) AS DOUBLE) AS total
                       FROM best GROUP BY supermarket_id HAVING count(*) = ?
                       ORDER BY total, supermarket_id""",
                    [barcodes, len(barcodes)],
                ).fetchall()
                want = (len(barcodes), stores)
                res = payload["result"]
                got = (res["requested_products"],
                       [(s["supermarket_id"], s["total_promo_price"]) for s in res["stores"]])
            if want != got:
                problems.append(f"{req['path']} {req['body']}: got {got!r:.300} want {want!r:.300}")
        return problems
    finally:
        con.close()


def _phase(ctx, port: int, requests: list[dict], cursor, tr=None) -> dict:
    """Run the closed loop of ``ctx.cores`` clients for
    ``ctx.phase_seconds`` seconds, drawing requests from ``cursor``;
    with a tracer, each request is an operation with its own id."""
    lock = threading.Lock()
    results: list[tuple[int, float, bool]] = []  # (request index, latency s, ok)
    checks: list[tuple[dict, object]] = []
    errors: list[str] = []
    deadline = time.perf_counter() + ctx.phase_seconds

    def client() -> None:
        while time.perf_counter() < deadline:
            with lock:
                i = next(cursor)
            req = requests[i]
            start = time.perf_counter()
            try:
                if tr:
                    op = f"r{i}"
                    tr.set_op(op)
                    with tr.span("server.request"):
                        status, payload = _send(port, req, op)
                else:
                    status, payload = _send(port, req)
            except Exception as exc:  # a failed request is counted, not fatal
                results.append((i, time.perf_counter() - start, False))
                errors.append(f"{req['path']}: {exc!r}")
                continue
            lat = time.perf_counter() - start
            ok = status == req["status"] and (status != 200 or _shape_ok(req, payload))
            if not ok:
                errors.append(f"{req['method']} {req['path']} {req['body']}: {status} {payload!r:.200}")
            elif req["check"] and status == 200:
                checks.append((req, payload))
            results.append((i, lat, ok))

    clients = [threading.Thread(target=client) for _ in range(ctx.cores)]
    for c in clients:
        c.start()
    for c in clients:
        c.join()
    return {"results": results, "checks": checks, "errors": errors,
            "metrics": _mix_metrics(ctx.cores, [(requests[i]["kind"], lat) for i, lat, _ in results])}


def _mix_metrics(clients: int, served: list[tuple[str, float]]) -> dict[str, float]:
    """The timing metrics at the nominal request mix. Kinds differ in
    latency by up to 5x, so a percentile over all requests jumps from
    one kind's latency to another's as a run serves a few more or
    fewer requests of a kind. Instead each kind's median latency
    counts by the kind's share of the mix. Throughput is the closed
    loop's: clients / mean latency at the mix."""
    share = dict(datagen.SERVE_MIX)
    by_kind: dict[str, list[float]] = {}
    for kind, lat in served:
        by_kind.setdefault(kind, []).append(lat)
    total = sum(share[k] for k in by_kind)
    typical = sum(share[k] * median(v) for k, v in by_kind.items()) / total
    mean = sum(share[k] * sum(v) / len(v) for k, v in by_kind.items()) / total
    return {"latency_ms": typical * 1e3, "throughput_per_s": clients / mean}


def run(ctx, t0: float) -> dict:
    import pyarrow.parquet as pq

    spark = ctx.start_spark()
    sf = ctx.sf or SF
    sf_dir = ctx.path("data", f"sf{sf}")
    t = time.perf_counter()
    datagen.write_tables(ctx.seed, sf, sf_dir)
    ctx.setup["setup.data_s"] = time.perf_counter() - t

    from data_pipeline_2025_spark import server
    from data_pipeline_2025_spark.catalog import Catalog
    from data_pipeline_2025_spark.mapping import products

    t = time.perf_counter()
    products(Catalog(spark, sf_dir))
    ctx.setup["setup.products_silver_s"] = time.perf_counter() - t

    part = pq.read_table(os.path.join(sf_dir, "part.parquet"), columns=["p_partkey", "p_name"])
    supp = pq.read_table(os.path.join(sf_dir, "supplier.parquet"), columns=["s_suppkey"])
    requests = datagen.serve_requests(
        ctx.seed,
        [str(k) for k in part.column("p_partkey").to_pylist()],
        part.column("p_name").to_pylist(),
        supp.column("s_suppkey").to_pylist(),
        STREAM_LEN,
    )
    srv, srv_thread = server.serve_background(spark, sf_dir)
    port = srv.server_address[1]
    tr = traced = None
    try:
        t = time.perf_counter()
        with ThreadPoolExecutor(ctx.cores) as pool:
            list(pool.map(lambda req: _send(port, req), _warm_set(requests)))
        ctx.setup["setup.warm_s"] = time.perf_counter() - t
        ctx.setup["setup_s"] = time.perf_counter() - t0

        cursor = itertools.count()
        plain = _phase(ctx, port, requests, cursor)
        peak_rss = ctx.peak_rss_mb()
        if ctx.trace:
            from tracing import Tracer

            tr = Tracer()
            _install_tracing(tr, spark)
            try:
                traced = _phase(ctx, port, requests, cursor, tr)
            finally:
                tr.restore()
    finally:
        srv.shutdown()
        srv.server_close()
        srv_thread.join(timeout=60)

    phases = [plain] + ([traced] if traced else [])
    results = [r for ph in phases for r in ph["results"]]
    problems = _oracle_check(sf_dir, [c for ph in phases for c in ph["checks"]])
    errors = [e for ph in phases for e in ph["errors"]] + problems
    failed = sum(1 for *_, ok in results if not ok) + len(problems)
    by_kind: dict[str, list[float]] = {}
    for i, lat, _ in plain["results"]:
        by_kind.setdefault(requests[i]["kind"], []).append(lat)
    details = {"requests": len(plain["results"]), "oracle_checked": sum(len(ph["checks"]) for ph in phases),
               "errors": errors[:20], "kind_p50_ms": {k: median(v) * 1e3 for k, v in by_kind.items()},
               "p90_ms": percentile([lat for _, lat, _ in plain["results"]], 0.9) * 1e3}
    out = {"metrics": plain["metrics"] | {"peak_rss_mb": peak_rss},
           "attempted": len(results), "failed": failed, "details": details}
    if tr:
        out["traced"] = traced["metrics"]
        out["layers"] = _layer_metrics(tr, spark, traced["results"], requests)
        tr.write(os.path.join(ctx.path("..", "results"), f"serve-seed{ctx.seed}-spans.jsonl"))
    return out


def _layer_metrics(tr, spark, results, requests) -> dict:
    from tracing import job_figures, spark_jobs

    n = max(1, len(results))
    ops = {f"r{i}" for i, _, _ in results}
    layers = tr.layer_totals(ops, root="server.request")
    per_op = lambda layer, key="self": layers.get(layer, {}).get(key, 0.0) / n  # noqa: E731
    jobs, stages = spark_jobs(spark)
    figures = job_figures(jobs, stages)
    by_group: dict[str, list[int]] = {}
    for jid, f in figures.items():
        by_group.setdefault(f["group"], []).append(jid)
    n_jobs, n_tasks, shuffle = job_totals(figures, [j for o in ops for j in by_group.get(o, [])])
    tool_ops = [f"r{i}" for i, _, _ in results if "tool" in requests[i]]
    tool_jobs = job_totals(figures, [j for o in tool_ops for j in by_group.get(o, [])])[0]
    load_calls, load_time = tr.name_totals("catalog.load_table")
    spans = sum(1 for s in tr.spans if s[5] in ops)
    return {
        "server.self_ms": per_op("server") * 1e3,
        "mcp.self_ms": per_op("mcp") * 1e3,
        "tools.self_ms": per_op("tools") * 1e3,
        "tools.jobs_per_call": tool_jobs / max(1, len(tool_ops)),
        "domain.self_ms": per_op("domain") * 1e3,
        "mapping.self_ms": per_op("mapping") * 1e3,
        "mapping.products_calls": sum(1 for s in tr.spans if s[1] == "mapping.products" and s[5] in ops) / n,
        "catalog.load_table_ms": load_time / n * 1e3,
        "catalog.load_table_calls": load_calls / n,
        "spark.collect_ms": per_op("spark", "time") * 1e3,
        "spark.jobs_per_op": n_jobs / n,
        "spark.tasks_per_op": n_tasks / n,
        "spark.shuffle_bytes_per_op": shuffle / n,
        "trace.spans_per_op": spans / n,
    }
