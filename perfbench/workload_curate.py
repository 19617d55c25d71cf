"""The ``curate`` workload: one pass runs twelve registry queries, one
per operator family, each as ``registry.load_all()[q].spark_fn(spark,
sf_dir).collect()``.

Setup runs one warm pass: it pays the session-scoped builds (shingle
frames, sinks) and code generation, and its results are hashed and
compared with each query's registry DuckDB oracle, outside the timed
region. Timed passes then repeat until the phase's seconds are spent (at
least one). BENCHMARK.json does not run this workload; README.md says
why.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
import time
from decimal import Decimal

import datagen
from common import CURATE_QUERIES, geomean, job_totals, latency_metrics, median

SF = 0.01


def _norm(v):
    """One cell in a form Spark and DuckDB results agree on."""
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return v


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name,
    cells normalized, rows sorted by their repr."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted((repr(tuple(_norm(r[i]) for i in order)) for r in rows))
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in canon:
        h.update(line.encode())
    return h.hexdigest()


def _oracle_hashes(sf_dir: str, specs) -> dict[str, str]:
    import duckdb

    from data_pipeline_2025_spark.catalog import TABLES, table_path

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
        out = {}
        for q in CURATE_QUERIES:
            cur = con.execute(specs[q].oracle)
            out[q] = result_hash([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def run(ctx, t0: float) -> dict:
    spark = ctx.start_spark()
    sf = ctx.sf or SF
    sf_dir = ctx.path("data", f"sf{sf}")
    t = time.perf_counter()
    datagen.write_tables(ctx.seed, sf, sf_dir)
    ctx.setup["setup.data_s"] = time.perf_counter() - t

    from data_pipeline_2025_spark import registry

    specs = registry.load_all()

    # ---- setup: the warm pass builds the session-scoped frames and
    # sinks; its results are the ones checked against the oracles
    t = time.perf_counter()
    hashes = {}
    for q in CURATE_QUERIES:
        df = specs[q].spark_fn(spark, sf_dir)
        hashes[q] = result_hash(df.columns, df.collect())
    ctx.setup["setup.warm_s"] = time.perf_counter() - t
    ctx.setup["setup_s"] = time.perf_counter() - t0

    def phase(tr=None) -> dict:
        """Whole passes for ``ctx.phase_seconds`` seconds (at least one)."""
        times: dict[str, list[float]] = {q: [] for q in CURATE_QUERIES}
        passes: list[float] = []
        deadline = time.perf_counter() + ctx.phase_seconds
        while not passes or time.perf_counter() < deadline:
            start_pass = time.perf_counter()
            for q in CURATE_QUERIES:
                if tr:
                    tr.default_op = f"{q}#{len(passes)}"
                    spark.sparkContext.setJobGroup(tr.default_op, q)
                start = time.perf_counter()
                specs[q].spark_fn(spark, sf_dir).collect()
                times[q].append(time.perf_counter() - start)
            passes.append(time.perf_counter() - start_pass)
        lats = [x for ts in times.values() for x in ts]
        return {"times": times, "passes": passes,
                "metrics": latency_metrics(lats, len(lats), sum(passes))}

    plain = phase()
    peak_rss = ctx.peak_rss_mb()
    tr = traced = None
    if ctx.trace:
        from tracing import Tracer, spark_jobs

        tr = Tracer()
        tr.wrap(type(spark.range(1)), "collect", "spark.collect")
        first_job = max((j["jobId"] for j in spark_jobs(spark)[0]), default=-1)
        try:
            traced = phase(tr)
        finally:
            tr.restore()
            spark.sparkContext.setJobGroup(None, None)

    want = _oracle_hashes(sf_dir, specs)
    wrong = [q for q in CURATE_QUERIES if hashes[q] != want[q]]
    details = {"passes": len(plain["passes"]), "sf": sf, "wrong": wrong,
               "query_s": {q: round(median(ts), 4) for q, ts in plain["times"].items()}}
    out = {"metrics": plain["metrics"] | {"peak_rss_mb": peak_rss},
           "attempted": len(CURATE_QUERIES), "failed": len(wrong), "details": details}
    if tr:
        out["traced"] = traced["metrics"]
        out["layers"] = _layer_metrics(tr, spark, first_job, traced)
    return out


def _layer_metrics(tr, spark, first_job, traced) -> dict:
    from tracing import job_figures, spark_jobs

    figures = job_figures(*spark_jobs(spark))
    figures = {j: f for j, f in figures.items() if j > first_job}
    n_passes = len(traced["passes"])
    medians = {q: median(ts) for q, ts in traced["times"].items()}
    out = {"curate.wall_s": median(traced["passes"]),
           "curate.geomean_s": geomean(list(medians.values()))}
    for q in CURATE_QUERIES:
        ids = [j for j, f in figures.items() if (f["group"] or "").startswith(f"{q}#")]
        jobs, _, shuffle = job_totals(figures, ids)
        out[f"curate.{q}_s"] = medians[q]
        out[f"curate.{q}.jobs"] = jobs / n_passes
        out[f"curate.{q}.shuffle_bytes"] = shuffle / n_passes
    ops = len(CURATE_QUERIES) * n_passes
    jobs, tasks, shuffle = job_totals(figures, figures)
    return out | {
        "spark.collect_ms": tr.name_totals("spark.collect")[1] / ops * 1e3,
        "spark.jobs_per_op": jobs / ops,
        "spark.tasks_per_op": tasks / ops,
        "spark.shuffle_bytes_per_op": shuffle / ops,
        "trace.spans_per_op": len(tr.spans) / ops,
    }
