"""The ``ingest`` workload: price-file drops through the checkpointed
stream, with fuzzy searches and a snapshot read beside the writes.

Each drop writes seeded price files (datagen.price_drop) into the
source directory, then runs ``streaming.ingest.start_price_ingest``
with a trigram index directory to termination (AvailableNow). The
drop's latency runs from the files landing to the rows being
committed and indexed. After each drop the benchmark runs a fixed
number of misspelled ``search_trigram_index`` probes and one read of
the committed snapshot. The first two drops run in setup: drop 0
creates the sink and builds the index, drop 1 warms the incremental
path.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import nullcontext

import datagen
from common import dir_bytes, latency_metrics, median

PROBES_PER_DROP = 1
# drop 0 builds the sink and index; drop 1 warms the update path
WARM_DROPS = 2


def _trigrams(s: str) -> set[str]:
    padded = f"  {s.lower()} "
    return {padded[i : i + 3] for i in range(len(padded) - 2)}


def _fuzzy_oracle(names: set[str], term: str, threshold: float = 0.3, k: int = 10) -> list[tuple]:
    """Top-k trigram-similarity matches of ``term`` among ``names``,
    computed in Python the way the index search defines them."""
    t = _trigrams(term)
    scored = []
    for name in names:
        g = _trigrams(name)
        shared = len(g & t)
        sim = shared / (len(g) + len(t) - shared)
        if sim >= threshold:
            scored.append((-sim, name))
    return [(name, -neg) for neg, name in sorted(scored)[:k]]


def _misspell(name: str, rng) -> str:
    """One deletion, swap or substitution at a seeded position."""
    i = int(rng.integers(0, len(name) - 1))
    op = int(rng.integers(0, 3))
    if op == 0:
        return name[:i] + name[i + 1 :]
    if op == 1:
        return name[:i] + name[i + 1] + name[i] + name[i + 2 :]
    return name[:i] + "א" + name[i + 1 :]


def run(ctx, t0: float) -> dict:
    import numpy as np

    spark = ctx.start_spark()
    from data_pipeline_2025_spark.operators import search
    from data_pipeline_2025_spark.streaming import ingest, txn

    src = ctx.path("landing")
    sink, ckpt, index = (os.path.join(ctx.work, d) for d in ("silver", "checkpoint", "index"))
    expected: set[tuple] = set()
    names: set[str] = set()
    input_bytes = 0

    def land(d: int) -> int:
        """Write drop ``d``; returns the rows it offers."""
        nonlocal input_bytes
        files, items = datagen.price_drop(ctx.seed, d)
        offered = 0
        for fname, data in files:
            tmp = os.path.join(ctx.path("staging"), fname)
            with open(tmp, "wb") as f:
                f.write(data)
            os.rename(tmp, os.path.join(src, fname))  # atomic landing
            input_bytes += len(data)
            root = json.loads(data)["Root"]
            its = root["Items"]["Item"]
            its = its if isinstance(its, list) else [its]
            offered += len(its)
            names.update(it["ItemName"] for it in its)
        for chain, store, it in items:
            expected.add((chain, store, json.dumps(it, sort_keys=True, ensure_ascii=False)))
        return offered

    def stream() -> None:
        q = ingest.start_price_ingest(spark, src, sink, ckpt, index_dir=index)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    def committed_rows() -> int:
        df = ingest.read_silver(spark, sink)
        return 0 if df is None else df.count()

    # ---- setup: the warm drops
    t = time.perf_counter()
    land(0)
    build_at = search.build_trigram_index_at
    build_s = []

    def timed_build(*a, **k):
        t1 = time.perf_counter()
        try:
            return build_at(*a, **k)
        finally:
            build_s.append(time.perf_counter() - t1)

    search.build_trigram_index_at = timed_build
    try:
        stream()
    finally:
        search.build_trigram_index_at = build_at
    for d in range(1, WARM_DROPS):
        land(d)
        stream()
    base_rows = committed_rows()
    ctx.setup["setup.trigram_index_s"] = sum(build_s)
    ctx.setup["setup.warm_s"] = time.perf_counter() - t

    ctx.setup["setup_s"] = time.perf_counter() - t0
    rng = np.random.default_rng([ctx.seed, 40])
    failures: list[str] = []
    last = {"drop": WARM_DROPS - 1, "rows": base_rows}

    def phase(tr=None) -> dict:
        """Drops, each followed by its probes and snapshot read, for
        ``ctx.phase_seconds`` seconds (at least one drop)."""
        drops, probes, reads, offered = [], [], [], 0
        rows_before = last["rows"]
        deadline = time.perf_counter() + ctx.phase_seconds
        while not drops or time.perf_counter() < deadline:
            d = last["drop"] = last["drop"] + 1
            offered += land(d)
            if tr:
                tr.default_op = f"d{d}"
            start = time.perf_counter()
            with tr.span("ingest.drop") if tr else nullcontext():
                stream()
            drops.append(time.perf_counter() - start)
            if tr:
                tr.default_op = None

            ranked = sorted(names)
            picks = rng.choice(len(ranked), PROBES_PER_DROP, p=_zipf_p(len(ranked)))
            for p in picks:
                term = _misspell(ranked[int(p)], rng)
                start = time.perf_counter()
                with tr.span("search.search_trigram_index") if tr else nullcontext():
                    got = [(r["name"], r["sim"]) for r in search.search_trigram_index(spark, index, term).collect()]
                probes.append(time.perf_counter() - start)
                if got != _fuzzy_oracle(names, term):
                    failures.append(f"probe {term!r}: {got[:3]} != {_fuzzy_oracle(names, term)[:3]}")

            start = time.perf_counter()
            last["rows"] = committed_rows()
            reads.append(time.perf_counter() - start)
        new_rows = last["rows"] - rows_before
        return {"drops": drops, "probes": probes, "reads": reads, "offered": offered,
                "new_rows": new_rows, "metrics": latency_metrics(drops, new_rows, sum(drops))}

    plain = phase()
    peak_rss = ctx.peak_rss_mb()
    tr = traced = None
    if ctx.trace:
        from tracing import Tracer, spark_jobs

        tr = Tracer()
        for fn in ("stage_append", "commit_append", "read_committed"):
            tr.wrap(txn, fn, f"txn.{fn}")
        tr.wrap(search, "update_trigram_index", "search.update_trigram_index")
        tr.wrap(search, "build_trigram_index_at", "search.build_trigram_index_at")
        tr.wrap(type(spark.range(1)), "collect", "spark.collect")
        first_job = max((j["jobId"] for j in spark_jobs(spark)[0]), default=-1)
        files_before = len(txn.committed_files(sink))
        first_drop = last["drop"] + 1
        try:
            traced = phase(tr)
        finally:
            tr.restore()
        files_per_drop = (len(txn.committed_files(sink)) - files_before) / len(traced["drops"])

    # ---- correctness, outside the timed region
    snap = ingest.read_silver(spark, sink).select("chain_id", "store_id", "raw_data").collect()
    got = [(r["chain_id"], r["store_id"], json.dumps(json.loads(r["raw_data"]), sort_keys=True,
                                                     ensure_ascii=False)) for r in snap]
    if len(got) != len(set(got)):
        failures.append(f"snapshot holds {len(got) - len(set(got))} duplicate rows")
    if set(got) != expected:
        failures.append(f"snapshot rows differ: {len(set(got) - expected)} extra, "
                        f"{len(expected - set(got))} missing")
    from pyspark.sql import functions as F

    from data_pipeline_2025_spark.sources.gold import read_gold

    postings = {r["name"]: set(r["tgs"]) for r in read_gold(spark, index)
                .groupBy("name").agg(F.collect_set("tg").alias("tgs")).collect()}
    unfindable = [n for n in names if postings.get(n) != _trigrams(n)]
    if unfindable:
        failures.append(f"{len(unfindable)} names not findable in the index, e.g. {unfindable[:2]}")

    phases = [plain] + ([traced] if traced else [])
    attempted = sum(len(ph[k]) for ph in phases for k in ("drops", "probes", "reads")) + 2
    details = {"drops": len(plain["drops"]), "drop_ms": [round(x * 1e3, 1) for x in plain["drops"]],
               "new_rows": plain["new_rows"], "probes": len(plain["probes"]),
               "probe_p50_ms": median(plain["probes"]) * 1e3,
               "read_p50_ms": median(plain["reads"]) * 1e3, "errors": failures[:20]}
    out = {"metrics": plain["metrics"] | {"peak_rss_mb": peak_rss},
           "attempted": attempted, "failed": len(failures), "details": details}
    if tr:
        out["traced"] = traced["metrics"]
        out["layers"] = _layer_metrics(tr, spark, traced, first_drop, first_job, sink, index,
                                       names, input_bytes) | {"txn.files_per_drop": files_per_drop}
        tr.write(os.path.join(ctx.path("..", "results"), f"ingest-seed{ctx.seed}-spans.jsonl"))
    return out


def _zipf_p(n: int, s: float = 1.1):
    import numpy as np

    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _layer_metrics(tr, spark, traced, first_drop, first_job, sink, index, names,
                   input_bytes) -> dict:
    from data_pipeline_2025_spark.streaming import txn
    from tracing import job_figures, spark_jobs

    drops, probes = traced["drops"], traced["probes"]
    n = len(drops)
    in_drops = {f"d{i}" for i in range(first_drop, first_drop + n)}
    per = lambda name: tr.name_totals(name, in_drops)[1] / n * 1e3  # noqa: E731
    index_ms = per("search.update_trigram_index") + per("search.build_trigram_index_at")
    txn_ms = per("txn.stage_append") + per("txn.commit_append") + per("txn.read_committed")
    jobs, stages = spark_jobs(spark)
    figures = job_figures(jobs, stages)
    timed = [f for j, f in figures.items() if j > first_job]
    ops = n + len(probes)
    data_bytes = dir_bytes(sink, keep=lambda f: f.endswith(".parquet"))
    return {
        "ingest.stream_overhead_ms": traced["metrics"]["latency_ms"] - txn_ms - index_ms,
        "sources.useful_frac": traced["new_rows"] / max(1, traced["offered"]),
        "txn.stage_append_ms": per("txn.stage_append"),
        "txn.commit_append_ms": per("txn.commit_append"),
        "txn.read_committed_ms": per("txn.read_committed"),
        "txn.log_bytes": dir_bytes(os.path.join(sink, txn.TXN_DIR)),
        "txn.bytes_per_input_byte": data_bytes / max(1, input_bytes),
        "search.index_update_ms": index_ms,
        "search.index_bytes_per_name": dir_bytes(index) / max(1, len(names)),
        "search.query_ms": median(probes) * 1e3,
        "spark.collect_ms": tr.name_totals("spark.collect")[1] / ops * 1e3,
        "spark.jobs_per_op": len(timed) / ops,
        "spark.tasks_per_op": sum(f["tasks"] for f in timed) / ops,
        "spark.shuffle_bytes_per_op": sum(f["shuffle_bytes"] for f in timed) / ops,
        "trace.spans_per_op": len(tr.spans) / ops,
    }
