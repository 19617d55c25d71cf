"""Small helpers shared by the workloads."""

from __future__ import annotations

import math
import os

# The curate workload's queries: one per operator family, from the
# legacy bench.py headline set.
CURATE_QUERIES = (
    "q01_pricing_summary",
    "q07_cheapest_per_store",
    "q12_price_trend",
    "q17_revenue_by_nation",
    "q156_waiting_supplier",
    "q29_sessionization",
    "q36_minhash_lsh_dedup",
    "q164_sorted_neighborhood",
    "q172_pagerank_converged",
    "q202_ivfpq_search",
    "q215_incremental_matview",
    "q256_pii_scrub",
)


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 ≤ q ≤ 1) of ``xs``."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs: list[float]) -> float:
    return percentile(xs, 0.5)


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def latency_metrics(latencies_s: list[float], work: float, busy_s: float) -> dict[str, float]:
    """The end-to-end timing metrics of one measured phase: median
    operation latency, and ``work`` units per second of ``busy_s``."""
    return {
        "latency_ms": median(latencies_s) * 1e3,
        "throughput_per_s": work / busy_s,
    }


def dir_bytes(path: str, keep=lambda name: True) -> int:
    """Total size of the regular files under ``path`` whose names
    pass ``keep`` (symlinks are followed to their directories)."""
    total = 0
    for root, _, files in os.walk(path, followlinks=True):
        for f in files:
            if keep(f):
                total += os.path.getsize(os.path.join(root, f))
    return total


def job_totals(figures: dict[int, dict], job_ids) -> tuple[int, int, int]:
    """(jobs, tasks, shuffle bytes) over ``job_ids``."""
    ids = [j for j in job_ids if j in figures]
    return (
        len(ids),
        sum(figures[j]["tasks"] for j in ids),
        sum(figures[j]["shuffle_bytes"] for j in ids),
    )
