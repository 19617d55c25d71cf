"""Spot-check a subset of registry queries against their DuckDB
oracles — the single-query iteration loop for drive_driver.py.

Usage: python tools/check_queries.py q229 q247 [--sf SF_DIR] [--repeat N]
Name prefixes match (q229 → q229_segment_dedup_rebuild).
``--repeat N`` runs each query N times in one session; a run fails if
its answer differs from the oracle, if the session catalog gained a
temp view, or if a streaming query is still active.
"""
import os, sys, time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from data_pipeline_2025_spark import registry
from data_pipeline_2025_spark.session import get_spark
from tests.oracle import compare

args = sys.argv[1:]
sf = "/root/testdata/sf0.01"
if "--sf" in args:
    i = args.index("--sf")
    sf = args[i + 1]
    del args[i : i + 2]
repeat = 1
if "--repeat" in args:
    i = args.index("--repeat")
    repeat = int(args[i + 1])
    del args[i : i + 2]

specs = registry.load_all()
names = []
for a in args:
    hit = [n for n in specs if n == a or n.startswith(a)]
    if not hit:
        print(f"no query matches {a!r}")
        sys.exit(2)
    names.extend(hit)

spark = get_spark("check-queries")


def temp_views():
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


views = temp_views()
fails = 0
for name in names:
    for run in range(1, repeat + 1):
        t0 = time.time()
        try:
            problems = compare(specs[name], spark, sf)
        except Exception as ex:
            problems = [f"EXCEPTION: {type(ex).__name__}: {str(ex)[:300]}"]
        gained = sorted(temp_views() - views)
        if gained:
            problems.append(f"temp views gained: {gained}")
            views.update(gained)
        if spark.streams.active:
            problems.append(f"streams still active: {[q.name for q in spark.streams.active]}")
        dt = time.time() - t0
        if problems:
            fails += 1
        print(("OK " if not problems else "FAIL ") + f"{name}"
              + (f" run {run}/{repeat}" if repeat > 1 else "") + f" ({dt:.1f}s)"
              + ("" if not problems else "\n  " + "\n  ".join(problems[:3])))
print("FAILURES:", fails)
sys.exit(1 if fails else 0)
