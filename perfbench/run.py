"""Benchmark entry point.

    python3 perfbench/run.py --workload {serve,ingest,curate} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The run builds its inputs from
``--seed``, starts Spark as ``local[k]`` (k = min(2, cores)), measures
for ``--seconds`` seconds, checks the program's outputs, and prints
as its last line one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A
traced run measures twice, each for half of ``--seconds``, untraced
and then traced, and reports the difference as the tracing overhead. The
line before it records the environment (Spark master and
parallelism, cores, load average and pressure-stall figures at start
and end, and the share of CPU time other guests stole meanwhile). Everything the run writes stays under ``.perfbench_work/``
in the checkout; the run's scratch directory is removed at exit.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from common import CURATE_QUERIES  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# name → unit. The end-to-end and per-layer names and units of
# BENCHMARK.json; README.md gives each one's meaning per workload.
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_ms": "ms",
    "throughput_per_s": "1/s",
}
# The end-to-end metrics a traced phase repeats, to measure the
# tracing overhead as traced minus untraced.
TIMINGS = ("latency_ms", "throughput_per_s")

PER_LAYER = {
    "server.self_ms": "ms",
    "mcp.self_ms": "ms",
    "tools.self_ms": "ms",
    "tools.jobs_per_call": "count",
    "domain.self_ms": "ms",
    "mapping.self_ms": "ms",
    "mapping.products_calls": "count",
    "catalog.load_table_ms": "ms",
    "catalog.load_table_calls": "count",
    "spark.collect_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_bytes_per_op": "bytes",
    "ingest.stream_overhead_ms": "ms",
    "sources.useful_frac": "frac",
    "txn.stage_append_ms": "ms",
    "txn.commit_append_ms": "ms",
    "txn.read_committed_ms": "ms",
    "txn.files_per_drop": "count",
    "txn.log_bytes": "bytes",
    "txn.bytes_per_input_byte": "ratio",
    "search.index_update_ms": "ms",
    "search.index_bytes_per_name": "bytes",
    "search.query_ms": "ms",
    "setup.session_s": "s",
    "setup.products_silver_s": "s",
    "setup.trigram_index_s": "s",
    "setup.warm_s": "s",
    "trace.spans_per_op": "count",
    **{f"trace.overhead.{n}": END_TO_END[n] for n in TIMINGS},
}

# Extra per-layer metrics of the curate workload, which BENCHMARK.json
# does not run (see README.md).
CURATE_LAYER = {
    "curate.wall_s": "s",
    "curate.geomean_s": "s",
    **{f"curate.{q}_s": "s" for q in CURATE_QUERIES},
    **{f"curate.{q}.jobs": "count" for q in CURATE_QUERIES},
    **{f"curate.{q}.shuffle_bytes": "bytes" for q in CURATE_QUERIES},
}


class Context:
    """What a workload gets: its arguments, its scratch directory and
    the Spark session, plus the setup timings it fills in."""

    def __init__(self, args, work: str):
        self.seed: int = args.seed
        self.trace: bool = bool(args.trace)
        # a traced run splits its seconds between the untraced and the
        # traced phase, so it takes as long as an untraced one
        self.phase_seconds: float = args.seconds / 2 if self.trace else args.seconds
        self.sf: float | None = args.sf
        self.work = work
        # Two cores leave the rest of a 4-core box to the JIT, GC and
        # the HTTP server threads; with four, request latency on such
        # a box doubled and varied twice as much between runs.
        self.cores = min(2, len(os.sched_getaffinity(0)))
        self.setup: dict[str, float] = {}
        self.spark = None
        self.jvm_pid: int | None = None

    def start_spark(self):
        from data_pipeline_2025_spark.session import get_spark

        t = time.perf_counter()
        # A run lasts about a minute, too short for the C2 compiler to
        # settle: with it, request latency differed by up to 30%
        # between runs of the same code, as each JVM compiled its hot
        # paths differently; with C1 alone that spread halved. The
        # serial collector with a fixed initial heap sizes the heap by
        # the program's allocation, not by pause-time feedback, so
        # peak RSS repeats too (with G1 it varied by 20%).
        java_opts = (f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData "
                     "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -Xms1g")
        conf = {
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            # keep every job and stage for the per-operation figures
            conf["spark.ui.retainedJobs"] = "1000000"
            conf["spark.ui.retainedStages"] = "1000000"
        self.spark = get_spark("perfbench", master=f"local[{self.cores}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        self.setup["setup.session_s"] = time.perf_counter() - t
        return self.spark

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def peak_rss_mb(self) -> float:
        from machine import peak_rss_mb

        total = peak_rss_mb()
        if self.jvm_pid is not None:
            total += peak_rss_mb(self.jvm_pid)
        return total

    def stop_spark(self) -> None:
        """Stop the session, then the JVM it launched, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        self.spark = None


def isolate(work: str) -> None:
    """Point every temporary directory the run uses into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def parse(argv: list[str]):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "ingest", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="scale factor of the generated tables (default: the workload's)")
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "data_pipeline_2025_spark")):
        print(f"perfbench: no data_pipeline_2025_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import machine

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    isolate(work)
    env = {"start": machine.snapshot(), "nproc": machine.nproc()}
    ctx = Context(args, work)
    module = __import__(f"workload_{args.workload}")
    try:
        res = module.run(ctx, T0)
        env["master"] = ctx.spark.sparkContext.master
        env["defaultParallelism"] = ctx.spark.sparkContext.defaultParallelism
    finally:
        ctx.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    env["end"] = machine.snapshot()
    env["steal_frac"] = machine.steal_frac(env["start"]["cpu_jiffies"], env["end"]["cpu_jiffies"])

    values = dict(ctx.setup) | res["metrics"]
    if ctx.trace:
        names = PER_LAYER | (CURATE_LAYER if args.workload == "curate" else {})
        values |= res["layers"]
        values |= {f"trace.overhead.{n}": res["traced"][n] - res["metrics"][n] for n in TIMINGS}
    else:
        names = END_TO_END
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names.items()}
    out = {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "env": env, "setup": ctx.setup, "details": res.get("details", {}),
              **out}
    results = os.path.join(WORK_ROOT, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"env": env, "setup": ctx.setup, "details": res.get("details", {})}, default=str))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
