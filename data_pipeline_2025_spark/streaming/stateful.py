"""Custom stateful streaming operator: gap-based sessionization via
``applyInPandasWithState`` — the Spark-native mechanism for operator
semantics the built-in windowed aggregations can't express
(arbitrary per-key state machines; SURVEY.md §2.9 T7 maps the
reference's absence of these to "we add them as engine capability").

Semantics: per user, events sorted by event time; a gap >
``gap_minutes`` closes the current session. CLOSED sessions are
emitted (append mode); the trailing open session stays in state
across micro-batches — exactly how a production sessionizer behaves,
and asserted against the batch sessionizer (q29) in
tests/test_stateful.py.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..registry import register
from .stream import drain, file_stream

OUTPUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, events bigint"
)
STATE_SCHEMA = "start bigint, last bigint, n bigint"


def sessionize_stream(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    gap_us = gap_minutes * 60 * 1_000_000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        ts_us: list[int] = []
        for pdf in pdfs:
            ts_us.extend((pdf["ts"].astype("int64") // 1000).tolist())
        ts_us.sort()
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        closed: list[tuple] = []
        for t in ts_us:
            if start is None:
                start, last, n = t, t, 1
            elif t - last > gap_us:
                closed.append((user_id, start, last, n))
                start, last, n = t, t, 1
            else:
                last, n = t, n + 1
        if start is not None:
            state.update((int(start), int(last), int(n)))
        if closed:
            out = pd.DataFrame(
                closed, columns=["user_id", "session_start", "session_end", "events"]
            )
            out["session_start"] = pd.to_datetime(out["session_start"], unit="us")
            out["session_end"] = pd.to_datetime(out["session_end"], unit="us")
            yield out

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------- q111: the stateful sessionizer, driver-verified --
#
# applyInPandasWithState emits only CLOSED sessions by design (the
# trailing open session per user survives in state across
# micro-batches). To make the operator oracle-checkable end-to-end,
# the query streams the events file unioned with a SENTINEL stream
# holding one far-future event per user (2x the gap past the corpus
# max ts). Every real session then closes and is emitted; each
# sentinel opens its own one-event session that stays in state — so
# filtering is unnecessary on the emitted side, but we keep a guard
# anyway (session_start below the sentinel horizon).
# The oracle is the batch lag-based sessionization with the SAME
# strict-> gap rule the state machine uses. Scale shape: state is
# one (start, last, n) triple per user; each micro-batch touches
# only keys present in it.


def _sentinel_dir(spark, sf_dir: str) -> tuple[str, int]:
    """Build (once per session and sf_dir) a stream dir holding one
    sentinel (user_id, ts) row per user; returns (dir,
    sentinel_horizon_us)."""
    from ..artifacts import built_scratch
    from ..catalog import load_table
    from ..fixtures import write_single_file

    events = load_table(spark, sf_dir, "events")
    horizon_us = (
        events.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
        + 2 * 30 * 60 * 1_000_000
    )

    def build(path: str) -> None:
        sentinels = events.select("user_id").distinct().select(
            "user_id", F.timestamp_micros(F.lit(horizon_us)).alias("ts")
        )
        # The file source lists only top-level files — land the
        # sentinel rows as a FLAT file, not a Spark output directory.
        write_single_file(sentinels, os.path.join(path, "sentinels.parquet"))

    return built_scratch(spark, sf_dir, "q111", build), horizon_us


_ORACLE_Q111 = """
WITH flagged AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                        > 30 * 60 * 1000000
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, ts,
           SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS sid
    FROM flagged
)
SELECT user_id,
       MIN(ts)                  AS session_start,
       MAX(ts)                  AS session_end,
       CAST(COUNT(*) AS BIGINT) AS events
FROM sess
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


@register(
    "q111_stream_stateful_sessions",
    oracle=_ORACLE_Q111,
    doc="CUSTOM stateful streaming operator driver-verified: "
    "applyInPandasWithState sessionizer (per-user (start,last,n) "
    "state machine, closed sessions emitted append-mode) run over "
    "the events stream plus per-user sentinel events that flush "
    "every real session; hash-matches the batch lag-based "
    "sessionization SQL (T7 arbitrary stateful ops).",
    tags=("streaming", "stateful", "session"),
)
def q111_stream_stateful_sessions(spark, sf_dir: str) -> DataFrame:
    sentinel_dir, horizon_us = _sentinel_dir(spark, sf_dir)
    stream = (
        file_stream(spark, sf_dir, glob="events.parquet")
        .select("user_id", "ts")
        .unionByName(file_stream(spark, sentinel_dir))
    )
    return (
        drain(sessionize_stream(stream, gap_minutes=30), "append")
        .where(F.unix_micros("session_start") < horizon_us)
        .orderBy("user_id", "session_start")
    )


# ------- q146: transformWithStateInPandas (the Spark 4 state API)
#
# The NEW arbitrary-stateful-processing API (StatefulProcessor +
# typed state handles over the RocksDB state store) that supersedes
# applyInPandasWithState — both are kept as first-class checked
# operators: q111 proves the legacy API, q146 the Spark-4 one, so a
# user migrating custom operators has a verified example of each.
# Per-user running totals in a ValueState (n, sum of event ids —
# exact integers, no float anywhere); update mode emits each key's
# running totals per micro-batch, and the single-batch AvailableNow
# run makes the emitted row the global total, hash-checkable against
# batch SQL. State is one fixed-width row per user, sharded by the
# state store exactly like the legacy sessionizer's.
TWS_OUTPUT_SCHEMA = "user_id bigint, n bigint, sum_event_id bigint"


def _make_totals_processor():
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import LongType, StructField, StructType

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            schema = StructType(
                [
                    StructField("n", LongType()),
                    StructField("sum_event_id", LongType()),
                ]
            )
            self._state = handle.getValueState("totals", schema)

        def handleInputRows(
            self, key: tuple, rows: Iterator[pd.DataFrame], timerValues
        ) -> Iterator[pd.DataFrame]:
            n, sid = 0, 0
            for pdf in rows:
                n += len(pdf)
                sid += int(pdf["event_id"].astype("int64").sum())
            if self._state.exists():
                prev = self._state.get()
                n += int(prev[0])
                sid += int(prev[1])
            self._state.update((n, sid))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [n], "sum_event_id": [sid]}
            )

        def close(self) -> None:
            pass

    return RunningTotals()


def running_totals_stream(events: DataFrame) -> DataFrame:
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_make_totals_processor(),
        outputStructType=TWS_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


_ORACLE_Q146 = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def q146_stream_transform_with_state(spark, sf_dir: str) -> DataFrame:
    # Unlock the protobuf state protocol (bundled-runtime shim) for
    # both the driver and the JVM-spawned python runners.
    enable_vendored_protobuf(spark)
    # transformWithState requires the RocksDB state store provider —
    # set defensively so the grading driver's bare session works.
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    out = running_totals_stream(file_stream(spark, sf_dir, glob="events.parquet"))
    # single micro-batch (one events file) -> the emitted update IS
    # the global total per user
    return drain(out, "update").orderBy("user_id")


def enable_vendored_protobuf(spark=None) -> bool:
    """Make ``google.protobuf`` importable for the transformWithState
    state protocol — round-5 unlock of the one environment-gated
    operator. No code is vendored: ``pbshim_path/google/protobuf``
    extends its module search path to the BSD-licensed pure-Python
    protobuf runtime already bundled with this container's
    google-cloud-sdk install (and relaxes the gencode/runtime
    version gate — StateMessage.proto is plain proto3, and the
    resulting protocol is proven end-to-end by the q146 oracle
    check, not assumed).

    Two sides need the import: the driver process (sys.path insert)
    and the JVM-spawned Python runners/workers. The latter inherit
    ``sc.environment`` per python function, so setting PYTHONPATH
    there works even when the JVM launched without it — verified by
    tests/test_stateful.py. Returns False when neither a native
    protobuf nor the bundled runtime exists (q146 then raises at
    run time, like any operator whose dependency is missing)."""
    import sys

    shim = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "pbshim_path",
    )
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        if shim not in sys.path:
            sys.path.insert(0, shim)
        try:
            from google.protobuf import descriptor  # noqa: F401
        except ImportError:
            return False
    # "native" must mean importable WITHOUT the shim — on repeat
    # calls the first attempt succeeds via the already-inserted shim
    # path, so decide by where the package actually loaded from.
    import google

    native = not (google.__file__ or "").startswith(shim)
    if spark is not None and not native:
        env = spark.sparkContext.environment
        cur = env.get("PYTHONPATH") or os.environ.get("PYTHONPATH", "")
        parts = [p for p in cur.split(os.pathsep) if p]
        if shim not in parts:
            env["PYTHONPATH"] = os.pathsep.join([shim] + parts)
    return True


def _tws_available() -> bool:
    """True when the transformWithState protocol can run here —
    natively or via the bundled-runtime shim."""
    return enable_vendored_protobuf()


def register_q146() -> None:
    register(
        "q146_stream_transform_with_state",
        oracle=_ORACLE_Q146,
        doc="The Spark 4 transformWithStateInPandas API as a checked "
        "operator (typed ValueState over RocksDB, StatefulProcessor "
        "lifecycle): per-user exact-integer running totals, update "
        "mode; single-batch AvailableNow makes the emitted updates "
        "the global totals, hash-matched against batch SQL. The "
        "legacy applyInPandasWithState twin is q111.",
        tags=("streaming", "stateful", "tws"),
    )(q146_stream_transform_with_state)


# Round 5: registration is UNCONDITIONAL — the bundled-runtime shim
# (enable_vendored_protobuf) makes the state protocol work in this
# container, so q146 is a first-class registered query like any
# other. load_all() yields the same registry size on every
# environment (the round-3 advisor's requirement); on a host with
# neither a native protobuf nor the bundled runtime the query raises
# at RUN time — the standard failure mode for a missing dependency,
# not a silent registry change. _tws_available() remains the gate
# for the e2e test in tests/test_stateful.py.
register_q146()
