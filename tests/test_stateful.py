"""applyInPandasWithState sessionizer vs the batch sessionizer
(q29): closed sessions must agree exactly; each user's trailing
session stays open in state (append semantics)."""

from __future__ import annotations

from data_pipeline_2025_spark import registry
from data_pipeline_2025_spark.streaming.stateful import sessionize_stream
from data_pipeline_2025_spark.streaming.stream import drain, file_stream


def test_stateful_sessionizer_matches_batch(spark, sf_smoke):
    stream = file_stream(spark, sf_smoke, glob="events.parquet")
    sessions = sessionize_stream(stream, gap_minutes=30)
    streamed = {
        (r["user_id"], r["session_start"], r["events"])
        for r in drain(sessions, "append").collect()
    }

    batch = registry.get("q29_sessionization").spark_fn(spark, sf_smoke).collect()
    # drop each user's LAST session (still open in streaming state)
    last_per_user = {}
    for r in batch:
        last_per_user[r["user_id"]] = max(
            last_per_user.get(r["user_id"], 0), r["session_id"]
        )
    expected_counts = {
        (r["user_id"], r["events"])
        for r in batch
        if r["session_id"] != last_per_user[r["user_id"]]
    }
    streamed_counts = {(u, n) for (u, _s, n) in streamed}
    assert streamed_counts == expected_counts
    # closed-session totals agree row-for-row
    closed_batch = [
        r for r in batch if r["session_id"] != last_per_user[r["user_id"]]
    ]
    assert len(streamed) == len(closed_batch)


def test_transform_with_state_totals_if_available(spark, sf_smoke):
    """The Spark 4 transformWithStateInPandas operator (typed
    ValueState over RocksDB). Its state protocol needs
    google.protobuf — unlocked in round 5 by the bundled-runtime
    shim (enable_vendored_protobuf): the driver gets a sys.path
    extension, the JVM-spawned python runners get PYTHONPATH via
    sc.environment, both pointing at the BSD-licensed pure-Python
    runtime already in this container. Skips only on a host with
    neither a native protobuf nor the bundled runtime."""
    import pytest

    from data_pipeline_2025_spark.streaming.stateful import (
        _tws_available,
        q146_stream_transform_with_state,
    )

    if not _tws_available():
        pytest.skip("no protobuf runtime available on this host")
    rows = q146_stream_transform_with_state(spark, sf_smoke).collect()
    import duckdb

    from data_pipeline_2025_spark.catalog import table_path

    exp = duckdb.sql(
        "SELECT user_id, COUNT(*) n, SUM(event_id) s FROM "
        f"read_parquet('{table_path(sf_smoke, 'events')}') GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    assert [(r["user_id"], r["n"], r["sum_event_id"]) for r in rows] == [
        (u, n, s) for u, n, s in exp
    ]
