"""Watermark + append-mode semantics (SURVEY.md §2.9 T5-T7): late
data beyond the watermark is dropped, closed windows emit exactly
once across query restarts. This is the part of streaming the
batch-oracle queries (q50/q51) can't cover — append mode withholds
open windows by design."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from data_pipeline_2025_spark.fixtures import write_single_file

SCHEMA = "event_id LONG, ts STRING, value DOUBLE"


def _run_pass(spark, src, sink, ckpt):
    stream = (
        spark.readStream.schema(SCHEMA)
        .json(src)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_dedup_within_watermark_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark (SCALE.md streaming notes): a
    redelivery inside the watermark window is suppressed; the dedup
    state for old keys is GC'd once the watermark passes them —
    bounded state at 100 TB, unlike raw dropDuplicates."""
    src = tmp_path / "src"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    def run():
        stream = (
            spark.readStream.schema(SCHEMA)
            .json(str(src))
            .withColumn("ts", F.to_timestamp("ts"))
        )
        deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        q = (
            deduped.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    (src / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"event_id": 1, "ts": "2024-01-01 10:00:00", "value": 1.0},
                {"event_id": 1, "ts": "2024-01-01 10:00:05", "value": 1.0},  # dup
                {"event_id": 2, "ts": "2024-01-01 10:04:00", "value": 1.0},
            ]
        )
    )
    run()
    assert spark.read.parquet(sink).count() == 2  # in-batch dup suppressed

    # redelivery of event 1 WITHIN the watermark → still suppressed
    (src / "b2.json").write_text(
        json.dumps({"event_id": 1, "ts": "2024-01-01 10:06:00", "value": 1.0})
    )
    run()
    assert spark.read.parquet(sink).count() == 2


def test_watermark_drops_late_and_emits_once(spark, tmp_path):
    src = tmp_path / "src"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    def write(name, rows):
        (src / name).write_text(
            "\n".join(json.dumps(r) for r in rows), encoding="utf-8"
        )

    # batch 1: events 10:00-10:25 → watermark advances to 10:15,
    # window [10:00,10:10) closes and emits.
    write(
        "b1.json",
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:30", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01 10:05:00", "value": 1.0},
            {"event_id": 3, "ts": "2024-01-01 10:25:00", "value": 1.0},
        ],
    )
    _run_pass(spark, str(src), sink, ckpt)
    first = {r["window_start"].isoformat(): r["n"] for r in spark.read.parquet(sink).collect()}
    assert first == {"2024-01-01T10:00:00": 2}

    # batch 2: one event LATE beyond the watermark (10:01 < 10:15 →
    # its window is already closed → dropped), one fresh at 10:30
    # (watermark → 10:20, closing [10:10,10:20)).
    write(
        "b2.json",
        [
            {"event_id": 4, "ts": "2024-01-01 10:01:00", "value": 1.0},
            {"event_id": 5, "ts": "2024-01-01 10:12:00", "value": 1.0},
            {"event_id": 6, "ts": "2024-01-01 10:30:00", "value": 1.0},
        ],
    )
    _run_pass(spark, str(src), sink, ckpt)
    final = {r["window_start"].isoformat(): r["n"] for r in spark.read.parquet(sink).collect()}
    # the closed 10:00 window did NOT re-emit or absorb the late
    # event; 10:10 window emitted with only the in-time event.
    assert final == {
        "2024-01-01T10:00:00": 2,
        "2024-01-01T10:10:00": 1,
    }


def test_streaming_queries_set_nanos_conf_themselves(spark, sf_correct):
    """Round-2 driver regression: the grading driver's own SparkSession
    lacks DEFAULT_CONF (notably spark.sql.legacy.parquet.nanosAsLong),
    so the events schema read inside the events stream threw
    PARQUET_TYPE_ILLEGAL for q50/q51/q74 even though the same queries
    passed under session.get_spark. Simulate the driver by unsetting
    the conf before each call and assert the queries re-set it
    defensively (same contract as catalog.load_table)."""
    from data_pipeline_2025_spark.streaming import (
        cagg,
        cms,
        dedupgate,
        ivf,
        stateful,
        windowed,
    )

    key = "spark.sql.legacy.parquet.nanosAsLong"
    tz = "spark.sql.session.timeZone"
    try:
        for fn in (
            windowed.q50_stream_hourly_rollup,
            windowed.q51_stream_dedup_replay,
            windowed.q74_stream_join_attribution,
            windowed.q108_stream_session_windows,
            # round-4 rotation: the round-3 streaming tail now sits
            # inside the driver's 50-cap, so these too must survive
            # a bare (conf-less, non-UTC) driver session.
            windowed.q134_stream_static_enrich,
            windowed.q135_stream_dedup_watermarked,
            windowed.q136_stream_chained_stateful,
            windowed.q137_late_data_drops,
            ivf.q126_stream_ivf_indexing,
            # round-4 additions, also inside the cap:
            windowed.q149_stream_outer_join,
            windowed.q157_stream_approx_distinct,
            windowed.q161_state_store_reader,
            # their confs now come from streaming/stream.file_stream
            # (q111's sentinel build from catalog.load_table), not
            # from their own bodies:
            cagg.q83_stream_cagg_serving,
            cms.q97_stream_cms_serving,
            stateful.q111_stream_stateful_sessions,
            dedupgate.q120_stream_dedup_gate,
        ):
            spark.conf.unset(key)
            # A bare session may also run in a non-UTC zone; the
            # queries must pin UTC so the NTZ→LTZ reinterpretation
            # matches DuckDB's naive timestamps.
            spark.conf.set(tz, "America/New_York")
            assert fn(spark, sf_correct).count() > 0
            assert spark.conf.get(tz) == "UTC"
    finally:
        spark.conf.set(key, "true")
        spark.conf.set(tz, "UTC")


def test_events_cagg_incremental_end_to_end(spark, tmp_path):
    """q75's continuous-aggregate pattern wired to actual streaming
    ingest (streaming/cagg.py): each micro-batch idempotently appends
    events silver and recomputes the hourly rollup for ONLY the
    touched day partitions. Asserts (1) the served rollup equals the
    direct batch aggregation after every pass, (2) a pass touching
    day-2 leaves day-1's rollup partition files physically untouched,
    (3) replaying a chunk changes nothing."""
    import os
    import shutil

    from data_pipeline_2025_spark.streaming.cagg import (
        _hourly_partial,
        serve_hourly,
        start_events_rollup,
    )
    from data_pipeline_2025_spark.functions.money import dec, money_out

    src = str(tmp_path / "events_src")
    silver = str(tmp_path / "events_silver")
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    def chunk(name, rows):
        df = spark.createDataFrame(
            rows, "event_id LONG, ts STRING, event_type STRING, value DOUBLE"
        ).withColumn("ts", F.to_timestamp("ts"))
        df.coalesce(1).write.mode("append").parquet(src)

    def groundtruth():
        return {
            (r["window_start"].isoformat(), r["event_type"]): (r["n"], r["total_value_d"])
            for r in (
                spark.read.parquet(src)
                .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
                .agg(F.count(F.lit(1)).alias("n"), money_out(F.sum(dec("value"))).alias("total_value_d"))
                .collect()
            )
        }

    def served():
        return {
            (r["window_start"].isoformat(), r["event_type"]): (r["n"], r["total_value_d"])
            for r in serve_hourly(spark, rollup).collect()
        }

    chunk("c1", [
        (1, "2024-01-01 10:05:00", "view", 1.5),
        (2, "2024-01-01 11:20:00", "view", 2.5),
        (3, "2024-01-01 11:40:00", "purchase", 10.0),
    ])
    start_events_rollup(
        spark, src, silver, rollup, ckpt, _hourly_partial
    ).awaitTermination()
    assert served() == groundtruth()

    day1 = os.path.join(rollup, "day=2024-01-01")
    sig_before = sorted(
        (f, os.path.getmtime(os.path.join(day1, f)))
        for f in os.listdir(day1) if f.endswith(".parquet")
    )

    # second chunk touches only day 2 → day-1 partition untouched
    chunk("c2", [
        (4, "2024-01-02 09:10:00", "view", 3.0),
        (5, "2024-01-02 09:15:00", "purchase", 7.0),
    ])
    start_events_rollup(
        spark, src, silver, rollup, ckpt, _hourly_partial
    ).awaitTermination()
    assert served() == groundtruth()
    sig_after = sorted(
        (f, os.path.getmtime(os.path.join(day1, f)))
        for f in os.listdir(day1) if f.endswith(".parquet")
    )
    assert sig_after == sig_before

    # replay: recopy an already-processed source file under a new
    # name → anti-join absorbs every row, rollup values unchanged
    before = served()
    files = [f for f in os.listdir(src) if f.endswith(".parquet")]
    shutil.copy(os.path.join(src, files[0]), os.path.join(src, "replay_" + files[0]))
    start_events_rollup(
        spark, src, silver, rollup, ckpt, _hourly_partial
    ).awaitTermination()
    assert served() == before


def test_events_cms_incremental_end_to_end(spark, tmp_path):
    """q97's streaming-maintained count-min sketch (streaming/cms.py):
    per micro-batch the touched days' partial grids are recomputed
    from idempotent silver. Asserts (1) the merged day-partials equal
    the one-pass batch grid after every pass, (2) a pass touching
    only day-2 leaves day-1's sketch partition physically untouched,
    (3) full checkpoint-loss replay changes nothing."""
    import os
    import shutil

    from data_pipeline_2025_spark.operators.sketches import CMS_DEPTH, _cms_bucket
    from data_pipeline_2025_spark.streaming.cagg import start_events_rollup
    from data_pipeline_2025_spark.streaming.cms import (
        _day_partial_sketch,
        merged_sketch,
    )

    src = str(tmp_path / "events_src")
    silver = str(tmp_path / "cms_silver")
    sketch = str(tmp_path / "cms_sketch")
    ckpt = str(tmp_path / "cms_ckpt")

    def chunk(rows):
        df = spark.createDataFrame(
            rows, "event_id LONG, ts STRING, user_id LONG"
        ).withColumn("ts", F.to_timestamp("ts"))
        df.coalesce(1).write.mode("append").parquet(src)

    def batch_grid():
        cells = spark.read.parquet(src).select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            _cms_bucket(F.col("user_id").cast("string"), r).alias("b"),
                        )
                        for r in range(CMS_DEPTH)
                    ]
                )
            ).alias("rb")
        )
        return {
            (r["r"], r["b"]): r["cnt"]
            for r in cells.groupBy("rb.r", "rb.b")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }

    def served_grid():
        return {
            (r["r"], r["b"]): r["cnt"] for r in merged_sketch(spark, sketch).collect()
        }

    chunk([
        (1, "2024-01-01 10:05:00", 7),
        (2, "2024-01-01 11:20:00", 7),
        (3, "2024-01-01 11:40:00", 9),
    ])
    start_events_rollup(
        spark, src, silver, sketch, ckpt, _day_partial_sketch
    ).awaitTermination()
    assert served_grid() == batch_grid()

    day1 = os.path.join(sketch, "day=2024-01-01")
    sig_before = sorted(
        (f, os.path.getmtime(os.path.join(day1, f)))
        for f in os.listdir(day1)
        if f.endswith(".parquet")
    )

    chunk([
        (4, "2024-01-02 09:00:00", 7),
        (5, "2024-01-02 09:30:00", 11),
    ])
    start_events_rollup(
        spark, src, silver, sketch, ckpt, _day_partial_sketch
    ).awaitTermination()
    assert served_grid() == batch_grid()
    sig_after = sorted(
        (f, os.path.getmtime(os.path.join(day1, f)))
        for f in os.listdir(day1)
        if f.endswith(".parquet")
    )
    assert sig_after == sig_before  # day-1 partials physically untouched

    # checkpoint loss → full source replay; silver anti-join absorbs
    # every duplicate, partials recompute to identical content
    shutil.rmtree(ckpt)
    start_events_rollup(
        spark, src, silver, sketch, ckpt, _day_partial_sketch
    ).awaitTermination()
    assert served_grid() == batch_grid()


def test_dedup_gate_end_to_end(spark, tmp_path):
    """q120's streaming dedup gate (streaming/dedupgate.py): two
    ascending micro-batches of documents against a persistent
    signature store. Asserts (1) an exact duplicate arriving in a
    LATER batch is rejected (cross-batch blocking via the store),
    (2) a duplicate of a REJECTED doc is itself rejected (rejected
    signatures still block), (3) originals and unrelated docs are
    kept, (4) checkpoint-loss replay appends nothing (idempotent
    verdicts + store)."""
    import os

    from data_pipeline_2025_spark.streaming.dedupgate import start_dedup_gate

    src = str(tmp_path / "docs_src")
    store = str(tmp_path / "gate_store")
    verdicts = str(tmp_path / "gate_verdicts")
    ckpt = str(tmp_path / "gate_ckpt")
    ckpt2 = str(tmp_path / "gate_ckpt2")

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten"

    def chunk(name, rows, mtime):
        write_single_file(
            spark.createDataFrame(rows, "doc_id LONG, text STRING"),
            os.path.join(src, f"{name}.parquet"),
            mtime,
        )

    import time

    t0 = time.time()
    # batch 1: original (0), its dup (1) — rejected in-batch
    chunk("b000", [(0, base), (1, base)], t0)
    # batch 2: dup of 0 (10) — store blocks; dup of REJECTED 1 (11)
    # — still blocked (rejected sigs stored); unrelated (12) — kept
    chunk("b001", [(10, base), (11, base), (12, other)], t0 + 1)

    start_dedup_gate(spark, src, store, verdicts, ckpt).awaitTermination()
    got = {
        r["doc_id"]: (r["is_kept"], r["blockers"])
        for r in spark.read.parquet(verdicts).collect()
    }
    assert got[0] == (True, 0)
    assert got[1][0] is False and got[1][1] >= 1
    assert got[10][0] is False and got[10][1] >= 2  # blocked by 0 AND 1
    assert got[11][0] is False
    assert got[12] == (True, 0)
    n_verdicts = spark.read.parquet(verdicts).count()
    n_store = spark.read.parquet(store).count()
    assert n_verdicts == 5
    assert n_store == 5  # rejected docs' signatures ARE stored

    # checkpoint loss: full replay must be absorbed by the anti-joins
    start_dedup_gate(spark, src, store, verdicts, ckpt2).awaitTermination()
    assert spark.read.parquet(verdicts).count() == n_verdicts
    assert spark.read.parquet(store).count() == n_store


def test_ivf_indexer_end_to_end(spark, tmp_path):
    """q126's streaming IVF indexer: vectors assigned on arrival
    against a frozen codebook; replay with a fresh checkpoint
    appends nothing (idempotent inverted lists)."""
    import os

    from data_pipeline_2025_spark.streaming.ivf import (
        load_centroids,
        start_ivf_indexer,
    )

    src = str(tmp_path / "emb_src")
    index = str(tmp_path / "ivf_index")
    ckpt = str(tmp_path / "ivf_ckpt")
    ckpt2 = str(tmp_path / "ivf_ckpt2")

    def chunk(name, rows):
        write_single_file(
            spark.createDataFrame(
                rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
            ),
            os.path.join(src, f"{name}.parquet"),
        )

    # seed vectors 0..7 are the codebook; 20/21 land nearest 0/1
    base = [(i, [float(i)] * 64, i) for i in range(8)]
    chunk("b000", base)
    chunk("b001", [(20, [0.1] * 64, 0), (21, [1.1] * 64, 1)])

    cent = load_centroids(spark, src)
    start_ivf_indexer(spark, src, index, ckpt, cent).awaitTermination()
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in spark.read.parquet(index).collect()
    }
    assert len(got) == 10
    assert all(got[i] == i for i in range(8))  # seeds self-assign
    assert got[20] == 0 and got[21] == 1

    start_ivf_indexer(spark, src, index, ckpt2, cent).awaitTermination()
    assert spark.read.parquet(index).count() == 10  # replay absorbed


def test_dedup_gate_crash_between_verdicts_and_store(spark, tmp_path):
    """q120's two-write window: the gate writes verdicts BEFORE
    signatures. Simulate a crash exactly between the writes (first
    batch's verdicts present, store missing), then replay from a
    fresh checkpoint: the replay must re-append the missing
    signatures WITHOUT duplicating verdicts, and a later duplicate
    doc must still be blocked by the recovered store."""
    import os
    import shutil
    import time

    from data_pipeline_2025_spark.streaming.dedupgate import start_dedup_gate

    src = str(tmp_path / "docs_src")
    store = str(tmp_path / "gate_store")
    verdicts = str(tmp_path / "gate_verdicts")

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

    def chunk(name, rows, mtime):
        write_single_file(
            spark.createDataFrame(rows, "doc_id LONG, text STRING"),
            os.path.join(src, f"{name}.parquet"),
            mtime,
        )

    t0 = time.time()
    chunk("b000", [(0, base)], t0)
    # run batch 1 normally, then CRASH: delete the store but keep
    # verdicts + forget the checkpoint (worst-case torn state)
    start_dedup_gate(
        spark, src, store, verdicts, str(tmp_path / "ck1")
    ).awaitTermination()
    shutil.rmtree(store)
    assert spark.read.parquet(verdicts).count() == 1

    # recovery replay sees doc 0 already in verdicts (skipped there)
    # but missing from the store (re-appended); then batch 2's dup
    # of doc 0 must be blocked by the recovered signature
    chunk("b001", [(10, base)], t0 + 1)
    start_dedup_gate(
        spark, src, store, verdicts, str(tmp_path / "ck2")
    ).awaitTermination()
    got = {
        r["doc_id"]: (r["is_kept"], r["blockers"])
        for r in spark.read.parquet(verdicts).collect()
    }
    assert got[0] == (True, 0)
    assert got[10][0] is False and got[10][1] >= 1
    assert spark.read.parquet(verdicts).count() == 2  # no dup verdicts
    assert spark.read.parquet(store).count() == 2  # store recovered


def test_state_reader_exposes_join_sides(spark, sf_correct, tmp_path):
    """Spark 4 State Data Source on a stream-stream join checkpoint:
    option("joinSide", ...) must expose each side's keyed buffers as
    a DataFrame, and every surviving state key must belong to the
    matching event population — the q161 introspection pattern
    extended to the join operator's four-store state."""
    from pyspark.sql import functions as F

    from data_pipeline_2025_spark.streaming.stream import drain, file_stream

    ck = str(tmp_path / "ck")
    s = (
        file_stream(spark, sf_correct, glob="events.parquet")
        .where(F.col("event_type") == "signup")
        .select(F.col("user_id").alias("su"), F.col("ts").alias("sts"))
        .withWatermark("sts", "2 hours")
    )
    p = (
        file_stream(spark, sf_correct, glob="events.parquet")
        .where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("pu"), F.col("ts").alias("pts"))
        .withWatermark("pts", "2 hours")
    )
    j = s.join(
        p,
        (F.col("su") == F.col("pu"))
        & (F.col("pts") >= F.col("sts"))
        & (F.col("pts") <= F.col("sts") + F.expr("INTERVAL 1 HOUR")),
    )
    drain(j, "append", checkpoint=ck)
    ev = spark.read.parquet(f"{sf_correct}/events.parquet")
    users = {
        t: {r["user_id"] for r in ev.where(F.col("event_type") == t).select("user_id").distinct().collect()}
        for t in ("signup", "purchase")
    }
    for side, pop in (("left", users["signup"]), ("right", users["purchase"])):
        st = spark.read.format("statestore").option("joinSide", side).load(ck)
        keys = {r["key"]["field0"] if "field0" in st.schema["key"].dataType.names else list(r["key"])[0] for r in st.select("key").collect()}
        assert keys, f"{side} state empty"
        assert keys <= pop, (side, keys - pop)


def test_registry_streams_leave_no_views(spark, sf_smoke):
    """A registry stream that ends in a memory sink must not leave its
    temp view (and the sink's rows) in the session: q50 (complete
    mode), q137 (append, one file per batch) and q111 (stateful,
    two unioned sources) run twice each; the temp views are the same
    before and after, no stream is still active, and each second
    answer equals the first."""
    from data_pipeline_2025_spark import registry

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    for name in (
        "q50_stream_hourly_rollup",
        "q137_late_data_drops",
        "q111_stream_stateful_sessions",
    ):
        fn = registry.get(name).spark_fn
        first = fn(spark, sf_smoke).collect()
        assert first, name
        assert fn(spark, sf_smoke).collect() == first, name
    assert temp_views() == before
    assert spark.streams.active == []
