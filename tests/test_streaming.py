"""Structured Streaming tests — SURVEY.md §5.2(5): deterministic
file-source replay with availableNow trigger; results compared against
the batch twins and watermark late-drop semantics asserted."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events corpus re-written as a 4-file streaming source (schema
    normalized through io.load_table so ts is a real timestamp)."""
    from git_etl_spark.io import load_table

    path = tmp_path_factory.mktemp("stream") / "events"
    load_table(spark, SF_SMOKE, "events").repartition(4).write.parquet(str(path))
    return str(path)


def _stream(spark, events_dir):
    from git_etl_spark.io import load_table

    schema = load_table(spark, SF_SMOKE, "events").schema
    return spark.readStream.schema(schema).parquet(events_dir)


def _await(q, timeout=120):
    """Wait for an availableNow query to drain. One still running at
    the timeout fails the test and is stopped: never compared half-done,
    never left running into later tests."""
    try:
        if not q.awaitTermination(timeout):
            pytest.fail(f"stream {q.name or q.id} ran past {timeout} s")
    finally:
        q.stop()


def _run_to_memory(sdf, name, mode="append"):
    _await(
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )


def test_streaming_hourly_matches_batch(spark, events_dir):
    from git_etl_spark.io import load_table
    from git_etl_spark.streaming.events_stream import hourly_counts

    _run_to_memory(hourly_counts(_stream(spark, events_dir)), "hourly", "complete")
    got = {
        (r.hour_bucket, r.event_type): (r.n, r.sum_value)
        for r in spark.sql("SELECT * FROM hourly").collect()
    }

    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_bucket"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    want = {
        (r.hour_bucket, r.event_type): (r.n, r.sum_value) for r in batch.collect()
    }
    assert got == want


def test_streaming_sessionize_total_events_preserved(spark, events_dir):
    from git_etl_spark.streaming.events_stream import sessionized

    _run_to_memory(sessionized(_stream(spark, events_dir)), "sessions", "complete")
    rows = spark.sql("SELECT * FROM sessions").collect()
    assert sum(r.n_events for r in rows) == 1000  # every event in exactly one session
    assert all(r.session_end > r.session_start for r in rows)


def test_streaming_dedup_within_watermark(spark, events_dir):
    from git_etl_spark.streaming.events_stream import dedup_within_watermark

    _run_to_memory(dedup_within_watermark(_stream(spark, events_dir)), "deduped")
    n = spark.sql("SELECT COUNT(*) AS n FROM deduped").collect()[0].n
    distinct_keys = (
        spark.read.parquet(events_dir)
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    # watermark-bounded dedup can keep more than the global-distinct
    # count (keys recur beyond the horizon) but never less, and must
    # remove something on this dense corpus
    assert distinct_keys <= n < 1000


def test_streaming_late_rows_dropped(spark, tmp_path):
    """Watermark semantics: a row older than (max_event_time − 10 min)
    arriving in a later batch is excluded from its closed bucket."""
    import pandas as pd

    from git_etl_spark.streaming.events_stream import hourly_counts

    src = tmp_path / "late-src"
    src.mkdir()
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf, schema).coalesce(1).write.mode("append").parquet(str(src))

    checkpoint = str(tmp_path / "ckpt")
    emitted: list = []

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            hourly_counts(stream)
            .writeStream.foreachBatch(
                lambda df, _id: emitted.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    # run 1: events at 10:00 and 12:00 → watermark 11:50, bucket 10 closes
    write_batch("b1", [
        (1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 12:00:00", 1, "view", 1.0, "{}"),
    ])
    run_once()
    assert {(r.hour_bucket.hour, r.n) for r in emitted} == {(10, 1)}

    # run 2 (resumes checkpoint): a LATE row for the closed 10:00 bucket
    # + a 15:00 row pushing the watermark past the 12:00 bucket
    write_batch("b2", [
        (3, "2024-01-01 10:30:00", 2, "view", 1.0, "{}"),  # late → dropped
        (4, "2024-01-01 15:00:00", 2, "view", 1.0, "{}"),
    ])
    run_once()
    by_bucket = {}
    for r in emitted:
        by_bucket[r.hour_bucket.hour] = by_bucket.get(r.hour_bucket.hour, 0) + r.n
    # bucket 10 still n=1 (late row never leaked), bucket 12 closed with 1
    assert by_bucket == {10: 1, 12: 1}, f"unexpected emissions: {by_bucket}"


def test_stateful_running_totals_match_batch(spark, events_dir):
    """applyInPandasWithState: after replaying all files, each user's
    final state must equal the batch per-user aggregate."""
    from git_etl_spark.io import load_table
    from git_etl_spark.streaming.stateful import running_user_totals

    updates: list = []
    q = (
        running_user_totals(_stream(spark, events_dir))
        .writeStream.foreachBatch(lambda df, _id: updates.extend(df.collect()))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)

    # last update per user wins (state is cumulative across batches)
    final: dict = {}
    for r in updates:
        final[r.user_id] = (r.n_events, round(r.total_value, 6))

    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
    )
    want = {r.user_id: (r.n, round(r.t, 6)) for r in batch.collect()}
    assert final == want


def test_stream_stream_join_matches_batch(spark, tmp_path_factory):
    """Stream-stream time-bounded self-join replayed in ONE micro-batch
    (single source file → no cross-batch state eviction) must produce
    exactly the batch join's pair set."""
    from git_etl_spark.io import load_table
    from git_etl_spark.streaming.events_stream import purchase_click_attribution

    path = tmp_path_factory.mktemp("ssj") / "events"
    ev = load_table(spark, SF_SMOKE, "events")
    ev.coalesce(1).write.parquet(str(path))
    stream = spark.readStream.schema(ev.schema).parquet(str(path))

    _run_to_memory(purchase_click_attribution(stream), "attributed")
    got = {
        (r.purchase_id, r.click_id)
        for r in spark.sql("SELECT * FROM attributed").collect()
    }

    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    want = {
        (r.purchase_id, r.click_id)
        for r in purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (
                F.col("click_ts")
                >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")
            ),
        ).collect()
    }
    assert got == want and got


def test_foreachbatch_upsert_idempotent_replay(spark, events_dir, tmp_path):
    """foreachBatch + key-merge = effective exactly-once: replaying the
    whole source a second time (fresh checkpoint, same target) leaves
    the table byte-identical, and the table equals the batch distinct."""
    from git_etl_spark.io import load_table
    from git_etl_spark.streaming.events_stream import stream_upsert_to_parquet

    target = str(tmp_path / "events_table")

    def run(cp):
        q = stream_upsert_to_parquet(
            spark, _stream(spark, events_dir), target, str(tmp_path / cp)
        )
        _await(q)

    run("cp1")
    once = sorted(map(tuple, spark.read.parquet(target).collect()))
    run("cp2")  # full redelivery: new checkpoint replays every file
    twice = sorted(map(tuple, spark.read.parquet(target).collect()))
    assert once == twice

    batch = sorted(
        map(tuple, load_table(spark, SF_SMOKE, "events").dropDuplicates(["event_id"]).collect())
    )
    assert once == batch


def test_replay_timeout_stops_and_raises(spark, monkeypatch):
    """A replay still running at the awaitTermination timeout is
    stopped and raised — never read half-done from the sink or target,
    and never left running."""
    from pyspark.sql.streaming import StreamingQuery

    from git_etl_spark.operators import streaming_bridge as sb

    monkeypatch.setattr(
        StreamingQuery, "awaitTermination", lambda self, timeout=None: False
    )
    for replay in (
        sb.streaming_hourly_agg_replay,
        sb.streaming_foreachbatch_upsert_replay,
    ):
        with pytest.raises(TimeoutError):
            replay(spark, SF_SMOKE)
        assert spark.streams.active == []


def test_transform_with_state_env_gap():
    """Spark 4's transformWithStateInPandas (the successor stateful API
    to applyInPandasWithState) requires google.protobuf for its state
    server protocol; this environment ships no protobuf, so the API
    crashes at driver-worker init (verified: STREAMING_PYTHON_RUNNER_
    INITIALIZATION_FAILURE → ImportError google.protobuf.descriptor).
    The custom-stateful family is therefore represented by
    applyInPandasWithState (streaming_stateful_counts_replay), and
    transformWithStateInPandas is explicitly OUT of claimed coverage
    (COVERAGE.md "environment constraints"). This test documents the
    gap executably — it PASSES while the constraint holds and will
    start failing (i.e. demand a real transformWithState operator)
    the moment the environment gains protobuf."""
    import importlib.util

    import pytest

    try:
        # find_spec itself raises if even the parent "google" namespace
        # package is absent — equally proof of the constraint
        present = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        present = False
    if present:
        pytest.fail(
            "protobuf now available — implement a transformWithStateInPandas "
            "operator and replay (see streaming/events_stream.py)"
        )


def test_session_window_pre_epoch_engine_drop(spark, tmp_path):
    """Documents the ENGINE behavior behind sessionized()'s pre-epoch
    quarantine (r14 temporal-hostility survey): Spark's event-time
    watermark lattice bottoms at epoch 0, and the session-window
    operator filters sessions against that INITIAL watermark even in
    the first micro-batch of a complete-mode replay — a session whose
    end (last event + gap) predates 1970-01-01 00:00:00 UTC is
    silently dropped, while one straddling the epoch survives. If this
    test ever fails, the engine changed semantics and the quarantine
    in streaming/events_stream.sessionized (and its oracle mirror in
    operators/streaming_bridge) should be revisited."""
    import datetime as dt

    rows = [
        # fully pre-epoch session: end 1901-06-15 12:10:01 < epoch
        (1, 7, dt.datetime(1901, 6, 15, 12, 0, 0)),
        (2, 7, dt.datetime(1901, 6, 15, 12, 0, 1)),
        # epoch-straddling session: end 1970-01-01 00:09:59 > epoch
        (3, 7, dt.datetime(1969, 12, 31, 23, 59, 59)),
        # ordinary modern session
        (4, 7, dt.datetime(2024, 1, 1, 0, 0, 0)),
        (5, 7, dt.datetime(2024, 1, 1, 0, 5, 0)),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    src = tmp_path / "preepoch"
    df.coalesce(1).write.parquet(str(src))  # ONE file -> ONE micro-batch

    raw = (
        spark.readStream.schema(df.schema)
        .parquet(str(src))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "10 minutes").alias("s"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(F.col("s.start").alias("start"), "n")
    )
    _run_to_memory(raw, "pre_epoch_raw", mode="complete")
    got = sorted(
        (r["start"], r["n"]) for r in spark.table("pre_epoch_raw").collect()
    )
    spark.catalog.dropTempView("pre_epoch_raw")
    # the 1901 session is GONE (engine drop); the epoch-straddler and
    # the modern session survive
    assert got == [
        (dt.datetime(1969, 12, 31, 23, 59, 59), 1),
        (dt.datetime(2024, 1, 1, 0, 0, 0), 2),
    ]


def test_sessionized_quarantines_pre_epoch_explicitly(spark, tmp_path):
    """The shipped transform makes the boundary explicit and
    deterministic: EVERY pre-epoch event is quarantined (including the
    epoch-straddler the raw engine would keep), so results never
    depend on session-merge geometry against the initial watermark.
    The replay oracle applies the identical predicate."""
    import datetime as dt

    from git_etl_spark.streaming.events_stream import sessionized

    rows = [
        (1, 7, dt.datetime(1901, 6, 15, 12, 0, 0), "c", 1.0, None),
        (3, 7, dt.datetime(1969, 12, 31, 23, 59, 59), "c", 1.0, None),
        (4, 7, dt.datetime(1970, 1, 1, 0, 0, 0), "c", 1.0, None),
        (5, 7, dt.datetime(2024, 1, 1, 0, 0, 0), "c", 1.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, "
        "event_type string, value double, props string",
    )
    src = tmp_path / "preepoch2"
    df.coalesce(1).write.parquet(str(src))
    sdf = sessionized(spark.readStream.schema(df.schema).parquet(str(src)))
    _run_to_memory(sdf, "pre_epoch_q", mode="complete")
    got = sorted(
        (r["session_start"], r["n_events"])
        for r in spark.table("pre_epoch_q").collect()
    )
    spark.catalog.dropTempView("pre_epoch_q")
    import datetime as dt2
    assert got == [
        (dt2.datetime(1970, 1, 1, 0, 0, 0), 1),   # exactly-epoch kept
        (dt2.datetime(2024, 1, 1, 0, 0, 0), 1),
    ]
