"""Structured Streaming event analytics — SURVEY.md §2.10 X7.

Streaming twins of the batch operators in ``operators/events.py``.
Each takes a *streaming* DataFrame (``spark.readStream`` — file source
in tests, Kafka/rate in production) with the events schema and returns
a streaming DataFrame; callers pick sink + trigger. Tests replay the
corpus deterministically with ``trigger(availableNow=True)`` into a
memory sink and compare against the batch twin.

Watermarks bound state: a 10-minute watermark means an aggregation
bucket closes once the max seen event time passes bucket-end + 10min —
late rows beyond that are dropped (counted in
``streaming_late_data_policy`` docs below). At 100 TB/day the state
store is RocksDB-backed and keys are (window, type) / session — both
bounded, neither grows with history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.timeutil import instant_to_ntz, ntz_to_instant

WATERMARK = "10 minutes"
SESSION_GAP = "10 minutes"


def _with_event_time(events: DataFrame) -> DataFrame:
    """Watermarks require a real TIMESTAMP; the corpus reads as
    TIMESTAMP_NTZ. Convert deterministically (wall time read as UTC) —
    outputs convert back so results stay session-tz independent."""
    if dict(events.dtypes).get("ts") == "timestamp_ntz":
        return events.withColumn("ts", ntz_to_instant("ts"))
    return events


def hourly_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windowed aggregation with watermark — streaming
    twin of ``events_hourly_agg`` (same buckets: window.start ==
    date_trunc('hour', ts) for in-window events).

    EXPLICIT NULL-ts quarantine (r15 temporal-band null sweep): the
    engine's windowed aggregation silently drops rows whose event time
    is NULL — the same loud-not-implicit posture as the r14 pre-epoch
    quarantine; the replay's oracle mirrors the filter."""
    return (
        _with_event_time(events)
        .where(F.col("ts").isNotNull())
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            instant_to_ntz(F.col("w.start")).alias("hour_bucket"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sessionized(events: DataFrame) -> DataFrame:
    """Session windows with a 10-minute inactivity gap — streaming twin
    of the batch lag/running-sum sessionization (same gap constant:
    operators/events.py SESSION_GAP_SEC = 600).

    Pre-epoch quarantine (r14 temporal-hostility survey): Spark's
    event-time watermark lattice bottoms at epoch 0, and the
    session-window operator filters late SESSIONS against that initial
    watermark even in the very first micro-batch of a complete-mode
    replay — a session whose end (last event + gap) is before
    1970-01-01 00:00:00 UTC is silently dropped by the ENGINE (minimal
    repro in tests/test_streaming.py::test_session_window_pre_epoch_
    engine_drop; tumbling/sliding windows are not affected). A silent
    engine drop is exactly what this repo's loud-gap posture forbids,
    so pre-epoch event times (clock corruption by contract — the
    corpus's valid-ts predicates F6/F7 and the V1-V6 quarantine split
    already treat them as invalid) are filtered EXPLICITLY here, and
    the replay's oracle applies the identical predicate, making the
    boundary deterministic, mirrored, and tested instead of an engine
    internal. Epoch arithmetic (unix_micros), not tz-dependent
    formatting, per functions/timeutil.py."""
    return (
        _with_event_time(events)
        .filter(F.unix_micros(F.col("ts")) >= 0)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            instant_to_ntz(F.col("s.start")).alias("session_start"),
            instant_to_ntz(F.col("s.end")).alias("session_end"),
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame) -> DataFrame:
    """Streaming dedup on (user_id, event_type) bounded by the
    watermark — ``dropDuplicatesWithinWatermark`` keeps state only for
    the watermark horizon (the unbounded-state-safe form of the batch
    keyed dedup)."""
    out = _with_event_time(events).withWatermark(
        "ts", WATERMARK
    ).dropDuplicatesWithinWatermark(["user_id", "event_type"])
    if dict(events.dtypes).get("ts") == "timestamp_ntz":
        out = out.withColumn("ts", instant_to_ntz("ts"))
    return out


def purchase_click_attribution(events: DataFrame) -> DataFrame:
    """Stream-stream self-join with event-time bounds: every purchase
    paired with the same user's clicks in the preceding 30 minutes —
    streaming attribution. Both sides carry watermarks, and the join
    condition bounds click_ts to [purchase_ts − 30 min, purchase_ts],
    which is what lets the state store evict expired click rows (state
    is bounded by watermark + window, not history).

    Batch twin: the same filter/join expressions over the static
    table — the test replays the corpus in one micro-batch and the
    pair sets must be identical."""
    ev = _with_event_time(events)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", WATERMARK)
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")),
    )
    out = joined.select(
        F.col("p_user").alias("user_id"), "purchase_id", "click_id",
        "purchase_ts", "click_ts",
    )
    return out


def stream_upsert_to_parquet(
    spark: SparkSession,
    events: DataFrame,
    target: str,
    checkpoint: str,
    natural_key: list[str] | None = None,
):
    """``foreachBatch`` lake sink: every micro-batch merges into the
    parquet table by natural key (``sinks.upsert.upsert_parquet``), so
    the end-to-end pipeline is *idempotent* — Structured Streaming
    guarantees at-least-once delivery to foreachBatch after a failure,
    and the key-merge turns redelivered rows into no-ops (effective
    exactly-once at the table level). This is the production shape for
    continuous ingestion into a lake table: the same merge the batch
    loads use (reference load semantics, ``main.ts:102-103``), driven
    by the streaming engine's checkpointed offsets. Each micro-batch
    rewrites the whole target table.

    Returns the started StreamingQuery (caller awaits termination)."""
    from ..sinks.upsert import upsert_parquet

    key = natural_key or ["event_id"]

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        upsert_parquet(spark, batch_df, target, key)

    return (
        events.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
