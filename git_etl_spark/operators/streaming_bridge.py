"""Streaming-as-a-query bridge — SURVEY.md §2.10 X7.

Registers the *actual Structured Streaming pipelines* as driver-
checkable queries: the events table is replayed through a file-source
stream with ``trigger(availableNow=True)`` into an in-memory table,
and the result is returned as a batch DataFrame. The oracle is the
same SQL as the batch twin — so the streaming engine's windowed /
session aggregation is held to the exact same DuckDB hash-match as
every batch operator (not just a rows-only smoke check).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..io import load_table, table_path
from ..registry import query
from ..session import scratch_dir, session_artifact
from ..streaming.events_stream import hourly_counts, sessionized


def _replay_partitions(
    spark: SparkSession, sf_dir: str, sized: bool = False
) -> int:
    """Shuffle/state partition count for a bounded replay.

    Two measured regimes (r11 cores screen, 10x events corpus,
    local[4] vs local[32]):

    - ``sized=False`` (JVM windowed/session/dedup/stream-join state):
      stay PINNED at 4. Raising to 16 was measured WORSE or flat for
      all four such replays (hourly 1.33->2.15 s, session 4.96->6.0,
      attribution 3.09->4.19, dedup 1.94->2.25 at 32 cores on 10x):
      their per-partition state is tiny, so extra partitions buy only
      extra HDFSBackedStateStore snapshot/commit cost per micro-batch.
      Their data growth is micro-batch machinery, not partition-starved
      compute — on a real cluster this knob follows STATE volume.
    - ``sized=True`` (Python-CPU-bound state folds and stateless
      foreachBatch sinks): follow SOURCE volume, ~512 KB of source
      parquet per partition, floor 4 (keeps sf0.1's 2 MB source at
      exactly 4), capped at the executor thread count. The pin of 4
      serialized the applyInPandasWithState fold 4-wide on 32 cores:
      10.2 s flat; sizing gives 5.4 s at 16-23 partitions and the A/B
      curve kept improving to 3.7 s at 32 — the fold is Arrow+pandas
      CPU, the opposite cost shape from the JVM state stores.
    """
    if not sized:
        return 4
    path = table_path(sf_dir, "events")
    if os.path.isdir(path):
        size = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
        )
    else:
        size = os.path.getsize(path)
    return max(
        4,
        min(spark.sparkContext.defaultParallelism, size // (1 << 19)),
    )


def _replay_source(spark: SparkSession, sf_dir: str) -> str:
    """The events table as replay source parquet, written in
    volume-sized file count so the file-source pre-shuffle stage has
    splits. Session artifact, consumed by every ``_replay`` query and
    streaming_foreachbatch_upsert_replay."""

    def build() -> str:
        path = scratch_dir("stream")
        load_table(spark, sf_dir, "events").repartition(
            _replay_partitions(spark, sf_dir, sized=True)
        ).write.parquet(path)
        return path

    return session_artifact(spark, "replay-source", sf_dir, ("events",), build)


def _await_replay(q: StreamingQuery) -> None:
    """Wait for an availableNow replay to drain. One still running at
    the timeout is stopped and raised, never read half-done."""
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(f"streaming replay {q.name or q.id} ran past 300 s")


def _replay(
    spark: SparkSession,
    sf_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    out_cols: list[str],
    output_mode: str = "complete",
    sized_partitions: bool = False,
) -> DataFrame:
    """Deterministic replay harness: events → parquet file stream →
    ``transform`` (a streaming/events_stream pipeline) → memory sink,
    with ``availableNow`` so every event is processed before the query
    stops. The result must therefore equal the batch twin bit-for-bit.

    Streaming aggregations ignore AQE: every micro-batch commits one
    state-store instance per shuffle partition, so the session's 32
    partitions would mean 32 HDFSBackedStateStore snapshots per trigger
    for a result of a few hundred groups at sf0.1. The stateful
    shuffle count comes from _replay_partitions — pinned 4 for JVM
    state (measured optimum at BOTH corpus scales), source-volume-
    sized for Python-CPU-bound folds (``sized_partitions=True``); see
    that docstring for the r11 A/B numbers behind the split."""
    events = load_table(spark, sf_dir, "events")
    n_parts = _replay_partitions(spark, sf_dir, sized=sized_partitions)
    stream = spark.readStream.schema(events.schema).parquet(
        _replay_source(spark, sf_dir)
    )
    name = f"stream_replay_{uuid.uuid4().hex[:8]}"
    sink_dir = scratch_dir("sink")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
    try:
        q = (
            transform(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        _await_replay(q)
        # materialize the sink contents to executor-written parquet so
        # the temp view can be dropped — the replay result never
        # round-trips the driver (streaming_attribution_replay output
        # grows with user count, so a collect() here would be a
        # 100×-scale bottleneck even though the windowed replays are
        # aggregate-sized)
        spark.table(name).select(*out_cols).write.parquet(sink_dir)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.catalog.dropTempView(name)
    return spark.read.parquet(sink_dir).select(*out_cols)


@query(
    "streaming_hourly_agg_replay",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_bucket, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    -- NULL-ts quarantine, mirrored from streaming/events_stream
    -- .hourly_counts (windowed agg drops NULL event times; r15)
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def streaming_hourly_agg_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window streaming aggregation, replayed deterministically:
    watermarked 1-hour windows (streaming/events_stream.py) must equal
    the batch group-by — which the DuckDB oracle then verifies."""
    return _replay(
        spark, sf_dir, hourly_counts,
        ["hour_bucket", "event_type", "n", "sum_value"],
    )


@query(
    "streaming_session_window_replay",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 10 MINUTE
                         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        -- pre-epoch quarantine, mirrored from streaming/events_stream
        -- .sessionized (engine's watermark lattice bottoms at epoch 0)
        WHERE ts >= TIMESTAMP '1970-01-01 00:00:00'
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM seq
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 10 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM numbered GROUP BY user_id, sid
    """,
)
def streaming_session_window_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window streaming aggregation (10-minute inactivity gap,
    ``F.session_window``) replayed deterministically and verified
    against the declarative gaps-and-islands form: a session breaks
    when consecutive per-user events are ≥ gap apart (Spark merges
    half-open [ts, ts+gap) windows, so a gap of exactly 10 minutes
    does NOT merge), session_end = last event + gap. The engine's
    merging session-state implementation is thereby held to the exact
    SQL fixpoint, not just row counts."""
    return _replay(
        spark, sf_dir, sessionized,
        ["user_id", "session_start", "session_end", "n_events"],
    )


@query(
    "streaming_stateful_counts_replay",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
)
def streaming_stateful_counts_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom-stateful escape hatch (``applyInPandasWithState``,
    streaming/stateful.py) held to a SQL oracle: per-user running
    event counts maintained in explicit GroupState are replayed to
    completion, and each user's *final* state row (counts are
    monotone, so max = last) must equal the batch GROUP BY — proving
    the operator's state fold reaches exactly-once totals across
    micro-batch boundaries, not merely that it runs. The float
    value-sum the operator also carries is deliberately excluded from
    the oracle column set (pandas batch-order float addition is not
    cross-engine-stable); the integer count is the exactness witness.

    State is one tuple per user (bounded keys; RocksDB-backed on a
    real cluster), and the replay pins the stateful shuffle to 4
    partitions like the other replays — state-store instance count
    follows state volume, not the session's batch default."""
    from ..streaming.stateful import running_user_totals

    updates = _replay(
        spark,
        sf_dir,
        running_user_totals,
        ["user_id", "n_events"],
        output_mode="update",
        # the state fold is Arrow+pandas CPU in Python workers — the
        # one replay class where partitions = parallelism, not
        # state-store overhead (r11 A/B: 10.2 s pinned -> 5.4 s sized
        # at 32 cores on the 10x corpus)
        sized_partitions=True,
    )
    return updates.groupBy("user_id").agg(
        F.max("n_events").cast("long").alias("n_events")
    )


@query(
    "streaming_attribution_replay",
    oracle="""
    WITH clicks AS (
        SELECT user_id, event_id AS click_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.purchase_id, c.click_id, p.purchase_ts, c.click_ts
    FROM purchases p JOIN clicks c
      ON c.user_id = p.user_id
     AND c.click_ts <= p.purchase_ts
     AND c.click_ts >= p.purchase_ts - INTERVAL 30 MINUTE
    """,
)
def streaming_attribution_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time join under the SQL oracle: purchases
    joined to the same user's clicks in the preceding 30 minutes, both
    sides watermarked so the state store evicts expired click rows
    (state bounded by watermark + window, not history), replayed to
    completion. The oracle is the plain interval join over the static
    table — the watermarked streaming join must reproduce it row for
    row, which pins the subtle part: inner-join matches emit
    immediately and no pair is lost or duplicated across micro-batch
    boundaries."""
    from ..streaming.events_stream import purchase_click_attribution

    return _replay(
        spark,
        sf_dir,
        purchase_click_attribution,
        ["user_id", "purchase_id", "click_id", "purchase_ts", "click_ts"],
        output_mode="append",
    )


@query(
    "streaming_dedup_replay",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup
    (``dropDuplicatesWithinWatermark``, streaming/events_stream.py)
    held to a key-coverage oracle: the distinct key set of the replayed
    dedup output must equal the batch DISTINCT — proving the stateful
    operator never LOSES a key (state evicted too early) and never
    INVENTS one, across micro-batch boundaries. Exact row multiplicity
    is intentionally not pinned: by contract the operator only
    guarantees suppression of duplicates arriving within the watermark
    horizon of each other, so keys recurring further apart may re-emit
    depending on batch splits — the coverage projection is the
    strongest batching-independent invariant, and the semantic pytest
    (tests/test_streaming.py) separately bounds the emitted count.
    State is (key → expiry) within the horizon — bounded, the 100 TB
    reason this variant exists over plain dropDuplicates."""
    from ..streaming.events_stream import dedup_within_watermark

    out = _replay(
        spark,
        sf_dir,
        dedup_within_watermark,
        ["user_id", "event_type"],
        output_mode="append",
    )
    return out.distinct()


@query(
    "streaming_foreachbatch_upsert_replay",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value FROM events
    """,
)
def streaming_foreachbatch_upsert_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-ingestion lake sink held to a table-equality
    oracle: events replay through ``foreachBatch`` into a parquet
    table via the same natural-key merge the batch loads use
    (streaming/events_stream.stream_upsert_to_parquet →
    sinks/upsert.upsert_parquet), and the FINAL TABLE must equal the
    source row-for-row — which pins the production property the sink
    exists for: at-least-once delivery + key-merge = effective
    exactly-once at the table level, across micro-batch boundaries
    and redeliveries (idempotence under full re-replay is separately
    pytest-asserted). Every column passes through unaggregated, so
    the hash compare is over raw values — any dropped, duplicated, or
    mutated row anywhere in the stream → merge → publish chain
    mismatches.

    Each micro-batch rewrites the whole target table, so the sink suits
    tables that fit one rewrite per trigger. The replay sizes the
    stateless shuffle from source volume like the other replays
    (_replay_partitions)."""
    from ..streaming.events_stream import stream_upsert_to_parquet

    events = load_table(spark, sf_dir, "events")
    # stateless sink: no state store at all, so partitions are pure
    # merge/write parallelism — volume-sized (r11: 1.67 -> 1.20 s at
    # 32 cores on the 10x corpus)
    n_parts = _replay_partitions(spark, sf_dir, sized=True)
    stream = spark.readStream.schema(events.schema).parquet(
        _replay_source(spark, sf_dir)
    )
    target, ckpt = scratch_dir("upsert"), scratch_dir("upsert-cp")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
    try:
        _await_replay(stream_upsert_to_parquet(spark, stream, target, ckpt))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.read.parquet(target).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
