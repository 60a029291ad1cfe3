"""Event analytics pack — SURVEY.md §2.10 X7 (batch shapes; the
streaming twins live in ``git_etl_spark.streaming``).

These are the batch formulations of the streaming operators: tumbling
window = date_trunc group-by; sessionization = gap-flag + running sum;
dedup-keep-earliest = row_number. The streaming module reuses the same
column logic over ``readStream`` with watermarks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dsum
from ..functions.timeutil import epoch_sec, trunc_hour_ntz
from ..io import load_table
from ..registry import query

SESSION_GAP_SEC = 600


@query(
    "events_hourly_agg",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_bucket, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour aggregation (batch twin of the streaming
    windowed count). ``date_trunc`` keeps the bucket a plain timestamp
    so the oracle compares directly; the streaming twin uses
    ``window(ts, '1 hour')`` which is the same bucketing."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        trunc_hour_ntz("ts").alias("hour_bucket"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        dsum("value").alias("sum_value"),
    )


@query(
    "events_sessionize",
    oracle=f"""
    WITH gapped AS (
        SELECT user_id, ts, event_id,
               CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(lag(ts) OVER w)) AS BIGINT) > {SESSION_GAP_SEC}
                     OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts, event_id,
               SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM gapped
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) - CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS duration_sec
    FROM numbered
    GROUP BY user_id, session_idx
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with a {SESSION_GAP}s inactivity gap:
    lag-gap flag → running sum = session index → per-session aggregate.
    One shuffle on user_id serves both windows and the final group-by
    (same partitioning, Catalyst reuses the exchange). Streaming twin:
    ``session_window(ts, '10 minutes')`` in streaming/events_stream.py.

    NULL-ts quarantine mirrored in both engines (r15 temporal-band
    null sweep): an event with no timestamp cannot be placed in any
    session, and unpinned the two engines disagreed structurally —
    Spark's NULLS-FIRST put each NULL-ts row at the partition head
    (lag NULL → its own new session) while DuckDB's NULLS-LAST merged
    them into the final session (NULL > gap is never TRUE)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = epoch_sec("ts") - epoch_sec(F.lag("ts").over(w))
    new_session = F.when(
        gap.isNull() | (gap > SESSION_GAP_SEC), F.lit(1)
    ).otherwise(F.lit(0))
    numbered = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_idx"),
    )
    return numbered.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (
            epoch_sec(F.max("ts")) - epoch_sec(F.min("ts"))
        ).alias("duration_sec"),
    )


@query(
    "events_dedup_earliest",
    oracle="""
    SELECT event_id, user_id, event_type, ts FROM (
        SELECT event_id, user_id, event_type, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts NULLS LAST, event_id) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def events_dedup_earliest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 keyed dedup with deterministic tie-break: first event per
    (user, type). ``dropDuplicates`` keeps an *arbitrary* row and is
    not oracle-checkable; row_number with a total order is the
    reproducible form (reference K3 first-writer-wins semantics,
    ``src/database.ts:149-152``). NULLS LAST pinned on both engines
    (r15 temporal-band null sweep): an undated event is "earliest"
    only when the group has no dated event at all — unpinned, Spark's
    NULLS-FIRST picked the undated row whenever one existed while
    DuckDB picked the dated one."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.asc_nulls_last("ts"), "event_id"
    )
    return (
        ev.select("event_id", "user_id", "event_type", "ts")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "join_asof_last_signup",
    oracle="""
    SELECT event_id, user_id, event_type,
           last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts NULLS LAST, event_id
                     ROWS UNBOUNDED PRECEDING) AS last_signup_at
    FROM events
    """,
)
def join_asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (self, backward): attach to every event the user's
    most recent signup at-or-before it. Spark has no asof-join
    operator; the composition is ``last(..., ignorenulls) over a
    running window`` after a union of both streams — one shuffle on
    the entity key, no range join needed. For two separate tables the
    same shape applies: tag sides, union, window, filter back to the
    probe side. NULLS LAST pinned on both engines (r15 temporal-band
    null sweep): undated rows sort after the dated stream, so they
    observe the full dated signup history — row-preserving, like the
    other as-of/LOCF projections."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    signup_ts = F.when(F.col("event_type") == "signup", F.col("ts"))
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.last(signup_ts, ignorenulls=True).over(w).alias("last_signup_at"),
    )


@query(
    "join_range_prior_hour",
    oracle="""
    SELECT p.event_id AS event_id,
           COUNT(e.event_id) AS n_prior,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS prior_value
    FROM events p
    LEFT JOIN events e
      ON e.user_id = p.user_id
     AND e.ts >= p.ts - INTERVAL 1 HOUR
     AND e.ts < p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
    """,
)
def join_range_prior_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (interval) join: for every purchase, the count and value
    of the same user's events in the preceding hour. Spark would plan
    the naive form as an equi join on user_id with the range as a
    post-join filter — fine until one user's history is large. The
    scale form here is **bucketed**: both sides key on
    (user_id, hour_bucket), the probe side explodes into the only two
    buckets its window can overlap, and the exact range predicate
    filters after the equi join. Work per probe row is bounded by two
    bucket partitions regardless of per-user history length, and the
    join stays a plain shuffled hash join Catalyst/AQE can size.
    Purchases with an empty window are restored by a left join back to
    the probe side (count 0, sum NULL — same as the oracle's outer
    aggregate)."""
    ev = load_table(spark, sf_dir, "events")

    def bucket(col: F.Column) -> F.Column:
        return F.floor(epoch_sec(col) / F.lit(3600))

    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    probe = purchases.withColumn(
        "bucket", F.explode(F.array(bucket(F.col("p_ts")) - 1, bucket(F.col("p_ts"))))
    )
    build = ev.select(
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
        "value",
    ).withColumn("bucket", bucket(F.col("e_ts")))
    in_window = (
        F.col("e_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")
    ) & (F.col("e_ts") < F.col("p_ts"))
    matched = (
        probe.join(
            build,
            (F.col("p_user") == F.col("e_user"))
            & (probe.bucket == build.bucket),
        )
        .filter(in_window)
        .groupBy("event_id")
        .agg(
            F.count("*").alias("n_prior"),
            dsum("value").alias("prior_value"),
        )
    )
    return purchases.join(matched, "event_id", "left").select(
        "event_id",
        F.coalesce("n_prior", F.lit(0)).alias("n_prior"),
        "prior_value",
    )


@query(
    "events_daily_activity",
    oracle="""
    SELECT CAST(ts AS DATE) AS event_day,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_purchases
    FROM events GROUP BY 1
    """,
)
def events_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users + purchase counts (D3 commits-per-day shape
    on the event stream)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").alias("event_day")).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("long").alias("n_purchases"),
    )


@query(
    "events_funnel_conversion",
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t2
          FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t1
          WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t3
          FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t2
          WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click_after_view,
           (SELECT COUNT(*) FROM p) AS n_purchase_after_click
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): users counted at each
    stage only if the stage event strictly follows their first event of
    the previous stage. Each stage is a per-user MIN + a non-equi
    semi-ish join against the previous stage's firsts — all stages
    shuffle on user_id, so Catalyst reuses one exchange across the
    whole funnel. The canonical product-analytics sequence operator."""
    ev = load_table(spark, sf_dir, "events")

    def firsts(df: DataFrame, etype: str, alias_ts: str) -> DataFrame:
        return (
            df.filter(F.col("event_type") == etype)
            .groupBy("user_id")
            .agg(F.min("ts").alias(alias_ts))
        )

    v = firsts(ev, "view", "t1")
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_click_after_view")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase_after_click")))
    )


@query(
    "events_cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day FROM events
        GROUP BY user_id
    ),
    active AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events
    )
    SELECT f.cohort_day, datediff('day', f.cohort_day, a.active_day) AS day_offset,
           COUNT(*) AS n_users
    FROM firsts f JOIN active a USING (user_id)
    GROUP BY f.cohort_day, datediff('day', f.cohort_day, a.active_day)
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, one
    row per (cohort day, day offset) with the count of users still
    active. Two aggregates over the same user_id shuffle (first-seen
    and distinct active days) joined per user — the standard retention
    triangle, linear in events."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("cohort_day")
    )
    active = ev.select("user_id", F.to_date("ts").alias("active_day")).distinct()
    return (
        firsts.join(active, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("active_day", "cohort_day").alias("day_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


@query(
    "events_gapfill_locf",
    oracle="""
    WITH ev AS (
        SELECT user_id, ts, value FROM events WHERE user_id IS NOT NULL
    ),
    bounds AS (
        SELECT user_id, date_trunc('hour', MIN(ts)) AS h0,
               date_trunc('hour', MAX(ts)) AS h1
        FROM ev GROUP BY user_id
    ),
    spine AS (
        SELECT user_id,
               unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_bucket
        FROM bounds
    ),
    hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS hour_bucket,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS hour_value
        FROM ev GROUP BY user_id, date_trunc('hour', ts)
    )
    SELECT s.user_id, s.hour_bucket,
           last_value(h.hour_value IGNORE NULLS)
               OVER (PARTITION BY s.user_id ORDER BY s.hour_bucket
                     ROWS UNBOUNDED PRECEDING) AS locf_value,
           CASE WHEN h.hour_value IS NULL THEN 1 ELSE 0 END AS filled
    FROM spine s
    LEFT JOIN hourly h ON h.user_id = s.user_id
                      AND h.hour_bucket = s.hour_bucket
    """,
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-fill: a per-user hourly spine between the
    user's first and last event, hourly sums attached, missing hours
    filled by last-observation-carried-forward (the time-series
    interpolation step a rollup pipeline needs before diffing or
    charting).

    Plan shape: LOCF over a spine is computed WITHOUT materializing
    the spine join or running a window over the filled rows. The LOCF
    generators are the hours with a NON-NULL aggregated value (the
    running window's IGNORE NULLS skips null-sum hours, so they carry
    like gaps); each generator covers [its hour, next generator) and
    the LAST one extends to the user's spine end h1. A per-user
    virtual NULL generator at the spine start h0 covers the leading
    segment when the first value-bearing hour is later than h0 (or
    absent entirely) — locf NULL, filled 1, exactly the running
    window's leading-null behavior. ``filled`` is 0 only on a
    generator's own non-null hour (the oracle's
    ``h.hour_value IS NULL`` flag is true for gap hours AND observed
    hours whose sum is NULL). One lead() window over the generator
    rows, then a sequence-explode emits the filled rows directly.
    vs the naive spine-join-then-running-window: no 1M-row left join,
    no 1M-row sort — the window sorts only observed hours, and the
    explode is embarrassingly parallel after an explicit round-robin
    rebalance (which also defeats AQE's byte-based coalescer, which
    sees only the tiny pre-explode relation and collapsed the naive
    plan's entire explode+join+sort tail onto one task). Measured
    noop-sink at sf0.1: 1.47 s naive → ~1 s. The oracle keeps the
    spine-join + running-window formulation, so the interval
    equivalence is hash-checked; the null-sum edge (absent from the
    driver corpus) carries a planted-NULL pytest against the same
    oracle SQL.

    NULL-user quarantine mirrored in both engines (r15 numeric-band
    null sweep): a per-user spine for "unknown user" is meaningless,
    and the two formulations disagreed incoherently on it — the
    oracle's equi-join (NULL ≠ NULL) emitted the NULL user's spine
    with its own hourly values UNJOINABLE, while the Spark interval
    form dropped the user at the bounds join. Untagged events don't
    gap-fill."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    hourly = ev.groupBy(
        "user_id", trunc_hour_ntz("ts").alias("hour_bucket")
    ).agg(dsum("value").alias("hour_value"))
    # spine bounds derive from the hourly aggregate, not a second
    # events scan: trunc(min ts) IS the minimum observed hour (and
    # likewise for max), so one re-aggregation of the small hourly
    # relation yields h0, h1, and the first value-bearing hour v1
    bounds = hourly.groupBy("user_id").agg(
        F.min("hour_bucket").alias("h0"),
        F.max("hour_bucket").alias("h1"),
        F.min(
            F.when(F.col("hour_value").isNotNull(), F.col("hour_bucket"))
        ).alias("v1"),
    )
    valued = hourly.filter(F.col("hour_value").isNotNull())
    lead_gen = (
        bounds.filter(F.col("v1").isNull() | (F.col("v1") > F.col("h0")))
        .select(
            "user_id",
            F.col("h0").alias("hour_bucket"),
            F.lit(None).cast("double").alias("hour_value"),
        )
    )
    gens = valued.select(
        "user_id", "hour_bucket", "hour_value"
    ).unionByName(lead_gen)
    w = Window.partitionBy("user_id").orderBy("hour_bucket")
    intervals = (
        gens.withColumn("nxt", F.lead("hour_bucket").over(w))
        .join(bounds.select("user_id", "h1"), "user_id")
        .select(
            "user_id",
            "hour_bucket",
            "hour_value",
            F.coalesce(
                F.col("nxt") - F.expr("INTERVAL 1 HOUR"), F.col("h1")
            ).alias("cover_end"),
        )
    )
    return (
        intervals.repartition(spark.sparkContext.defaultParallelism)
        .select(
            "user_id",
            F.col("hour_bucket").alias("gen_hour"),
            "hour_value",
            F.explode(
                F.sequence(
                    "hour_bucket", "cover_end", F.expr("INTERVAL 1 HOUR")
                )
            ).alias("hour_bucket"),
        )
        .select(
            "user_id",
            "hour_bucket",
            F.col("hour_value").alias("locf_value"),
            F.when(F.col("hour_bucket") > F.col("gen_hour"), 1)
            .when(F.col("hour_value").isNull(), 1)
            .otherwise(0)
            .alias("filled"),
        )
    )


@query(
    "scd2_purchase_tier_history",
    oracle="""
    WITH tiers AS (
        SELECT user_id, event_id, ts,
               CASE WHEN value >= 50 THEN 'high' ELSE 'low' END AS tier
        FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
    ),
    flagged AS (
        SELECT user_id, event_id, ts, tier,
               lag(tier) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_tier
        FROM tiers
    ),
    changes AS (
        SELECT user_id, event_id, ts, tier FROM flagged
        WHERE prev_tier IS NULL OR tier <> prev_tier
    )
    SELECT user_id, tier, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to,
           CASE WHEN lead(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM changes
    """,
)
def scd2_purchase_tier_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build from a change stream: per-user
    purchase-tier history with change capture (consecutive identical
    tiers collapse via a lag compare) and validity intervals
    (valid_from/valid_to via lead; open row flagged current). This is
    the distributed form of the reference's upsert-with-history load
    pattern: both window passes ride one user_id shuffle, and at
    100 TB the change-capture filter drops the (dominant) unchanged
    rows before the second pass. NULL-ts quarantine mirrored (r15
    temporal-band null sweep): an undated tier change cannot anchor a
    validity interval — its engine-dependent sort slot rewrote the
    whole change chain."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    tier = F.when(F.col("value") >= 50, "high").otherwise("low")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "ts", tier.alias("tier"))
        .withColumn("prev_tier", F.lag("tier").over(w))
    )
    changes = flagged.filter(
        F.col("prev_tier").isNull() | (F.col("tier") != F.col("prev_tier"))
    )
    lead_ts = F.lead("ts").over(w)
    return changes.select(
        "user_id",
        "tier",
        F.col("ts").alias("valid_from"),
        lead_ts.alias("valid_to"),
        F.when(lead_ts.isNull(), 1).otherwise(0).alias("is_current"),
    )


@query(
    "events_rolling_7day_distinct_users",
    oracle="""
    WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    SELECT d.day AS day, CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS wau
    FROM d JOIN events e
      ON CAST(e.ts AS DATE) BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    """,
)
def events_rolling_7day_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users (WAU per day) — COUNT(DISTINCT)
    over a sliding frame is NOT a window function (distinct state
    can't slide), so engines either self-join a day spine against the
    fact (the oracle's O(days·rows-in-range) form) or, the scale-right
    shape used here: each event fans out to the ≤7 window-days it
    contributes to (bounded explode — sequence(day, day+6)), then one
    distinct aggregate per (window_day, user). The fan-out factor is
    the window length — constant — so the shuffle is 7× events
    regardless of day count, beats the spine join once days × events
    outgrows it, and a hot day salts like any grouped distinct.
    A semi-join against observed days drops the spill-over days past
    the corpus edge."""
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    days = ev.select(day.alias("day")).distinct()
    contrib = ev.select(
        F.explode(F.sequence(day, F.date_add(day, 6))).alias("day"),
        "user_id",
    )
    return (
        contrib.join(F.broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    )


@query(
    "events_hourly_anomaly",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour_bucket,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    scored AS (
        SELECT hour_bucket, n,
               CAST(SUM(n) OVER w AS BIGINT) AS s,
               CAST(SUM(n * n) OVER w AS BIGINT) AS ss,
               CAST(COUNT(*) OVER w AS BIGINT) AS k
        FROM hourly
        WINDOW w AS (ORDER BY hour_bucket
                     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT hour_bucket, n,
           CAST(s AS DOUBLE) / k AS trailing_mean,
           (n - CAST(s AS DOUBLE) / k)
             / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / k) / k)
             AS zscore,
           abs((n - CAST(s AS DOUBLE) / k)
             / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / k) / k)) >= 3.0
             AS is_anomaly
    FROM scored
    WHERE k = 24
      AND (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / k) > 0
    """,
)
def events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection on the event stream: each
    hour's count scored against the mean/variance of the previous 24
    hours (the current hour excluded — no self-contamination), flagging
    |z| ≥ 3. Hours without a full trailing day (or with a degenerate
    zero-variance window) are excluded on both engines.

    All window sums are exact integers; mean/variance/z become doubles
    through the identical expression on both engines, so the flag
    compares identical bit patterns. One shuffle to hourly buckets +
    one ordered window — at 100 TB the hourly rollup is tiny regardless
    of input volume, so this is effectively free after aggregation
    (and the rollup itself is partial-aggregated).

    NULL-ts quarantine mirrored (r15 temporal-band null sweep): an
    undated event belongs to no hour, and the NULL bucket's position
    in the trailing-24 ordering was engine-dependent, shifting every
    early hour's window."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    hourly = ev.groupBy(trunc_hour_ntz("ts").alias("hour_bucket")).agg(
        F.count("*").alias("n")
    )
    w = Window.orderBy("hour_bucket").rowsBetween(-24, -1)
    scored = hourly.select(
        "hour_bucket",
        "n",
        F.sum("n").over(w).alias("s"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("ss"),
        F.count("*").over(w).alias("k"),
    )
    mean = F.col("s").cast("double") / F.col("k")
    var = (
        F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("k")
    ) / F.col("k")
    z = (F.col("n") - mean) / F.sqrt(var)
    return (
        scored.filter(
            (F.col("k") == 24)
            & (
                (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("k"))
                > 0
            )
        )
        .select(
            "hour_bucket",
            "n",
            mean.alias("trailing_mean"),
            z.alias("zscore"),
            (F.abs(z) >= 3.0).alias("is_anomaly"),
        )
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS src_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS dst_type
        FROM events WHERE ts IS NOT NULL
    ),
    trans AS (
        SELECT src_type, dst_type, CAST(COUNT(*) AS BIGINT) AS n_trans
        FROM seq WHERE dst_type IS NOT NULL
        GROUP BY src_type, dst_type
    )
    SELECT src_type, dst_type, n_trans,
           CAST(SUM(n_trans) OVER (PARTITION BY src_type) AS BIGINT)
               AS n_from_src,
           CAST((n_trans * 1000000)
                // (SUM(n_trans) OVER (PARTITION BY src_type)) AS BIGINT)
               AS prob_ppm
    FROM trans
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every (src_type, dst_type) pair, the transition
    count and its probability out of src_type. The user-journey
    building block behind next-action prediction features and
    anomaly-path mining.

    Probabilities are emitted in exact integer parts-per-million
    (``n·10⁶ div total``) — no decimal/double division whose last-bit
    rounding could differ across engines. One window shuffle on
    user_id (sequence construction) + one small aggregation: at 100 TB
    the transition matrix is |types|² rows regardless of input volume
    (NULL-ts quarantine mirrored, r15 temporal-band null sweep: an
    undated event cannot sit in a temporal sequence), and
    the window itself partitions on the natural event-log key."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src_type"),
        F.lead("event_type").over(w).alias("dst_type"),
    ).filter(F.col("dst_type").isNotNull())
    trans = seq.groupBy("src_type", "dst_type").agg(
        F.count("*").alias("n_trans")
    )
    per_src = Window.partitionBy("src_type")
    return trans.select(
        "src_type",
        "dst_type",
        "n_trans",
        F.sum("n_trans").over(per_src).alias("n_from_src"),
        F.expr("n_trans * 1000000 div SUM(n_trans) OVER (PARTITION BY src_type)")
        .cast("long")
        .alias("prob_ppm"),
    )


@query(
    "cdc_merge_apply",
    oracle="""
    WITH log AS (
        SELECT user_id, ts, event_id, value,
               CASE event_type WHEN 'signup' THEN 'I'
                               WHEN 'error'  THEN 'D'
                               ELSE 'U' END AS op
        FROM events
    ),
    ranked AS (
        SELECT user_id, ts, event_id, value, op,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops
        FROM log
    )
    SELECT user_id, op AS last_op, ts AS last_ts, value AS last_value, n_ops
    FROM ranked
    WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog compaction — MERGE INTO semantics applied in bulk:
    the event log is read as an insert/update/delete changelog
    (signup→I, error→D, everything else→U) keyed by user, and folded
    into the final snapshot: the last operation per key wins, and keys
    whose last operation is a delete are absent from the snapshot.

    This is the canonical lakehouse pattern for applying a Debezium/
    binlog-style feed to a table without a row-at-a-time writer: one
    shuffle on the merge key, a per-key ordered window, and a filter.
    At 100 TB the changelog batch — not the snapshot — sizes the
    shuffle, and the same plan handles out-of-order delivery because
    the (ts, event_id) sequence number, not arrival order, decides the
    winner. Re-running the batch is idempotent (same winner), giving
    effective exactly-once on replay."""
    ev = load_table(spark, sf_dir, "events")
    log = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    per_key = Window.partitionBy("user_id")
    ranked = log.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        "op",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(per_key).alias("n_ops"),
    )
    return ranked.filter((F.col("rn") == 1) & (F.col("op") != "D")).select(
        "user_id",
        F.col("op").alias("last_op"),
        F.col("ts").alias("last_ts"),
        F.col("value").alias("last_value"),
        "n_ops",
    )


EWMA_TERMS = 10  # lookback observations; alpha = 1/2 (dyadic-exact)


@query(
    "events_ewma_halving",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    )
    SELECT user_id, day, cnt,
           (  CAST(cnt AS DOUBLE)
            + COALESCE(lag(cnt, 1) OVER w, 0) * 0.5
            + COALESCE(lag(cnt, 2) OVER w, 0) * 0.25
            + COALESCE(lag(cnt, 3) OVER w, 0) * 0.125
            + COALESCE(lag(cnt, 4) OVER w, 0) * 0.0625
            + COALESCE(lag(cnt, 5) OVER w, 0) * 0.03125
            + COALESCE(lag(cnt, 6) OVER w, 0) * 0.015625
            + COALESCE(lag(cnt, 7) OVER w, 0) * 0.0078125
            + COALESCE(lag(cnt, 8) OVER w, 0) * 0.00390625
            + COALESCE(lag(cnt, 9) OVER w, 0) * 0.001953125
           ) AS ewma
    FROM daily
    WINDOW w AS (PARTITION BY user_id ORDER BY day)
    """,
)
def events_ewma_halving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of per-user daily activity
    with decay α = 1/2 over the last 10 observations — the recency-
    weighted engagement signal behind churn features and adaptive rate
    limits.

    Float EWMAs are normally oracle-hostile (recursive double
    arithmetic), but α = 1/2 makes every weight 2⁻ᵏ — a dyadic
    rational — so each term (integer count × 2⁻ᵏ) and their sum are
    *exactly* representable doubles: both engines produce identical
    bit patterns regardless of evaluation order, and the query is
    hash-verified like any exact one. One shuffle on user_id; the
    lag-chain is a single window pass with a 10-row frame, state O(1)
    per user — at 100 TB the daily rollup, not the event volume,
    sizes the window input.

    NULL-ts quarantine mirrored (r15 temporal-band null sweep): a
    NULL "day" bucket is not a day, and its engine-dependent position
    in the per-user ORDER BY day shifted the whole lag chain."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("user_id").orderBy("day")
    terms = F.col("cnt").cast("double")
    for k in range(1, EWMA_TERMS):
        terms = terms + F.coalesce(F.lag("cnt", k).over(w), F.lit(0)) * F.lit(
            0.5**k
        )
    return daily.select("user_id", "day", "cnt", terms.alias("ewma"))


@query(
    "join_scd2_point_in_time",
    oracle="""
    WITH tiers AS (
        SELECT user_id, event_id, ts,
               CASE WHEN value >= 50 THEN 'high' ELSE 'low' END AS tier
        FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
          AND user_id IS NOT NULL
    ),
    flagged AS (
        SELECT user_id, event_id, ts, tier,
               lag(tier) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_tier
        FROM tiers
    ),
    hist AS (
        SELECT user_id, tier, ts AS valid_from, event_id,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS valid_to
        FROM flagged
        WHERE prev_tier IS NULL OR tier <> prev_tier
    ),
    clicks AS (
        SELECT user_id, event_id AS click_id, ts
        FROM events WHERE event_type = 'click' AND ts IS NOT NULL
          AND user_id IS NOT NULL
    )
    SELECT c.click_id, c.user_id, c.ts, h.tier AS tier_at_click
    FROM clicks c JOIN hist h
      ON h.user_id = c.user_id
     AND c.ts >= h.valid_from
     AND (h.valid_to IS NULL OR c.ts < h.valid_to)
    """,
)
def join_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) enrichment against the SCD2 tier
    history: every click is stamped with the purchase tier that was
    valid at the click's timestamp — the lookup every
    training-feature join must get right to avoid future leakage.

    The oracle states the semantics as the obvious interval join; the
    Spark plan deliberately does NOT run that join (a range predicate
    per user would fan out and skew). Instead it uses the union-LOCF
    formulation: change rows and probe rows are unioned, sorted once
    per user by (ts, kind, event_id) — change rows first at equal
    timestamps, so a same-instant change applies to the click, and
    same-instant duplicate changes resolve to the highest event_id,
    exactly the zero-width-interval semantics of the oracle's join —
    and the valid tier is carried forward with last_value(ignorenulls)
    in ONE window pass. One shuffle on user_id, O(1) state per row,
    no range explosion: the as-of pattern that survives 100 TB.

    NULL-ts quarantine mirrored (r15 temporal-band null sweep): an
    undated click has no "point in time" to look up (the oracle's
    range predicate silently dropped it; the LOCF form stamped it),
    and an undated change can't anchor an interval. NULL-user rows
    are quarantined with it: the oracle's equi-join can never match
    them while the LOCF window's NULL partition stamps them — and
    untagged events are not an entity to enrich."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    tier = F.when(F.col("value") >= 50, "high").otherwise("low")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "ts", tier.alias("tier"))
        .withColumn("prev_tier", F.lag("tier").over(w))
    )
    changes = flagged.filter(
        F.col("prev_tier").isNull() | (F.col("tier") != F.col("prev_tier"))
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.lit(0).alias("kind"),
        F.col("tier"),
        F.lit(None).cast("long").alias("click_id"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("kind"),
        F.lit(None).cast("string").alias("tier"),
        F.col("event_id").alias("click_id"),
    )
    merged = changes.unionByName(clicks)
    w_locf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    stamped = merged.withColumn(
        "tier_at_click", F.last("tier", ignorenulls=True).over(w_locf)
    )
    return stamped.filter(
        (F.col("kind") == 1) & F.col("tier_at_click").isNotNull()
    ).select("click_id", "user_id", "ts", "tier_at_click")


@query(
    "events_rfm_segmentation",
    oracle="""
    WITH purchases AS (
        SELECT user_id, ts, CAST(value AS DECIMAL(18,2)) AS v
        FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ),
    anchor AS (SELECT MAX(ts) AS max_ts FROM purchases),
    per_user AS (
        SELECT user_id,
               CAST((CAST(FLOOR(epoch((SELECT max_ts FROM anchor))) AS BIGINT)
                     - CAST(FLOOR(epoch(MAX(ts))) AS BIGINT)) // 86400
                    AS BIGINT) AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(v) AS DOUBLE) AS monetary
        FROM purchases GROUP BY user_id
    ),
    scored AS (
        SELECT user_id, recency_days, frequency, monetary,
               CAST(ntile(5) OVER (ORDER BY recency_days DESC NULLS FIRST,
                                   user_id)
                    AS BIGINT) AS r_score,
               CAST(ntile(5) OVER (ORDER BY frequency ASC, user_id)
                    AS BIGINT) AS f_score,
               CAST(ntile(5) OVER (ORDER BY monetary ASC NULLS FIRST,
                                   user_id)
                    AS BIGINT) AS m_score
        FROM per_user
    )
    SELECT user_id, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           r_score * 100 + f_score * 10 + m_score AS rfm
    FROM scored
    """,
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency (days since last purchase,
    anchored at the corpus's latest purchase timestamp so the result is
    reproducible), frequency, and decimal-exact monetary value, each
    quintile-scored with a total tie-break order so ntile is
    deterministic, composed into the classic 3-digit RFM code.

    One shuffle aggregates events to one row per user; the three
    ntile windows run over that per-user aggregate, so their input is
    bounded by |users| (~20k rows at 10x sf0.1), not |events| — a
    single-task sort of it takes milliseconds."""
    # NULL-user quarantine mirrored (r15 band null sweep): untagged
    # purchases are not a customer — the NULL pseudo-user also made
    # the ntile user_id tie-break engine-dependent (Spark ASC is
    # NULLS FIRST, DuckDB NULLS LAST), shifting every tile boundary.
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    ).select(
        "user_id", "ts", F.col("value").cast("decimal(18,2)").alias("v")
    )
    anchor = purchases.agg(F.max("ts").alias("max_ts"))
    per_user = (
        purchases.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count("*").alias("frequency"),
            F.sum("v").alias("msum"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            (
                (epoch_sec("max_ts") - epoch_sec("last_ts"))
                / F.lit(86400)
            )
            .cast("long")
            .alias("recency_days"),
            F.col("frequency").cast("long"),
            F.col("msum").cast("double").alias("monetary"),
        )
    )
    # explicit null ends, mirrored (r15 temporal-band null sweep): a
    # user whose every purchase is undated/unpriced has NULL recency/
    # monetary — pinned to the WORST tile (score 1) on both engines
    # (oldest recency side of DESC, lowest monetary side of ASC);
    # Spark and DuckDB defaults disagree on the ASC case.
    w_r = Window.orderBy(
        F.desc_nulls_first("recency_days"), F.col("user_id")
    )
    w_f = Window.orderBy(F.col("frequency").asc(), F.col("user_id"))
    w_m = Window.orderBy(
        F.asc_nulls_first("monetary"), F.col("user_id")
    )
    scored = per_user.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(5).over(w_r).cast("long").alias("r_score"),
        F.ntile(5).over(w_f).cast("long").alias("f_score"),
        F.ntile(5).over(w_m).cast("long").alias("m_score"),
    )
    return scored.withColumn(
        "rfm",
        F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"),
    )


@query(
    "cdc_snapshot_diff",
    oracle="""
    WITH snap_a AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
        GROUP BY user_id
    ),
    snap_b AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events WHERE ts < TIMESTAMP '2024-01-31 00:00:00'
        GROUP BY user_id
    )
    SELECT COALESCE(a.user_id, b.user_id) AS user_id,
           CASE WHEN a.user_id IS NULL THEN 'I'
                WHEN b.user_id IS NULL THEN 'D'
                ELSE 'U' END AS op,
           a.n_events AS old_n_events, b.n_events AS new_n_events,
           a.total_value AS old_total_value, b.total_value AS new_total_value
    FROM snap_a a FULL OUTER JOIN snap_b b ON a.user_id = b.user_id
    WHERE a.user_id IS NULL OR b.user_id IS NULL
       OR a.n_events <> b.n_events OR a.total_value <> b.total_value
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data *extraction*: diff two snapshots of a derived table
    (per-user rollups as of Jan 16 vs Jan 31) into an I/U/D changelog —
    the inverse of cdc_merge_apply, and together they close the loop:
    extract a feed from any pair of snapshots, apply it elsewhere.
    This is how a lake emits a change feed for tables whose producer
    doesn't publish one.

    One full outer join on the snapshot key; unchanged keys (the
    dominant case) are filtered by column comparison, so the feed is
    ∝ churn, not table size. Aggregates are decimal-exact, so
    'changed' is a bit-exact predicate both engines agree on; at
    100 TB the same plan rides snapshot-partitioned storage and the
    outer join is the only shuffle."""
    ev = load_table(spark, sf_dir, "events")

    def snap(cutoff: str) -> DataFrame:
        return (
            ev.filter(F.col("ts") < F.lit(cutoff).cast("timestamp"))
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                dsum("value").alias("total_value"),
            )
        )

    a = snap("2024-01-16 00:00:00").alias("a")
    b = snap("2024-01-31 00:00:00").alias("b")
    joined = a.join(b, F.col("a.user_id") == F.col("b.user_id"), "full_outer")
    changed = joined.filter(
        F.col("a.user_id").isNull()
        | F.col("b.user_id").isNull()
        | (F.col("a.n_events") != F.col("b.n_events"))
        | (F.col("a.total_value") != F.col("b.total_value"))
    )
    return changed.select(
        F.coalesce(F.col("a.user_id"), F.col("b.user_id")).alias("user_id"),
        F.when(F.col("a.user_id").isNull(), "I")
        .when(F.col("b.user_id").isNull(), "D")
        .otherwise("U")
        .alias("op"),
        F.col("a.n_events").alias("old_n_events"),
        F.col("b.n_events").alias("new_n_events"),
        F.col("a.total_value").alias("old_total_value"),
        F.col("b.total_value").alias("new_total_value"),
    )


@query(
    "events_path_trigrams_top10",
    oracle="""
    WITH seq AS (
        SELECT event_type AS a,
               lead(event_type, 1) OVER w AS b,
               lead(event_type, 2) OVER w AS c
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE b IS NOT NULL AND c IS NOT NULL
    GROUP BY a, b, c
    ORDER BY n DESC, a, b, c
    LIMIT 10
    """,
)
def events_path_trigrams_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining one order above the Markov matrix:
    the ten most frequent 3-step user paths (event-type trigrams over
    per-user time order). The path-analysis primitive behind journey
    dashboards and funnel hypothesis generation.

    Same single user_id window shuffle as events_markov_transitions —
    two leads instead of one, state O(1) per row — then a trigram
    aggregate whose cardinality is |types|³ regardless of corpus size,
    so the top-10 is a TakeOrdered over at most 125 rows. NULL-ts
    quarantine mirrored (r15 temporal-band null sweep): an undated
    event has no position in a temporal path — its engine-dependent
    sort slot rewired adjacency for the whole user."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).filter(F.col("b").isNotNull() & F.col("c").isNotNull())
    return (
        seq.groupBy("a", "b", "c")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "a", "b", "c")
        .limit(10)
    )


@query(
    "events_interarrival_stats",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT)
                 - CAST(FLOOR(epoch(lag(ts) OVER w)) AS BIGINT) AS gap_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
           CAST(median(gap_s) * 2 AS BIGINT) AS median_gap_2s,
           CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY user_id
    """,
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival statistics — the temporal signature
    behind bot detection (metronome-regular gaps), engagement scoring,
    and session-gap calibration (events_sessionize's 600 s threshold
    came from exactly this distribution): consecutive-event gaps in
    whole seconds, summarized per user. The median rides as
    2·median so even-count interpolation (k+0.5) stays integer-exact
    across engines (the doubled-median device from
    quality_outliers_mad).

    One user_id window shuffle computes every gap; the summary is the
    same shuffle's aggregate. State O(1) per row, no second pass."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (epoch_sec("ts") - epoch_sec(F.lag("ts").over(w))).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.min("gap_s").cast("long").alias("min_gap_s"),
        (F.expr("percentile(gap_s, 0.5)") * 2).cast("long").alias("median_gap_2s"),
        F.max("gap_s").cast("long").alias("max_gap_s"),
    )


@query(
    "events_hourly_ohlc",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_bucket,
           arg_min(value, (CAST(FLOOR(epoch(ts)) AS BIGINT)
                           - CAST(FLOOR(epoch(date_trunc('hour', ts))) AS BIGINT))
                          * 1000000000000 + event_id) AS open_value,
           MAX(value) AS high_value,
           MIN(value) AS low_value,
           arg_max(value, (CAST(FLOOR(epoch(ts)) AS BIGINT)
                           - CAST(FLOOR(epoch(date_trunc('hour', ts))) AS BIGINT))
                          * 1000000000000 + event_id) AS close_value,
           CAST(COUNT(*) AS BIGINT) AS n_trades
    FROM events
    WHERE event_type = 'purchase' AND ts IS NOT NULL AND value IS NOT NULL
    GROUP BY date_trunc('hour', ts)
    """,
)
def events_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC (open-high-low-close) candles over purchase values —
    the canonical financial/telemetry downsampling shape. Open and
    close are argmin/argmax over one scalar order key: the key only
    orders *within* an hour group, so the hour base is redundant and
    seconds-within-hour (< 3600) is used instead of the full epoch —
    sec_in_hour·10¹² + event_id caps at 3.6·10¹⁵, giving event_id
    headroom to 10¹² inside BIGINT (the previous full-epoch·10⁸ key
    silently bled into the next second at event_id ≥ 10⁸); ties at
    the same second resolve identically in both engines. High/low are
    plain extremes; raw values pass through untouched, so doubles
    compare bit-for-bit with no decimal detour.

    One partial-aggregated shuffle on the hour bucket: min_by/max_by
    partials carry (value, key) pairs, so the candle build is a single
    pass at any scale — never a window sort over the bucket.

    Mirrored participation filter (r15 temporal-band null sweep): an
    undated trade belongs to no candle (the NULL hour bucket's arg
    keys are all NULL — engine-specific argmin), and an unpriced one
    can't set open/close (min_by would surface its NULL while the
    oracle's arg_min skips it)."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    order_key = (
        epoch_sec("ts") - epoch_sec(F.date_trunc("hour", "ts"))
    ) * F.lit(10**12).cast("long") + F.col("event_id")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour_bucket")
    ).agg(
        F.min_by("value", order_key).alias("open_value"),
        F.max("value").alias("high_value"),
        F.min("value").alias("low_value"),
        F.max_by("value", order_key).alias("close_value"),
        F.count("*").cast("long").alias("n_trades"),
    )


@query(
    "events_max_concurrency",
    oracle=f"""
    WITH gapped AS (
        SELECT user_id, ts, event_id,
               CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                         - CAST(FLOOR(epoch(lag(ts) OVER w)) AS BIGINT)
                         > {SESSION_GAP_SEC}
                     OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM gapped
    ),
    sessions AS (
        SELECT user_id, sid, MIN(ts) AS s_start,
               MAX(ts) + INTERVAL {SESSION_GAP_SEC} SECOND AS s_end
        FROM numbered GROUP BY user_id, sid
    ),
    boundaries AS (
        SELECT s_start AS t, 1 AS delta, 0 AS is_end FROM sessions
        UNION ALL
        SELECT s_end, -1, 1 FROM sessions
    ),
    swept AS (
        SELECT CAST(date_trunc('day', t) AS TIMESTAMP) AS day,
               SUM(delta) OVER (ORDER BY t, is_end, delta
                                ROWS UNBOUNDED PRECEDING) AS live
        FROM boundaries
    )
    SELECT day, CAST(MAX(live) AS BIGINT) AS max_concurrent_sessions
    FROM swept GROUP BY day
    """,
)
def events_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day via the classic sweep line:
    every session contributes a +1 boundary at its start and a −1 at
    its end (start before end at identical timestamps — a session
    ending exactly when another starts briefly overlaps, the
    inclusive convention), and the running boundary sum's daily
    maximum is the capacity-planning number load tests are sized
    against.

    The sweep runs per DAY-partition with a carried-in opening count
    (round 11 — the r11 cores screen caught the original single global
    ordered window flat at 3.2-3.8 s from local[4] to local[32] on the
    10x corpus while growing 4.0x with data: a textbook serialized
    stage). Distributed prefix-sum shape: (1) a running boundary sum
    WITHIN each day partition, spread across days; (2) per-day delta
    totals cumulated over the tiny day-level table (bounded by the
    calendar, not the data — the one deliberately single-task window);
    (3) peak(day) = opening + max(within-day running sum), valid
    because the opening is constant inside a day so max commutes with
    the shift. Boundaries are 2·|sessions| rows — session boundaries,
    not events, already thousands of times smaller than the log.
    Session derivation reuses events_sessionize's gaps-and-islands
    shuffle (and its r15 NULL-ts quarantine, mirrored: an undated
    event can't open or extend a session, and NULL boundaries would
    poison the sweep's global ordering)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            (epoch_sec("ts") - epoch_sec(F.lag("ts").over(w)) > SESSION_GAP_SEC)
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    numbered = gapped.withColumn("sid", F.sum("new_session").over(w_run))
    sessions = numbered.groupBy("user_id", "sid").agg(
        F.min("ts").alias("s_start"),
        F.expr(f"MAX(ts) + INTERVAL {SESSION_GAP_SEC} SECOND").alias("s_end"),
    )
    # explode-to-two-rows, not UNION of two selects: a union would
    # evaluate the whole sessionize subtree twice (no cache between
    # the branches) — one generator pass emits both boundaries.
    boundaries = sessions.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("s_start").alias("t"),
                    F.lit(1).alias("delta"),
                    F.lit(0).alias("is_end"),
                ),
                F.struct(
                    F.col("s_end").alias("t"),
                    F.lit(-1).alias("delta"),
                    F.lit(1).alias("is_end"),
                ),
            )
        ).alias("b")
    ).select("b.t", "b.delta", "b.is_end", F.date_trunc("day", "b.t").alias("day"))
    w_in_day = (
        Window.partitionBy("day")
        .orderBy("t", "is_end", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # One day-shuffle computes BOTH the running sweep and the whole-day
    # delta total (full-frame sum over the same partition key — no
    # second sort, and crucially no second evaluation of the sessionize
    # subtree: a join-of-two-aggregates shape was A/B-measured at +63%
    # on local[4] at 10x because it re-ran the session derivation).
    w_full_day = Window.partitionBy("day")
    day_level = (
        boundaries.select(
            "day",
            F.sum("delta").over(w_in_day).alias("live_in_day"),
            F.sum("delta").over(w_full_day).alias("day_delta"),
        )
        .groupBy("day")
        .agg(
            F.max("live_in_day").alias("peak_in_day"),
            F.max("day_delta").alias("day_delta"),
        )
    )
    # opening count carried into each day: cumulative sum of whole-day
    # deltas over all STRICTLY EARLIER days. The day-level table is
    # calendar-bounded (one row per day), so this global window is a
    # deliberate tiny single task, not a data-sized one.
    w_prior_days = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return day_level.select(
        "day",
        (
            F.coalesce(F.sum("day_delta").over(w_prior_days), F.lit(0))
            + F.col("peak_in_day")
        )
        .cast("long")
        .alias("max_concurrent_sessions"),
    )


@query(
    "events_new_vs_returning",
    oracle="""
    WITH firsts AS (
        SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP)
                   AS first_day
        FROM events GROUP BY user_id
    ),
    daily AS (
        SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS day,
               e.user_id, f.first_day
        FROM events e JOIN firsts f USING (user_id)
        GROUP BY 1, 2, 3
    )
    SELECT day,
           CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
               AS new_users,
           CAST(SUM(CASE WHEN day > first_day THEN 1 ELSE 0 END) AS BIGINT)
               AS returning_users
    FROM daily GROUP BY day
    """,
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning active users — the growth-accounting
    split every product dashboard leads with: each active (day, user)
    is classified by whether that day is the user's first-ever
    appearance.

    Two aggregations ride one user-keyed shuffle (first-seen day, then
    distinct day-user activity) plus a broadcast-sized join back; no
    window over raw events. The first-seen table is the persistable
    artifact at 100 TB — append-only, updated incrementally per load,
    so the daily split never rescans history."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("first_day")
    )
    daily = (
        ev.select(
            F.date_trunc("day", "ts").alias("day"),
            "user_id",
        )
        .distinct()
        .join(firsts, "user_id")
    )
    return daily.groupBy("day").agg(
        F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0))
        .cast("long")
        .alias("new_users"),
        F.sum(F.when(F.col("day") > F.col("first_day"), 1).otherwise(0))
        .cast("long")
        .alias("returning_users"),
    )


@query(
    "events_cumulative_adoption",
    oracle="""
    WITH firsts AS (
        SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP)
                   AS first_day
        FROM events GROUP BY user_id
    ),
    daily_new AS (
        SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
        FROM firsts GROUP BY first_day
    )
    SELECT day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cumulative_users
    FROM daily_new
    """,
)
def events_cumulative_adoption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative user-adoption curve: first-ever appearances per day
    and their running total — the S-curve a growth review reads first,
    and the denominator for penetration metrics. Built off the same
    persistable first-seen artifact as events_new_vs_returning, so at
    100 TB the curve extends incrementally per load; the running sum
    is an ordered window over |days| rows (trivially bounded), never
    over users or events."""
    ev = load_table(spark, sf_dir, "events")
    daily_new = (
        ev.groupBy("user_id")
        .agg(F.date_trunc("day", F.min("ts")).alias("day"))
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("new_users"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily_new.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


@query(
    "events_weekday_seasonality",
    oracle="""
    WITH counts AS (
        SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS weekday,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total
        FROM events GROUP BY dayofweek(ts)
    )
    SELECT weekday, n,
           CAST(n * 1000000 // total AS BIGINT) AS share_ppm,
           n = MAX(n) OVER () AS is_peak_day
    FROM counts
    """,
)
def events_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile: traffic share per weekday in
    exact ppm with the peak day flagged — the calendar fingerprint
    behind anomaly baselines (compare an hour to ITS weekday's norm,
    not a global mean) and capacity scheduling. Seven groups total, so
    everything after the partial-aggregated count is free at any
    scale; numbering is aligned to Spark's Sunday=1..Saturday=7 (DuckDB
    counts Sunday=0, so its oracle adds one)."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.dayofweek("ts").cast("long").alias("weekday")
    ).agg(F.count("*").alias("n"))
    w_all = Window.partitionBy()
    return counts.select(
        "weekday",
        "n",
        F.expr(
            "CAST(n * 1000000 div SUM(n) OVER () AS BIGINT)"
        ).alias("share_ppm"),
        (F.col("n") == F.max("n").over(w_all)).alias("is_peak_day"),
    )


@query(
    "events_conversion_latency",
    oracle="""
    WITH su AS (
        SELECT user_id, MIN(ts) AS signup_ts FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    conv AS (
        SELECT su.user_id, su.signup_ts,
               MIN(CAST(FLOOR(epoch(e.ts)) AS BIGINT)
                   - CAST(FLOOR(epoch(su.signup_ts)) AS BIGINT)) AS latency_s
        FROM su JOIN events e
          ON e.user_id = su.user_id
         AND e.event_type = 'purchase' AND e.ts >= su.signup_ts
        GROUP BY su.user_id, su.signup_ts
    )
    SELECT date_trunc('week', su.signup_ts) AS cohort_week,
           CAST(COUNT(*) AS BIGINT) AS n_signups,
           CAST(COUNT(conv.latency_s) AS BIGINT) AS n_converted,
           CAST(COUNT(conv.latency_s) * 1000000 // COUNT(*) AS BIGINT)
               AS conversion_ppm,
           CAST(MIN(conv.latency_s) AS BIGINT) AS min_latency_s,
           CAST(median(conv.latency_s) * 2 AS BIGINT) AS median_latency_2s,
           CAST(MAX(conv.latency_s) AS BIGINT) AS max_latency_s
    FROM su LEFT JOIN conv ON conv.user_id = su.user_id
    GROUP BY date_trunc('week', su.signup_ts)
    """,
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→first-purchase conversion latency per weekly signup
    cohort: the growth-analytics companion to events_cohort_retention
    that answers *how fast* users convert, not just whether. Latencies
    are whole seconds (exact BIGINTs); the median rides doubled (the
    quality_outliers_mad device) so even-count interpolation stays
    integer-exact; the conversion rate is exact ppm.

    Plan: signup firsts are one groupBy(user_id); first qualifying
    purchase is a keyed join of the purchase slice to that aggregate
    followed by a second user-keyed min — both shuffles on user_id, so
    AQE coalesces them onto one exchange. The cohort rollup then
    aggregates |users| rows, never raw events. No window over the
    event stream, no per-user state beyond the aggregate."""
    ev = load_table(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(
            (F.min(epoch_sec("ts") - epoch_sec("signup_ts"))).alias("latency_s")
        )
    )
    return (
        su.join(conv, "user_id", "left")
        # to_date: DuckDB's date_trunc('week') yields DATE, Spark's a
        # timestamp — align the grain so the value-hash agrees
        .groupBy(
            F.to_date(F.date_trunc("week", "signup_ts")).alias("cohort_week")
        )
        .agg(
            F.count("*").cast("long").alias("n_signups"),
            F.count("latency_s").cast("long").alias("n_converted"),
            F.expr("count(latency_s) * 1000000 div count(*)")
            .cast("long")
            .alias("conversion_ppm"),
            F.min("latency_s").cast("long").alias("min_latency_s"),
            (F.expr("percentile(latency_s, 0.5)") * 2)
            .cast("long")
            .alias("median_latency_2s"),
            F.max("latency_s").cast("long").alias("max_latency_s"),
        )
    )


@query(
    "events_weekly_audience_overlap",
    oracle="""
    WITH wk AS (
        SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS week_start,
               user_id
        FROM events
    ),
    pairs AS (
        SELECT a.week_start AS week_a, b.week_start AS week_b,
               a.user_id AS ua, b.user_id AS ub
        FROM wk a JOIN wk b
          ON b.week_start = a.week_start + INTERVAL 7 DAY
         AND a.user_id = b.user_id
    ),
    inter AS (
        SELECT week_a, week_b, CAST(COUNT(*) AS BIGINT) AS n_both
        FROM pairs GROUP BY week_a, week_b
    ),
    sizes AS (
        SELECT week_start, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM wk GROUP BY week_start
    )
    SELECT i.week_a, i.week_b, sa.n_users AS users_a, sb.n_users AS users_b,
           i.n_both,
           CAST(i.n_both * 1000000
                // (sa.n_users + sb.n_users - i.n_both) AS BIGINT)
               AS jaccard_ppm
    FROM inter i
    JOIN sizes sa ON sa.week_start = i.week_a
    JOIN sizes sb ON sb.week_start = i.week_b
    """,
)
def events_weekly_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week audience overlap: the Jaccard similarity (exact
    ppm) between consecutive weeks' active-user sets — the retention /
    population-drift metric a pipeline alarms on when an ingestion
    change silently swaps the user population (high volume, low
    overlap). Active sets are DISTINCT (week, user) pairs; consecutive
    weeks join on user within week+7d; all arithmetic is BIGINT counts
    and one floor-division ppm — hash-stable by construction.

    Scale: the distinct pass and the self-join are both keyed shuffles
    on (week, user) / user; output is |weeks| rows. At 100 TB the same
    question is usually answered from the HLL-sketch tier
    (agg_hll_reaggregatable) — this is the exact twin."""
    events = load_table(spark, sf_dir, "events")
    wk = events.select(
        F.date_trunc("week", "ts").cast("date").alias("week_start"), "user_id"
    ).distinct()
    a = wk.select(F.col("week_start").alias("week_a"), "user_id")
    b = wk.select(F.col("week_start").alias("week_b"), "user_id")
    inter = (
        a.join(b, ["user_id"])
        .filter(F.col("week_b") == F.date_add("week_a", 7))
        .groupBy("week_a", "week_b")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    sizes = wk.groupBy("week_start").agg(
        F.count("*").cast("long").alias("n_users")
    )
    sa = sizes.select(
        F.col("week_start").alias("week_a"), F.col("n_users").alias("users_a")
    )
    sb = sizes.select(
        F.col("week_start").alias("week_b"), F.col("n_users").alias("users_b")
    )
    return (
        inter.join(sa, "week_a")
        .join(sb, "week_b")
        .select(
            "week_a",
            "week_b",
            "users_a",
            "users_b",
            "n_both",
            F.expr("CAST(n_both * 1000000 div (users_a + users_b - n_both) AS BIGINT)")
            .alias("jaccard_ppm"),
        )
    )


BOT_GAP_SEC = 2  # interarrival threshold for "superhuman" cadence
BOT_FAST_PPM_MIN = 500_000  # flag users with ≥50% fast interarrivals


@query(
    "events_bot_rate_heuristic",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, ts,
               CAST(FLOOR(epoch(ts)) AS BIGINT)
                 - CAST(FLOOR(epoch(LAG(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id))) AS BIGINT) AS gap_s
        FROM events
    ),
    per_user AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
               CAST(SUM(CASE WHEN gap_s < {BOT_GAP_SEC} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_fast
        FROM seq GROUP BY user_id
    )
    SELECT user_id, n_events, n_fast,
           CAST(n_fast * 1000000 // n_gaps AS BIGINT) AS fast_ppm,
           n_fast * 1000000 >= {BOT_FAST_PPM_MIN} * n_gaps AS bot_suspect
    FROM per_user WHERE n_gaps > 0
    """,
)
def events_bot_rate_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/automation detection by interarrival cadence: per user, the
    share of consecutive-event gaps under {G} seconds (total order
    (ts, event_id) so ties are deterministic); users whose fast-gap
    share crosses the threshold are flagged. This is the behavioral
    data-cleaning gate run before training on engagement data —
    automated traffic otherwise dominates frequency features. The
    threshold compare is the exact integer cross-multiplication
    (n_fast·1e6 ≥ min_ppm·n_gaps) — no float boundary.

    Scale: one window pass partitioned by user (the sessionize
    shuffle, reused shape) and a per-user aggregate; output is
    |users| rows."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        (
            epoch_sec(F.col("ts"))
            - epoch_sec(F.lag("ts").over(w))
        ).alias("gap_s"),
    )
    per_user = seq.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.count("gap_s").cast("long").alias("n_gaps"),
        F.sum(F.when(F.col("gap_s") < BOT_GAP_SEC, 1).otherwise(0))
        .cast("long")
        .alias("n_fast"),
    )
    return per_user.filter(F.col("n_gaps") > 0).select(
        "user_id",
        "n_events",
        "n_fast",
        F.expr("CAST(n_fast * 1000000 div n_gaps AS BIGINT)").alias("fast_ppm"),
        (F.col("n_fast") * 1_000_000 >= F.lit(BOT_FAST_PPM_MIN) * F.col("n_gaps"))
        .alias("bot_suspect"),
    )


HOT_HOUR_MIN = 20  # events/hour making an "incident-hot" hour (~p90)
SESSION_GAP_MIN = 10


@query(
    "join_interval_overlap_hot_hours",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, ts,
               CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                         - CAST(FLOOR(epoch(LAG(ts) OVER (
                               PARTITION BY user_id ORDER BY ts))) AS BIGINT)
                         >= {SESSION_GAP_MIN} * 60
                         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM seq
    ),
    sessions AS (
        SELECT user_id, sid, MIN(ts) AS first_ts, MAX(ts) AS last_ts
        FROM numbered GROUP BY user_id, sid
    ),
    hot AS (
        SELECT date_trunc('hour', ts) AS hour_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1 HAVING COUNT(*) >= {HOT_HOUR_MIN}
    )
    SELECT h.hour_bucket, h.n_events,
           CAST(COUNT(*) AS BIGINT) AS n_sessions_overlapping,
           CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS n_users_overlapping
    FROM hot h JOIN sessions s
      ON s.first_ts < h.hour_bucket + INTERVAL 1 HOUR
     AND s.last_ts >= h.hour_bucket
    GROUP BY h.hour_bucket, h.n_events
    """,
)
def join_interval_overlap_hot_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join, bucketized: user sessions (10-minute
    gaps-and-islands) joined against "hot" hours (≥ {N} events) they
    overlap — who was active during each incident window. The naive
    plan is a theta join (two inequalities — a broadcast nested loop
    that dies at |sessions|·|hours|); the scale-correct plan built
    here EXPLODES each session into the hour buckets it covers
    (bounded fan-out: sessions are minutes long) and equi-joins on the
    bucket — candidates ∝ session-hours, never the cross product. The
    DuckDB oracle is the naive interval definition, proving the
    bucketization is lossless every driver round.

    At 100 TB this is the standard time-interval-join rewrite (same
    family as the as-of and range joins): both sides shuffle on the
    hour bucket, skew (a mega-hot hour) splits via AQE."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_break = (
        epoch_sec(F.col("ts")) - F.lag(epoch_sec(F.col("ts"))).over(w)
        >= SESSION_GAP_MIN * 60
    )
    numbered = events.select(
        "user_id",
        "ts",
        F.sum(
            F.when(gap_break | F.lag("ts").over(w).isNull(), 1).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sid"),
    )
    sessions = numbered.groupBy("user_id", "sid").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    hot = (
        events.groupBy(F.date_trunc("hour", "ts").alias("hour_bucket"))
        .agg(F.count("*").cast("long").alias("n_events"))
        .filter(F.col("n_events") >= HOT_HOUR_MIN)
    )
    # bucketize: one row per covered hour per session (bounded fan-out)
    buckets = sessions.select(
        "user_id",
        "sid",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "first_ts"),
                F.date_trunc("hour", "last_ts"),
                F.expr("interval 1 hour"),
            )
        ).alias("hour_bucket"),
    )
    return (
        buckets.join(hot, "hour_bucket")
        .groupBy("hour_bucket", "n_events")
        .agg(
            F.count("*").cast("long").alias("n_sessions_overlapping"),
            F.countDistinct("user_id").cast("long").alias("n_users_overlapping"),
        )
    )


@query(
    "events_cusum_uniformity_drift",
    oracle="""
    WITH h AS (
        SELECT date_trunc('hour', ts) AS hour_bucket,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    c AS (
        SELECT hour_bucket, n,
               SUM(n) OVER (ORDER BY hour_bucket
                            ROWS UNBOUNDED PRECEDING) AS cum,
               ROW_NUMBER() OVER (ORDER BY hour_bucket) AS k,
               SUM(n) OVER () AS t,
               COUNT(*) OVER () AS nh
        FROM h
    )
    SELECT hour_bucket, n,
           CAST(cum * 1000000 // t AS BIGINT) AS cum_share_ppm,
           CAST(k * 1000000 // nh AS BIGINT) AS uniform_share_ppm,
           CAST(cum * 1000000 // t - k * 1000000 // nh AS BIGINT)
               AS dev_ppm
    FROM c
    """,
)
def events_cusum_uniformity_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM-style volume-drift curve: per hour, the cumulative share
    of all events against the uniform-time share, and their signed
    deviation — the running statistic a monitoring pipeline tracks to
    catch ingestion gaps or bursts (a flat-zero deviation means volume
    arrives uniformly; a ramp means a rate change at the ramp's start;
    the max |dev| is the Kolmogorov-style distance from uniformity).
    All integer arithmetic (counts, floor-div ppm) — hash-stable.

    Scale: the corpus-sized work is one hourly count; the cumulative
    window then runs over |hours| AGGREGATE rows (bounded by the time
    span, never by volume), so the single-partition ordered window is
    a metadata-scale step — same posture as the date-spine and
    growth-curve queries. NULL-ts quarantine mirrored (r15
    temporal-band null sweep): the NULL hour's engine-dependent slot
    in the cumulative ordering shifted every cum/k pair."""
    events = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    h = events.groupBy(trunc_hour_ntz("ts").alias("hour_bucket")).agg(
        F.count("*").cast("long").alias("n")
    )
    wc = Window.orderBy("hour_bucket").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    c = h.select(
        "hour_bucket",
        "n",
        F.sum("n").over(wc).alias("cum"),
        F.row_number().over(Window.orderBy("hour_bucket")).alias("k"),
        F.sum("n").over(wall).alias("t"),
        F.count("*").over(wall).alias("nh"),
    )
    return c.select(
        "hour_bucket",
        "n",
        F.expr("CAST(cum * 1000000 div t AS BIGINT)").alias("cum_share_ppm"),
        F.expr("CAST(k * 1000000 div nh AS BIGINT)").alias("uniform_share_ppm"),
        F.expr(
            "CAST(cum * 1000000 div t - k * 1000000 div nh AS BIGINT)"
        ).alias("dev_ppm"),
    )


PATTERN_GAP_MIN = 10  # session gap for pattern matching (minutes)


@query(
    "events_session_pattern_match",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                         - CAST(FLOOR(epoch(LAG(ts) OVER (
                               PARTITION BY user_id
                               ORDER BY ts, event_id))) AS BIGINT)
                         >= {PATTERN_GAP_MIN} * 60
                         OR LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WHERE ts IS NOT NULL
    ),
    numbered AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM seq
    ),
    paths AS (
        SELECT user_id, sid,
               array_to_string(list(substring(event_type, 1, 1)
                                    ORDER BY ts, event_id), '') AS path
        FROM numbered GROUP BY user_id, sid
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN regexp_matches(path, 'v.*c.*p')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_funnel_sessions,
           CAST(SUM(CASE WHEN regexp_matches(path, 'vcp')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_strict_sessions
    FROM paths GROUP BY user_id
    """,
)
def events_session_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern detection inside
    sessions: each session's ordered event-type sequence (total order
    (ts, event_id)) is folded to a symbol string and matched against
    two patterns — the gapped funnel ``view …→ click …→ purchase``
    (v.*c.*p) and the STRICT consecutive form (vcp, no intervening
    events) that funnel aggregates can't express. Per user: sessions,
    gapped matches, strict matches. This is the sequential-pattern
    primitive (Spark has no MATCH_RECOGNIZE; symbol-string + regex
    over session groups is its standard lake substitute).

    Scale: the symbol string is one character per event grouped by
    SESSION — state bounded by session length (minutes of activity),
    never user history; one shuffle keyed (user, sid) and the regex
    runs once per session row. NULL-ts quarantine mirrored (r15
    temporal-band null sweep): same structural divergence as
    events_sessionize — undated events don't join sequences."""
    events = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_break = (
        epoch_sec(F.col("ts")) - F.lag(epoch_sec(F.col("ts"))).over(w)
        >= PATTERN_GAP_MIN * 60
    )
    numbered = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(
            F.when(gap_break | F.lag("ts").over(w).isNull(), 1).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sid"),
    )
    paths = numbered.groupBy("user_id", "sid").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("c"))
                    )
                ),
                lambda s: s.getField("c"),
            ),
        ).alias("path")
    )
    return paths.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum(F.when(F.col("path").rlike("v.*c.*p"), 1).otherwise(0))
        .cast("long")
        .alias("n_funnel_sessions"),
        F.sum(F.when(F.col("path").rlike("vcp"), 1).otherwise(0))
        .cast("long")
        .alias("n_strict_sessions"),
    )


@query(
    "events_dau_wau_stickiness",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('week', ts) AS DATE) AS week_start,
               CAST(ts AS DATE) AS d, user_id
        FROM events GROUP BY 1, 2, 3
    ),
    dau AS (
        SELECT week_start, d, CAST(COUNT(*) AS BIGINT) AS n_dau
        FROM daily GROUP BY week_start, d
    ),
    wk AS (
        SELECT week_start,
               CAST(SUM(n_dau) AS BIGINT) AS sum_dau,
               CAST(COUNT(*) AS BIGINT) AS n_days
        FROM dau GROUP BY week_start
    ),
    wau AS (
        SELECT week_start, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_wau
        FROM daily GROUP BY week_start
    )
    SELECT w.week_start, w.sum_dau, w.n_days, u.n_wau,
           CAST(w.sum_dau * 1000000 // (w.n_days * u.n_wau) AS BIGINT)
               AS stickiness_ppm
    FROM wk w JOIN wau u USING (week_start)
    """,
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per week — mean daily actives over weekly
    actives, the standard engagement-depth ratio (1.0 = every weekly
    user active every observed day). Computed entirely in integers:
    Σdau·10⁶ div (days·wau), so the ratio is exact ppm and
    hash-stable; the day/user dedup is one DISTINCT pass feeding both
    the daily counts and the weekly distinct.

    Scale: shuffles keyed (week, day, user) then aggregates shrinking
    to |weeks| rows; the weekly distinct is the only unbounded-key
    aggregation and is exactly what the HLL sketch family
    (agg_hll_reaggregatable) approximates at the 100 TB tier."""
    events = load_table(spark, sf_dir, "events")
    daily = events.select(
        F.date_trunc("week", "ts").cast("date").alias("week_start"),
        F.col("ts").cast("date").alias("d"),
        "user_id",
    ).distinct()
    dau = daily.groupBy("week_start", "d").agg(
        F.count("*").cast("long").alias("n_dau")
    )
    wk = dau.groupBy("week_start").agg(
        F.sum("n_dau").cast("long").alias("sum_dau"),
        F.count("*").cast("long").alias("n_days"),
    )
    wau = daily.groupBy("week_start").agg(
        F.countDistinct("user_id").cast("long").alias("n_wau")
    )
    return (
        wk.join(wau, "week_start")
        .select(
            "week_start",
            "sum_dau",
            "n_days",
            "n_wau",
            F.expr(
                "CAST(sum_dau * 1000000 div (n_days * n_wau) AS BIGINT)"
            ).alias("stickiness_ppm"),
        )
    )


@query(
    "events_growth_accounting",
    oracle="""
    WITH wk AS (
        SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS w, user_id
        FROM events
    ),
    first_wk AS (
        SELECT user_id, MIN(w) AS fw FROM wk GROUP BY user_id
    ),
    cur AS (
        SELECT wk.w, wk.user_id, f.fw,
               EXISTS (SELECT 1 FROM wk p
                       WHERE p.user_id = wk.user_id
                         AND p.w = wk.w - INTERVAL 7 DAY) AS was_active
        FROM wk JOIN first_wk f USING (user_id)
    ),
    churn AS (
        SELECT wk.w + INTERVAL 7 DAY AS w,
               CAST(COUNT(*) AS BIGINT) AS n_churned
        FROM wk
        WHERE NOT EXISTS (SELECT 1 FROM wk n
                          WHERE n.user_id = wk.user_id
                            AND n.w = wk.w + INTERVAL 7 DAY)
        GROUP BY wk.w + INTERVAL 7 DAY
    ),
    states AS (
        SELECT w,
               CAST(SUM(CASE WHEN fw = w THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
               CAST(SUM(CASE WHEN fw < w AND was_active THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_retained,
               CAST(SUM(CASE WHEN fw < w AND NOT was_active THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_resurrected,
               CAST(COUNT(*) AS BIGINT) AS n_active
        FROM cur GROUP BY w
    )
    SELECT CAST(s.w AS DATE) AS week_start, s.n_active, s.n_new, s.n_retained,
           s.n_resurrected, COALESCE(c.n_churned, 0) AS n_churned
    FROM states s LEFT JOIN churn c ON CAST(c.w AS DATE) = s.w
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting — the new / retained / resurrected /
    churned decomposition every growth team closes its books with
    (active(w) = new + retained + resurrected; churned(w) = active in
    w−1 but not w). States derive from two artifacts: each user's
    first-ever week (one aggregate) and week-over-week presence (a
    self-join of the distinct week/user set shifted by 7 days) — all
    counts exact BIGINTs.

    Scale: the distinct (week, user) pass is the only corpus-sized
    shuffle; the presence self-join and first-week join are keyed on
    (user, week) with |weeks| output rows. The same decomposition at
    100 TB usually runs on the sketch tier first; this is the exact
    ledger."""
    events = load_table(spark, sf_dir, "events")
    wk = events.select(
        F.date_trunc("week", "ts").cast("date").alias("w"), "user_id"
    ).distinct()
    first_wk = wk.groupBy("user_id").agg(F.min("w").alias("fw"))
    prev = wk.select(F.date_add("w", 7).alias("w"), F.col("user_id").alias("pu"))
    cur = (
        wk.join(first_wk, "user_id")
        .join(
            prev.withColumnRenamed("pu", "user_id").withColumn(
                "was_active", F.lit(True)
            ),
            ["w", "user_id"],
            "left",
        )
        .withColumn("was_active", F.coalesce("was_active", F.lit(False)))
    )
    states = cur.groupBy("w").agg(
        F.sum(F.when(F.col("fw") == F.col("w"), 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(
            F.when((F.col("fw") < F.col("w")) & F.col("was_active"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_retained"),
        F.sum(
            F.when((F.col("fw") < F.col("w")) & ~F.col("was_active"), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("n_resurrected"),
        F.count("*").cast("long").alias("n_active"),
    )
    nxt = wk.select("w", "user_id")
    churn = (
        wk.alias("a")
        .join(
            nxt.alias("b"),
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.w") == F.date_add(F.col("a.w"), 7)),
            "left_anti",
        )
        .groupBy(F.date_add("w", 7).alias("w"))
        .agg(F.count("*").cast("long").alias("n_churned"))
    )
    return (
        states.join(churn, "w", "left")
        .select(
            F.col("w").alias("week_start"),
            "n_active",
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce("n_churned", F.lit(0)).cast("long").alias("n_churned"),
        )
    )
