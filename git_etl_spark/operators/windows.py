"""Window-function pack — SURVEY.md §2.10 X8 (plus X9 rollup/cube/
grouping sets and X10 approximate/exact percentiles).

Scale notes: every window here partitions by a key (nation, customer,
user) — one shuffle on the partition key, state bounded per key. A
window with no PARTITION BY (global total) is computed via a scalar
subquery-style cross join of a 1-row aggregate instead of
``Window.partitionBy()`` over everything, which would move the whole
table through one task at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dsum
from ..functions.timeutil import epoch_sec
from ..io import load_table
from ..registry import query


@query(
    "window_rank_top3_per_nation",
    oracle="""
    SELECT nationkey, custkey, acctbal, rn, rnk, drnk FROM (
        SELECT c_nationkey AS nationkey, c_custkey AS custkey,
               c_acctbal AS acctbal,
               ROW_NUMBER() OVER w AS rn,
               RANK() OVER w AS rnk,
               DENSE_RANK() OVER w AS drnk
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey
                     ORDER BY c_acctbal DESC, c_custkey)
    ) WHERE rn <= 3
    """,
)
def window_rank_top3_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number/rank/dense_rank: top-3 customers by balance per
    nation, unique tie-break on custkey."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        cust.select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_custkey").alias("custkey"),
            F.col("c_acctbal").alias("acctbal"),
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "window_lag_lead_events",
    oracle="""
    SELECT user_id, event_id,
           lag(value)  OVER w AS prev_value,
           lead(event_type) OVER w AS next_type,
           CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(lag(ts) OVER w)) AS BIGINT) AS gap_sec
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS LAST, event_id)
    """,
)
def window_lag_lead_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over per-user event streams with inter-event gap —
    the batch shape of the sessionization operator. NULLS LAST pinned
    on both engines (r15 temporal-band null sweep): undated events
    sort after the dated stream — row-preserving, unlike the
    sessionize quarantine, because lag/lead is a projection, not a
    bucketing; their gap_sec is NULL either way."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), "event_id"
    )
    return ev.select(
        "user_id",
        "event_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("event_type").over(w).alias("next_type"),
        (epoch_sec("ts") - epoch_sec(F.lag("ts").over(w))).alias(
            "gap_sec"
        ),
    )


@query(
    "window_running_total",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate NULLS LAST, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_spend
    FROM orders
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum per customer over order history — rows frame;
    decimal accumulator keeps every prefix sum exact (order-dependence
    of float addition would otherwise make row N's value engine-specific).
    NULLS LAST pinned on both engines (r15 temporal-band null sweep):
    an undated order accumulates after the dated history."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc_nulls_last("o_orderdate"), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_spend"),
    )


@query(
    "window_moving_7day_count",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           COUNT(*) OVER (PARTITION BY o_custkey
                          ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
                          RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
               AS orders_7d
    FROM orders
    """,
)
def window_moving_7day_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: orders in the trailing 7 days per customer —
    value-based frame on epoch seconds (Spark range frames need a
    numeric ordering column)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch_sec("o_orderdate"))
        .rangeBetween(-604800, 0)
    )
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.count("*").over(w).alias("orders_7d"),
    )


@query(
    "window_ntile_quartiles",
    oracle="""
    SELECT quartile, COUNT(*) AS n,
           CAST(MIN(c_acctbal) AS DOUBLE) AS min_bal,
           CAST(MAX(c_acctbal) AS DOUBLE) AS max_bal
    FROM (
        SELECT c_acctbal,
               NTILE(4) OVER (ORDER BY c_acctbal NULLS LAST, c_custkey)
                   AS quartile
        FROM customer
    ) GROUP BY quartile
    """,
)
def window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing (global window over the customer dimension: its
    input is bounded by |customers|, and the result is immediately
    re-aggregated to four rows).

    NULLS LAST pinned on BOTH engines: Spark's ascending default is
    NULLS FIRST, DuckDB's is NULLS LAST, so an unpinned sort sends
    NULL balances to opposite ends of the tile axis (r15 numeric-band
    null sweep — every unpinned cross-engine window ORDER BY over a
    nullable column is this defect class)."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.orderBy(F.asc_nulls_last("c_acctbal"), "c_custkey")
    return (
        cust.select(
            "c_acctbal", F.ntile(4).over(w).alias("quartile")
        )
        .groupBy("quartile")
        .agg(
            F.count("*").alias("n"),
            F.min("c_acctbal").cast("double").alias("min_bal"),
            F.max("c_acctbal").cast("double").alias("max_bal"),
        )
    )


@query(
    "window_share_of_total",
    oracle="""
    WITH per_nation AS (
        SELECT c_nationkey AS nationkey,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS nation_bal
        FROM customer GROUP BY c_nationkey
    )
    SELECT nationkey, nation_bal,
           nation_bal / (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                         FROM customer) AS share
    FROM per_nation
    """,
)
def window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total without a global window: 1-row exact total
    cross-joined (broadcast) against the per-key aggregate. The naive
    ``sum().over(Window.partitionBy())`` funnels all rows into one task
    at scale; this shape never does."""
    cust = load_table(spark, sf_dir, "customer")
    per_nation = cust.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        dsum("c_acctbal").alias("nation_bal")
    )
    total = cust.agg(dsum("c_acctbal").alias("total_bal"))
    return per_nation.crossJoin(F.broadcast(total)).select(
        "nationkey",
        "nation_bal",
        (F.col("nation_bal") / F.col("total_bal")).alias("share"),
    )


# --- X9: rollup / cube / grouping sets -----------------------------------


@query(
    "rollup_orders_year_status",
    oracle="""
    -- n <> 0 mirrors Spark: on an EMPTY input relation Spark's
    -- rollup/cube emit NO rows while the SQL standard (and DuckDB)
    -- emit the () grand-total row with COUNT 0; a zero-count row can
    -- arise no other way, so the filter is an exact behavioral mirror
    -- (r14 degenerate full-oracle sweep).
    SELECT * FROM (
        SELECT CAST(year(o_orderdate) AS INT) AS y, o_orderstatus AS status,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               CAST(GROUPING(year(o_orderdate)) AS INT) AS g_year,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status
        FROM orders
        GROUP BY ROLLUP (year(o_orderdate), o_orderstatus)
    ) t WHERE n <> 0
    """,
)
def rollup_orders_year_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING markers (X9) — subtotal rows distinguish
    genuine NULL keys from rollup placeholders."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("y"),
        F.col("o_orderstatus").alias("status"),
        "o_totalprice",
    )
    return orders.rollup("y", "status").agg(
        F.count("*").alias("n"),
        dsum("o_totalprice").alias("revenue"),
        F.grouping("y").cast("int").alias("g_year"),
        F.grouping("status").cast("int").alias("g_status"),
    )


@query(
    "cube_events_type_day",
    oracle="""
    -- n <> 0: see rollup_orders_year_status — exact mirror of Spark's
    -- no-grand-total-row-on-empty-input semantics.
    SELECT * FROM (
        SELECT event_type, CAST(ts AS DATE) AS event_day, COUNT(*) AS n
        FROM events
        GROUP BY CUBE (event_type, CAST(ts AS DATE))
    ) t WHERE n <> 0
    """,
)
def cube_events_type_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (type, day): all four grouping combinations in one
    pass (Spark expands to an internal Expand node — one shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.cube(
        F.col("event_type"), F.to_date("ts").alias("event_day")
    ).agg(F.count("*").alias("n"))


@query(
    "groupingsets_lineitem",
    oracle="""
    -- n <> 0: see rollup_orders_year_status — exact mirror of Spark's
    -- no-grand-total-row-on-empty-input semantics.
    SELECT * FROM (
        SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    ) t WHERE n <> 0
    """,
)
def groupingsets_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form of rollup/cube.

    Two-level plan: Spark's native GROUPING SETS puts an Expand node
    UNDER the aggregate, tripling every input row before the hash agg
    (3× the fact table through Expand+agg — the dominant cost at any
    scale). Instead aggregate to the finest grouping first — the
    map-side partial agg collapses the fact table to |flag×status|
    rows per partition — then run GROUPING SETS over that tiny
    intermediate, re-aggregating COUNT as SUM(n) and SUM as SUM(sum).
    Exact for these decomposable aggregates; Expand now touches ~6
    rows instead of the whole table (measured 0.89 s → two-level
    below at sf0.1, and the gap grows linearly with fact size)."""
    li = load_table(spark, sf_dir, "lineitem")
    li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("pn"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("pq"),
    ).createOrReplaceTempView("lineitem_gs_partial")
    return spark.sql(
        """
        SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
               -- COALESCE: on an EMPTY fact table the () grouping set
               -- still emits one row, where native COUNT(*) is 0 but
               -- a re-aggregated SUM over zero partials is NULL
               CAST(COALESCE(SUM(pn), 0) AS BIGINT) AS n,
               CAST(SUM(pq) AS DOUBLE) AS sum_qty
        FROM lineitem_gs_partial
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


# --- X10: percentiles / approximate aggregates ---------------------------


@query(
    "agg_percentiles_exact",
    oracle="""
    SELECT l_returnflag AS returnflag,
           round(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 4) AS p50_qty,
           round(CAST(quantile_cont(l_quantity, 0.9) AS DOUBLE), 4) AS p90_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont`` up to float rounding — both interpolate;
    rounded to 4 dp to absorb last-bit interpolation differences)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("p50_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 4).alias("p90_qty"),
    )


@query("agg_approx_sketches")  # no oracle: sketch outputs are engine-specific
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 approximate aggregates — the 100 TB substitutes for exact
    DISTINCT/percentile: HLL++ ``approx_count_distinct`` and
    ``percentile_approx``. Values are sketch-dependent so there is no
    cross-engine oracle (driver records rows-only); the exact twins are
    oracle-checked above.

    The exact-distinct comparison column is computed in a SEPARATE
    aggregation and joined back: mixing ``count(distinct)`` into the
    same ``agg`` as sketch functions makes Catalyst's distinct rewrite
    regroup by (key, user_id) — building an HLL buffer and a 10k-entry
    QuantileSummaries PER USER across three ObjectHashAggregate stages
    (measured 3.9 s vs 0.6 s for this split at sf0.1; the gap grows
    with user cardinality)."""
    ev = load_table(spark, sf_dir, "events")
    approx = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile_approx("value", 0.5).alias("approx_p50_value"),
    )
    exact = (
        ev.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").alias("exact_users"))
    )
    return approx.join(exact, "event_type").select(
        "event_type", "approx_users", "approx_p50_value", "exact_users"
    )


@query(
    "window_distribution_functions",
    oracle="""
    SELECT c_mktsegment AS segment, c_custkey AS custkey,
           c_acctbal AS acctbal,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal NULLS LAST, c_custkey)
    """,
)
def window_distribution_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank and cume_dist of
    every customer's balance within its market segment. The custkey
    tie-break makes every rank (and thus both ratios of exact
    integers) unique and bit-deterministic across engines. One shuffle
    on the segment key serves both functions. NULLS LAST pinned on
    both engines (r15 numeric-band null sweep: Spark defaults NULLS
    FIRST ascending, DuckDB NULLS LAST — unpinned, a NULL balance gets
    pct_rank 0 on one engine and ~1 on the other)."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.asc_nulls_last("c_acctbal"), "c_custkey"
    )
    return c.select(
        F.col("c_mktsegment").alias("segment"),
        F.col("c_custkey").alias("custkey"),
        F.col("c_acctbal").alias("acctbal"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "window_range_frame_30day_spend",
    oracle="""
    SELECT o_orderkey AS orderkey, o_custkey AS custkey,
           CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) AS order_epoch,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
               OVER (PARTITION BY o_custkey
                     ORDER BY CAST(FLOOR(epoch(o_orderdate)) AS BIGINT)
                     RANGE BETWEEN 2592000 PRECEDING AND 1 PRECEDING),
               CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS prior_30d_spend
    FROM orders
    """,
)
def window_range_frame_30day_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window (value-based frame, not row-based): each
    order carries the customer's total spend in the preceding 30 days
    — frame bounds are *seconds offsets* on the event-time axis, so
    same-timestamp orders enter/leave the frame together (what a ROWS
    frame gets wrong). One shuffle on the customer key; state per key
    is bounded by the frame span. Exact decimal sum inside the frame,
    cast to double at the edge."""
    o = load_table(spark, sf_dir, "orders")
    epoch = epoch_sec("o_orderdate")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch)
        .rangeBetween(-2592000, -1)
    )
    spend = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)
    return o.select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_custkey").alias("custkey"),
        epoch.alias("order_epoch"),
        F.coalesce(spend, F.lit(0).cast("decimal(18,2)"))
        .cast("double")
        .alias("prior_30d_spend"),
    )


@query(
    "agg_monthly_growth",
    oracle="""
    WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders WHERE o_orderdate IS NOT NULL
        GROUP BY CAST(date_trunc('month', o_orderdate) AS DATE)
    )
    SELECT month,
           CAST(revenue AS DOUBLE) AS revenue,
           CAST(lag(revenue) OVER (ORDER BY month) AS DOUBLE) AS prev_revenue,
           CAST(revenue - lag(revenue) OVER (ORDER BY month) AS DOUBLE)
               AS mom_delta
    FROM monthly
    """,
)
def agg_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: aggregate to a monthly series,
    then a lag window for the delta. The unpartitioned window runs
    over the *aggregated* series (dozens of rows), never the fact
    table — the correct place for a global ORDER BY at any scale. The
    delta subtracts exact decimals; only the final projection casts
    to double. NULL-month quarantine mirrored (r15 temporal-band null
    sweep): undated orders form a bucket that is not a month, and its
    engine-dependent slot in the lag ordering corrupted every delta
    adjacent to it."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").isNotNull()
    )
    monthly = o.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        F.col("revenue").cast("double").alias("revenue"),
        prev.cast("double").alias("prev_revenue"),
        (F.col("revenue") - prev).cast("double").alias("mom_delta"),
    )


@query("agg_hll_reaggregatable")  # no oracle: sketch bytes are engine-specific
def agg_hll_reaggregatable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct sketches — the 100 TB pattern behind
    every "distinct users over an arbitrary date range" dashboard:
    persist one HLL sketch per (key, day) partition (Datasketches
    HllSketch via ``hll_sketch_agg``), answer range queries by
    ``hll_union_agg`` over the stored sketches — no rescan of fact
    rows, and unlike ``approx_count_distinct``'s opaque final value
    the partial state is mergeable across days/loads. Emits per
    event_type: the union-of-daily-sketches estimate, the direct
    whole-column sketch estimate (must agree — HLL union is lossless
    at equal lgConfigK), and the exact count for error bounding
    (asserted in tests)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id", 12).alias("sk"))
    unioned = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_from_daily"),
        F.count("*").alias("n_daily_sketches"),
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 12)).alias("est_direct"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return unioned.join(direct, "event_type").select(
        "event_type", "est_from_daily", "est_direct", "exact_users",
        "n_daily_sketches",
    )


CMS_DEPTH = 4  # independent hash rows (disjoint md5 nibble ranges)
CMS_WIDTH = 512  # counters per row


@query(
    "agg_countmin_heavy_hitters",
    oracle=f"""
    WITH truth AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS true_count,
               md5(CAST(l_partkey AS VARCHAR)) AS hx
        FROM lineitem GROUP BY l_partkey
    ),
    rows_d AS (SELECT unnest(range(0, {CMS_DEPTH})) AS d),
    keyed AS (
        SELECT t.l_partkey, t.true_count, d.d AS d,
               CAST(('0x' || substr(t.hx, d.d * 8 + 1, 8)) AS BIGINT)
                   % {CMS_WIDTH} AS slot
        FROM truth t, rows_d d
    ),
    counters AS (
        SELECT d, slot, CAST(SUM(true_count) AS BIGINT) AS c
        FROM keyed GROUP BY d, slot
    ),
    est AS (
        SELECT k.l_partkey, MIN(c.c) AS est_count
        FROM keyed k JOIN counters c ON c.d = k.d AND c.slot = k.slot
        GROUP BY k.l_partkey
    )
    SELECT e.l_partkey, e.est_count, t.true_count
    FROM est e JOIN truth t USING (l_partkey)
    ORDER BY e.est_count DESC, e.l_partkey ASC
    LIMIT 20
    """,
)
def agg_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation (Cormode-Muthukrishnan):
    4 hash rows x 512 counters; the 4 row-hashes are disjoint 8-hex-digit
    ranges of one md5 per item, so both engines build the *same* sketch
    and the estimates themselves are oracled, not just sanity-checked.
    Emits the top-20 parts by estimated lineitem frequency alongside the
    exact count (estimate >= truth always; the one-sided-error and
    sketch-merge properties are pytest-asserted).

    The 100 TB shape: the counter grid is a fixed 4x512 integer table no
    matter the input size. Raw rows first collapse map-side to
    (item, count) partials - Spark's partial aggregation does this
    before any shuffle - and the sketch adds those partials into slots,
    so hash work is per *distinct* item, not per row. Counters merge by
    addition, so per-day/per-load sketches re-aggregate losslessly the
    way the HLL pack's sketches do, and a stored sketch answers
    point-frequency queries with no fact-table rescan (probe = 4
    lookups in a broadcast-sized grid)."""
    truth = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count("*").alias("true_count"))
        .withColumn("hx", F.md5(F.col("l_partkey").cast("string")))
    )
    keyed = truth.select(
        "l_partkey",
        "true_count",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("d"),
        "hx",
    ).select(
        "l_partkey",
        "true_count",
        "d",
        (
            F.conv(
                F.expr("substring(hx, d * 8 + 1, 8)"), 16, 10
            ).cast("long")
            % CMS_WIDTH
        ).alias("slot"),
    )
    counters = keyed.groupBy("d", "slot").agg(
        F.sum("true_count").alias("c")
    )
    est = (
        keyed.select("l_partkey", "d", "slot")
        .join(F.broadcast(counters), on=["d", "slot"])
        .groupBy("l_partkey")
        .agg(F.min("c").alias("est_count"))
    )
    return (
        est.join(truth.select("l_partkey", "true_count"), "l_partkey")
        .orderBy(F.col("est_count").desc(), F.col("l_partkey").asc())
        .limit(20)
    )


@query(
    "agg_bitmap_exact_distinct",
    oracle="""
    WITH daily_words AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               user_id // 63 AS word_idx,
               bit_or(1::BIGINT << CAST(user_id % 63 AS INT)) AS word
        FROM events
        GROUP BY event_type, date_trunc('day', ts), user_id // 63
    ),
    merged AS (
        SELECT event_type, word_idx, bit_or(word) AS word,
               COUNT(*) AS n_daily
        FROM daily_words GROUP BY event_type, word_idx
    ),
    from_bitmap AS (
        SELECT event_type,
               CAST(SUM(bit_count(word)) AS BIGINT) AS distinct_users_bitmap,
               CAST(SUM(n_daily) AS BIGINT) AS n_daily_words
        FROM merged GROUP BY event_type
    ),
    exact AS (
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users_direct
        FROM events GROUP BY event_type
    )
    SELECT b.event_type, b.distinct_users_bitmap, e.distinct_users_direct,
           b.n_daily_words
    FROM from_bitmap b JOIN exact e USING (event_type)
    """,
)
def agg_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT re-aggregatable distinct counts via integer bitmaps — the
    roaring-bitmap pattern in pure relational form, the lossless
    sibling of the HLL pack: per (event_type, day) the user-id space is
    packed into 63-bit words (word user_id/63, bit user_id%63 — bit 63
    would overflow a signed BIGINT shift — built
    with bit_or), stored words OR together across days losslessly, and
    the distinct count is Σ bit_count(word) — answered from stored
    words with no fact rescan and *no* sketch error. The query emits
    the bitmap-derived count next to COUNT(DISTINCT) per type; the
    oracle proves them equal on every run.

    At 100 TB: word count is |id-space|/63 per key (dense ids — for
    sparse/surrogate ids, dictionary-encode first), each daily word is
    one partial-aggregated bit_or, and range queries OR the stored
    words for just the requested days. The trade against HLL is
    exactness for state ∝ id-space instead of O(log log n) — the right
    choice when ids are dense and billing/compliance needs exact
    uniques."""
    ev = load_table(spark, sf_dir, "events")
    daily_words = ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.expr("user_id div 63").alias("word_idx"),
    ).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))")
        ).alias("word")
    )
    merged = daily_words.groupBy("event_type", "word_idx").agg(
        F.bit_or("word").alias("word"), F.count("*").alias("n_daily")
    )
    from_bitmap = merged.groupBy("event_type").agg(
        F.sum(F.bit_count("word")).cast("long").alias("distinct_users_bitmap"),
        F.sum("n_daily").cast("long").alias("n_daily_words"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("distinct_users_direct")
    )
    return from_bitmap.join(exact, "event_type").select(
        "event_type",
        "distinct_users_bitmap",
        "distinct_users_direct",
        "n_daily_words",
    )


@query(
    "agg_bitmap_intersection",
    oracle="""
    WITH words AS (
        SELECT event_type, user_id // 63 AS word_idx,
               bit_or(1::BIGINT << CAST(user_id % 63 AS INT)) AS word
        FROM events
        WHERE event_type IN ('click', 'purchase')
        GROUP BY event_type, user_id // 63
    ),
    aligned AS (
        SELECT c.word_idx,
               c.word AS click_word,
               p.word AS purchase_word
        FROM (SELECT * FROM words WHERE event_type = 'click') c
        JOIN (SELECT * FROM words WHERE event_type = 'purchase') p
          USING (word_idx)
    ),
    from_bitmap AS (
        SELECT CAST(SUM(bit_count(click_word & purchase_word)) AS BIGINT)
                   AS both_bitmap
        FROM aligned
    ),
    exact AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS both_direct FROM (
            SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'purchase'
        )
    )
    SELECT b.both_bitmap, e.both_direct FROM from_bitmap b, exact e
    """,
)
def agg_bitmap_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-intersection analytics from stored bitmap artifacts: how
    many users both clicked AND purchased, answered by ANDing the two
    event types' 63-bit user-bitmap words (agg_bitmap_exact_distinct's
    stored form) and summing bit_count — no rescan of events, no
    semi-join of raw rows, and unlike theta-sketch intersections the
    answer is exact. Emitted beside the INTERSECT-derived count so the
    oracle proves equality on every run.

    The word tables join on word_idx (aligned fixed-size segments —
    at 100 TB this is a merge of two artifact tables ∝ id-space/63,
    independent of event volume), and AND/bit_count stay in codegen.
    Same artifact, three query families: distinct counts (OR), overlap
    (AND), and difference (AND NOT) — the relational roaring-bitmap
    toolkit."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    words = ev.groupBy(
        "event_type", F.expr("user_id div 63").alias("word_idx")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))")
        ).alias("word")
    )
    clicks = words.filter(F.col("event_type") == "click").select(
        "word_idx", F.col("word").alias("click_word")
    )
    purchases = words.filter(F.col("event_type") == "purchase").select(
        "word_idx", F.col("word").alias("purchase_word")
    )
    from_bitmap = (
        clicks.join(purchases, "word_idx")
        .agg(
            F.sum(
                F.bit_count(
                    F.col("click_word").bitwiseAND(F.col("purchase_word"))
                )
            )
            .cast("long")
            .alias("both_bitmap")
        )
    )
    exact = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id")
        .intersect(
            ev.filter(F.col("event_type") == "purchase").select("user_id")
        )
        .agg(F.count("*").cast("long").alias("both_direct"))
    )
    return from_bitmap.crossJoin(F.broadcast(exact))


RANK_TOP_N = 15  # leaderboard depth for movement tracking


@query(
    "window_rank_movement_weekly",
    oracle=f"""
    WITH wk AS (
        SELECT CAST(date_trunc('week', ts) AS DATE) AS w, event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT w, event_type, n,
               ROW_NUMBER() OVER (PARTITION BY w
                                  ORDER BY n DESC, event_type) AS rnk
        FROM wk
    ),
    top AS (SELECT * FROM ranked WHERE rnk <= {RANK_TOP_N})
    SELECT c.w AS week_start, c.event_type,
           CAST(c.rnk AS INT) AS rnk, c.n,
           CAST(p.rnk AS INT) AS prev_rnk,
           CAST(COALESCE(p.rnk - c.rnk, 0) AS INT) AS rank_delta,
           p.rnk IS NULL AS is_new_entry
    FROM top c
    LEFT JOIN ranked p
      ON p.event_type = c.event_type AND p.w = c.w - INTERVAL 7 DAY
    """,
)
def window_rank_movement_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard rank movement: each week's top-N event types with
    their previous-week rank, signed movement (positive = climbed),
    and a new-entry flag — the trending/movers view every ranking
    surface ships, expressed as rank windows joined across a 7-day
    shift (never by recomputing history per week). Deterministic ties
    (count DESC, name) and pure integer ranks.

    Scale: one grouped count, one rank window per week partition, and
    a keyed self-join on (entity, week−7) — all bounded by
    |weeks|·|entities| aggregate rows, corpus touched once."""
    events = load_table(spark, sf_dir, "events")
    wk = events.groupBy(
        F.date_trunc("week", "ts").cast("date").alias("w"), "event_type"
    ).agg(F.count("*").cast("long").alias("n"))
    w_rank = Window.partitionBy("w").orderBy(F.desc("n"), F.asc("event_type"))
    ranked = wk.withColumn("rnk", F.row_number().over(w_rank))
    top = ranked.filter(F.col("rnk") <= RANK_TOP_N)
    prev = ranked.select(
        F.col("event_type").alias("pe"),
        F.date_add("w", 7).alias("pw"),
        F.col("rnk").alias("prev_rnk"),
    )
    return (
        top.join(
            prev,
            (F.col("pe") == F.col("event_type")) & (F.col("pw") == F.col("w")),
            "left",
        )
        .select(
            F.col("w").alias("week_start"),
            "event_type",
            F.col("rnk").cast("int").alias("rnk"),
            "n",
            F.col("prev_rnk").cast("int").alias("prev_rnk"),
            F.coalesce(F.col("prev_rnk") - F.col("rnk"), F.lit(0))
            .cast("int")
            .alias("rank_delta"),
            F.col("prev_rnk").isNull().alias("is_new_entry"),
        )
    )
