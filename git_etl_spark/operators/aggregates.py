"""Aggregation pack — SURVEY.md §2.5 (A1-A4, D3-D7) re-expressed on the
synthetic corpus.

Each reference aggregation maps to the same operator *shape* on the
testdata tables (the git tables don't exist there; the shapes do):

- A1 per-author group-by      → per-customer order stats (count/min/max/sum)
- A2 global summary aggregate → one-row lineitem summary
- A3 ext-frequency + argmax   → per-lang most-frequent source (window argmax)
- D3 commits-per-day top-10   → orders-per-day top-10
- D4 hot files top-20         → hot parts top-20
- D5 commits-per-repo         → orders-per-status
- D6 conditional sum          → per-event-type count + count_if
- D7 leaderboard              → customer leaderboard

All are single-shuffle hash aggregations: Catalyst plans partial
(map-side) + final HashAggregate, so at 100 TB the shuffle carries one
row per group, not per input row. Top-k uses orderBy+limit which plans
TakeOrderedAndProject (no global sort materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import count_if, davg, dsum
from ..functions.ranking import grouped_weighted_quantile_rows
from ..io import load_table
from ..registry import query


@query(
    "agg_customer_order_stats",
    oracle="""
    SELECT o_custkey AS custkey,
           COUNT(*) AS total_orders,
           CAST(MIN(o_orderdate) AS TIMESTAMP) AS first_order_at,
           CAST(MAX(o_orderdate) AS TIMESTAMP) AS last_order_at,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
    FROM orders
    GROUP BY o_custkey
    """,
)
def agg_customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 per-key group-by: count/min/max/sum per customer
    (reference ``src/transforms.ts:11-39`` shape)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count("*").alias("total_orders"),
        F.min("o_orderdate").alias("first_order_at"),
        F.max("o_orderdate").alias("last_order_at"),
        dsum("o_totalprice").alias("total_spend"),
    )


@query(
    "agg_global_summary",
    oracle="""
    SELECT COUNT(*) AS total_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           CAST(MIN(l_shipdate) AS TIMESTAMP) AS first_ship,
           CAST(MAX(l_shipdate) AS TIMESTAMP) AS last_ship
    FROM lineitem
    """,
)
def agg_global_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 global one-row summary (reference ``src/transforms.ts:41-62``);
    min/max replace the reference's git-log-order positional trick
    (SURVEY §2.5 caveat) — order-independent by construction."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("total_rows"),
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
        count_if(F.col("l_returnflag") == "R").alias("n_returned"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


@query(
    "agg_argmax_source_per_lang",
    oracle="""
    SELECT lang, source AS top_source, n_docs
    FROM (
        SELECT lang, source, COUNT(*) AS n_docs,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY COUNT(*) DESC, source) AS rn
        FROM documents GROUP BY lang, source
    ) WHERE rn = 1
    """,
)
def agg_argmax_source_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 frequency + argmax (reference ``src/git-parser.ts:224-264``
    language detection): most frequent source per lang, tie-break on
    source name for determinism."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang", "source").agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("lang").orderBy(F.desc("n_docs"), F.asc("source"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", F.col("source").alias("top_source"), "n_docs")
    )


@query(
    "agg_orders_per_day_top10",
    oracle="""
    SELECT CAST(o_orderdate AS DATE) AS order_day,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS day_revenue
    FROM orders
    GROUP BY 1
    ORDER BY n_orders DESC, order_day ASC
    LIMIT 10
    """,
)
def agg_orders_per_day_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 commits-per-day (reference ``README.md:65-73``): day-trunc
    group-by with top-10; plans TakeOrderedAndProject."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.to_date("o_orderdate").alias("order_day"))
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("day_revenue"),
        )
        .orderBy(F.desc("n_orders"), F.asc("order_day"))
        .limit(10)
    )


@query(
    "agg_hot_parts_top20",
    oracle="""
    SELECT l_partkey AS partkey,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    GROUP BY l_partkey
    ORDER BY n_lines DESC, partkey ASC
    LIMIT 20
    """,
)
def agg_hot_parts_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 hot-files (reference ``README.md:76-83``): per-key counts +
    sums, top-20 deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.count("*").alias("n_lines"),
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_price"),
        )
        .orderBy(F.desc("n_lines"), F.asc("partkey"))
        .limit(20)
    )


@query(
    "agg_orders_per_status",
    oracle="SELECT o_orderstatus AS status, COUNT(*) AS n FROM orders GROUP BY 1",
)
def agg_orders_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 commits-per-repo (reference ``README.md:86-88``): plain
    group-count."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").alias("n")
    )


@query(
    "agg_conditional_sum",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM events GROUP BY event_type
    """,
)
def agg_conditional_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 conditional sum inside aggregate (reference ``README.md:91-94``
    ``SUM(CASE WHEN is_annotated...)``)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        count_if(F.col("value") > 50).alias("n_high"),
    )


@query(
    "agg_avg_balance_per_segment",
    oracle="""
    SELECT c_mktsegment AS segment,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(c_acctbal)
               AS avg_balance
    FROM customer GROUP BY c_mktsegment
    """,
)
def agg_avg_balance_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG done order-independently (decimal sum / count) — the pattern
    every money-average at 100 TB should use."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_customers"),
        davg("c_acctbal").alias("avg_balance"),
    )


@query(
    "agg_salted_two_phase",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def agg_salted_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase aggregation, registered under the plain
    GROUP BY oracle to prove the rewrite is semantics-preserving:
    phase 1 aggregates on (key, salt) — 16-way splitting any hot key
    across tasks — phase 2 merges the partials per key. COUNT/SUM
    merge as sums; COUNT DISTINCT pre-deduplicates (user_id, key) in
    the salted phase so the merge stays exact. This is the manual form
    of what AQE's skew-join splitting does for joins; for aggregation
    over a few hot keys (the 100 TB reality: one event_type dominating
    a day's traffic) the salt bounds any single task's input."""
    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn("salt", (F.col("event_id") % 16).cast("int"))
    partial = salted.groupBy("event_type", "salt").agg(
        F.count("*").alias("pn"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("psum"),
    )
    merged = partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.sum("psum").cast("double").alias("sum_value"),
    )
    # exact COUNT DISTINCT under salting: dedup (key, user) first —
    # the dedup shuffle is itself salted by user_id's hash.
    # count(user_id), not count(*): the distinct set keeps at most one
    # NULL-user row per key, and COUNT(DISTINCT user_id) on the oracle
    # side ignores NULLs — count(*) here would mint a phantom user for
    # any key carrying untagged events (r14 ADVICE).
    distinct_users = (
        ev.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count("user_id").alias("n_users"))
    )
    # NULL-SAFE merge join (r14 null-heavy full-oracle sweep): GROUP BY
    # treats NULL as a group on both engines, but a plain equi-join
    # between the two partial aggregates silently DROPS that group —
    # the salted rewrite was not semantics-preserving exactly when the
    # hot key is NULL, which at 100 TB is the classic hot key
    # (untagged events). eqNullSafe keeps the rewrite ≡ plain GROUP BY.
    return merged.join(
        distinct_users,
        merged["event_type"].eqNullSafe(distinct_users["event_type"]),
    ).select(
        merged["event_type"], "n", "n_users", "sum_value"
    )


@query(
    "agg_price_histogram",
    oracle="""
    WITH b AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
               FROM orders)
    SELECT CASE WHEN b.hi = b.lo THEN 1
                ELSE LEAST(CAST(FLOOR((o_totalprice - b.lo)
                                      / (b.hi - b.lo) * 10)
                                AS BIGINT) + 1, 10) END AS bucket,
           COUNT(*) AS n,
           CAST(MIN(o_totalprice) AS DOUBLE) AS bucket_min,
           CAST(MAX(o_totalprice) AS DOUBLE) AS bucket_max
    FROM orders, b
    GROUP BY CASE WHEN b.hi = b.lo THEN 1
                  ELSE LEAST(CAST(FLOOR((o_totalprice - b.lo)
                                        / (b.hi - b.lo) * 10)
                                  AS BIGINT) + 1, 10) END
    """,
)
def agg_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram against data-driven bounds (broadcast
    one-row min/max aggregate). The bin expression
    ``least(floor((x−lo)/(hi−lo)·10)+1, 10)`` is written identically
    on both engines — same IEEE operation order, so bucket assignment
    is bit-deterministic. The two-pass shape (bounds, then binning)
    is the standard distributed histogram at any scale. A degenerate
    range (hi == lo: one distinct price, e.g. a single-row slice)
    pins everything to bucket 1 on BOTH engines — without the guard,
    ANSI Spark raises DIVIDE_BY_ZERO while DuckDB yields NULL (its
    float division by zero returns NULL, not IEEE NaN), i.e. a crash
    on one side and a NULL-bucket group on the other."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    bucket = F.when(
        F.col("hi") == F.col("lo"), F.lit(1).cast("bigint")
    ).otherwise(
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * 10
            ).cast("bigint")
            + 1,
            F.lit(10).cast("bigint"),
        )
    )
    return (
        o.crossJoin(F.broadcast(bounds))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("o_totalprice").cast("double").alias("bucket_min"),
            F.max("o_totalprice").cast("double").alias("bucket_max"),
        )
    )


@query(
    "sql_api_correlated_exists",
    oracle="""
    SELECT c.c_custkey AS custkey, c.c_acctbal AS acctbal
    FROM customer c
    WHERE c.c_acctbal > 9000
      AND EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > c.c_acctbal * 40)
    """,
)
def sql_api_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same correlated-EXISTS surface through ``spark.sql`` text
    instead of the DataFrame API — proving the engine's SQL entry
    point (temp views + Catalyst's own subquery decorrelation) matches
    the oracle too. Catalyst rewrites the correlated EXISTS with the
    cross-table comparison into a left-semi join; the DataFrame
    queries in this pack state that plan explicitly, this one lets the
    optimizer derive it."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey AS custkey, c.c_acctbal AS acctbal
        FROM customer c
        WHERE c.c_acctbal > 9000
          AND EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > c.c_acctbal * 40)
        """
    )


@query(
    "agg_topn_plus_other",
    oracle="""
    WITH per AS (
        SELECT n_name,
               COUNT(*) AS n_customers,
               SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY bal DESC, n_name) AS rk
        FROM per)
    SELECT CASE WHEN rk <= 5 THEN n_name ELSE 'OTHER' END AS nation_group,
           CAST(SUM(n_customers) AS BIGINT) AS n_customers,
           CAST(SUM(bal) AS DOUBLE) AS total_balance
    FROM ranked
    GROUP BY CASE WHEN rk <= 5 THEN n_name ELSE 'OTHER' END
    """,
)
def agg_topn_plus_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N-plus-other reporting rollup: rank groups by a measure,
    keep the top 5 named, collapse the tail into ``'OTHER'`` — the
    dashboard shape behind the reference's leaderboard queries
    (``README.md:60-75``) whenever the key has unbounded cardinality.

    Scale shape: phase 1 is an ordinary partial+final hash aggregate
    (one row per group crosses the shuffle); the ranking window then
    runs over *group rows only* (25 nations here, maybe 10⁵ groups at
    100 TB — trivially window-able), never over fact rows, and the
    relabel+re-aggregate is a second tiny shuffle. Money stays decimal
    through BOTH aggregation phases (sum of sums is exact), cast to
    double only at the end."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    per = (
        cust.join(
            F.broadcast(nat), cust.c_nationkey == nat.n_nationkey
        )
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("bal"),
        )
    )
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.orderBy(F.col("bal").desc(), F.col("n_name"))
    )
    return (
        per.withColumn("rk", rk)
        .withColumn(
            "nation_group",
            F.when(F.col("rk") <= 5, F.col("n_name")).otherwise(F.lit("OTHER")),
        )
        .groupBy("nation_group")
        .agg(
            F.sum("n_customers").cast("bigint").alias("n_customers"),
            F.sum("bal").cast("double").alias("total_balance"),
        )
    )


@query(
    "agg_equidepth_histogram",
    oracle="""
    WITH b AS (
        SELECT round(CAST(quantile_cont(o_totalprice, 0.25) AS DOUBLE), 4) AS q1,
               round(CAST(quantile_cont(o_totalprice, 0.50) AS DOUBLE), 4) AS q2,
               round(CAST(quantile_cont(o_totalprice, 0.75) AS DOUBLE), 4) AS q3
        FROM orders)
    SELECT CAST((CASE WHEN o_totalprice > b.q1 THEN 1 ELSE 0 END
          + CASE WHEN o_totalprice > b.q2 THEN 1 ELSE 0 END
          + CASE WHEN o_totalprice > b.q3 THEN 1 ELSE 0 END) + 1 AS BIGINT)
               AS bucket,
           COUNT(*) AS n,
           CAST(MIN(o_totalprice) AS DOUBLE) AS bucket_min,
           CAST(MAX(o_totalprice) AS DOUBLE) AS bucket_max
    FROM orders, b
    GROUP BY 1
    """,
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-bucket) histogram, the companion to the
    equi-width one: bucket boundaries are the exact quartiles, so each
    bucket holds ~25% of rows regardless of the value distribution —
    what a skewed money column actually needs.

    Scale shape: two passes, NO global sort — pass 1 computes the
    three boundary values with the exact ``percentile`` aggregate
    (partial sketches per partition, merged once; a one-row result
    broadcast back), pass 2 bins by three comparisons inside
    whole-stage codegen and hash-aggregates. This deliberately avoids
    the ntile-over-global-ORDER-BY formulation, which plans a
    single-partition window — a non-starter at 100 TB. Boundaries are
    rounded to 4 dp on both engines so interpolation last-bit noise
    can't flip a boundary-adjacent row's bucket."""
    o = load_table(spark, sf_dir, "orders")
    # ONE percentile buffer for all three boundaries: the exact
    # percentile aggregate keeps every value in its buffer, so three
    # separate calls triple the buffered data and the merge cost —
    # the array form computes q1/q2/q3 from a single buffer
    # (measured 1.31 s → three-call form vs single-buffer form below)
    bounds = o.agg(
        F.percentile(
            "o_totalprice", F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75))
        ).alias("qs")
    ).select(
        F.round(F.col("qs")[0], 4).alias("q1"),
        F.round(F.col("qs")[1], 4).alias("q2"),
        F.round(F.col("qs")[2], 4).alias("q3"),
    )
    p = F.col("o_totalprice")
    bucket = (
        F.when(p > F.col("q1"), 1).otherwise(0)
        + F.when(p > F.col("q2"), 1).otherwise(0)
        + F.when(p > F.col("q3"), 1).otherwise(0)
        + 1
    ).cast("bigint")
    return (
        o.crossJoin(F.broadcast(bounds))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min(p).cast("double").alias("bucket_min"),
            F.max(p).cast("double").alias("bucket_max"),
        )
    )


MBA_MIN_SUPPORT = 2  # order-pairs below this are random noise here


@query(
    "agg_frequent_itemset_pairs",
    oracle=f"""
    WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM baskets),
    item AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c_item
        FROM baskets GROUP BY l_partkey
    ),
    pair AS (
        SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
               CAST(COUNT(*) AS BIGINT) AS c_pair
        FROM baskets a JOIN baskets b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {MBA_MIN_SUPPORT}
    )
    SELECT p.item_a, p.item_b, p.c_pair,
           CAST(p.c_pair * 1000000 // n.n_orders AS BIGINT) AS support_ppm,
           CAST(p.c_pair * 1000000 // ia.c_item AS BIGINT) AS conf_a_to_b_ppm,
           CAST(p.c_pair * n.n_orders * 1000000
                // (ia.c_item * ib.c_item) AS BIGINT) AS lift_ppm
    FROM pair p
    JOIN item ia ON ia.l_partkey = p.item_a
    JOIN item ib ON ib.l_partkey = p.item_b
    CROSS JOIN n
    ORDER BY p.c_pair DESC, p.item_a, p.item_b
    LIMIT 20
    """,
)
def agg_frequent_itemset_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket frequent pair mining with the three classic
    association metrics — support, confidence, lift — in exact
    integer parts-per-million (no float division to disagree on).
    Top-20 co-purchased part pairs with support ≥ 2 orders.

    Candidate pairs expand per-order from a sorted basket ARRAY, not
    a self-join: one shuffle groups lineitem to per-order item sets
    (map-side collect_set partials), then a JVM-side SQL lambda emits
    each basket's C(k,2) ordered pairs inline — the same Σ basket²/2
    candidate volume the self-join produced, but without shuffling
    the basket projection twice, sort-merging it against itself, or
    the up-front DISTINCT pass (measured 2.01 s self-join → array
    expansion below at sf0.1). Item counts and N-orders fold from the
    same materialized baskets. At 100 TB the plan holds because
    baskets are small: pair volume is bounded by basket size, never
    catalog², and a pathological mega-basket is a data bug this query
    would surface, not a skew regime to engineer for."""
    from ..session import iter_checkpoint

    # three consumers (N-orders scalar, item counts, pair expansion) —
    # materialize the per-order basket arrays once
    baskets = iter_checkpoint(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("items")),
        eager=False,  # the count() right below materializes it — one job
    )
    n_orders = baskets.count()
    item = baskets.select(
        F.explode("items").alias("l_partkey")
    ).groupBy("l_partkey").agg(F.count("*").alias("c_item"))
    pair = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(items, (x, i) -> "
                    "transform(slice(items, i + 2, size(items)), "
                    "y -> struct(x AS item_a, y AS item_b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.item_a").alias("item_a"),
                 F.col("p.item_b").alias("item_b"))
        .agg(F.count("*").alias("c_pair"))
        .filter(F.col("c_pair") >= MBA_MIN_SUPPORT)
    )
    ia = item.select(
        F.col("l_partkey").alias("item_a"), F.col("c_item").alias("c_a")
    )
    ib = item.select(
        F.col("l_partkey").alias("item_b"), F.col("c_item").alias("c_b")
    )
    # The broadcast hint is CATALOG-sized, not fact-sized: ia/ib carry
    # one (partkey, count) row per distinct part, so at sf0.1 they're
    # ~20k rows / <1 MB. At 100 TB a part catalog can exceed the 8 GB
    # broadcast hard limit — if the catalog outgrows
    # autoBroadcastJoinThreshold, drop the hints and let AQE pick
    # shuffled hash join on (item_a)/(item_b); the plan stays one
    # exchange per side and the metrics math is unchanged. The hint
    # documents intent at bench scale, it is not load-bearing.
    return (
        pair.join(F.broadcast(ia), "item_a")
        .join(F.broadcast(ib), "item_b")
        .select(
            "item_a",
            "item_b",
            "c_pair",
            F.expr(f"c_pair * 1000000 div {n_orders}").cast("long").alias(
                "support_ppm"
            ),
            F.expr("c_pair * 1000000 div c_a").cast("long").alias(
                "conf_a_to_b_ppm"
            ),
            F.expr(f"c_pair * {n_orders} * 1000000 div (c_a * c_b)")
            .cast("long")
            .alias("lift_ppm"),
        )
        .orderBy(F.col("c_pair").desc(), "item_a", "item_b")
        .limit(20)
    )


@query(
    "agg_gini_concentration",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
                   AS s_cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT s_cents,
               row_number() OVER (ORDER BY s_cents ASC,
                                  o_custkey ASC NULLS LAST) AS rk,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM spend
        WHERE s_cents IS NOT NULL
    ),
    sums AS (
        SELECT n,
               SUM(s_cents) AS total_cents,
               SUM(s_cents * rk) AS weighted
        FROM ranked GROUP BY n
    )
    SELECT n AS n_customers,
           CAST(total_cents AS BIGINT) AS total_cents,
           CAST((2 * weighted - (n + 1) * total_cents) * 1000000
                // (n * total_cents) AS BIGINT) AS gini_ppm
    FROM sums
    """,
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — the concentration /
    inequality measure behind "do 1% of users drive 99% of revenue"
    questions (and, in training-data work, source-imbalance audits).
    Computed exactly: per-customer decimal spend, a deterministic
    ascending rank (tie-break on custkey), and the rank-weighted form
    G = (2·Σ rk·s − (n+1)·Σ s) / (n·Σ s) evaluated entirely in
    integer cents with a DECIMAL(38) fold (the numerator passes 2⁶³ at
    scale; DuckDB widens to HUGEINT automatically) and the result in
    integer ppm — no float accumulation anywhere.

    The rank is the only ordered step; its input is bounded by the
    customer count, not the order count: it runs over the per-customer
    aggregate (|customers| rows), where a single-task sort costs
    milliseconds."""
    orders = load_table(spark, sf_dir, "orders")
    # unknown-spend quarantine + pinned tie-break null order (r15
    # numeric-band null sweep): a customer whose every order price is
    # NULL has an undefined rank position — including them in n while
    # excluding them from both sums would make the statistic incoherent
    # and, worse, their rank slot depends on the engine's NULL sort
    # default (Spark NULLS FIRST asc vs DuckDB NULLS LAST), shifting
    # every real customer's rk. Both engines drop them and pin the
    # custkey tie-break NULLS LAST (a NULL custkey group can still
    # carry real spend).
    spend = orders.groupBy("o_custkey").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("s_cents")
    ).where(F.col("s_cents").isNotNull())
    w_rank = Window.orderBy(
        F.col("s_cents").asc(), F.asc_nulls_last("o_custkey")
    )
    w_all = Window.partitionBy()
    ranked = spend.select(
        "s_cents",
        F.row_number().over(w_rank).alias("rk"),
        F.count("*").over(w_all).cast("long").alias("n"),
    )
    # the ppm numerator exceeds BIGINT at scale (~1e20 at sf0.1), so
    # the fold runs in DECIMAL(38,0) — matching DuckDB's automatic
    # HUGEINT widening of integer SUMs — and `div` floors back to long
    return (
        ranked.groupBy("n")
        .agg(
            F.sum("s_cents").cast("long").alias("total_cents"),
            F.expr(
                "CAST((2 * SUM(CAST(s_cents AS DECIMAL(38,0)) * rk)"
                " - (MAX(n) + 1) * SUM(CAST(s_cents AS DECIMAL(38,0))))"
                " * 1000000"
                " div (MAX(n) * SUM(CAST(s_cents AS DECIMAL(38,0))))"
                " AS BIGINT)"
            ).alias("gini_ppm"),
        )
        .select(F.col("n").alias("n_customers"), "total_cents", "gini_ppm")
    )


@query(
    "agg_log2_bucket_histogram",
    oracle="""
    WITH cents AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM orders
    )
    SELECT CAST(length(bin(c)) AS BIGINT) AS bit_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(c) AS BIGINT) AS bucket_min_cents,
           CAST(MAX(c) AS BIGINT) AS bucket_max_cents
    FROM cents GROUP BY length(bin(c))
    """,
)
def agg_log2_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two (log₂) bucket histogram of order totals — the
    latency-histogram shape (Prometheus/HDR style): bucket = bit length
    of the integer cents, computed as ``length(bin(x))`` so no
    floating-point logarithm can mis-bucket a value sitting exactly on
    a 2ᵏ boundary. Complements the exact equi-depth histogram
    (value-driven widths) with fixed exponential widths whose bucket
    count is bounded (≤63) regardless of data.

    One partial-aggregated shuffle of ≤63 groups; min/max per bucket
    document the real covered range."""
    orders = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    return (
        orders.select(cents.alias("c"))
        .groupBy(F.length(F.bin("c")).cast("long").alias("bit_bucket"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("c").cast("long").alias("bucket_min_cents"),
            F.max("c").cast("long").alias("bucket_max_cents"),
        )
    )


@query(
    "agg_weighted_median_price",
    oracle="""
    WITH w AS (
        SELECT l_returnflag, l_extendedprice AS price,
               CAST(l_quantity AS BIGINT) AS wt,
               l_orderkey, l_linenumber
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    ),
    cum AS (
        SELECT l_returnflag, price, wt,
               SUM(wt) OVER (PARTITION BY l_returnflag
                             ORDER BY price, l_orderkey, l_linenumber
                             ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(wt) OVER (PARTITION BY l_returnflag) AS tw
        FROM w
    )
    SELECT l_returnflag,
           CAST(MIN(price) AS DOUBLE) AS weighted_median_price,
           CAST(ANY_VALUE(tw) AS BIGINT) AS total_weight
    FROM cum WHERE 2 * cw >= tw
    GROUP BY l_returnflag
    """,
)
def agg_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median (lower median): per return flag, the
    smallest price whose cumulative quantity weight reaches half the
    group's total — the robust price-level statistic where each line
    counts by its quantity, not once (plain medians misstate any
    volume-skewed distribution). The boundary test is pure integer
    arithmetic (2·cumweight ≥ totalweight under a TOTAL order on
    (price, orderkey, linenumber)), and the selected value is a raw
    column passthrough — nothing float-derived, hash-stable.

    Scale: l_returnflag has THREE values, so the naive
    ``Window.partitionBy(l_returnflag)`` cumsum caps parallelism at 3
    tasks each sorting a data-linear third of the corpus — the r11
    cores screen measured it dead flat (5.88/5.25 s, local[4] ->
    local[32]) at ~5x data growth, the low-cardinality dual of the
    partitionless-window failure. Since r11 the crossing comes from
    ``functions.ranking.grouped_weighted_quantile_rows``: quantize
    price-in-cents to integer buckets (cents >> 12), aggregate one
    weight subtotal per (flag, bucket), locate each flag's half-weight
    bucket on the driver, and run the exact cumulative window only
    INSIDE that one bucket (~1/2500 of the data) — bit-identical
    result, no sort, no stage capped below cluster width. Measured:
    10x 5.88 -> 1.50 s at 4c, 5.25 -> 1.52 s at 32c; sf0.1 pays
    +0.22 s (0.88 -> 1.10, the second scan) — kept, like the
    max-concurrency rewrite, because the removed stage class is the
    one a bigger cluster can never rescue. Two range/checkpoint-based
    intermediates were measured and rejected on the way (numbers in
    PERFORMANCE.md round 11)."""
    # mirrored participation filter (r15 numeric-band null sweep): a
    # line with unknown price cannot be a median candidate and a line
    # with unknown quantity has no defined weight — both engines drop
    # them (the driver-side bucket locator would otherwise compare a
    # NULL cumweight against the half-weight target and crash).
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_extendedprice").isNotNull() & F.col("l_quantity").isNotNull()
    ).select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        # DECIMAL first: (price * 100).cast(long) on a DOUBLE truncates
        # (4.35 * 100 = 434.999...94 -> 434), so distinct two-decimal
        # prices would collide in ``cents`` and the (cents, orderkey,
        # linenumber) order could disagree with the oracle's (price,
        # orderkey, linenumber) order at the crossing row. decimal(18,2)
        # round-trips every two-decimal double exactly, making
        # cents <-> price bijective (same pattern as the Gini sweep).
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
        F.col("l_quantity").cast("long").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    crossing = grouped_weighted_quantile_rows(
        li, ["l_returnflag"], "cents", ["l_orderkey", "l_linenumber"], "wt"
    )
    return crossing.groupBy("l_returnflag").agg(
        F.min("price").cast("double").alias("weighted_median_price"),
        F.any_value("_tw").cast("long").alias("total_weight"),
    )


@query(
    "agg_hhi_concentration",
    oracle="""
    WITH s AS (
        SELECT o_orderpriority, o_custkey, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY o_orderpriority, o_custkey
    ),
    t AS (SELECT o_orderpriority, SUM(n) AS tn, SUM(n * n) AS sq
          FROM s GROUP BY o_orderpriority)
    SELECT o_orderpriority,
           CAST(tn AS BIGINT) AS n_orders,
           CAST(sq * 1000000 // (tn * tn) AS BIGINT) AS hhi_ppm
    FROM t
    """,
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration per order priority: Σ shareᵢ²
    over customers, computed WITHOUT ever forming a float share —
    Σnᵢ²·10⁶ div (Σnᵢ)² is the identical quantity in pure integer
    arithmetic (DECIMAL-safe: n² sums stay within BIGINT far past this
    corpus; widen to DECIMAL(38,0) beyond ~3e9 rows per cell as in
    quality_cohen_kappa). The standard "is this segment dominated by a
    few customers" number next to the Gini twin
    (agg_gini_concentration), which needs a sorted sweep; HHI is one
    unsorted double aggregation — the cheaper sketch-free
    concentration metric at 100 TB.

    Scale: two partial-aggregated shuffles (per-customer counts, then
    per-priority moments); nothing ∝ corpus after the first."""
    orders = load_table(spark, sf_dir, "orders")
    s = orders.groupBy("o_orderpriority", "o_custkey").agg(
        F.count("*").cast("long").alias("n")
    )
    t = s.groupBy("o_orderpriority").agg(
        F.sum("n").alias("tn"), F.sum(F.col("n") * F.col("n")).alias("sq")
    )
    return t.select(
        "o_orderpriority",
        F.col("tn").cast("long").alias("n_orders"),
        F.expr("CAST(sq * 1000000 div (tn * tn) AS BIGINT)").alias("hhi_ppm"),
    )
