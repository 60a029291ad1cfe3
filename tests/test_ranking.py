"""The bucket-search weighted quantile (functions/ranking.py) must be
bit-identical to the grouped window it replaces, at every bucket
granularity, quantile and group-key shape (NULL and integer keys)."""

from pyspark.sql import Window
from pyspark.sql import functions as F


def test_grouped_weighted_quantile_matches_window(spark):
    """Bit-identity of the bucket-search weighted median with the
    naive grouped window, across bucket granularities — including
    shift=0 (every value its own bucket) and a shift so large all
    values share one bucket (degenerates to the full window): bucket
    granularity must affect performance only, never the result."""
    from pyspark.sql import Window
    from git_etl_spark.functions.ranking import (
        grouped_weighted_quantile_rows,
    )

    rows = [
        (f"g{i % 3}", (i * 2654435761 % 997), (i % 7) + (i % 3 == 0), i)
        for i in range(1, 1200)
    ]  # duplicate values, zero weights for some i%7==0 rows, 3 groups
    df = spark.createDataFrame(rows, "g string, v long, wt long, id long")

    w = (
        Window.partitionBy("g")
        .orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("g")
    naive = (
        df.select(
            "g",
            "v",
            F.sum("wt").over(w).alias("cw"),
            F.sum("wt").over(wt).alias("tw"),
        )
        .filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("g")
        .agg(F.min("v").alias("med"), F.max("tw").alias("tw"))
    )
    want = sorted(map(tuple, naive.collect()))
    for shift in (0, 4, 12, 40):
        got = sorted(
            map(
                tuple,
                grouped_weighted_quantile_rows(
                    df, ["g"], "v", ["id"], "wt", bucket_shift=shift
                )
                .groupBy("g")
                .agg(F.min("v").alias("med"), F.max("_tw").alias("tw"))
                .collect(),
            )
        )
        assert got == want, (shift, got, want)


def test_grouped_weighted_quantile_other_quantiles(spark):
    """q1/q4 and q3/q4 crossings agree with the window form."""
    from pyspark.sql import Window
    from git_etl_spark.functions.ranking import (
        grouped_weighted_quantile_rows,
    )

    rows = [("a", i * 37 % 211, 1 + i % 5, i) for i in range(1, 500)]
    df = spark.createDataFrame(rows, "g string, v long, wt long, id long")
    w = (
        Window.partitionBy("g")
        .orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("g")
    for q_num, q_den in ((1, 4), (3, 4)):
        naive = (
            df.select(
                "g", "v",
                F.sum("wt").over(w).alias("cw"),
                F.sum("wt").over(wt).alias("tw"),
            )
            .filter(q_den * F.col("cw") >= q_num * F.col("tw"))
            .agg(F.min("v"))
            .collect()[0][0]
        )
        got = (
            grouped_weighted_quantile_rows(
                df, ["g"], "v", ["id"], "wt", q_num=q_num, q_den=q_den,
                bucket_shift=3,
            )
            .agg(F.min("v"))
            .collect()[0][0]
        )
        assert got == naive, (q_num, q_den, got, naive)


def test_grouped_weighted_quantile_empty(spark):
    from git_etl_spark.functions.ranking import (
        grouped_weighted_quantile_rows,
    )

    df = spark.createDataFrame([], "g string, v long, wt long, id long")
    assert (
        grouped_weighted_quantile_rows(df, ["g"], "v", ["id"], "wt").count()
        == 0
    )


def test_grouped_weighted_quantile_null_group_key(spark):
    """NULL group keys must not vanish: groupBy emits a null-key
    subtotal, and the per-group conditions + offsets join are
    null-safe (<=>), so the null group's crossing must equal the
    window form's (Window.partitionBy also treats NULL as one group)."""
    from pyspark.sql import Window
    from git_etl_spark.functions.ranking import (
        grouped_weighted_quantile_rows,
    )

    rows = [
        (None if i % 3 == 0 else f"g{i % 3}", i * 37 % 211, 1 + i % 5, i)
        for i in range(1, 600)
    ]
    df = spark.createDataFrame(rows, "g string, v long, wt long, id long")
    w = (
        Window.partitionBy("g")
        .orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("g")
    key = lambda t: (t[0] is not None, t[0] or "", t[1])
    want = sorted(
        ((r["g"], r["med"])
        for r in df.select(
            "g", "v",
            F.sum("wt").over(w).alias("cw"),
            F.sum("wt").over(wt).alias("tw"),
        )
        .filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("g")
        .agg(F.min("v").alias("med"))
        .collect()),
        key=key,
    )
    got = sorted(
        ((r["g"], r["med"])
        for r in grouped_weighted_quantile_rows(
            df, ["g"], "v", ["id"], "wt", bucket_shift=3
        )
        .groupBy("g")
        .agg(F.min("v").alias("med"))
        .collect()),
        key=key,
    )
    assert None in {g for g, _ in got}, got
    assert got == want
    # null-safe equality must stay hash-joinable (Spark plans <=> as
    # coalesce+isnull hash keys) — a nested-loop fallback here would
    # be a scale regression hidden behind a correctness fix
    from git_etl_spark.plans.audit import physical_plan

    plan = physical_plan(
        grouped_weighted_quantile_rows(
            df, ["g"], "v", ["id"], "wt", bucket_shift=3
        )
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan


def test_weighted_median_cents_exact_on_truncating_prices(spark):
    """(price * 100).cast(long) on a DOUBLE truncates ~6% of
    two-decimal values (4.35*100 = 434.999...94 -> 434), colliding
    distinct prices in the integer order key; the production query
    derives cents via decimal(18,2) so cents <-> price stays
    bijective. Pin that with prices chosen to truncate, weights
    placing the half-weight crossing exactly inside a would-collide
    pair, and compare against the window-form weighted median on the
    RAW price."""
    from pyspark.sql import Window
    from git_etl_spark.functions.ranking import (
        grouped_weighted_quantile_rows,
    )

    # 4.34 vs 4.35: naive double cents gives 434 for BOTH (collision);
    # 0.29 -> 28, 0.57 -> 56, 2.07 -> 206 all truncate too.
    prices = [0.29, 0.57, 2.07, 4.34, 4.35, 8.41, 12.30, 29.99]
    rows = [
        ("A", p, 1 + (i % 3), i) for i, p in enumerate(prices)
    ] + [("B", p, 2, 100 + i) for i, p in enumerate(reversed(prices))]
    df = spark.createDataFrame(rows, "g string, price double, wt long, id long")

    # the naive derivation really does collide on this data — guard
    # that the test keeps exercising the failure mode
    naive_cents = [
        r[0]
        for r in df.select((F.col("price") * 100).cast("long")).collect()
    ]
    assert len(set(naive_cents)) < df.select("price").distinct().count()

    exact = df.withColumn(
        "cents", (F.col("price").cast("decimal(18,2)") * 100).cast("long")
    )
    # decimal round-trip is bijective on two-decimal prices
    assert (
        exact.select("cents").distinct().count()
        == df.select("price").distinct().count()
    )

    w = (
        Window.partitionBy("g")
        .orderBy("price", "id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("g")
    want = sorted(
        map(
            tuple,
            df.select(
                "g", "price",
                F.sum("wt").over(w).alias("cw"),
                F.sum("wt").over(wt).alias("tw"),
            )
            .filter(2 * F.col("cw") >= F.col("tw"))
            .groupBy("g")
            .agg(F.min("price").alias("med"))
            .collect(),
        )
    )
    for shift in (0, 2, 12):
        got = sorted(
            map(
                tuple,
                grouped_weighted_quantile_rows(
                    exact, ["g"], "cents", ["id"], "wt", bucket_shift=shift
                )
                .groupBy("g")
                .agg(F.min("price").alias("med"))
                .collect(),
            )
        )
        assert got == want, (shift, got, want)


def test_grouped_weighted_quantile_int_group_key(spark):
    """Group keys keep their real dtype through the offsets join —
    an integer group column must work without string coercion."""
    from git_etl_spark.functions.ranking import (
        grouped_weighted_quantile_rows,
    )

    rows = [(i % 4, i * 37 % 211, 1 + i % 5, i) for i in range(1, 400)]
    df = spark.createDataFrame(rows, "g int, v long, wt long, id long")
    out = (
        grouped_weighted_quantile_rows(df, ["g"], "v", ["id"], "wt")
        .groupBy("g")
        .agg(F.min("v").alias("med"))
        .collect()
    )
    assert len(out) == 4 and all(r["med"] is not None for r in out)
