#!/usr/bin/env python
"""Crossover microbench: the grouped cumulative window vs the
integer-bucket search (functions/ranking.grouped_weighted_quantile_rows)
for an exact weighted median over three groups.

``Window.partitionBy(group)`` caps parallelism at the group count, so
its cost grows with the rows per group; the bucket search pays a fixed
collect of per-bucket subtotals and then windows one bucket. This
script measures where the trade inverts, on a synthetic relation whose
size is the only variable — the numbers ranking.py cites.

Usage: python scripts/bench_ranking_crossover.py [rows ...]
Prints one JSON line: {"cores": N, "weighted_median": {n:
{"grouped_window": s, "bucket_search": s}}}

Each size runs in THIS JVM (sizes are independent relations; no state
leaks through spark.range), min-of-2 after a warm-up rep, forced
through a per-group aggregate sink so neither form collects n rows.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import Window
from pyspark.sql import functions as F

from git_etl_spark.functions.ranking import grouped_weighted_quantile_rows
from git_etl_spark.session import get_spark


def wm_base(spark, n: int):
    # 3 groups (the weighted-median production shape), integer value
    # in cents with duplicates, positive weights
    return spark.range(n).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.xxhash64("id") % 1_000_000 + 1_000_000).alias("cents"),
        (F.col("id") % 7 + 1).alias("wt"),
        "id",
    )


def run_wm_window(spark, n: int) -> float:
    df = wm_base(spark, n)
    w = (
        Window.partitionBy("g")
        .orderBy("cents", "id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("g")
    t0 = time.monotonic()
    (
        df.select(
            "g", "cents",
            F.sum("wt").over(w).alias("cw"),
            F.sum("wt").over(wt).alias("tw"),
        )
        .filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("g")
        .agg(F.min("cents"))
        .collect()
    )
    return time.monotonic() - t0


def run_wm_bucket(spark, n: int) -> float:
    df = wm_base(spark, n)
    t0 = time.monotonic()
    (
        grouped_weighted_quantile_rows(df, ["g"], "cents", ["id"], "wt")
        .groupBy("g")
        .agg(F.min("cents"))
        .collect()
    )
    return time.monotonic() - t0


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [
        50_000,
        500_000,
        5_000_000,
        20_000_000,
    ]
    spark = get_spark(app_name="ranking-crossover")
    cores = spark.sparkContext.defaultParallelism
    wm: dict[str, dict[str, float]] = {}
    for n in sizes:
        wm_w = [run_wm_window(spark, n) for _ in range(3)]
        wm_b = [run_wm_bucket(spark, n) for _ in range(3)]
        wm[str(n)] = {
            "grouped_window": round(min(wm_w[1:]), 3),
            "bucket_search": round(min(wm_b[1:]), 3),
        }
    print(json.dumps({"cores": cores, "weighted_median": wm}))


if __name__ == "__main__":
    main()
