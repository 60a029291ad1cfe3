"""Physical-layout operators — bucketing as the lake's answer to the
reference's secondary indexes (SURVEY.md §4 E8).

A reference user repeats the commits⋈file_changes-shaped join on every
report; SQLite answers it from a B-tree. On a lake the equivalent
standing investment is a BUCKETED table: pay one clustering write, and
every subsequent equi-join on the bucket key plans with ZERO shuffle
exchanges on the fact sides. This module registers that as a
driver-checked query — the co-location property is asserted inside the
query (it raises if a Spark upgrade silently re-plans a shuffle), and
the RESULT is hash-checked against the plain-join oracle, proving the
layout is a pure physical optimization.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import dataset_fingerprint, load_table
from ..registry import query

N_BUCKETS = 8


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import hashlib

    # fingerprint is a raw (path, mtime, size) string — hash to an
    # identifier-safe hex token for the table names
    fp = hashlib.md5(
        dataset_fingerprint(sf_dir, "lineitem", "orders").encode()
    ).hexdigest()[:12]
    li_name, o_name = f"li_bucketed_{fp}", f"o_bucketed_{fp}"
    # the session catalog is in-memory but the warehouse directory is
    # durable: a previous PROCESS may have left the table location on
    # disk with no catalog entry, which makes saveAsTable fail with
    # LOCATION_ALREADY_EXISTS even in overwrite mode — drop both the
    # (possibly absent) catalog entry and the stale location first
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for name in (li_name, o_name):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
    load_table(spark, sf_dir, "lineitem").write.bucketBy(
        N_BUCKETS, "l_orderkey"
    ).sortBy("l_orderkey").mode("overwrite").saveAsTable(li_name)
    load_table(spark, sf_dir, "orders").write.bucketBy(
        N_BUCKETS, "o_orderkey"
    ).sortBy("o_orderkey").mode("overwrite").saveAsTable(o_name)
    return li_name, o_name


@query(
    "join_bucketed_colocated",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join over bucketed layout: lineitem and orders are
    written ``bucketBy(8, key) sortBy(key)``, after which the
    orderkey equi-join is co-partitioned AND co-sorted: no exchange,
    no sort, straight to the merge. The query asserts that property on
    the actual physical plan (≤1 exchange — the only one allowed is
    the final |statuses|-row aggregation) and fails loudly rather than
    silently shipping a shuffle; the result is hash-checked against
    the plain-join DuckDB oracle, proving bucketing changed the plan
    and nothing else.

    At 100 TB this is THE repeated-join answer: the shuffle that
    dominates every fact-fact join runs once at write time; bucket
    counts are sized so a bucket pair fits an executor, and AQE still
    handles stragglers within buckets."""
    li_name, o_name = _bucketed_tables(spark, sf_dir)
    li = spark.table(li_name)
    o = spark.table(o_name)
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )
    from ..plans.audit import count_shuffles

    n_shuffles = count_shuffles(joined)
    if n_shuffles > 1:
        raise RuntimeError(
            f"bucketed join planned {n_shuffles} exchanges — co-location lost"
        )
    return joined
