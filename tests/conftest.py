from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


def forget_artifacts(*kinds: str) -> None:
    """Drop the stored session artifacts of these kinds."""
    from git_etl_spark import session

    for key in [k for k in session._ARTIFACTS if k[1] in kinds]:
        del session._ARTIFACTS[key]


@pytest.fixture(scope="session")
def spark():
    import os

    from git_etl_spark.session import get_spark, scratch_dir

    # on the scratch list, so the exit hook removes it and the bucketed
    # tables written there
    warehouse = scratch_dir("wh")
    os.makedirs(warehouse)
    # cores from $SPARK_GRAFT_CPUS (get_spark's default), so the session
    # fits the host; the shuffle width stays fixed across hosts
    spark = get_spark(
        app_name="git-etl-spark-tests",
        shuffle_partitions=8,
        # static config — must be set at session build (bucketing tests
        # saveAsTable into it)
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield spark
    spark.stop()
