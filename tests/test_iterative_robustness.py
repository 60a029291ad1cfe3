"""Robustness of the iterative engines: convergence is asserted (never
silently truncated) and round materialization can be flipped to
reliable-storage checkpoints with one standard Spark knob."""

from __future__ import annotations

from .conftest import SF_CORRECTNESS, forget_artifacts


def test_large_star_handles_deep_path(spark):
    """Large-Star/Small-Star is diameter-independent: a 30-edge path
    (diameter 30) converges to a single star."""
    from git_etl_spark.operators.graph import large_star_small_star

    edges = spark.createDataFrame([(i, i + 1) for i in range(30)], ["a", "b"])
    labels = large_star_small_star(spark, edges)
    assert {tuple(r) for r in labels.collect()} == {(i, 0) for i in range(31)}


def test_large_star_empty_graph_is_trivially_stable(spark):
    from git_etl_spark.operators.graph import large_star_small_star

    edges = spark.createDataFrame([], "a long, b long")
    assert large_star_small_star(spark, edges).count() == 0


def test_reliable_checkpoint_equals_local(spark, tmp_path):
    """One `setCheckpointDir` call flips every iterative operator from
    executor-local to reliable-storage round checkpoints (the cluster
    deployment mode, where localCheckpoint dies with an executor); the
    clustering output must be identical either way."""
    from git_etl_spark.operators import dedup

    baseline = sorted(
        map(tuple, dedup.dedup_cluster_components(spark, SF_CORRECTNESS).collect())
    )
    forget_artifacts("cluster-labels", "rep-graph")
    ckpt = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    try:
        assert spark.sparkContext.getCheckpointDir() is not None
        reliable = sorted(
            map(
                tuple,
                dedup.dedup_cluster_components(spark, SF_CORRECTNESS).collect(),
            )
        )
    finally:
        # reset to the local fast path and drop results produced under
        # the reliable engine so later tests rebuild their own artifacts
        spark.sparkContext._jsc.sc().setCheckpointDir(None)
        forget_artifacts("cluster-labels", "rep-graph")
    assert spark.sparkContext.getCheckpointDir() is None
    assert reliable == baseline


def test_reliable_checkpoint_pagerank_bitwise_equal(spark, tmp_path):
    """PageRank under reliable checkpointing must be bit-identical to
    the localCheckpoint run (the sorted-fold determinism guarantee is
    engine-state-independent)."""
    from git_etl_spark.operators.graph import graph_pagerank_bipartite

    baseline = sorted(
        map(tuple, graph_pagerank_bipartite(spark, SF_CORRECTNESS).collect())
    )
    spark.sparkContext.setCheckpointDir(str(tmp_path / "pr-ckpt"))
    try:
        reliable = sorted(
            map(
                tuple,
                graph_pagerank_bipartite(spark, SF_CORRECTNESS).collect(),
            )
        )
    finally:
        spark.sparkContext._jsc.sc().setCheckpointDir(None)
    assert reliable == baseline
