"""Warehouse snapshots: atomic cross-table cutover, exact as-of reads,
retention pruning."""


def test_warehouse_snapshot_cross_table_atomicity(spark, tmp_path):
    """Multi-table commit: every read through one manifest is mutually
    consistent; a partial commit carries untouched tables forward; a
    crash before the pointer swap leaves the old consistent set
    current; prune collects unreferenced + orphaned snapshot dirs."""
    import os

    from git_etl_spark.sinks.versioned import (
        current_version,
        publish_warehouse_snapshot,
        prune_warehouse,
        read_warehouse_table,
    )

    wh = str(tmp_path / "wh")
    a1 = spark.createDataFrame([(1, "a1")], "id long, v string")
    b1 = spark.createDataFrame([(1, "b1")], "id long, v string")
    assert publish_warehouse_snapshot({"ta": a1, "tb": b1}, wh) == 1

    # partial commit: only ta changes; tb carries forward
    a2 = spark.createDataFrame([(1, "a2")], "id long, v string")
    assert publish_warehouse_snapshot({"ta": a2}, wh) == 2
    assert read_warehouse_table(spark, wh, "ta").first().v == "a2"
    assert read_warehouse_table(spark, wh, "tb").first().v == "b1"
    # time travel to warehouse v1: consistent OLD pair
    assert read_warehouse_table(spark, wh, "ta", version=1).first().v == "a1"

    # crash injection: snapshot dirs written, pointer never swapped —
    # simulate by writing an orphan snapshot dir directly
    orphan = os.path.join(wh, "ta", "v0099")
    a1.write.mode("overwrite").parquet(orphan)
    assert current_version(wh) == 2
    assert read_warehouse_table(spark, wh, "ta").first().v == "a2"

    # third commit, then prune to the last 2 manifests: v1's ta/v0001
    # (unreferenced) and the orphan must both be collected
    publish_warehouse_snapshot({"tb": b1}, wh)
    removed = set(prune_warehouse(wh, keep_last=2))
    assert "ta/v0001" in removed and "ta/v0099" in removed
    assert read_warehouse_table(spark, wh, "ta").first().v == "a2"
    assert read_warehouse_table(spark, wh, "tb").first().v == "b1"
