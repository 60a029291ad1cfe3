"""Idempotent natural-key merge on Parquet — SURVEY.md §2.2 K1-K6.

The reference's SQLite load semantics, re-expressed for an append-only
columnar store:

- K1/K4/K5 ``ON CONFLICT ... DO UPDATE`` (last-writer-wins per natural
  key)  → union existing+new, ``row_number()`` over the natural key
  ordered by ingest version desc, keep row 1, rewrite.
- K3 ``INSERT OR IGNORE`` (first-writer-wins) → same window ordered
  ascending.
- K2 authors accumulate-merge → **re-aggregation from the commits fact
  table** (``aggregate_authors``): exact by construction, replacing
  incremental MIN/MAX/+ accumulation — the partial/final aggregate
  pattern Spark already implements internally.
- K6 multi-table transaction → staging-then-publish: every table writes
  to a staging dir; publish atomically renames all or nothing.

Scale notes: plain ``upsert_parquet`` rewrites the whole table per
merge — fine for the test warehouse, wrong at 100 TB.
``upsert_parquet_partitioned`` is the scale path: the table is laid
out ``partitionBy(partition_col)`` and a merge touches ONLY the
partitions that receive incoming keys — existing reads prune to those
partitions (partition filter at the scan) and the write uses
``partitionOverwriteMode=dynamic`` so untouched partitions' files are
not even opened. A Delta/Iceberg MERGE backend slots behind the same
function signature. Correctness (idempotence: running the same load
twice yields identical tables; untouched-partition bytes identical)
is asserted in tests/test_sinks.py.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _has_data_files(path: str) -> bool:
    """True when the table directory holds at least one data file.
    A partitioned write of an empty frame leaves only ``_SUCCESS``,
    which Spark cannot infer a schema from; such a table counts as
    absent."""
    for _, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if any(not f.startswith(("_", ".")) for f in files):
            return True
    return False


def _merged(
    existing: DataFrame | None,
    incoming: DataFrame,
    natural_key: list[str],
    keep: str,
) -> DataFrame:
    """Window-dedup merge. ``keep='last'`` = last-writer-wins (new rows
    shadow existing, K1); ``keep='first'`` = first-writer-wins (K3).

    Within-batch duplicate natural keys resolve by ingest ordinal —
    the reference's SQLite loop inserts sequentially, so its
    ``ON CONFLICT DO UPDATE`` keeps the batch's last row and
    ``INSERT OR IGNORE`` its first; ``monotonically_increasing_id``
    captured here reproduces that positional semantic (deterministic
    for a deterministic incoming partition layout, which every
    pipeline batch in this repo has)."""
    incoming = incoming.withColumn("_version", F.lit(1)).withColumn(
        "_ord", F.monotonically_increasing_id()
    )
    if existing is not None:
        existing = existing.withColumn("_version", F.lit(0)).withColumn(
            "_ord", F.lit(0).cast("long")
        )
        all_rows = existing.unionByName(incoming)
    else:
        all_rows = incoming
    order = (
        [F.desc("_version"), F.desc("_ord")]
        if keep == "last"
        else [F.asc("_version"), F.asc("_ord")]
    )
    w = Window.partitionBy(*natural_key).orderBy(*order)
    return (
        all_rows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_version", "_ord")
    )


def upsert_parquet(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    natural_key: list[str],
    keep: str = "last",
) -> None:
    """Merge ``df`` into the Parquet table at ``path`` on the natural
    key; also dedups within ``df`` itself (the reference relies on the
    UNIQUE constraint for both). Safe to re-run: a second identical
    call leaves the table unchanged."""
    existing = None
    if os.path.exists(path):
        existing = spark.read.parquet(path)
    merged = _merged(existing, df, natural_key, keep)
    tmp = f"{path}.staging-{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").parquet(tmp)
    publish(tmp, path)


def upsert_parquet_partitioned(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    natural_key: list[str],
    partition_col: str,
    keep: str = "last",
) -> None:
    """Partition-scoped merge — the 100 TB path promised in the module
    docstring. The table is laid out ``partitionBy(partition_col)``
    (which must be a prefix component of the natural key, e.g.
    ``repo_name``); a merge:

    1. collects the distinct partition values present in ``df``
       (driver-side, bounded: one value per ingested repo/tenant);
    2. reads ONLY those partitions of the existing table — the
       ``isin`` filter on the partition column prunes at file listing,
       so untouched partitions are never scanned;
    3. window-merges on the natural key exactly like ``upsert_parquet``;
    4. writes with ``partitionOverwriteMode=dynamic``, which replaces
       only the partition directories present in the merged frame —
       untouched partitions' files are not rewritten (byte-identical
       after the merge, asserted in tests/test_sinks.py).

    Unlike ``upsert_parquet`` there is no staging+rename swap: dynamic
    overwrite commits per-partition via Spark's file-commit protocol.
    Concurrent readers of a partition being replaced can observe the
    swap; production deployments layer Delta/Iceberg snapshot isolation
    behind this same signature.
    """
    if partition_col not in natural_key:
        raise ValueError(
            f"partition column {partition_col!r} must be part of the "
            f"natural key {natural_key} so a key's rows live in exactly "
            "one partition"
        )
    existing = None
    if _has_data_files(path):
        touched = [
            r[0] for r in df.select(partition_col).distinct().collect()
        ]
        existing = spark.read.parquet(path).filter(
            F.col(partition_col).isin(touched)
        )
    merged = _merged(existing, df, natural_key, keep)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def write_staging(
    df: DataFrame, final_path: str, partition_col: str | None = None
) -> str:
    """First half of the K6 transaction: write to a staging dir,
    return its path for a later ``publish``. ``partition_col`` lays the
    staged table out partitioned, so the published table supports the
    partition-scoped merge path from day one."""
    tmp = f"{final_path}.staging-{uuid.uuid4().hex[:8]}"
    writer = df.write.mode("overwrite")
    if partition_col is not None:
        writer = writer.partitionBy(partition_col)
    writer.parquet(tmp)
    return tmp


def publish(staging_path: str, final_path: str) -> None:
    """Atomic (rename-level) swap of a staged table into place.

    Filesystem contract: ``os.rename`` is atomic only within one
    filesystem — staging dirs are therefore always created as siblings
    of the final path (same parent directory ⇒ same mount), asserted
    below. On object stores (S3/GCS) directory rename is copy+delete,
    not atomic: deploy this sink there behind a metadata pointer
    (versioned-table sink in sinks/versioned.py) or a table format.
    Readers racing a publish can observe a brief missing-path window
    between the two renames and should retry.

    Failure hygiene: whatever the outcome, the staging dir is gone when
    this returns — renamed into place on success, deleted after the
    rollback on failure — so no ``.staging-*`` orphans accumulate.
    """
    if os.path.dirname(os.path.abspath(staging_path)) != os.path.dirname(
        os.path.abspath(final_path)
    ):
        raise ValueError(
            "staging dir must be a sibling of the final path "
            "(same filesystem, or rename loses atomicity): "
            f"{staging_path} -> {final_path}"
        )
    backup = f"{final_path}.old-{uuid.uuid4().hex[:8]}"
    if os.path.exists(final_path):
        os.rename(final_path, backup)
    try:
        os.rename(staging_path, final_path)
    except OSError:
        if os.path.exists(backup):
            os.rename(backup, final_path)  # roll back
        shutil.rmtree(staging_path, ignore_errors=True)
        raise
    if os.path.exists(backup):
        shutil.rmtree(backup)


def publish_all(staged: dict[str, str]) -> None:
    """K6 multi-table publish: every table is fully staged before the
    first swap, so a failure during *staging* leaves all tables
    untouched (the BEGIN/COMMIT analogue — reference
    ``src/transactions.ts:43-56``). A failure mid-swap cleans up every
    not-yet-published staging dir so no orphans remain; cross-table
    snapshot atomicity (all swaps or none) needs a metadata pointer —
    see sinks/versioned.py for that tier."""
    items = list(staged.items())
    for i, (staging_path, final_path) in enumerate(items):
        try:
            publish(staging_path, final_path)
        except Exception:
            for later_staging, _ in items[i + 1 :]:
                shutil.rmtree(later_staging, ignore_errors=True)
            raise
