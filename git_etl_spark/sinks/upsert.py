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
- K6 multi-table transaction → staging-then-publish: every table is
  written to a staging dir beside it, and only when all of them are
  staged does ``publish_all`` rename them into place, one table after
  another. A failure while staging leaves every table untouched; a
  failure *during* the renames (a window of a few ``os.rename`` calls)
  can leave earlier tables published and later ones not, and a reader
  racing a swap can briefly find a table's path missing. Cross-table
  snapshot atomicity needs a metadata pointer: ``sinks/versioned.py``.

Scale note: ``upsert_parquet`` and the ETL's merge rewrite the whole
table per merge — fine for a git-history warehouse, wrong at 100 TB,
where a Delta/Iceberg MERGE would slot behind the same natural-key
semantics. Correctness (idempotence: running the same load twice
yields identical tables) is asserted in tests/test_sinks.py.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


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
    publish(write_staging(merged, path), path)


def write_staging(df: DataFrame, final_path: str) -> str:
    """First half of the K6 transaction: write to a staging dir beside
    ``final_path`` and return its path for a later ``publish``. A
    failed write removes its own staging dir."""
    tmp = f"{final_path}.staging-{uuid.uuid4().hex[:8]}"
    try:
        df.write.mode("overwrite").parquet(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
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
