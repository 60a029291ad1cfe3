"""Warehouse snapshots — a cross-table commit without a table format.

Each commit writes one new immutable snapshot dir (``v000N``) per table
it touches, then a JSON manifest mapping every table to its snapshot
version, and finally atomically repoints a one-line ``_CURRENT``
pointer at that manifest. Readers resolve the pointer (or an explicit
warehouse version) and then the manifest, so they only ever see one
fully written, mutually consistent set of table versions:

- writers never mutate a published snapshot (append-only dirs);
- the pointer swap is a single rename → readers get atomic cutover;
- old manifests and the snapshots they reference stay readable until
  ``prune_warehouse`` (retention) removes them, which also collects
  the unreferenced dirs a crashed commit leaves behind.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

_POINTER = "_CURRENT"


def _versions(table: str) -> list[int]:
    if not os.path.isdir(table):
        return []
    return sorted(
        int(d[1:]) for d in os.listdir(table)
        if d.startswith("v") and d[1:].isdigit()
    )


def current_version(warehouse: str) -> int:
    with open(os.path.join(warehouse, _POINTER)) as f:
        return int(f.read().strip())


def publish_warehouse_snapshot(
    tables: dict[str, DataFrame], warehouse: str
) -> int:
    """Cross-table atomic commit (K6): write one new
    snapshot dir per table, then commit a single manifest (JSON map of
    table → snapshot version) and atomically repoint the warehouse
    ``_CURRENT`` at it. Readers resolve the manifest first, so they
    always see one consistent set of table versions — a crash after
    any number of snapshot writes but before the pointer swap leaves
    the previous manifest (and its consistent set) current, with only
    unreferenced dirs as garbage for ``prune_warehouse`` to collect.
    This is the metadata-pointer design ``upsert.publish_all`` defers
    to, and the same commit protocol Delta/Iceberg implement with a
    transaction log. Returns the new warehouse version."""
    import json

    os.makedirs(os.path.join(warehouse, "_manifests"), exist_ok=True)
    # a commit may touch a subset of tables: untouched tables carry
    # their previous snapshot versions forward in the new manifest
    prior = _warehouse_versions(warehouse)
    manifest: dict[str, int] = (
        dict(_warehouse_manifest(warehouse, prior[-1])) if prior else {}
    )
    for name, df in tables.items():
        tdir = os.path.join(warehouse, name)
        os.makedirs(tdir, exist_ok=True)
        version = (_versions(tdir)[-1] + 1) if _versions(tdir) else 1
        df.write.mode("overwrite").parquet(
            os.path.join(tdir, f"v{version:04d}")
        )
        manifest[name] = version

    wv = (_warehouse_versions(warehouse)[-1] + 1) if _warehouse_versions(
        warehouse
    ) else 1
    mpath = os.path.join(warehouse, "_manifests", f"v{wv:04d}.json")
    tmp = f"{mpath}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, mpath)

    ptmp = os.path.join(warehouse, f".{_POINTER}.{uuid.uuid4().hex[:8]}")
    with open(ptmp, "w") as f:
        f.write(str(wv))
    os.replace(ptmp, os.path.join(warehouse, _POINTER))  # atomic commit
    return wv


def _warehouse_versions(warehouse: str) -> list[int]:
    mdir = os.path.join(warehouse, "_manifests")
    if not os.path.isdir(mdir):
        return []
    return sorted(
        int(f[1:5]) for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    )


def _warehouse_manifest(warehouse: str, version: int | None = None) -> dict[str, int]:
    import json

    v = (
        current_version(warehouse) if version is None else version
    )
    with open(os.path.join(warehouse, "_manifests", f"v{v:04d}.json")) as f:
        return json.load(f)


def read_warehouse_table(
    spark: SparkSession,
    warehouse: str,
    table: str,
    version: int | None = None,
) -> DataFrame:
    """Read one table at a *warehouse* version (default: current) —
    every table read through the same manifest is mutually
    consistent."""
    manifest = _warehouse_manifest(warehouse, version)
    return spark.read.parquet(
        os.path.join(warehouse, table, f"v{manifest[table]:04d}")
    )


def prune_warehouse(warehouse: str, keep_last: int = 2) -> list[str]:
    """Retention at the warehouse level: drop manifests beyond the
    newest ``keep_last`` (never the current one) and every table
    snapshot dir no surviving manifest references — including orphans
    from commits that crashed before their pointer swap."""
    import shutil

    cur = current_version(warehouse)
    wvs = _warehouse_versions(warehouse)
    drop_wvs = [v for v in wvs[:-keep_last] if v != cur] if keep_last else []
    keep_wvs = [v for v in wvs if v not in drop_wvs]
    referenced: set[tuple[str, int]] = set()
    for wv in keep_wvs:
        for t, tv in _warehouse_manifest(warehouse, wv).items():
            referenced.add((t, tv))

    removed: list[str] = []
    for wv in drop_wvs:
        os.remove(os.path.join(warehouse, "_manifests", f"v{wv:04d}.json"))
    for entry in os.listdir(warehouse):
        tdir = os.path.join(warehouse, entry)
        if entry.startswith("_") or not os.path.isdir(tdir):
            continue
        for v in _versions(tdir):
            if (entry, v) not in referenced:
                shutil.rmtree(os.path.join(tdir, f"v{v:04d}"))
                removed.append(f"{entry}/v{v:04d}")
    return removed

