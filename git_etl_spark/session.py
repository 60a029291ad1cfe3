"""SparkSession factory.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all cores);
the configuration below is chosen so the *same* logical plans deploy
unchanged to a large cluster:

- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned shuffle counts
  at 100 TB (a static ``shuffle.partitions`` can never be right for
  both a 60 k-row test and a 100 TB table).
- ``spark.sql.session.timeZone=UTC``: timestamps behave identically
  across driver, executors, and the DuckDB oracle.
- Arrow enabled: every pandas_udf / applyInPandas / toPandas crossing
  is Arrow-batched, never row-at-a-time pickled.
- Broadcast threshold left at default (10 MB) and AQE may upgrade
  joins at runtime; dimension tables (region/nation/customer at test
  scale) broadcast automatically, and code hints ``F.broadcast`` where
  a side is known-small by construction.
- Driver JIT policy: a 512m code cache, and C2 (tier-4) promotion
  thresholds at 10x the JDK defaults so that code the JVM runs only
  briefly — Catalyst, the planner, Janino, one-off generated classes —
  stays at C1. Both apply to the driver JVM only, which in local mode
  is the whole engine.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable
from contextlib import contextmanager as _contextmanager
from typing import TypeVar

from pyspark.sql import SparkSession

from .io import dataset_fingerprint

T = TypeVar("T")


def get_spark(
    app_name: str = "git-etl-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*``. Shuffle
    partitions default to 2×cores locally; on a real cluster AQE
    coalesces from ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``
    so this initial value is a ceiling, not a tuning knob.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(8, 2 * int(cpus))
        except (TypeError, ValueError):
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Explicitly pinned (it is the Spark 4 default): ANSI mode is
        # the no-silent-wrap property — out-of-domain numerics (the
        # hostile-corpus survey, PERFORMANCE.md round 12) fail LOUDLY
        # as ArithmeticException instead of wrapping into silently
        # wrong aggregates. At 100 TB a killed stage is recoverable; a
        # wrapped sum is not.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no nanosecond
        # timestamp type, so read as long and convert in io.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local mode puts executors in the driver JVM: shuffle blocks +
        # localCheckpoint storage for the iterative operators live here
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "10m")
        # Driver JIT policy (in local mode this JVM is the engine;
        # executors on a cluster keep the JVM defaults).
        # - Code cache 512m: every distinct query compiles fresh
        #   whole-stage-codegen classes; a multi-hundred-query session
        #   fills the default ~240 MB cache (116 MB profiled-nmethod
        #   heap) and sweeping then flushes warm methods — tpch_q18
        #   best-of-2 degraded 1.47 s → 1.87 s after 100 prior queries
        #   under the default and recovered exactly with the raise
        #   (PERFORMANCE.md round 7).
        # - Tier-4 (C2) thresholds at 10x the JDK 17 defaults: a short
        #   ETL run spent about half its CPU in C2 (cold etl_repos on a
        #   4-core host: 17.8 of 33.3 s), compiling lukewarm code —
        #   Catalyst rules, the planner, Janino, one-off codegen
        #   classes — that stops running before C2 code pays back.
        #   That code now stays at C1; hot per-row loops still reach
        #   C2. C1 only (-XX:TieredStopAtLevel=1) saves more on short
        #   runs but slowed sf0.1 dedup_minhash_lsh 3.6 s → 9.9 s.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m"
            " -XX:Tier4InvocationThreshold=50000"
            " -XX:Tier4MinInvocationThreshold=6000"
            " -XX:Tier4CompileThreshold=150000"
            " -XX:Tier4BackEdgeThreshold=400000",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def default_driver_memory(physical_bytes: int | None = None) -> str:
    """``spark.driver.memory`` when ``$SPARK_GRAFT_DRIVER_MEM`` is unset:
    three quarters of the host's physical memory, capped at 16g.

    In local mode the executors live in the driver JVM, so this heap is
    the engine's whole memory; the other quarter is left to the Python
    driver, its pandas/Arrow workers and the OS. A fixed 16g would ask
    a 15 GiB host without swap for more than it has."""
    if physical_bytes is None:
        physical_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 * 1024, physical_bytes * 3 // 4 // 2**20)}m"


def memo_disabled() -> bool:
    """True when ``SPARK_GRAFT_DISABLE_MEMO`` is set to a non-empty
    value other than ``0`` — a measurement knob that makes
    :func:`session_artifact` build every time and store nothing, so a
    scale measurement of a query in a session that already ran it
    times the solve, not the stored artifact (PERFORMANCE.md round
    11)."""
    return os.environ.get("SPARK_GRAFT_DISABLE_MEMO", "0") not in ("", "0")


# (applicationId, kind, sf_dir, dataset fingerprint) -> artifact
_ARTIFACTS: dict[tuple[str, str, str, str], object] = {}


def session_artifact(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    tables: tuple[str, ...],
    build: Callable[[], T],
) -> T:
    """The ``kind`` artifact built from ``tables`` under ``sf_dir``,
    built once per session and shared by every query that consumes it
    (a trained index, a converged fixpoint, a verified pair graph, and
    each corpus table's inferred schema, which ``io.load_table`` reads
    with on every load after the first).

    The key holds the tables' content fingerprint, so rewriting the
    data under a reused path builds afresh instead of serving a stale
    artifact. Only artifacts that two or more registry queries consume
    come through here; a repeat of one query rebuilds its own state."""
    if memo_disabled():
        return build()
    key = (
        spark.sparkContext.applicationId,
        kind,
        sf_dir,
        dataset_fingerprint(sf_dir, *tables),
    )
    if key not in _ARTIFACTS:
        _ARTIFACTS[key] = build()
    return _ARTIFACTS[key]  # type: ignore[return-value]


_SCRATCH_DIRS: list[str] = []


def scratch_dir(prefix: str) -> str:
    """A fresh ``ges-<prefix>-<id>`` path under the temp dir, to be
    written by the caller. It is registered before anything is written
    there, so a failed write leaves nothing behind at exit either."""
    path = os.path.join(
        tempfile.gettempdir(), f"ges-{prefix}-{uuid.uuid4().hex[:8]}"
    )
    _SCRATCH_DIRS.append(path)
    return path


def _remove_scratch_dirs() -> None:
    for path in _SCRATCH_DIRS:
        shutil.rmtree(path, ignore_errors=True)
    _SCRATCH_DIRS.clear()


atexit.register(_remove_scratch_dirs)


def iter_checkpoint(df, eager: bool = True):
    """Per-round lineage cut for iterative operators.

    ``localCheckpoint`` stores blocks on executors — fast, but lost
    with an executor, which kills a long-running iterative job on a
    real cluster. The knob is the standard Spark one: when the caller
    has set a reliable checkpoint location
    (``spark.sparkContext.setCheckpointDir(...)`` pointing at HDFS/S3),
    every round checkpoints reliably; otherwise the local fast path is
    used (the right default for local[] testing and short loops).
    All iterative operators (Large-Star–Small-Star components,
    PageRank, IVF Lloyd rounds) route their round
    materialization through here, so one ``setCheckpointDir`` call
    flips the whole engine — see DEPLOYMENT.md.

    ``eager=False`` defers materialization to the caller's next action
    — loops that immediately run a convergence-signature aggregate
    over the round output pass False so checkpoint + signature are ONE
    job per round instead of two (the driver-planning/job-overhead tax
    measured on the iterative families)."""
    spark = df.sparkSession
    if spark.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


@_contextmanager
def loop_shuffle_partitions(
    spark: SparkSession, n_rows: int, rows_per_partition: int = 500_000
):
    """Run an iterative loop's rounds under a shuffle-partition count
    proportional to the loop's working set (~1 per 500k rows, capped at
    the session parallelism).

    Iterative DataFrame algorithms (connected components, PageRank) pay a
    per-round fixed cost ∝ shuffle partitions: task launch, AQE
    planning, checkpoint materialization. Once the working set is
    materialized its size is known, so the round can be sized to the
    data — a few thousand edges run as single-task rounds, while at
    100 TB the same formula scales back to full parallelism. The
    session default is restored on exit, so only the loop's own
    shuffles are affected.

    CONTRACT: results must be *materialized inside the scope* (every
    call site ends rounds in an eager iter_checkpoint/localCheckpoint).
    A lazily-returned plan would execute after exit under the restored
    session setting — silently losing the sizing this context exists
    to apply.
    """
    parts = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            n_rows // rows_per_partition + 1,
        ),
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        yield parts
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
