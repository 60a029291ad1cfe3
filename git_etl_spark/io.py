"""Parquet readers for the synthetic corpus.

Reads are ``spark.read.schema(...).parquet`` with the schema Parquet
inference returned on the table's first load in this session, so
Catalyst keeps full control: column pruning and predicate pushdown
reach the scan (verify with ``df.explain`` → ``PushedFilters`` /
``ReadSchema``). No data is cached here — callers cache only when a
frame is reused within one job.

At 100 TB the same call pattern holds; the difference is layout:
fact tables are written date-partitioned (``partitionBy``) so partition
pruning kicks in, and frequently-joined keys may be bucketed. Nothing
in the query code changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from .schemas import CORPUS_TABLES

# applicationIds whose session already had ANSI pinned by load_table —
# one set per driver process, so the pin happens once per session.
_ANSI_PINNED: set[str] = set()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table from ``{sf_dir}/{name}.parquet``.

    The table's schema is inferred once per table version per session
    (``session.session_artifact``, keyed on the files' fingerprint) and
    every later load reads with it: inference is a Spark job, the read
    with a given schema runs none. Only inference is correct for every
    corpus — ``events.ts`` is nanoseconds in some and microseconds in
    others — so no static schema stands in for it.

    ``events.ts`` is TIMESTAMP(NANOS) in the parquet; Spark reads it as
    long (``nanosAsLong``) and we truncate to microseconds with integer
    division — the same ns→µs truncation DuckDB applies, so oracle
    comparisons agree. (A double division here would silently lose
    precision: ns-since-epoch ≈ 1.7e18 exceeds a double's 53-bit mantissa.)
    """
    if name not in CORPUS_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {CORPUS_TABLES}")
    # defensive, same rationale as nanosAsLong below: the caller's
    # session may not be get_spark's (the driver passes its own), and
    # the engine's no-silent-wrap posture — out-of-domain numerics
    # fail loudly instead of wrapping into wrong aggregates
    # (PERFORMANCE.md round 12) — rests on ANSI. Set ONCE per session
    # (memoized by applicationId, like the other per-session state):
    # re-setting on every load would silently override a caller that
    # deliberately flipped ANSI off mid-session, turning a read helper
    # into a global mutator of cast/overflow semantics (ADVICE r12).
    app_id = spark.sparkContext.applicationId
    if app_id not in _ANSI_PINNED:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        _ANSI_PINNED.add(app_id)
    if name == "events":
        # defensive: the caller's session may not be ours (the driver
        # passes its own) — this conf is runtime-settable
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # function-level: session imports dataset_fingerprint from here
    from .session import session_artifact

    path = table_path(sf_dir, name)
    schema = session_artifact(
        spark,
        f"schema:{name}",
        sf_dir,
        (name,),
        lambda: spark.read.parquet(path).schema,
    )
    df = spark.read.schema(schema).parquet(path)
    if name == "events" and "ts" in schema.names and isinstance(
        schema["ts"].dataType, LongType
    ):
        # ns → µs → TIMESTAMP_NTZ via pure NTZ arithmetic: no session-
        # timezone dependence (timestamp_micros() would yield a TZ-aware
        # timestamp that collects shifted under a non-UTC session)
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    return df


def dataset_fingerprint(sf_dir: str, *names: str) -> str:
    """Content-change fingerprint of one or more corpus tables under
    ``sf_dir``: sorted (relpath, mtime_ns, size) triples per table.

    ``session.session_artifact`` keys on this in addition to
    (applicationId, kind, sf_dir) so regenerating the data under a
    reused path — e.g. a test tmp dir — changes the key instead of
    serving stale results. Bounded growth: one entry per distinct
    content-version actually read in the process lifetime."""
    parts: list[str] = []
    for name in names:
        root = table_path(sf_dir, name)
        try:
            if os.path.isdir(root):
                # full recursive walk, not one listdir level: for a
                # partitioned estate (root/date=X/part-*.parquet) an
                # in-place rewrite of a leaf file changes the FILE's
                # mtime but not its parent directory's stat, so a
                # one-level fingerprint would serve stale memo results
                # after a partition rewrite (r12 review)
                for dirpath, dirs, filenames in sorted(os.walk(root)):
                    # name-only line per subdirectory (no stat): an
                    # added/removed EMPTY partition directory (a new
                    # date slice before its first file, or a drained
                    # one) is structural state a files-only walk would
                    # miss (ADVICE r12)
                    for d in sorted(dirs):
                        rel = os.path.relpath(os.path.join(dirpath, d), root)
                        parts.append(f"{name}/{rel}:dir")
                    for fname in sorted(filenames):
                        fpath = os.path.join(dirpath, fname)
                        st = os.stat(fpath)
                        rel = os.path.relpath(fpath, root)
                        parts.append(
                            f"{name}/{rel}:{st.st_mtime_ns}:{st.st_size}"
                        )
            else:
                st = os.stat(root)
                parts.append(f"{name}:{st.st_mtime_ns}:{st.st_size}")
        except FileNotFoundError:
            # genuine absence is a legitimate fingerprint state (the
            # caller may be about to create the table). Any OTHER
            # OSError (EACCES/EIO on a transiently unreadable leaf)
            # propagates: mapping it to "missing" would silently
            # change the fingerprint and bust — or worse, alias — the
            # memo key (r12 deferred review item).
            parts.append(f"{name}:missing")
    return "|".join(parts)

