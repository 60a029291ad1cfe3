"""Cross-engine exactness of the scaled-integer mean machinery
(functions/vector.py sum14 / mean14 / dec14_to_double / py_dec14):
the three implementations — Spark expression, DuckDB SQL fragment, and
the driver-side Python mirror — must produce bit-identical doubles for
the same inputs, under any partitioning.
"""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from git_etl_spark.functions.vector import (
    _DEC14_SPLIT,
    duck_mean14,
    mean14,
    py_dec14,
)


def _py_mean14(vals: list[float]) -> float:
    s = sum(int(v * 1e14) for v in vals)  # int() truncates toward zero
    return py_dec14(s) / len(vals)


def test_py_dec14_split_exactness():
    rng = random.Random(7)
    for _ in range(200):
        # sums up to ~1e24: far past int64, inside DECIMAL(38,0)
        s = rng.randint(-(10**24), 10**24)
        sgn = -1.0 if s < 0 else 1.0
        a = abs(s)
        expect = sgn * (float(a // _DEC14_SPLIT) * 1e12 + float(a % _DEC14_SPLIT)) / 1e14
        assert py_dec14(s) == expect


@pytest.mark.parametrize("n_parts", [1, 7])
def test_spark_mean14_matches_python_mirror(spark, n_parts):
    rng = random.Random(11)
    rows = [(i % 3, rng.uniform(-1, 1)) for i in range(500)]
    df = spark.createDataFrame(rows, "g INT, val DOUBLE").repartition(n_parts)
    got = {
        r["g"]: r["m"]
        for r in df.groupBy("g").agg(mean14(F.col("val")).alias("m")).collect()
    }
    for g in range(3):
        vals = [v for gg, v in rows if gg == g]
        assert got[g] == _py_mean14(vals), f"group {g} differs"


def test_duckdb_mean14_matches_python_mirror():
    rng = random.Random(13)
    vals = [rng.uniform(-2, 2) for _ in range(1000)]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(val DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    (got,) = con.execute(f"SELECT {duck_mean14('val')} FROM t").fetchone()
    assert got == _py_mean14(vals)


def test_qsum_matches_duck_qsum_in_range(spark):
    """qsum / duck_qsum agree bit-for-bit for in-bound derived values."""
    from git_etl_spark.functions.exact import duck_qsum, qsum

    rng = random.Random(11)
    vals = [rng.uniform(-9e4, 9e4) * rng.uniform(0.8, 1.2) for _ in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = df.agg(qsum(F.col("x")).alias("s")).collect()[0]["s"]
    want = duckdb.sql(
        f"SELECT {duck_qsum('x')} AS s FROM (SELECT unnest(?) AS x)",
        params=[vals],
    ).fetchall()[0][0]
    assert got == want


def test_qsum_out_of_range_fails_loudly(spark):
    """Past |x| >= (2^63-2)/10^s, floor's long saturates silently
    (measured: floor(1e19) -> Long.MAX even under ANSI); the in-plan
    guard must turn that into a loud failure naming the value."""
    from git_etl_spark.functions.exact import qsum

    df = spark.createDataFrame([(1.0,), (1.0e11,)], "x double")
    with pytest.raises(Exception, match="qsum"):
        df.agg(qsum(F.col("x")).alias("s")).collect()


def test_qsum_accepts_values_near_bound(spark):
    """Values just inside the guard still aggregate (the guard is the
    documented bound, not an over-tight one)."""
    from git_etl_spark.functions.exact import qsum

    df = spark.createDataFrame([(9.0e10,), (-9.0e10,)], "x double")
    got = df.agg(qsum(F.col("x")).alias("s")).collect()[0]["s"]
    assert got == 0.0


def test_session_pins_ansi_mode(spark):
    """The no-silent-wrap posture: the r12 hostile-numerics survey
    (every float scaled to ~1e150, ids near 2^62, all 246 queries)
    showed out-of-domain values fail LOUDLY — 232/246 execute, the
    other 14 raise ArithmeticException/qsum domain guards, and none
    returns a silently wrapped aggregate. That property rests on ANSI
    mode; pin it so a future default flip or env override can't
    silently change overflow semantics."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_qsum_skips_nulls_like_sql_sum(spark):
    """NULL rows must pass qsum's range guard and vanish into SUM
    semantics on BOTH engines — before the r12 fix, abs(NULL) < bound
    was NULL and assert_true(NULL) killed the job (with a NULL concat
    message) on data the DuckDB twin silently aggregated."""
    import duckdb

    from git_etl_spark.functions.exact import duck_qsum, qsum
    from pyspark.sql import functions as F

    vals = [1.25, None, 2.5, None, 3.125]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = df.agg(qsum(F.col("x")).alias("s")).collect()[0]["s"]
    want = duckdb.connect().execute(
        f"SELECT {duck_qsum('x')} AS s FROM (SELECT unnest(?) AS x)",
        [vals],
    ).fetchone()[0]
    assert got == want == 6.875


def test_dataset_fingerprint_sees_nested_rewrites(tmp_path):
    """An in-place rewrite of a leaf file inside a partition directory
    (same name, same size, newer mtime — the production partition-
    rewrite shape) must change the fingerprint even though the parent
    directory's stat is untouched."""
    import os
    import time

    from git_etl_spark.io import dataset_fingerprint

    root = tmp_path / "documents.parquet" / "date=2026-01-01"
    root.mkdir(parents=True)
    leaf = root / "part-0.parquet"
    leaf.write_bytes(b"v1-bytes")
    before = dataset_fingerprint(str(tmp_path), "documents")
    time.sleep(0.01)
    leaf.write_bytes(b"v2-bytes")  # same size, same path, newer mtime
    os.utime(tmp_path / "documents.parquet")  # parent stat irrelevant
    after = dataset_fingerprint(str(tmp_path), "documents")
    assert before != after


def test_dataset_fingerprint_sees_empty_partition_dirs(tmp_path):
    """An added or removed EMPTY partition directory (a new date slice
    before its first file, or a drained one) is structural state the
    fingerprint must see — a files-only walk missed it (ADVICE r12)."""
    from git_etl_spark.io import dataset_fingerprint

    root = tmp_path / "documents.parquet"
    root.mkdir()
    (root / "date=2026-01-01").mkdir()
    (root / "date=2026-01-01" / "part-0.parquet").write_bytes(b"x")
    before = dataset_fingerprint(str(tmp_path), "documents")
    empty = root / "date=2026-01-02"
    empty.mkdir()  # empty: no files for the walk to see
    with_empty = dataset_fingerprint(str(tmp_path), "documents")
    assert with_empty != before
    empty.rmdir()
    assert dataset_fingerprint(str(tmp_path), "documents") == before


def test_dataset_fingerprint_enoent_vs_other_oserror(tmp_path, monkeypatch):
    """Genuine absence fingerprints as ':missing' (the caller may be
    about to create the table); any OTHER OSError (EACCES/EIO on a
    transiently unreadable leaf) must PROPAGATE — mapping it to
    'missing' would silently change the fingerprint and bust, or
    alias, the memo key (r12 deferred review item)."""
    import os

    import pytest

    from git_etl_spark.io import dataset_fingerprint

    # absent table → legitimate 'missing' state
    assert dataset_fingerprint(str(tmp_path), "orders") == "orders:missing"

    root = tmp_path / "documents.parquet"
    root.mkdir()
    leaf = root / "part-0.parquet"
    leaf.write_bytes(b"x")
    real_stat = os.stat

    def stat_eacces(path, *a, **k):
        if str(path) == str(leaf):
            raise PermissionError(13, "Permission denied", str(path))
        return real_stat(path, *a, **k)

    monkeypatch.setattr(os, "stat", stat_eacces)
    with pytest.raises(PermissionError):
        dataset_fingerprint(str(tmp_path), "documents")


def test_load_table_pins_ansi_once_per_session(spark):
    """load_table pins ANSI for the no-silent-wrap posture, but only
    ONCE per session (memoized by applicationId): re-setting on every
    load would silently override a caller that deliberately flipped
    ANSI off mid-session, making a read helper a global mutator of
    cast/overflow semantics (ADVICE r12)."""
    from git_etl_spark.io import load_table

    sf = "/root/testdata/sf0.001"
    load_table(spark, sf, "region")  # ensures this session is pinned
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        load_table(spark, sf, "region")
        assert spark.conf.get("spark.sql.ansi.enabled") == "false", (
            "load_table overrode a deliberate mid-session ANSI flip"
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")


def _duck_one(sql: str):
    import duckdb

    return duckdb.connect().execute(sql).fetchone()[0]


def test_dot_partial_null_raises_on_both_engines(spark):
    """The dot() contract (non-null elements, equal dims) is enforced
    LOUDLY on both engines since r13: before, Spark's fold propagated
    NULL while DuckDB's list_aggregate silently summed the non-null
    products — a silent cross-engine divergence on corrupt input (r12
    deferred review item). Fully-NULL vectors stay NULL-through on
    both (the null-vector semantic simsearch relies on)."""
    import duckdb

    import pytest

    from git_etl_spark.functions.vector import dot, duck_dot

    # good data: engines agree
    df = spark.createDataFrame(
        [([1.0, 2.0], [3.0, 4.0])], "a array<double>, b array<double>"
    )
    got = df.select(dot(F.col("a"), F.col("b")).alias("d")).collect()[0]["d"]
    want = _duck_one(
        f"SELECT {duck_dot('a', 'b')} FROM (SELECT [1.0,2.0]::DOUBLE[] a, [3.0,4.0]::DOUBLE[] b)"
    )
    assert got == want == 11.0

    # fully-NULL vector: NULL through, no error, both engines
    dfn = spark.createDataFrame(
        [(None, [3.0, 4.0])], "a array<double>, b array<double>"
    )
    assert (
        dfn.select(dot(F.col("a"), F.col("b")).alias("d")).collect()[0]["d"]
        is None
    )
    assert (
        _duck_one(
            f"SELECT {duck_dot('a', 'b')} FROM (SELECT NULL::DOUBLE[] a, [3.0,4.0]::DOUBLE[] b)"
        )
        is None
    )

    # partial NULL: loud on both
    dfp = spark.createDataFrame(
        [([1.0, None], [3.0, 4.0])], "a array<double>, b array<double>"
    )
    with pytest.raises(Exception, match="partially-NULL"):
        dfp.select(dot(F.col("a"), F.col("b")).alias("d")).collect()
    with pytest.raises(duckdb.InvalidInputException, match="partially-NULL"):
        _duck_one(
            f"SELECT {duck_dot('a', 'b')} FROM (SELECT [1.0,NULL]::DOUBLE[] a, [3.0,4.0]::DOUBLE[] b)"
        )

    # ALL-NULL ELEMENTS (not a NULL column): [NULL, NULL] is corrupt
    # input under the contract, NOT a null vector — null vectors are
    # encoded as NULL array COLUMNS (similarity.py filters
    # `embedding IS NOT NULL`). Loud on both engines (ADVICE r13: the
    # docstring used to blur this boundary).
    dfa = spark.createDataFrame(
        [([None, None], [3.0, 4.0])], "a array<double>, b array<double>"
    )
    with pytest.raises(Exception, match="partially-NULL"):
        dfa.select(dot(F.col("a"), F.col("b")).alias("d")).collect()
    with pytest.raises(duckdb.InvalidInputException, match="partially-NULL"):
        _duck_one(
            f"SELECT {duck_dot('a', 'b')} FROM (SELECT [NULL,NULL]::DOUBLE[] a, [3.0,4.0]::DOUBLE[] b)"
        )

    # length mismatch: loud on both (zip padding → NULL product)
    dfm = spark.createDataFrame(
        [([1.0, 2.0, 5.0], [3.0, 4.0])], "a array<double>, b array<double>"
    )
    with pytest.raises(Exception, match="length-mismatched"):
        dfm.select(dot(F.col("a"), F.col("b")).alias("d")).collect()
    with pytest.raises(duckdb.InvalidInputException, match="length-mismatched"):
        _duck_one(
            f"SELECT {duck_dot('a', 'b')} FROM (SELECT [1.0,2.0,5.0]::DOUBLE[] a, [3.0,4.0]::DOUBLE[] b)"
        )

