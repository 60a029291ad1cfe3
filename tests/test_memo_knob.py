"""The one artifact-reuse path: ``session.session_artifact`` stores
what two or more queries consume, keyed by session, kind, sf_dir and
the tables' content fingerprint; with SPARK_GRAFT_DISABLE_MEMO set it
builds every time and stores nothing, so a scale measurement times the
solve, not a stored artifact. Corpus table schemas come through it too:
``io.load_table`` infers each table version's schema once."""

import os
import re
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from git_etl_spark import session
from git_etl_spark.session import memo_disabled, session_artifact

from .conftest import SF_SMOKE


def test_flag_semantics(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DISABLE_MEMO", raising=False)
    assert not memo_disabled()
    monkeypatch.setenv("SPARK_GRAFT_DISABLE_MEMO", "0")
    assert not memo_disabled()
    monkeypatch.setenv("SPARK_GRAFT_DISABLE_MEMO", "")
    assert not memo_disabled()
    monkeypatch.setenv("SPARK_GRAFT_DISABLE_MEMO", "1")
    assert memo_disabled()


def test_one_artifact_path():
    """No module keeps its own ``_*_MEMO`` dict, and the bypass knob and
    the exit cleanup live in session.py alone."""
    pkg = Path(__file__).resolve().parent.parent / "git_etl_spark"
    for path in pkg.rglob("*.py"):
        src = path.read_text()
        assert not re.search(r"^_[A-Z0-9_]+_MEMO\b", src, re.M), path
        if path != pkg / "session.py":
            assert "memo_disabled" not in src and "atexit" not in src, path


def _builds(spark, kind, sf_dir, calls):
    return session_artifact(
        spark, kind, sf_dir, ("documents",), lambda: calls.append(kind) or len(calls)
    )


def test_artifact_built_once_per_content(spark, tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DISABLE_MEMO", raising=False)
    table = tmp_path / "documents.parquet"
    table.write_bytes(b"v1")
    calls: list[str] = []
    assert _builds(spark, "a", str(tmp_path), calls) == 1
    assert _builds(spark, "a", str(tmp_path), calls) == 1
    assert calls == ["a"]
    # a rewrite under the same path builds afresh
    table.write_bytes(b"v2, longer")
    assert _builds(spark, "a", str(tmp_path), calls) == 2
    assert calls == ["a", "a"]


def test_artifact_kinds_do_not_collide(spark, tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DISABLE_MEMO", raising=False)
    (tmp_path / "documents.parquet").write_bytes(b"v1")
    calls: list[str] = []
    assert _builds(spark, "a", str(tmp_path), calls) == 1
    assert _builds(spark, "b", str(tmp_path), calls) == 2
    assert _builds(spark, "a", str(tmp_path), calls) == 1
    assert calls == ["a", "b"]


def test_artifact_bypass_stores_nothing(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DISABLE_MEMO", "1")
    (tmp_path / "documents.parquet").write_bytes(b"v1")
    before = dict(session._ARTIFACTS)
    calls: list[str] = []
    assert _builds(spark, "a", str(tmp_path), calls) == 1
    assert _builds(spark, "a", str(tmp_path), calls) == 2
    assert session._ARTIFACTS == before


def test_bypass_written_dirs_still_cleaned(spark, monkeypatch):
    """With the knob ON nothing is stored, but every dir written lands
    on the scratch list and the exit hook removes it — a per-solve
    measurement loop must not accumulate full-table copies in /tmp."""
    from git_etl_spark.operators import file_formats as ff
    from git_etl_spark.operators import streaming_bridge as sb

    monkeypatch.setenv("SPARK_GRAFT_DISABLE_MEMO", "1")
    monkeypatch.setattr(session, "_SCRATCH_DIRS", [])
    fmt = ff._written_copy(spark, SF_SMOKE, "json")
    src = sb._replay_source(spark, SF_SMOKE)
    assert session._SCRATCH_DIRS == [fmt, src]
    assert os.path.isdir(fmt) and os.path.isdir(src)
    session._remove_scratch_dirs()
    assert not os.path.exists(fmt) and not os.path.exists(src)


def _load(spark, sf_dir, name):
    """One ``load_table`` call under its own job group: the Spark jobs
    it ran, and the frame."""
    from git_etl_spark.io import load_table

    sc = spark.sparkContext
    group = f"load-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        df = load_table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), df


def _write_region(sf_dir, **extra):
    cols = {"r_regionkey": pa.array([0, 1], pa.int32()), "r_name": ["A", "B"]}
    pq.write_table(pa.table({**cols, **extra}), f"{sf_dir}/region.parquet")


def test_schema_inferred_once_per_table_version(spark, tmp_path, monkeypatch):
    """The first load of a table infers its schema (one Spark job);
    later loads of the unchanged table read with the stored schema and
    run none. A rewrite under the same path is inferred afresh."""
    monkeypatch.delenv("SPARK_GRAFT_DISABLE_MEMO", raising=False)
    _write_region(tmp_path)
    jobs, first = _load(spark, str(tmp_path), "region")
    assert jobs == 1
    jobs, again = _load(spark, str(tmp_path), "region")
    assert jobs == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == [(0, "A"), (1, "B")]

    _write_region(tmp_path, r_comment=["x", "y"])
    jobs, rewritten = _load(spark, str(tmp_path), "region")
    assert jobs == 1
    assert rewritten.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(rewritten.collect()) == [(0, "A", "x"), (1, "B", "y")]


def test_schema_bypass_infers_every_load(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DISABLE_MEMO", "1")
    _write_region(tmp_path)
    assert [_load(spark, str(tmp_path), "region")[0] for _ in range(3)] == [1, 1, 1]
