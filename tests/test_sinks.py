"""Upsert / merge semantics on Parquet — SURVEY.md §2.2 K1/K3/K6."""

from __future__ import annotations

import os

import pytest


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v long, payload string")


def test_upsert_last_writer_wins(spark, tmp_path):
    from git_etl_spark.sinks.upsert import upsert_parquet

    path = str(tmp_path / "t")
    upsert_parquet(spark, _df(spark, [("a", 1, "old"), ("b", 1, "old")]), path, ["k"])
    upsert_parquet(spark, _df(spark, [("a", 2, "new"), ("c", 1, "new")]), path, ["k"])
    rows = {r.k: (r.v, r.payload) for r in spark.read.parquet(path).collect()}
    # K1 ON CONFLICT DO UPDATE: 'a' updated, 'b' kept, 'c' inserted
    assert rows == {"a": (2, "new"), "b": (1, "old"), "c": (1, "new")}


def test_upsert_first_writer_wins(spark, tmp_path):
    from git_etl_spark.sinks.upsert import upsert_parquet

    path = str(tmp_path / "t")
    upsert_parquet(
        spark, _df(spark, [("a", 1, "first")]), path, ["k"], keep="first"
    )
    upsert_parquet(
        spark, _df(spark, [("a", 2, "second"), ("b", 1, "x")]), path, ["k"],
        keep="first",
    )
    rows = {r.k: r.payload for r in spark.read.parquet(path).collect()}
    # K3 INSERT OR IGNORE: 'a' keeps first value
    assert rows == {"a": "first", "b": "x"}


def test_upsert_dedups_within_batch(spark, tmp_path):
    from git_etl_spark.sinks.upsert import upsert_parquet

    path = str(tmp_path / "t")
    upsert_parquet(
        spark,
        _df(spark, [("a", 1, "x"), ("a", 1, "x"), ("b", 2, "y")]),
        path,
        ["k"],
    )
    assert spark.read.parquet(path).count() == 2


def test_upsert_idempotent(spark, tmp_path):
    from git_etl_spark.sinks.upsert import upsert_parquet

    path = str(tmp_path / "t")
    batch = _df(spark, [("a", 1, "x"), ("b", 2, "y")])
    upsert_parquet(spark, batch, path, ["k"])
    first = sorted(map(repr, spark.read.parquet(path).collect()))
    upsert_parquet(spark, batch, path, ["k"])
    assert sorted(map(repr, spark.read.parquet(path).collect())) == first


def test_publish_rolls_back_on_failure(spark, tmp_path):
    from git_etl_spark.sinks.upsert import publish, write_staging

    final = str(tmp_path / "table")
    staging = write_staging(_df(spark, [("a", 1, "v1")]), final)
    publish(staging, final)
    assert {r.payload for r in spark.read.parquet(final).collect()} == {"v1"}

    missing_staging = str(tmp_path / "does-not-exist")
    with pytest.raises(OSError):
        publish(missing_staging, final)
    # original table restored (rollback), still readable
    assert os.path.exists(final)
    assert {r.payload for r in spark.read.parquet(final).collect()} == {"v1"}


def test_jsonl_corrupt_record_quarantine(spark, tmp_path):
    """E12 error-row isolation: malformed JSON lines land in quarantine
    with the raw text; clean rows are unaffected; nothing is dropped."""
    from pyspark.sql import types as T

    from git_etl_spark.sources.jsonl import read_jsonl_with_quarantine

    src = tmp_path / "rows.jsonl"
    src.write_text(
        '{"id": 1, "name": "ok"}\n'
        "not json at all\n"
        '{"id": 2, "name": "also ok"}\n'
        '{"id": "wrong-type-but-coercible?", "name": 3}\n'
        '{"id": 4}\n'
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )
    clean, quarantine = read_jsonl_with_quarantine(spark, str(src), schema)
    clean_rows = {(r.id, r.name) for r in clean.collect()}
    bad = [r.raw_line for r in quarantine.collect()]
    assert (1, "ok") in clean_rows and (2, "also ok") in clean_rows
    assert (4, None) in clean_rows  # missing field is null, not corrupt
    assert clean.count() + quarantine.count() == 5
    assert any("not json" in b for b in bad)


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Data-lake schema evolution: files written with different (but
    compatible) schemas read back as the union schema under
    mergeSchema, with absent columns null-filled — the append-only
    evolution path a long-lived 100 TB table needs."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "evolving")
    spark.range(3).select("id", F.lit("v1").alias("tag")).write.mode(
        "append"
    ).parquet(t)
    spark.range(3, 6).select(
        "id", F.lit(2.5).alias("score")
    ).write.mode("append").parquet(t)
    merged = spark.read.option("mergeSchema", "true").parquet(t)
    assert set(merged.columns) == {"id", "tag", "score"}
    rows = {r.id: (r.tag, r.score) for r in merged.collect()}
    assert rows[0] == ("v1", None) and rows[5] == (None, 2.5)
    assert len(rows) == 6


def test_within_batch_duplicate_keys_last_row_wins(spark, tmp_path):
    """ADVICE: within-batch conflicts resolve positionally like the
    reference's sequential SQLite inserts — last occurrence wins for
    keep='last', first for keep='first' — not arbitrarily."""
    from git_etl_spark.sinks.upsert import upsert_parquet

    rows = [("a", i, f"p{i}") for i in range(1, 6)]  # 5 rows, same key
    path = str(tmp_path / "t_last")
    upsert_parquet(spark, _df(spark, rows).coalesce(1), path, ["k"])
    assert [r.payload for r in spark.read.parquet(path).collect()] == ["p5"]

    path2 = str(tmp_path / "t_first")
    upsert_parquet(
        spark, _df(spark, rows).coalesce(1), path2, ["k"], keep="first"
    )
    assert [r.payload for r in spark.read.parquet(path2).collect()] == ["p1"]


def test_publish_rejects_cross_directory_staging(spark, tmp_path):
    from git_etl_spark.sinks.upsert import publish, write_staging

    other = tmp_path / "elsewhere"
    other.mkdir()
    staging = write_staging(_df(spark, [("a", 1, "x")]), str(other / "t"))
    with pytest.raises(ValueError, match="sibling"):
        publish(staging, str(tmp_path / "t"))


def test_failed_publish_leaves_no_staging_orphans(spark, tmp_path):
    """Failure injection: make the final-path swap fail mid-publish and
    assert every .staging-* dir is cleaned up afterwards."""
    from git_etl_spark.sinks.upsert import publish_all, write_staging

    t1, t2 = str(tmp_path / "t1"), str(tmp_path / "t2")
    s1 = write_staging(_df(spark, [("a", 1, "x")]), t1)
    s2 = write_staging(_df(spark, [("b", 1, "y")]), t2)
    # sabotage the second swap: a FILE occupies t2's backup-rename target
    # path cannot collide, so instead make t2 an unreadable dir rename:
    # simplest reliable injection — replace s2 with a nonexistent path
    import shutil as _sh

    _sh.rmtree(s2)
    with pytest.raises(OSError):
        publish_all({s1: t1, s2: t2})
    leftovers = [f for f in os.listdir(tmp_path) if ".staging-" in f]
    assert leftovers == []
    # first table was already swapped in (documented mid-swap semantics)
    assert os.path.exists(t1)
