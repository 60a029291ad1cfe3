"""Differential parity: every oracled query must match DuckDB at
sf0.01 — the same check the driver runs (CORRECTNESS_r{N}.json),
enforced locally first.
"""

from __future__ import annotations

import pytest

from .conftest import SF_CORRECTNESS
from .oracle_utils import compare_query


def _oracle_names():
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from git_etl_spark import registry

    registry.load_all()
    return sorted(registry.ORACLES)


@pytest.mark.parametrize("name", _oracle_names())
def test_oracle_parity(spark, name):
    compare_query(spark, name, SF_CORRECTNESS)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0 and len(df.columns) > 0


def test_every_query_has_callable(monkeypatch, tmp_path):
    import subprocess

    import __spark_entry__ as e
    from git_etl_spark import registry

    def no_subprocess(*args, **kwargs):
        raise AssertionError(f"queries() started a subprocess: {args}")

    monkeypatch.setattr(subprocess, "run", no_subprocess)
    monkeypatch.setattr(subprocess, "Popen", no_subprocess)
    qs = e.queries()
    assert qs, "no queries registered"
    for name, fn in qs.items():
        assert callable(fn), name
    # a permutation of the registry, mapping each name to its own callable
    assert sorted(qs) == sorted(registry.QUERIES)
    assert all(fn is registry.QUERIES[name] for name, fn in qs.items())
    # every oracle key must have a query
    for name in e.oracle_sql():
        assert name in qs, f"oracle {name} lacks a query"

    # rotation: each recorded round moves the front by ROUND_BUDGET
    names = list(registry.QUERIES)
    monkeypatch.setattr(e, "HERE", tmp_path)
    assert next(iter(e.queries())) == names[0]
    for rnd in range(1, 8):
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text("{}")
        offset = (e.ROUND_BUDGET * rnd) % len(names)
        assert list(e.queries()) == names[offset:] + names[:offset], rnd
