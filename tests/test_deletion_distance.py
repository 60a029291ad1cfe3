"""Data-derived deletion distance for the deletion-neighborhood
candidate scheme: d must come from the corpus's max token-set size, in
exact rational arithmetic — a hardcoded d=1 silently loses qualifying
pairs once sets grow past 38 tokens at t=0.95."""

from __future__ import annotations

import pytest

from git_etl_spark.operators import dedup


def test_deletion_distance_exact_rational():
    # 31-token sets (the real corpus): one deletion per side suffices
    assert dedup._deletion_distance(31) == 1
    # 38/19 = 2 exactly; naive float math gives (1/0.95-1)*38 = 1.999…
    # which floors to 1 — the silent under-generation the rational form
    # exists to prevent
    assert dedup._deletion_distance(38) == 2
    assert dedup._deletion_distance(44) == 2
    assert dedup._deletion_distance(57) == 3


def test_deletion_keys_beyond_two_refuses():
    with pytest.raises(NotImplementedError):
        dedup._deletion_keys_expr(3)


def _write_corpus(spark, tmp_path, docs):
    # single parquet FILE via pyarrow (not a Spark directory): the
    # DuckDB oracle helper reads {dir}/{table}.parquet as one file
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "doc_id": pa.array([i for i, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs], pa.string()),
            "lang": pa.array(["en"] * len(docs), pa.string()),
            "source": pa.array(["srcX"] * len(docs), pa.string()),
            "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
        }
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))
    return str(tmp_path)


@pytest.fixture()
def big_set_corpus(spark, tmp_path):
    """Docs 0/1 share 42 tokens; doc 1 has 2 extras → J = 42/44 ≈ 0.954
    ≥ 0.95, but the pair differs by TWO tokens on one side, so delete-one
    keys can never align the two sets."""
    common = [f"t{i:02d}" for i in range(42)]
    docs = [
        (0, " ".join(common)),
        (1, " ".join(common + ["xx", "yy"])),
        (2, " ".join(f"u{i:02d}" for i in range(40))),
        (3, " ".join(f"w{i:02d}" for i in range(41))),
    ]
    return _write_corpus(spark, tmp_path, docs)


def test_d1_provably_loses_pair_and_derived_d_recovers(spark, big_set_corpus):
    # forced d=1: the (0, 1) pair has no shared deletion-1 key → lost
    _, rep_pairs_d1 = dedup._rep_graph_impl(spark, big_set_corpus, deletion_d=1)
    assert rep_pairs_d1.count() == 0

    # derived d: max set size 44 → d=2 → the delete-two key of doc 1
    # equals the full key of doc 0
    _, rep_pairs = dedup._rep_graph_impl(spark, big_set_corpus)
    got = [(r["jaccard"],) for r in rep_pairs.collect()]
    assert len(got) == 1
    assert got[0][0] == pytest.approx(42 / 44)

    # end-to-end through the registered pair listing
    pairs = sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup._jaccard_pairs_impl(spark, big_set_corpus).collect()
    )
    assert [(a, b) for a, b, _ in pairs] == [(0, 1)]


def test_incremental_index_derives_d(spark, big_set_corpus):
    """The incremental delta-vs-index join sizes its key family from the
    same corpus statistic: doc 0 (the % 17 == 0 delta) must match doc 1
    in the archive despite the two-token difference."""
    got = sorted(
        (r["doc_a"], r["doc_b"], r["pair_type"])
        for r in dedup.dedup_incremental_index_join(
            spark, big_set_corpus
        ).collect()
    )
    assert got == [(0, 1, "new-old")]


def test_real_corpus_unchanged_at_d1(spark):
    """On the shipped corpus (max set 31 → derived d=1) the derived
    scheme must produce exactly the d=1 candidate pairs."""
    from .conftest import SF_SMOKE

    _, derived = dedup._rep_graph_impl(spark, SF_SMOKE)
    _, forced = dedup._rep_graph_impl(spark, SF_SMOKE, deletion_d=1)
    assert sorted(map(tuple, derived.collect())) == sorted(
        map(tuple, forced.collect())
    )


def test_deletion_distance_bound_property():
    """Math property (hypothesis): for ANY pair of distinct token sets
    within the corpus max size whose Jaccard meets the threshold, the
    per-side difference never exceeds the derived deletion distance —
    i.e. the key family provably covers every qualifying pair."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(
        inter=st.integers(min_value=1, max_value=60),
        extra_a=st.integers(min_value=0, max_value=12),
        extra_b=st.integers(min_value=0, max_value=12),
    )
    def check(inter, extra_a, extra_b):
        size_a, size_b = inter + extra_a, inter + extra_b
        jac = inter / (inter + extra_a + extra_b)
        if jac < dedup.JACCARD_THRESHOLD:
            return
        d = dedup._deletion_distance(max(size_a, size_b))
        assert extra_a <= d and extra_b <= d, (
            f"pair with J={jac:.4f} needs per-side deletions "
            f"({extra_a}, {extra_b}) but derived d={d}"
        )

    check()


@pytest.fixture()
def long_doc_corpus(spark, tmp_path):
    """Max set size 60 → derived d = ⌊60/19⌋ = 3 → the deletion scheme
    is out of its domain and candidate generation must auto-switch to
    prefix keys. Docs 0/1 share 59 tokens, doc 1 has 3 extras →
    J = 59/62 ≈ 0.9516 ≥ 0.95 (a pair d=2 deletion keys provably
    cannot align: one side needs 3 deletions)."""
    common = [f"t{i:02d}" for i in range(59)]
    docs = [
        (0, " ".join(common)),
        (1, " ".join(common + ["xx", "yy", "zz"])),
        (2, " ".join(f"u{i:02d}" for i in range(58))),
        (3, " ".join(common)),  # exact dup of 0: collapse branch
    ]
    out = _write_corpus(spark, tmp_path, docs)
    # the oracle-parity helper registers every corpus table as a view;
    # the non-document tables just come from the smoke corpus
    import glob
    import shutil

    from .conftest import SF_SMOKE

    for path in glob.glob(f"{SF_SMOKE}/*.parquet"):
        name = path.rsplit("/", 1)[1]
        if name != "documents.parquet":
            shutil.copy(path, tmp_path / name)
    return out


def test_prefix_scheme_autoselected_past_d2(spark, long_doc_corpus):
    """r13 skew-survey fix: long documents are in-domain input — the
    pair pipeline must produce the exact answer via prefix filtering
    instead of raising (the pre-r13 behavior, found because the
    boilerplate-monorepo corpus pushes ordinary docs past 57 tokens)."""
    pairs = sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup._jaccard_pairs_impl(spark, long_doc_corpus).collect()
    )
    assert [(a, b) for a, b, _ in pairs] == [(0, 1), (0, 3), (1, 3)]
    by_pair = {(a, b): j for a, b, j in pairs}
    assert by_pair[(0, 3)] == 1.0                       # exact-dup clique
    assert by_pair[(0, 1)] == pytest.approx(59 / 62)    # prefix-found pair
    assert by_pair[(1, 3)] == pytest.approx(59 / 62)    # expanded over group


def test_prefix_scheme_matches_oracle_on_long_docs(spark, long_doc_corpus):
    """Full differential proof on the auto-switched corpus: the naive
    O(n²) DuckDB oracle must agree with the prefix-filtered plan."""
    from .oracle_utils import compare_query

    compare_query(spark, "dedup_jaccard_pairs", long_doc_corpus)
    compare_query(spark, "dedup_incremental_index_join", long_doc_corpus)


def test_prefix_scheme_equals_deletion_scheme_on_shipped_corpus(
    spark, monkeypatch
):
    """Both candidate schemes are lossless, so on a corpus where the
    deletion neighborhood applies (shipped smoke corpus, d=1) forcing
    the prefix scheme must produce the identical verified pair set."""
    from .conftest import SF_SMOKE

    _, deletion_pairs = dedup._rep_graph_impl(spark, SF_SMOKE)
    monkeypatch.setattr(
        dedup, "_corpus_deletion_distance", lambda spark, sf_dir, sets: 3
    )
    _, prefix_pairs = dedup._rep_graph_impl(spark, SF_SMOKE)
    assert sorted(map(tuple, deletion_pairs.collect())) == sorted(
        map(tuple, prefix_pairs.collect())
    )


def test_corpus_deletion_distance_memoized(spark, monkeypatch):
    """VERDICT r13 task 6: the corpus-d full-scan max is paid once per
    (applicationId, sf_dir, documents fingerprint) and served from the
    session artifact store for every later pair-pipeline consumer; the
    SPARK_GRAFT_DISABLE_MEMO knob bypasses both get and put so scale
    measurements time the solve."""
    from git_etl_spark import session

    from .conftest import SF_SMOKE, forget_artifacts

    def stored() -> int:
        return sum(k[1] == "corpus-d" for k in session._ARTIFACTS)

    monkeypatch.delenv("SPARK_GRAFT_DISABLE_MEMO", raising=False)
    forget_artifacts("corpus-d")
    sets = dedup._token_sets(spark, SF_SMOKE)
    d1 = dedup._corpus_deletion_distance(spark, SF_SMOKE, sets)
    assert stored() == 1

    # second call must not touch the DataFrame at all (scan-free)
    class _Boom:
        def agg(self, *a, **k):  # pragma: no cover - must not run
            raise AssertionError("memoized call re-scanned the corpus")

    d2 = dedup._corpus_deletion_distance(spark, SF_SMOKE, _Boom())
    assert d2 == d1

    # the memoized value is the same one the scan derives (parity)
    monkeypatch.setenv("SPARK_GRAFT_DISABLE_MEMO", "1")
    d3 = dedup._corpus_deletion_distance(spark, SF_SMOKE, sets)
    assert d3 == d1
    # knob ON: no put happened (still exactly the one earlier entry)
    assert stored() == 1
    forget_artifacts("corpus-d")
