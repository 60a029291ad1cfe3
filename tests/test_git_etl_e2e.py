"""Golden end-to-end ETL on a scripted synthetic git repo —
SURVEY.md §5.2(2): exact table contents + idempotence (run twice,
tables unchanged)."""

from __future__ import annotations

import os
import subprocess

import pytest


def _git(repo, *args, env=None):
    subprocess.run(
        ["git", "-C", str(repo), *args],
        check=True,
        capture_output=True,
        env={**os.environ, **(env or {})},
    )


def _commit(repo, author, email, date_iso, message, files, tag=None, annotated=False):
    for path, content in files.items():
        full = repo / path
        full.parent.mkdir(parents=True, exist_ok=True)
        full.write_text(content)
    _git(repo, "add", "-A")
    env = {
        "GIT_AUTHOR_NAME": author,
        "GIT_AUTHOR_EMAIL": email,
        "GIT_AUTHOR_DATE": date_iso,
        "GIT_COMMITTER_NAME": author,
        "GIT_COMMITTER_EMAIL": email,
        "GIT_COMMITTER_DATE": date_iso,
    }
    _git(repo, "commit", "-q", "-m", message, "--allow-empty", env=env)
    if tag:
        if annotated:
            _git(repo, "tag", "-a", tag, "-m", f"Release {tag}", env=env)
        else:
            _git(repo, "tag", tag)


@pytest.fixture(scope="module")
def synthetic_repo(tmp_path_factory):
    repo = tmp_path_factory.mktemp("repos") / "proj-alpha"
    repo.mkdir()
    _git(repo, "init", "-q", "-b", "main")
    _commit(
        repo, "Alice Dev", "alice@example.com", "2024-01-01T10:00:00+00:00",
        "initial commit", {"src/main.py": "print('hi')\n", "README.md": "# a\n"},
    )
    _commit(
        repo, "Bob Builder", "bob@example.com", "2024-01-02T11:00:00+00:00",
        "add module", {"src/util.py": "x = 1\ny = 2\n"}, tag="v0.1",
    )
    # rename (exercises P1 through real git numstat output)
    (repo / "src/util.py").rename(repo / "src/helpers.py")
    _commit(
        repo, "Alice Renamed", "alice@example.com", "2024-01-03T12:00:00+00:00",
        "rename util to helpers", {},
    )
    _commit(
        repo, "Alice Renamed", "alice@example.com", "2024-01-04T13:00:00+00:00",
        "more code", {"src/main.py": "print('hi')\nprint('bye')\n"},
        tag="v0.2", annotated=True,
    )
    return repo


def _run_etl(spark, repo, out_dir):
    from git_etl_spark.plans.git_pipeline import etl_repos

    return etl_repos(spark, [str(repo)], str(out_dir))


def _tables(spark, out):
    """Every warehouse table as sorted row reprs; None when absent."""
    from git_etl_spark.plans.git_pipeline import GIT_TABLES

    return {
        t: sorted(map(repr, spark.read.parquet(str(out / t)).collect()))
        if (out / t).exists()
        else None
        for t in GIT_TABLES
    }


def test_etl_end_to_end(spark, synthetic_repo, tmp_path):
    out = tmp_path / "warehouse"
    report = _run_etl(spark, synthetic_repo, out)
    assert report["processed"] == [str(synthetic_repo)]

    commits = spark.read.parquet(str(out / "commits"))
    rows = {r.sha: r for r in commits.collect()}
    assert len(rows) == 4
    assert all(r.repo_name == "proj-alpha" for r in rows.values())
    assert all(r.branch == "main" for r in rows.values())

    by_msg = {r.message: r for r in rows.values()}
    assert by_msg["initial commit"].additions == 2
    assert by_msg["initial commit"].files_changed == 2
    assert by_msg["add module"].additions == 2
    # rename of an unchanged file: 0 additions, 1 file touched
    assert by_msg["rename util to helpers"].additions == 0
    assert by_msg["rename util to helpers"].files_changed == 1

    fc = spark.read.parquet(str(out / "file_changes"))
    fc_rows = {(r.sha, r.file_path) for r in fc.collect()}
    # rename resolved to the NEW path (P1)
    assert (by_msg["rename util to helpers"].sha, "src/helpers.py") in fc_rows
    assert not any(p.startswith("src/{") for _, p in fc_rows)

    authors = {r.email: r for r in spark.read.parquet(str(out / "authors")).collect()}
    assert authors["alice@example.com"].total_commits == 3
    # latest-name semantics (SURVEY §2.5 A1 caveat — documented intent wins)
    assert authors["alice@example.com"].name == "Alice Renamed"
    assert authors["bob@example.com"].total_commits == 1
    assert (
        authors["alice@example.com"].first_commit_at.isoformat()
        == "2024-01-01T10:00:00"
    )

    repos = {r.name: r for r in spark.read.parquet(str(out / "repos")).collect()}
    assert repos["proj-alpha"].total_commits == 4
    assert repos["proj-alpha"].language == "Python"
    assert repos["proj-alpha"].last_commit_at.isoformat() == "2024-01-04T13:00:00"

    tags = {r.tag_name: r for r in spark.read.parquet(str(out / "tags")).collect()}
    assert not tags["v0.1"].is_annotated and tags["v0.1"].message is None
    assert tags["v0.2"].is_annotated
    assert tags["v0.2"].message == "Release v0.2"
    assert tags["v0.2"].tagger_email == "alice@example.com"
    # annotated tag sha must be the peeled COMMIT sha
    assert tags["v0.2"].sha == by_msg["more code"].sha

    # summary report (A2/O4)
    s = report["summary"]
    assert s["total_commits"] == 4
    assert s["unique_authors"] == 2
    assert s["date_range"] == {"from": "2024-01-01", "to": "2024-01-04"}


def test_etl_idempotent_rerun(spark, synthetic_repo, tmp_path):
    out = tmp_path / "warehouse2"
    _run_etl(spark, synthetic_repo, out)

    def snapshot():
        return {
            t: sorted(
                map(repr, spark.read.parquet(str(out / t)).collect())
            )
            for t in ("commits", "file_changes", "authors", "repos", "tags")
        }

    first = snapshot()
    _run_etl(spark, synthetic_repo, out)  # second run = natural-key merge
    assert snapshot() == first, "re-running the ETL must not change any table"


def test_author_gate_skips_repo(spark, synthetic_repo, tmp_path):
    from git_etl_spark.plans.git_pipeline import etl_repos

    report = etl_repos(
        spark, [str(synthetic_repo)], str(tmp_path / "w3"),
        author_pattern="NoSuchAuthor",
    )
    assert report["skipped"] == [str(synthetic_repo)]
    assert not (tmp_path / "w3").exists()


def test_discovery_finds_repo(synthetic_repo, tmp_path):
    from git_etl_spark.sources.discovery import (
        find_git_repositories,
        load_repositories_config,
    )

    root = synthetic_repo.parent
    found = find_git_repositories(str(root))
    assert str(synthetic_repo) in found

    # config resolution: explicit ∪ scanned − ignore (SET1/SET2)
    import json

    cfg = tmp_path / "repos.json"
    cfg.write_text(
        json.dumps(
            {
                "repositories": [str(synthetic_repo) + "/"],
                "paths": [str(root)],
                "ignore": [],
            }
        )
    )
    resolved = load_repositories_config(str(cfg))
    assert resolved.count(str(synthetic_repo)) == 1  # deduped across both

    cfg.write_text(json.dumps({"paths": [str(root)], "ignore": [str(synthetic_repo)]}))
    assert load_repositories_config(str(cfg)) == []


def _one_author_repo(root, name, author, email, dates):
    repo = root / name
    repo.mkdir()
    _git(repo, "init", "-q", "-b", "main")
    for i, date in enumerate(dates):
        _commit(repo, author, email, date, f"{name} {i}", {f"f{i}.py": f"{i}\n"})
    return repo


@pytest.mark.parametrize("author_pattern", [None, "Dee Dev"], ids=["all", "author"])
def test_branch_named_like_a_path_loads(spark, tmp_path, author_pattern):
    """A repository checked out on branch ``docs`` that also holds a
    ``docs/`` directory: ``git log docs`` alone is ambiguous (revision
    or path?) and exits 128, so both the commit scan and the author
    probe must end their arguments with ``--``."""
    from git_etl_spark.plans.git_pipeline import etl_repos

    repo = tmp_path / "proj-docs"
    repo.mkdir()
    _git(repo, "init", "-q", "-b", "docs")
    _commit(
        repo, "Dee Dev", "dee@example.com", "2024-09-01T10:00:00+00:00",
        "write docs", {"docs/index.md": "# docs\n"},
    )
    out = tmp_path / "wh"
    report = etl_repos(spark, [str(repo)], str(out), author_pattern=author_pattern)
    assert report["failed"] == []
    assert report["processed"] == [str(repo)]
    (row,) = spark.read.parquet(str(out / "commits")).collect()
    assert (row.branch, row.message, row.files_changed) == ("docs", "write docs", 1)


def test_repo_subset_runs_keep_author_totals(spark, tmp_path):
    """K2: authors re-aggregate from the merged commits table. Two
    single-repo runs into one warehouse by the same author must count
    both repos' commits, not only the last run's batch."""
    from git_etl_spark.plans.git_pipeline import etl_repos

    a = _one_author_repo(
        tmp_path, "proj-one", "Dana Dev", "dana@example.com",
        ["2024-05-01T10:00:00+00:00", "2024-05-02T10:00:00+00:00",
         "2024-05-03T10:00:00+00:00"],
    )
    b = _one_author_repo(
        tmp_path, "proj-two", "Dana Dev", "dana@example.com",
        ["2024-04-01T10:00:00+00:00", "2024-04-02T10:00:00+00:00"],
    )
    out = tmp_path / "wh"
    etl_repos(spark, [str(a)], str(out))
    etl_repos(spark, [str(b)], str(out))

    assert spark.read.parquet(str(out / "commits")).count() == 5
    (dana,) = spark.read.parquet(str(out / "authors")).collect()
    assert dana.total_commits == 5
    assert dana.first_commit_at.isoformat() == "2024-04-01T10:00:00"
    assert dana.last_commit_at.isoformat() == "2024-05-03T10:00:00"


def test_rerun_over_tagless_repo(spark, tmp_path):
    """A first run over a tagless repo publishes an empty ``tags``
    table; the next run must merge into it, not fail on it."""
    from git_etl_spark.plans.git_pipeline import etl_repos

    repo = _one_author_repo(
        tmp_path, "proj-untagged", "Eve Ops", "eve@example.com",
        ["2024-06-01T10:00:00+00:00"],
    )
    out = tmp_path / "wh"
    etl_repos(spark, [str(repo)], str(out))
    _commit(repo, "Eve Ops", "eve@example.com", "2024-06-02T10:00:00+00:00",
            "second", {"g.py": "g\n"})
    report = etl_repos(spark, [str(repo)], str(out))

    assert report["processed"] == [str(repo)]
    assert spark.read.parquet(str(out / "commits")).count() == 2
    assert spark.read.parquet(str(out / "tags")).count() == 0


def test_config_run_skips_empty_repo(spark, tmp_path, capsys):
    """F3: a repository with no commits yet (unborn HEAD) is skipped on
    its own; the other repositories in the config still load."""
    import json

    from git_etl_spark.cli import main

    repo = _one_author_repo(
        tmp_path, "proj-full", "Finn Dev", "finn@example.com",
        ["2024-07-01T10:00:00+00:00"],
    )
    empty = tmp_path / "proj-empty"
    empty.mkdir()
    _git(empty, "init", "-q", "-b", "main")
    cfg = tmp_path / "repositories.json"
    cfg.write_text(json.dumps({"repositories": [str(repo), str(empty)]}))
    out = tmp_path / "wh"

    assert main(["-c", str(cfg), "-o", str(out)]) == 0
    stdout = capsys.readouterr().out
    assert "Processed 1/2 repositories successfully" in stdout
    assert "1 repositories skipped" in stdout
    (row,) = spark.read.parquet(str(out / "commits")).collect()
    assert row.repo_name == "proj-full"


def _plain_directory(root):
    plain = root / "not-a-repo"
    plain.mkdir()
    return plain


def corrupt_history_repo(root):
    """A repository whose ``HEAD`` resolves but whose ``git log
    --numstat`` exits 128: the loose tree object of ``HEAD~1`` is
    deleted, so the probe, ``ls-files`` and the tag scan pass and the
    commit scan fails."""
    repo = _one_author_repo(
        root, "proj-corrupt", "Cal Dev", "cal@example.com",
        ["2024-08-02T10:00:00+00:00", "2024-08-03T10:00:00+00:00"],
    )
    _git(repo, "tag", "v-corrupt")
    tree = subprocess.run(
        ["git", "-C", str(repo), "rev-parse", "HEAD~1^{tree}"],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    (repo / ".git" / "objects" / tree[:2] / tree[2:]).unlink()
    return repo


@pytest.mark.parametrize(
    "make_bad, git_said",
    [
        (_plain_directory, "not a git repository"),
        (corrupt_history_repo, "unable to read tree"),
    ],
    ids=["not-a-repo", "corrupt-history"],
)
def test_config_run_isolates_non_git_directory(
    spark, tmp_path, capsys, monkeypatch, make_bad, git_said
):
    """O2: a directory that is not a git repository, or a repository
    whose commit scan fails, fails on its own with git's own error
    line; the other repositories in the config still load."""
    import json

    from git_etl_spark.cli import main

    # git must not find a repository above the plain directory
    monkeypatch.setenv("GIT_CEILING_DIRECTORIES", str(tmp_path))
    repo = _one_author_repo(
        tmp_path, "proj-good", "Gia Dev", "gia@example.com",
        ["2024-08-01T10:00:00+00:00"],
    )
    bad = make_bad(tmp_path)
    cfg = tmp_path / "repositories.json"
    cfg.write_text(json.dumps({"repositories": [str(repo), str(bad)]}))
    out = tmp_path / "wh"

    assert main(["-c", str(cfg), "-o", str(out)]) == 0
    captured = capsys.readouterr()
    assert "Processed 1/2 repositories successfully" in captured.out
    assert "1 repositories failed" in captured.out
    (failure,) = [
        ln for ln in captured.err.splitlines() if ln.startswith(f"{bad}: ")
    ]
    assert git_said in failure
    (row,) = spark.read.parquet(str(out / "commits")).collect()
    assert row.repo_name == "proj-good"
    (row,) = spark.read.parquet(str(out / "repos")).collect()
    assert row.name == "proj-good"
    for table in ("file_changes", "tags"):
        rows = spark.read.parquet(str(out / table)).collect()
        assert {r.repo_name for r in rows} <= {"proj-good"}, table


def test_stored_timestamps_ignore_driver_timezone(spark, synthetic_repo):
    """Commit and tag times are stored as the UTC instant git recorded,
    whatever the driver's local timezone. The check reads the epoch
    through a cast, because ``collect()`` converts back to local time
    and would hide a shift."""
    import time

    from pyspark.sql import functions as F

    from git_etl_spark.sources.git_log import repo_commits_df
    from git_etl_spark.sources.git_tags import repo_tags_df

    saved = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        failed = {}
        commits = repo_commits_df(spark, [str(synthetic_repo)], failed)
        tags = repo_tags_df(spark, [str(synthetic_repo)], failed)
        commit_epochs = {
            r.message: r.epoch
            for r in commits.select(
                "message", F.col("committed_at").cast("long").alias("epoch")
            ).collect()
        }
        tag_epochs = {
            r.tag_name: r.epoch
            for r in tags.select(
                "tag_name", F.col("tag_date").cast("long").alias("epoch")
            ).collect()
        }
    finally:
        if saved is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = saved
        time.tzset()

    assert failed == {}
    assert commit_epochs["initial commit"] == 1704103200  # 2024-01-01T10:00Z
    assert commit_epochs["more code"] == 1704373200  # 2024-01-04T13:00Z
    assert tag_epochs == {"v0.1": None, "v0.2": 1704373200}


def test_git_batches_plan_as_local_relations(spark, synthetic_repo):
    """The commit and tag batches reach Spark as Arrow ``LocalRelation``s,
    not as a pickled ``LogicalRDD`` that needs Python workers."""
    from git_etl_spark.plans.audit import optimized_plan
    from git_etl_spark.sources.git_log import repo_commits_df
    from git_etl_spark.sources.git_tags import repo_tags_df

    failed = {}
    for df in (
        repo_commits_df(spark, [str(synthetic_repo)], failed),
        repo_tags_df(spark, [str(synthetic_repo)], failed),
    ):
        plan = optimized_plan(df)
        assert plan.startswith("LocalRelation"), plan
        assert "LogicalRDD" not in plan
    assert failed == {}


@pytest.fixture(scope="module")
def crash_repos(tmp_path_factory):
    """One repository at two points of its history under one name:
    ``new`` is a clone of ``old`` plus one commit, so an ETL of ``new``
    over a warehouse of ``old`` is an incremental run that changes
    every table."""
    root = tmp_path_factory.mktemp("crash")
    old = root / "old" / "proj-crash"
    old.mkdir(parents=True)
    _git(old, "init", "-q", "-b", "main")
    _commit(old, "Hana Dev", "hana@example.com", "2024-09-01T10:00:00+00:00",
            "first", {"a.py": "a\n"}, tag="v1")
    _commit(old, "Ivan Ops", "ivan@example.com", "2024-09-02T10:00:00+00:00",
            "second", {"b.py": "b\n"})
    new = root / "new" / "proj-crash"
    new.parent.mkdir()
    subprocess.run(["git", "clone", "-q", str(old), str(new)], check=True)
    _commit(new, "Hana Renamed", "hana@example.com", "2024-09-03T10:00:00+00:00",
            "third", {"a.py": "a\nc\n", "docs/c.md": "c\n"}, tag="v2")
    return old, new


@pytest.fixture(scope="module")
def crash_reference(spark, crash_repos, tmp_path_factory):
    """The tables after an uninterrupted first run of ``old`` and after
    an uninterrupted rerun of ``new`` over it."""
    from git_etl_spark.plans.git_pipeline import etl_repos

    old, new = crash_repos
    out = tmp_path_factory.mktemp("crash-ref") / "wh"
    etl_repos(spark, [str(old)], str(out))
    first = _tables(spark, out)
    etl_repos(spark, [str(new)], str(out))
    return first, _tables(spark, out)


@pytest.mark.parametrize("k", range(1, 6))
def test_crash_at_kth_staging_write(
    spark, crash_repos, crash_reference, tmp_path, monkeypatch, k
):
    """K6: a failure at the k-th of the five staging writes, on a first
    run and on a rerun, leaves every table as it was before the run and
    no staging directory behind; a clean rerun then yields the tables
    of an uninterrupted run."""
    from git_etl_spark.plans import git_pipeline

    old, new = crash_repos
    first, second = crash_reference
    assert None not in second.values() and second != first
    out = tmp_path / "wh"
    real = git_pipeline.write_staging
    calls = []

    def failing(*args, **kwargs):
        calls.append(args)
        if len(calls) == k:
            raise RuntimeError(f"injected failure at staging write {k}")
        return real(*args, **kwargs)

    absent = dict.fromkeys(git_pipeline.GIT_TABLES)
    for repo, before, after in ((old, absent, first), (new, first, second)):
        calls.clear()
        monkeypatch.setattr(git_pipeline, "write_staging", failing)
        with pytest.raises(RuntimeError, match="injected"):
            git_pipeline.etl_repos(spark, [str(repo)], str(out))
        monkeypatch.setattr(git_pipeline, "write_staging", real)

        assert len(calls) == k
        assert _tables(spark, out) == before
        leftovers = set(os.listdir(out) if out.exists() else ())
        leftovers -= set(git_pipeline.GIT_TABLES)
        assert not leftovers, leftovers

        git_pipeline.etl_repos(spark, [str(repo)], str(out))
        assert _tables(spark, out) == after
