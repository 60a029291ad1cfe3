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


def test_partitioned_rerun_over_tagless_repo(spark, tmp_path):
    """A first partitioned run over a tagless repo leaves a ``tags``
    directory with no data files (only ``_SUCCESS``); the next run must
    treat it as an absent table instead of failing schema inference."""
    from git_etl_spark.plans.git_pipeline import etl_repos

    repo = _one_author_repo(
        tmp_path, "proj-untagged", "Eve Ops", "eve@example.com",
        ["2024-06-01T10:00:00+00:00"],
    )
    out = tmp_path / "wh"
    etl_repos(spark, [str(repo)], str(out), layout="partitioned")
    _commit(repo, "Eve Ops", "eve@example.com", "2024-06-02T10:00:00+00:00",
            "second", {"g.py": "g\n"})
    report = etl_repos(spark, [str(repo)], str(out), layout="partitioned")

    assert report["processed"] == [str(repo)]
    assert spark.read.parquet(str(out / "commits")).count() == 2


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
        commits = repo_commits_df(spark, [str(synthetic_repo)])
        tags = repo_tags_df(spark, [str(synthetic_repo)])
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

    assert commit_epochs["initial commit"] == 1704103200  # 2024-01-01T10:00Z
    assert commit_epochs["more code"] == 1704373200  # 2024-01-04T13:00Z
    assert tag_epochs == {"v0.1": None, "v0.2": 1704373200}


def test_git_batches_plan_as_local_relations(spark, synthetic_repo):
    """The commit and tag batches reach Spark as Arrow ``LocalRelation``s,
    not as a pickled ``LogicalRDD`` that needs Python workers."""
    from git_etl_spark.plans.audit import optimized_plan
    from git_etl_spark.sources.git_log import repo_commits_df
    from git_etl_spark.sources.git_tags import repo_tags_df

    for df in (
        repo_commits_df(spark, [str(synthetic_repo)]),
        repo_tags_df(spark, [str(synthetic_repo)]),
    ):
        plan = optimized_plan(df)
        assert plan.startswith("LocalRelation"), plan
        assert "LogicalRDD" not in plan


def test_partitioned_layout_equal_contents_and_scoped_merge(
    spark, synthetic_repo, tmp_path_factory, tmp_path
):
    """layout='partitioned' end-to-end: same table contents as the flat
    layout, and an incremental merge touching one repo leaves the other
    repo's commits partition files byte-identical (the at-scale merge
    contract, through the real pipeline rather than the sink alone)."""
    import os as _os

    from git_etl_spark.plans.git_pipeline import etl_repos

    other = tmp_path_factory.mktemp("repos2") / "proj-beta"
    other.mkdir()
    _git(other, "init", "-q", "-b", "main")
    _commit(
        other, "Cara Coder", "cara@example.com", "2024-03-01T09:00:00+00:00",
        "beta initial", {"b.py": "b = 1\n"},
    )

    flat, part = tmp_path / "flat", tmp_path / "part"
    repos = [str(synthetic_repo), str(other)]
    etl_repos(spark, repos, str(flat))
    etl_repos(spark, repos, str(part), layout="partitioned")

    for table in ("commits", "file_changes", "authors", "repos", "tags"):
        a = spark.read.parquet(str(flat / table))
        b = spark.read.parquet(str(part / table)).select(*a.columns)
        assert sorted(map(repr, a.collect())) == sorted(map(repr, b.collect())), table

    # incremental: new commit lands in proj-beta only
    pdir = part / "commits" / "repo_name=proj-alpha"
    before = sorted(
        (f, _os.path.getsize(pdir / f), _os.stat(pdir / f).st_mtime_ns)
        for f in _os.listdir(pdir) if not f.startswith(("_", "."))
    )
    _commit(
        other, "Cara Coder", "cara@example.com", "2024-03-02T09:00:00+00:00",
        "beta second", {"b2.py": "b = 2\n"},
    )
    etl_repos(spark, [str(other)], str(part), layout="partitioned")

    after = sorted(
        (f, _os.path.getsize(pdir / f), _os.stat(pdir / f).st_mtime_ns)
        for f in _os.listdir(pdir) if not f.startswith(("_", "."))
    )
    assert after == before  # untouched repo partition never rewritten
    commits = spark.read.parquet(str(part / "commits"))
    assert commits.filter("repo_name = 'proj-beta'").count() == 2


def test_gitlog_datasource_matches_driver_side(spark, synthetic_repo):
    """S1 as a Spark-4 Python DataSource: format("gitlog") must produce
    exactly the driver-side result, schema included, and expose one
    input partition per repository."""
    from git_etl_spark.sources.git_log import repo_commits_df
    from git_etl_spark.sources.gitlog_datasource import (
        GitLogReader,
        register_gitlog_source,
    )

    register_gitlog_source(spark)
    a = repo_commits_df(spark, [str(synthetic_repo)])
    b = spark.read.format("gitlog").load(str(synthetic_repo))
    assert b.schema == a.schema
    assert sorted(map(repr, b.collect())) == sorted(map(repr, a.collect()))

    # branch option flows through the reader; partitions = repos
    reader = GitLogReader({"paths": "/r/a,/r/b", "branch": "main"})
    parts = reader.partitions()
    assert [p.repo_path for p in parts] == ["/r/a", "/r/b"]
    assert all(p.branch == "main" for p in parts)

    # projection over the source composes like any other scan
    n = (
        spark.read.format("gitlog")
        .load(str(synthetic_repo))
        .groupBy("author_email")
        .count()
        .count()
    )
    assert n >= 1


def test_gitlog_datasource_author_pushdown(spark, synthetic_repo):
    """Author-equality pushdown: the filtered read must equal manual
    post-filtering of the full scan (the git --author prefilter plus
    the exact re-check can neither over- nor under-match), and
    pushFilters must claim only the supported equality, yielding every
    other filter back to Spark."""
    from pyspark.sql.datasource import EqualTo, GreaterThan

    from git_etl_spark.sources.gitlog_datasource import (
        GitLogReader,
        register_gitlog_source,
    )

    from pyspark.sql import functions as F

    register_gitlog_source(spark)
    base = spark.read.format("gitlog").load(str(synthetic_repo))
    all_rows = base.collect()
    emails = sorted({r.author_email for r in all_rows})
    assert len(emails) >= 2, "fixture should have multiple authors"
    target = emails[0]
    pushed = base.filter(F.col("author_email") == target).collect()
    manual = [r for r in all_rows if r.author_email == target]
    assert sorted(map(repr, pushed)) == sorted(map(repr, manual))
    assert 0 < len(pushed) < len(all_rows)

    reader = GitLogReader({"paths": "/r/a"})
    leftover = list(
        reader.pushFilters(
            [EqualTo(("author_email",), target), GreaterThan(("additions",), 0)]
        )
    )
    assert len(leftover) == 1 and isinstance(leftover[0], GreaterThan)
    assert reader.partitions()[0].author.endswith("$")


def test_gitlog_datasource_numshards_equals_unsharded(spark, synthetic_repo):
    """Monorepo sharding: numShards=k must produce exactly the unsharded
    result (the disjoint --skip/--max-count windows partition the same
    deterministic ordering), including shards interacting with author
    pushdown — and must actually plan multiple input partitions."""
    from pyspark.sql import functions as F

    from git_etl_spark.sources.gitlog_datasource import (
        GitLogReader,
        register_gitlog_source,
    )

    register_gitlog_source(spark)
    base = spark.read.format("gitlog").load(str(synthetic_repo))
    expected = sorted(map(repr, base.collect()))
    for k in (2, 3, 16):  # 16 > commit count: degenerate 1-commit shards
        sharded = (
            spark.read.format("gitlog")
            .option("numShards", k)
            .load(str(synthetic_repo))
        )
        assert sorted(map(repr, sharded.collect())) == expected, k

    # shard planning: 4 commits / numShards=3 -> ceil -> 2 windows of 2
    reader = GitLogReader({"paths": str(synthetic_repo), "numshards": 3})
    parts = reader.partitions()
    assert [(p.skip, p.max_count) for p in parts] == [(0, 2), (2, 2)]
    assert all(p.branch == "main" for p in parts)

    # sharding composes with author pushdown (count uses the same filter)
    pushed = (
        spark.read.format("gitlog")
        .option("numShards", 2)
        .load(str(synthetic_repo))
        .filter(F.col("author_email") == "alice@example.com")
    )
    assert pushed.count() == base.filter(
        F.col("author_email") == "alice@example.com"
    ).count()


def test_gitlog_author_pushdown_bre_special_chars(spark, tmp_path):
    """Regression for the BRE-escaping bug: git compiles --author as a
    POSIX/GNU basic regex where a backslash-prefixed '+' means
    one-or-more, so re.escape-ing a plus-addressed email produced a
    pattern matching ZERO commits — the pushdown silently dropped that
    author's entire history. The fixture uses exactly that shape."""
    from pyspark.sql import functions as F

    from git_etl_spark.sources.gitlog_datasource import (
        _bre_escape,
        register_gitlog_source,
    )

    # unit: only bare BRE metacharacters get escaped; '+' '?' '|' '(' do not
    assert _bre_escape("a+b?c|d(e") == "a+b?c|d(e"
    assert _bre_escape(r"a.b[c*d^e$f\g") == r"a\.b\[c\*d\^e\$f\\g"

    repo = tmp_path / "proj-plus"
    repo.mkdir()
    _git(repo, "init", "-q", "-b", "main")
    _commit(
        repo, "Alice Plus", "alice+git@example.com", "2024-02-01T10:00:00+00:00",
        "plus-addressed commit", {"a.txt": "1\n"},
    )
    _commit(
        repo, "Bob Dot", "bob.builder@example.com", "2024-02-02T10:00:00+00:00",
        "dotted commit", {"b.txt": "2\n"},
    )

    register_gitlog_source(spark)
    base = spark.read.format("gitlog").load(str(repo))
    got = base.filter(F.col("author_email") == "alice+git@example.com").collect()
    assert len(got) == 1 and got[0].author_name == "Alice Plus"
    # escaping '.' must not break the match for a dotted email either
    # (under-match is the failure direction the exact re-check can't fix)
    dot = base.filter(F.col("author_email") == "bob.builder@example.com").collect()
    assert len(dot) == 1 and dot[0].author_name == "Bob Dot"
