"""O3 CLI dispatch tests — reference ``main.ts:311-431``: usage/exit
codes, config vs positional mode, author gate, and one true
``python -m git_etl_spark`` subprocess run on a scripted repo."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from tests.test_git_etl_e2e import _commit, _git, corrupt_history_repo

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def cli_repo(tmp_path_factory):
    repo = tmp_path_factory.mktemp("cli-repos") / "proj-cli"
    repo.mkdir()
    _git(repo, "init", "-q", "-b", "main")
    _commit(
        repo, "Alice Dev", "alice@example.com", "2024-02-01T10:00:00+00:00",
        "initial commit", {"app.py": "print('hi')\n"},
    )
    _commit(
        repo, "Bob Builder", "bob@example.com", "2024-02-02T11:00:00+00:00",
        "second", {"lib.py": "x = 1\n"}, tag="v1.0",
    )
    return repo


def test_no_args_usage_exit_1(capsys):
    from git_etl_spark.cli import main

    assert main([]) == 1
    err = capsys.readouterr().err
    assert "Usage:" in err and "--config" in err


def test_missing_path_exit_1(capsys):
    from git_etl_spark.cli import main

    assert main(["/nonexistent/repo/path"]) == 1
    assert "does not exist" in capsys.readouterr().err


def test_path_not_a_directory_exit_1(tmp_path, capsys):
    from git_etl_spark.cli import main

    f = tmp_path / "afile"
    f.write_text("x")
    assert main([str(f)]) == 1
    assert "not a directory" in capsys.readouterr().err


def test_missing_config_exit_1(capsys):
    from git_etl_spark.cli import main

    assert main(["--config", "/nonexistent/repositories.json"]) == 1
    assert "Config file not found" in capsys.readouterr().err


def test_single_repo_etl(spark, cli_repo, tmp_path, capsys):
    from git_etl_spark.cli import main

    out = tmp_path / "warehouse"
    assert main([str(cli_repo), "--output", str(out)]) == 0
    assert "=== Git ETL Summary ===" in capsys.readouterr().out
    for table in ("commits", "file_changes", "authors", "repos", "tags"):
        assert (out / table).is_dir(), table
    commits = spark.read.parquet(str(out / "commits"))
    assert commits.count() == 2


def test_author_gate_skips_exit_0(spark, cli_repo, tmp_path, capsys):
    from git_etl_spark.cli import main

    out = tmp_path / "warehouse"
    assert main([str(cli_repo), "--output", str(out), "--author", "NoSuch"]) == 0
    assert "Skipping" in capsys.readouterr().out
    assert not out.exists()


def test_unborn_head_skips_exit_0(spark, tmp_path, capsys):
    """A repository with no commits yet is skipped with the notice and
    exit 0, with or without an ``--author`` gate."""
    from git_etl_spark.cli import main

    repo = tmp_path / "proj-empty"
    repo.mkdir()
    _git(repo, "init", "-q", "-b", "main")
    out = tmp_path / "warehouse"
    for gate in ([], ["--author", "NoSuch"]):
        assert main([str(repo), "--output", str(out), *gate]) == 0
        assert "Skipping" in capsys.readouterr().out
    assert not out.exists()


def test_scan_failure_exit_1(spark, tmp_path, capsys):
    """A repository whose ``HEAD`` resolves but whose ``git log`` fails
    prints ``ETL failed`` with git's own error line and exits 1
    (``main.ts:421-430``), with no traceback and no warehouse written."""
    from git_etl_spark.cli import main

    repo = corrupt_history_repo(tmp_path)
    out = tmp_path / "warehouse"
    assert main([str(repo), "--output", str(out)]) == 1
    err = capsys.readouterr().err
    assert "ETL failed: git log exited 128" in err
    assert "unable to read tree" in err
    assert not out.exists()


def test_config_mode_banner(spark, cli_repo, tmp_path, capsys):
    from git_etl_spark.cli import main

    cfg = tmp_path / "repositories.json"
    cfg.write_text(json.dumps({"repositories": [str(cli_repo)]}))
    out = tmp_path / "warehouse"
    assert main(["-c", str(cfg), "-o", str(out)]) == 0
    stdout = capsys.readouterr().out
    assert "Processed 1/1 repositories successfully" in stdout
    assert (out / "commits").is_dir()


def test_subprocess_module_invocation(cli_repo, tmp_path):
    """The real user surface: ``python -m git_etl_spark <repo>`` in a
    fresh process (own JVM), checked for exit code and summary banner."""
    out = tmp_path / "warehouse"
    proc = subprocess.run(
        [sys.executable, "-m", "git_etl_spark", str(cli_repo), "-o", str(out)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO_ROOT,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "=== Git ETL Summary ===" in proc.stdout
    assert (out / "commits").is_dir()
