"""Git commit-log source — SURVEY.md §2.1 S1/S3/S4, §2.3 P1-P4/P8.

Reproduces the *semantics* of the reference's commit scan
(``src/git-parser.ts:110-201``): one ``git log --numstat`` subprocess
per repo, sentinel-framed records, per-commit numstat blocks nested as
an array of file changes. The implementation is new and Spark-first:

- Field separator is NUL (``%x00``) and the record sentinel includes a
  NUL, so no printable character in names/subjects can break framing
  (the reference's pipe-delimited tag scan documents this fragility at
  ``src/git-parser.ts:308-309``).
- Parsing is a pure function over text (unit-testable without git or
  Spark); the subprocess wrapper and the DataFrame constructor are
  thin layers around it.
- Semantics preserved deliberately (SURVEY §7.3): ``%ct`` committer
  date paired with author name/email (P3); message = subject line only
  (P8); ``is_merge`` = >1 parent (P4); merge commits carry no numstat
  under plain ``git log`` so their additions/deletions are 0.

Hand-off: ``repo_commits_df`` scans a *list* of repos on a driver
thread pool and hands the whole batch to Spark as one ``pyarrow.Table``
(``batch_table``). Below ``spark.sql.execution.arrow.localRelationThreshold``
that is a ``LocalRelation``: no pickled RDD and no Python worker; above
it the JVM spreads the Arrow batches itself. This is the only scan
path: the ETL, the CLI and the benchmark all ingest through it.
"""

from __future__ import annotations

import re
import subprocess
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..schemas import COMMITS_SCHEMA

RECORD_SENTINEL = "\x00GIT_ETL_COMMIT\x00"
FIELD_SEP = "\x00"
# %H sha, %ae author email, %an author name, %ct committer epoch,
# %P parents, %s subject — one NUL-separated header line per commit.
# NULs are written as %x00 escapes (a literal NUL can't travel in an
# argv string); git expands them in its output.
LOG_FORMAT = (
    "%x00GIT_ETL_COMMIT%x00"
    "%H%x00%ae%x00%an%x00%ct%x00%P%x00%s"
)

_RENAME_RE = re.compile(r"\{[^{}]*?=>\s*([^{}]*?)\}")


def resolve_rename_path(path: str) -> str:
    """P1: resolve git rename syntax to the new path
    (reference ``src/git-parser.ts:91-99``): ``a/{old => new}/b`` →
    ``a/new/b``; ``{ => dir}/f`` → ``dir/f``; plain paths unchanged."""
    resolved = _RENAME_RE.sub(lambda m: m.group(1), path)
    # collapse '//' produced by the `{old => }` (deletion) edge
    return resolved.replace("//", "/")


def parse_numstat_line(line: str) -> dict | None:
    """P2: one ``--numstat`` line → file-change record.
    ``-`` (binary) → 0; malformed (<3 tabs/tokens) → None; paths keep
    embedded spaces (reference ``src/git-parser.ts:160-181``)."""
    parts = line.split("\t")
    if len(parts) < 3:
        return None
    raw_add, raw_del = parts[0].strip(), parts[1].strip()
    file_path = "\t".join(parts[2:]).strip()
    if not file_path:
        return None

    def _n(tok: str) -> int:
        if tok == "-":
            return 0
        try:
            return int(tok)
        except ValueError:
            return 0

    return {
        "file_path": resolve_rename_path(file_path),
        "additions": _n(raw_add),
        "deletions": _n(raw_del),
    }


def parse_git_log_text(text: str, repo_name: str, branch: str) -> list[dict]:
    """Pure sentinel-block parser: git-log stdout → commit records with
    nested ``file_changes`` (the reference's in-flight nested model,
    ``src/git-parser.ts:1-19``)."""
    commits: list[dict] = []
    for block in text.split(RECORD_SENTINEL):
        block = block.strip("\n")
        if not block:
            continue
        lines = block.split("\n")
        header = lines[0].split(FIELD_SEP)
        if len(header) < 6:
            continue
        sha, email, name, epoch_s, parents, subject = header[:6]
        if not sha:
            continue
        try:
            committed_at = datetime.fromtimestamp(int(epoch_s), tz=timezone.utc)
        except (ValueError, OverflowError):
            continue
        file_changes = [
            fc
            for fc in (parse_numstat_line(ln) for ln in lines[1:] if ln.strip())
            if fc is not None
        ]
        commits.append(
            {
                "repo_name": repo_name,
                "sha": sha,
                "author_email": email,
                "author_name": name,
                "committed_at": committed_at.replace(tzinfo=None),
                "message": subject,
                "additions": sum(fc["additions"] for fc in file_changes),
                "deletions": sum(fc["deletions"] for fc in file_changes),
                "files_changed": len(file_changes),
                "is_merge": len(parents.split()) > 1,
                "branch": branch,
                "file_changes": file_changes,
            }
        )
    return commits


def _run_git(repo_path: str, *args: str) -> str:
    out = subprocess.run(
        ["git", "-C", repo_path, *args],
        capture_output=True,
        text=True,
        check=True,
    )
    return out.stdout


def repo_name_of(repo_path: str) -> str:
    """P9: repo name = last path segment after trailing-slash strip
    (reference ``src/git-parser.ts:54-55``)."""
    return repo_path.rstrip("/").rsplit("/", 1)[-1]


def current_branch(repo_path: str) -> str:
    """S3 (reference ``src/git-parser.ts:57-70``)."""
    return _run_git(repo_path, "rev-parse", "--abbrev-ref", "HEAD").strip()


def has_unborn_head(repo_path: str) -> bool:
    """F3: True when HEAD names no commit yet (a fresh ``git init``),
    where ``rev-parse --verify -q`` exits 1; False when it names one
    (exit 0). Anything else (not a repository, a missing path) raises
    ``CalledProcessError``, so the caller reports that repository as
    failed."""
    probe = subprocess.run(
        ["git", "-C", repo_path, "rev-parse", "--verify", "-q", "HEAD"],
        capture_output=True,
        text=True,
    )
    if probe.returncode not in (0, 1):
        raise subprocess.CalledProcessError(
            probe.returncode, probe.args, probe.stdout, probe.stderr
        )
    return probe.returncode == 1


def scan_repo_commits(repo_path: str, branch: str | None = None) -> list[dict]:
    """S1: one ``git log --numstat`` subprocess over ``branch`` (default
    the checked-out one) → parsed commit records."""
    branch = branch or current_branch(repo_path)
    text = _run_git(
        repo_path, "log", branch, f"--pretty=format:{LOG_FORMAT}", "--numstat"
    )
    return parse_git_log_text(text, repo_name_of(repo_path), branch)


def has_commits_by_author(repo_path: str, pattern: str, branch: str | None = None) -> bool:
    """S5 author-existence probe with the LIMIT-1 pushed into git
    (reference ``main.ts:51-73``); the pattern is a parameter, not the
    reference's hard-coded constant (SURVEY §2.1 S5)."""
    branch = branch or current_branch(repo_path)
    out = _run_git(
        repo_path, "log", branch, "--author", pattern, "--format=%H", "-n", "1"
    )
    return bool(out.strip())


def list_tracked_files(repo_path: str) -> list[str]:
    """S4 (reference ``src/git-parser.ts:214-223``)."""
    return [ln for ln in _run_git(repo_path, "ls-files").splitlines() if ln]


def batch_table(
    rows: list[dict], schema: StructType, natural_key: tuple[str, ...]
) -> pa.Table:
    """One source batch as a ``pyarrow.Table`` typed by ``schema``,
    unique on ``natural_key``. Duplicate keys within the batch keep the
    batch's **last** row, the merge path's K1/K4 rule
    (``sinks.upsert._merged(keep="last")``), so a first run and a
    rerun resolve them alike. Timestamps are naive UTC datetimes and
    land as UTC instants whatever the driver's timezone."""
    unique = {tuple(r[k] for k in natural_key): r for r in rows}
    return pa.Table.from_pylist(list(unique.values()), schema=to_arrow_schema(schema))


def repo_commits_df(
    spark: SparkSession,
    repo_paths: list[str],
    branch: str | None = None,
    max_workers: int = 8,
) -> DataFrame:
    """S1 as a DataFrame source: parallel subprocess scans →
    one typed DataFrame (COMMITS_SCHEMA), unique on (repo_name, sha):
    a duplicate commit (the same repository listed twice, or two
    repositories with one directory name) keeps the batch's last row
    (``batch_table``). Empty repo list or all-empty repos still yield
    an empty frame with the right schema (F3 guard)."""
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        batches = list(pool.map(lambda p: scan_repo_commits(p, branch), repo_paths))
    rows = [c for batch in batches for c in batch]
    table = batch_table(rows, COMMITS_SCHEMA, ("repo_name", "sha"))
    return spark.createDataFrame(table, COMMITS_SCHEMA)
