"""S1 as a first-class Spark data source (Spark 4 Python DataSource
API): ``spark.read.format("gitlog").load(path)``.

The reference exposes the commit scan as a library call
(``src/git-parser.ts:150-213``); Spark 4's Python DataSource API lets
the same scan participate in the engine's own source machinery
instead: one :class:`InputPartition` per repository, so Spark
schedules repo scans across executors with task-level retries and
locality, and the ordinary reader options channel carries the branch
filter. Downstream it is indistinguishable from any other source —
column pruning, caching, joins all apply.

The per-partition work reuses ``scan_repo_commits`` /
``parse_git_log_text`` — the identical NUL-framed parser behind the
driver-side ``repo_commits_df``, so the two ingestion surfaces cannot
diverge semantically (equality asserted in
tests/test_git_etl_e2e.py).

Scale notes: parallelism unit = repository, or with ``numShards=k``
a commit-range window of one repository (disjoint ``--skip`` /
``--max-count`` slices of the deterministic log ordering), so one
huge monorepo fans out over k tasks instead of serializing into
one. Repos must live on storage executors can reach, and the
``git_etl_spark`` package must be importable on executors (``spark-submit
--py-files``/cluster image — the standard Python-dependency channel;
``read()`` runs there).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from datetime import timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..schemas import COMMITS_SCHEMA


def _bre_escape(text: str) -> str:
    """Escape a literal for git's POSIX basic regular expressions.

    ``re.escape`` is wrong here: git compiles ``--author`` as a GNU
    BRE, where a *backslash-prefixed* ``+ ? | ( ) {`` is an operator
    — so ``re.escape("a+b@x")`` produces ``a\\+b@x`` which means
    "one-or-more 'a' then 'b@x'" and matches zero commits for a
    plus-addressed email. In a BRE only bare ``\\ . [ * ^ $`` are
    special; escape exactly those and emit every other character
    verbatim.
    """
    return "".join("\\" + ch if ch in "\\.[*^$" else ch for ch in text)


class RepoPartition(InputPartition):
    """One schedulable unit of scan work: a repository, or — in sharded
    mode — one contiguous [skip, skip+max_count) window of a
    repository's deterministic ``git log`` commit ordering."""

    def __init__(
        self,
        repo_path: str,
        branch: str | None,
        author: str | None,
        skip: int | None = None,
        max_count: int | None = None,
    ):
        self.repo_path = repo_path
        self.branch = branch
        self.author = author
        self.skip = skip
        self.max_count = max_count


class GitLogReader(DataSourceReader):
    def __init__(self, options: dict):
        paths = options.get("paths") or options.get("path") or ""
        self._paths: Sequence[str] = [p for p in paths.split(",") if p]
        self._branch = options.get("branch") or None
        self._num_shards = max(
            int(options.get("numshards") or options.get("numShards") or 1), 1
        )
        self._author: str | None = None

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Predicate pushdown into git itself: an ``author_email = x``
        equality becomes ``git log --author=<anchored pattern>`` so the
        subprocess never emits the other authors' commits (on a
        monorepo this is the difference between streaming one
        contributor's history and the whole project's). git matches
        the pattern against ``Name <email>``, so the literal is
        BRE-escaped (NOT ``re.escape`` — git compiles a POSIX/GNU
        basic regex where ``\\+`` means one-or-more, see
        :func:`_bre_escape`) and anchored inside the ``<…>``
        brackets; ``read`` re-applies exact equality after parsing,
        making the git prefilter purely a data-reduction step —
        over-matching is impossible, under-matching can't happen
        because every commit with that exact email contains
        ``<email>`` verbatim and the escaper maps each character to a
        BRE atom matching exactly itself. All other filters are
        yielded back for Spark to evaluate."""
        for f in filters:
            if (
                isinstance(f, EqualTo)
                and f.attribute == ("author_email",)
                and isinstance(f.value, str)
                and self._author is None
            ):
                self._author = f.value
                # still re-checked in read(); never yielded back
                self._author_pattern = "<" + _bre_escape(f.value) + ">$"
            else:
                yield f

    def partitions(self) -> Sequence[InputPartition]:
        """One partition per repo — or, with ``numShards=k``, up to k
        commit-range windows per repo so ONE huge monorepo no longer
        serializes into one task. Planning runs driver-side (like file
        listing in any file source): ``git rev-list --count`` with the
        same branch + author prefilter the shards will scan, then
        disjoint ``--skip/--max-count`` windows over the deterministic
        log ordering — their union is exactly the unsharded scan (the
        history *walk* repeats per shard, but the expensive per-commit
        numstat diffing is computed only inside each window)."""
        pattern = getattr(self, "_author_pattern", None)
        parts: list[RepoPartition] = []
        for p in self._paths:
            if self._num_shards > 1:
                from git_etl_spark.sources.git_log import (
                    count_commits,
                    current_branch,
                )

                branch = self._branch or current_branch(p)
                n = count_commits(p, branch, pattern)
                chunk = -(-n // self._num_shards) if n else 0
                if chunk:
                    for skip in range(0, n, chunk):
                        parts.append(
                            RepoPartition(p, branch, pattern, skip, chunk)
                        )
                    continue
            parts.append(RepoPartition(p, self._branch, pattern))
        return parts

    def read(self, partition: RepoPartition) -> Iterator[tuple]:
        # imported here: this body runs on executors
        from git_etl_spark.sources.git_log import scan_repo_commits

        exact = getattr(self, "_author", None)
        for c in scan_repo_commits(
            partition.repo_path,
            partition.branch,
            partition.author,
            partition.skip,
            partition.max_count,
        ):
            if exact is not None and c["author_email"] != exact:
                continue
            yield (
                c["repo_name"],
                c["sha"],
                c["author_email"],
                c["author_name"],
                # an aware datetime is stored as that instant; a naive
                # one would be read in the executor's local timezone
                c["committed_at"].replace(tzinfo=timezone.utc),
                c["message"],
                c["additions"],
                c["deletions"],
                c["files_changed"],
                c["is_merge"],
                c["branch"],
                [
                    (fc["file_path"], fc["additions"], fc["deletions"])
                    for fc in c["file_changes"]
                ],
            )


class GitLogDataSource(DataSource):
    """``format("gitlog")``: options ``path``/``paths`` (comma-separated
    repo dirs), ``branch`` (default: each repo's current branch), and
    ``numShards`` (split each repo into up to k commit-range input
    partitions — parallelism *within* a monorepo)."""

    @classmethod
    def name(cls) -> str:
        return "gitlog"

    def schema(self) -> StructType:
        return COMMITS_SCHEMA

    def reader(self, schema: StructType) -> GitLogReader:
        return GitLogReader(self.options)


def register_gitlog_source(spark, *, enable_filter_pushdown: bool = True) -> None:
    """Idempotently register the gitlog format on a session.

    .. warning:: By default this ALSO sets
       ``spark.sql.python.filterPushdown.enabled=true`` **session-wide**
       (the flag is off by default in Spark 4.1 and pushFilters is dead
       code without it). That changes planning for *every* Python data
       source in the session, not just ``gitlog``. Callers embedding
       this into a session with other Python sources that must not see
       pushdown can pass ``enable_filter_pushdown=False`` and manage
       the flag themselves.
    """
    if enable_filter_pushdown:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(GitLogDataSource)
