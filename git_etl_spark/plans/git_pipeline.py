"""Git-domain ETL pipeline — SURVEY.md §2.5 A1/A2, §2.2 K5, §2.8 O1-O4.

The reference's per-repo dataflow (``main.ts:79-144``) as DataFrame
construction: parse → nested commits frame → explode file_changes →
derive authors / repos / summary → staged multi-table publish.

Design decisions carried from SURVEY §7.3:

- A1 author "latest name": the reference's comment says latest but its
  loop keeps the oldest (``src/transforms.ts:27``); the documented
  intent wins here via ``max_by(author_name, committed_at)``.
- K5/A2 git-log order dependence (newest-first ``commits[0]``) becomes
  explicit ``max``/``min`` — order-independent by construction.
- Surrogate AUTOINCREMENT keys are dropped; natural keys are identity.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..functions.exact import count_if
from ..sinks.upsert import _merged, publish_all, write_staging
from ..sinks.upsert import upsert_parquet  # noqa: F401 — patched by perfbench.spans.ETL_SITES
from ..sources.git_log import (
    batch_table,
    has_commits_by_author,
    has_unborn_head,
    list_tracked_files,
    repo_commits_df,
    repo_name_of,
)
from ..sources.git_tags import repo_tags_df
from ..sources.language import detect_language

GIT_TABLES = ("commits", "file_changes", "authors", "repos", "tags")

LANGUAGES_SCHEMA = StructType(
    [StructField("name", StringType(), False), StructField("language", StringType(), True)]
)


def explode_file_changes(commits: DataFrame) -> DataFrame:
    """Nested → flat (reference flattens at load, ``src/database.ts:163-175``):
    ``select(sha, explode(file_changes))`` + natural-key dedup (K3)."""
    return (
        commits.select(
            "repo_name",
            "sha",
            F.explode("file_changes").alias("fc"),
        )
        .select(
            "repo_name",
            "sha",
            F.col("fc.file_path").alias("file_path"),
            F.col("fc.additions").alias("additions"),
            F.col("fc.deletions").alias("deletions"),
        )
        .dropDuplicates(["repo_name", "sha", "file_path"])
    )


def aggregate_authors(commits: DataFrame) -> DataFrame:
    """A1/K2: per-author stats re-aggregated exactly from commits
    (reference ``src/transforms.ts:11-39`` + ``src/database.ts:105-130``)."""
    return commits.groupBy(F.col("author_email").alias("email")).agg(
        F.expr("max_by(author_name, committed_at)").alias("name"),
        F.min("committed_at").alias("first_commit_at"),
        F.max("committed_at").alias("last_commit_at"),
        F.count("*").alias("total_commits"),
    )


def repo_metadata(commits: DataFrame, languages: dict[str, str | None]) -> DataFrame:
    """K5: per-repo metadata with explicit max() instead of the
    reference's newest-first positional assumption (``src/database.ts:83``)."""
    lang_rows = [{"name": k, "language": v} for k, v in languages.items()]
    lang_df = commits.sparkSession.createDataFrame(
        batch_table(lang_rows, LANGUAGES_SCHEMA, ("name",)), LANGUAGES_SCHEMA
    )
    per_repo = commits.groupBy(F.col("repo_name").alias("name")).agg(
        F.max("committed_at").alias("last_commit_at"),
        F.count("*").alias("total_commits"),
    )
    return (
        per_repo.join(F.broadcast(lang_df), "name", "left")
        .withColumn("is_archived", F.lit(False))
        .select(
            "name", "language", "is_archived", "last_commit_at", "total_commits"
        )
    )


def summary_stats(commits: DataFrame) -> DataFrame:
    """A2 global summary (reference ``src/transforms.ts:41-62``) as a
    single order-independent aggregate row."""
    return commits.agg(
        F.count("*").alias("total_commits"),
        F.sum("additions").alias("total_additions"),
        F.sum("deletions").alias("total_deletions"),
        F.sum("files_changed").alias("total_files_changed"),
        count_if(F.col("is_merge")).alias("merge_commits"),
        F.countDistinct("author_email").alias("unique_authors"),
        F.struct(
            F.date_format(F.min("committed_at"), "yyyy-MM-dd").alias("from"),
            F.date_format(F.max("committed_at"), "yyyy-MM-dd").alias("to"),
        ).alias("date_range"),
    )


def format_summary_report(stats_row) -> str:
    """O4 report formatter (reference ``src/transforms.ts:64-86``)."""
    dr = stats_row["date_range"]
    return "\n".join(
        [
            "=== Git ETL Summary ===",
            f"Commits:        {stats_row['total_commits']}",
            f"Additions:      {stats_row['total_additions']}",
            f"Deletions:      {stats_row['total_deletions']}",
            f"Files changed:  {stats_row['total_files_changed']}",
            f"Merge commits:  {stats_row['merge_commits']}",
            f"Unique authors: {stats_row['unique_authors']}",
            f"Date range:     {dr['from']} .. {dr['to']}",
        ]
    )


def etl_repos(
    spark: SparkSession,
    repo_paths: list[str],
    output_dir: str,
    author_pattern: str | None = None,
) -> dict:
    """O1/O2: multi-repo ETL into a five-table flat Parquet warehouse
    (``<output_dir>/<table>/``) with idempotent natural-key merges.
    Returns a run report (per-repo success/skip/fail counts — the
    reference's summary banner, ``main.ts:357-369``).

    Every run, first or incremental, takes one commit path (K6, the
    reference's ``BEGIN/COMMIT``, ``src/transactions.ts:43-56``): each
    table that already exists is window-merged with the batch on its
    natural key, a table that does not is written as the batch is, and
    the result goes to a staging directory beside the table. ``authors``
    is aggregated from the commits being published (K2), so a run over
    some repos keeps the other repos' commits in each author's stats.
    Only when all five tables are staged does one ``publish_all`` swap
    them in; a failed staging write removes the staging directories
    already written and leaves every table as it was.

    O2: a repository whose probe, ``ls-files``, tag scan or commit scan
    fails is reported under ``failed`` with its error and contributes
    no row to any table; the other repositories still load."""
    report = {"processed": [], "skipped": [], "failed": []}
    selected: list[str] = []
    languages: dict[str, str | None] = {}
    for path in repo_paths:
        try:
            if has_unborn_head(path) or (
                author_pattern and not has_commits_by_author(path, author_pattern)
            ):
                report["skipped"].append(path)  # F3 no commits yet, F2 gate
                continue
            languages[repo_name_of(path)] = detect_language(list_tracked_files(path))
            selected.append(path)
        except Exception as exc:  # noqa: BLE001 — O2 per-repo fail isolation
            report["failed"].append({"repo": path, "error": str(exc)})

    if not selected:
        return report

    # the cheap tag scan goes first, so a repository whose tags fail
    # never gets the commit scan; one whose commit scan fails has its
    # tags filtered back out
    failed: dict[str, str] = {}
    tags = repo_tags_df(spark, selected, failed=failed)
    selected = [p for p in selected if p not in failed]
    commits = repo_commits_df(spark, selected, failed=failed)
    loaded = [p for p in selected if p not in failed]
    if failed:
        report["failed"] += [{"repo": p, "error": e} for p, e in failed.items()]
        tags = tags.filter(F.col("repo_name").isin([repo_name_of(p) for p in loaded]))
    if commits.isEmpty():  # F3 zero-commit guard
        report["skipped"].extend(loaded)
        return report

    # every frame is unique on its natural key: commits and tags at the
    # source, file_changes by its own K3 dedup, repos by groupBy
    batch = {
        "commits": commits.drop("file_changes"),
        "file_changes": explode_file_changes(commits),
        "repos": repo_metadata(commits, languages),
        "tags": tags,
    }
    keys = {
        "commits": ["repo_name", "sha"],
        "file_changes": ["repo_name", "sha", "file_path"],
        "repos": ["name"],
        "tags": ["repo_name", "tag_name"],
    }

    out = lambda t: os.path.join(output_dir, t)  # noqa: E731
    staged: dict[str, str] = {}  # staging dir -> table dir
    try:
        for t in GIT_TABLES:
            if t == "authors":
                df = aggregate_authors(published_commits)
            else:
                df = batch[t]
                if os.path.exists(out(t)):
                    # the known schema spares a schema-inference job
                    existing = spark.read.schema(df.schema).parquet(out(t))
                    keep = "first" if t == "file_changes" else "last"
                    df = _merged(existing, df, keys[t], keep)
            staging = write_staging(df, out(t))
            staged[staging] = out(t)
            if t == "commits":
                # K2: authors aggregate the commits being published — the
                # batch on a first run, the staged merge otherwise
                published_commits = (
                    spark.read.schema(df.schema).parquet(staging)
                    if os.path.exists(out(t))
                    else df
                )
    except BaseException:
        for staging in staged:
            shutil.rmtree(staging, ignore_errors=True)
        raise
    publish_all(staged)

    report["processed"] = loaded
    report["summary"] = summary_stats(commits).collect()[0].asDict(recursive=True)
    return report
