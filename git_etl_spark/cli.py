"""O3 CLI dispatch — the reference's user-facing entry point
(``main.ts:311-431``) re-expressed over the Spark pipeline.

Two modes, mirroring the reference exactly:

- **Config mode** (``--config``/``-c`` with optional path, default
  ``./repositories.json``): resolve the repo list via S6/S7 discovery,
  run the multi-repo ETL with O2 per-repo fail isolation, print the
  summary banner (processed / skipped / failed counts,
  ``main.ts:357-369``) plus one ``<path>: <error>`` line on stderr per
  failed repository, exit 1 only if the config itself cannot load.
- **Single-repo mode** (positional path): validate the path exists and
  is a directory (exit 1 otherwise, ``main.ts:400-411``); run the same
  ETL as config mode over the one repo; if it skips the repo (no
  commits yet, or none matching ``--author``), print the skip notice
  and exit 0 (``main.ts:414-419``); an ETL failure exits 1
  (``main.ts:421-430``).

Differences from the reference, on purpose:

- The author-existence gate is a ``--author`` *parameter*; the
  reference hard-codes its owner's name (``main.ts:339,414``). No flag
  means no gate.
- Output is a Parquet warehouse directory (``--output``), not SQLite —
  the K1-K6 merge semantics live in :mod:`..sinks.upsert`.
"""

from __future__ import annotations

import argparse
import os
import sys

USAGE = """\
Usage:
  Single repo:    python -m git_etl_spark /path/to/repo [--output DIR] [--author PATTERN]
  Multiple repos: python -m git_etl_spark --config [repositories.json] [--output DIR] [--author PATTERN]

Example: python -m git_etl_spark ~/git/myproject --output ./git_warehouse
"""


def _build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="git_etl_spark",
        add_help=True,
        usage=USAGE,
        description="Git commit-history ETL into a Parquet warehouse.",
    )
    parser.add_argument("repo_path", nargs="?", help="path to a git repository")
    parser.add_argument(
        "--config",
        "-c",
        nargs="?",
        const="./repositories.json",
        default=None,
        metavar="PATH",
        help="JSON config with repositories[]/paths[]/ignore[] "
        "(default ./repositories.json when the flag is given bare)",
    )
    parser.add_argument(
        "--output",
        "-o",
        default="./git_warehouse",
        metavar="DIR",
        help="Parquet warehouse directory (default ./git_warehouse)",
    )
    parser.add_argument(
        "--author",
        default=None,
        metavar="PATTERN",
        help="only process repos with commits by this author "
        "(the reference hard-codes one; here it is opt-in)",
    )
    return parser


def _print_banner(report: dict, total: int) -> None:
    """Reference summary banner (``main.ts:357-369``)."""
    print("\n" + "=" * 60)
    print(f"Processed {len(report['processed'])}/{total} repositories successfully")
    if report["skipped"]:
        print(f"{len(report['skipped'])} repositories skipped (no matching commits or invalid)")
    if report["failed"]:
        print(f"{len(report['failed'])} repositories failed")
        for f in report["failed"]:
            print(f"{f['repo']}: {f['error']}", file=sys.stderr)
    print("=" * 60 + "\n")


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    if args.config is None and not args.repo_path:
        print("Error: Please provide a repository path or config file", file=sys.stderr)
        print(USAGE, file=sys.stderr)
        return 1

    # imports deferred so `--help` / arg errors never pay JVM start-up
    from .plans.git_pipeline import etl_repos, format_summary_report
    from .session import get_spark
    from .sources.discovery import load_repositories_config

    if args.config is not None:
        print(f"Loading repositories from: {args.config}\n")
        try:
            repositories = load_repositories_config(args.config)
        except FileNotFoundError:
            print(f"Error loading config: Config file not found: {args.config}", file=sys.stderr)
            return 1
        except (OSError, ValueError) as exc:
            print(f"Error loading config: {exc}", file=sys.stderr)
            return 1
        print(f"Found {len(repositories)} repositories to process\n")

        non_dirs = [p for p in repositories if not os.path.isdir(p)]
        for p in non_dirs:
            print(f"Skipping {p}: not a directory", file=sys.stderr)
        candidates = [p for p in repositories if os.path.isdir(p)]

        spark = get_spark(app_name="git-etl-spark-cli")
        report = etl_repos(
            spark, candidates, args.output, author_pattern=args.author
        )
        report["skipped"] = non_dirs + report["skipped"]
        _print_banner(report, len(repositories))
        return 0

    repo_path = args.repo_path
    if not os.path.exists(repo_path):
        print(f"Error: Path does not exist: {repo_path}", file=sys.stderr)
        return 1
    if not os.path.isdir(repo_path):
        print(f"Error: {repo_path} is not a directory", file=sys.stderr)
        return 1

    spark = get_spark(app_name="git-etl-spark-cli")
    report = etl_repos(spark, [repo_path], args.output, author_pattern=args.author)
    if report["failed"]:
        print(f"\nETL failed: {report['failed'][0]['error']}", file=sys.stderr)
        return 1
    if report["skipped"]:
        print("Repository has no matching commits. Skipping.")
        return 0
    print(format_summary_report(report["summary"]))
    return 0


if __name__ == "__main__":  # pragma: no cover — exercised via __main__
    sys.exit(main())
