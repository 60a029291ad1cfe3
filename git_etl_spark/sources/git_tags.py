"""Git tag source — SURVEY.md §2.1 S2, §2.3 P6/P7, §2.4 F6/F7.

One ``git for-each-ref refs/tags`` subprocess per repo (the reference's
batched-scan optimization, ``src/git-parser.ts:277-290``), but with NUL
field separators instead of pipes — the reference documents that a
``|`` in a tag subject breaks its field split
(``src/git-parser.ts:308-309``); NUL cannot appear in ref data.

Annotated vs lightweight classification follows F6: ``objecttype ==
"tag"`` → annotated with tagger identity/date/message; lightweight tags
carry nulls (reference ``src/git-parser.ts:322-345``).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from ..schemas import TAGS_SCHEMA
from .git_log import _run_git, batch_table, repo_name_of, scan_isolated

FIELD_SEP = "\x00"
RECORD_SEP = "\x00\x00REC\x00\x00"
# %00 is for-each-ref's NUL escape — the argv string itself stays NUL-free
TAG_FORMAT = "%00".join(
    [
        "%(refname:short)",
        "%(objecttype)",
        "%(objectname)",
        "%(*objectname)",  # peeled commit sha for annotated tags
        "%(taggername)",
        "%(taggeremail)",
        "%(taggerdate:unix)",
        "%(subject)",
        "%(body)",
    ]
) + "%00%00REC%00%00"


def strip_email_brackets(email: str) -> str:
    """P6: ``<a@b>`` → ``a@b`` (reference ``src/git-parser.ts:327-329``)."""
    return email.removeprefix("<").removesuffix(">")


def assemble_tag_message(subject: str, body: str) -> str:
    """P7: annotated message = subject + blank line + trimmed body when
    a body exists, else subject (reference ``src/git-parser.ts:337-345``)."""
    body = body.strip()
    return f"{subject}\n\n{body}" if body else subject


def parse_tag_records(text: str, repo_name: str) -> list[dict]:
    """Pure parser: for-each-ref output → tag records."""
    tags: list[dict] = []
    for rec in text.split(RECORD_SEP):
        rec = rec.strip("\n")
        if not rec:
            continue
        fields = rec.split(FIELD_SEP)
        if len(fields) < 9:
            continue
        (
            tag_name,
            objecttype,
            objectname,
            peeled,
            tagger_name,
            tagger_email,
            tagger_unix,
            subject,
            body,
        ) = fields[:9]
        if not tag_name:
            continue
        is_annotated = objecttype == "tag"
        tag_date = None
        if is_annotated and tagger_unix.strip():
            try:
                ts = int(tagger_unix)
                if ts > 0:  # F7 valid-timestamp predicate
                    tag_date = datetime.fromtimestamp(
                        ts, tz=timezone.utc
                    ).replace(tzinfo=None)
            except ValueError:
                pass
        tags.append(
            {
                "repo_name": repo_name,
                "tag_name": tag_name,
                # annotated tags point at a tag object; the commit is the
                # peeled sha (reference resolves the same way)
                "sha": peeled if (is_annotated and peeled) else objectname,
                "tagger_name": (tagger_name or None) if is_annotated else None,
                "tagger_email": (
                    strip_email_brackets(tagger_email) or None
                )
                if is_annotated
                else None,
                "tag_date": tag_date,
                "message": assemble_tag_message(subject, body)
                if is_annotated
                else None,
                "is_annotated": is_annotated,
            }
        )
    return tags


def scan_repo_tags(repo_path: str) -> list[dict]:
    """S2 subprocess scan → parsed tag records."""
    out = _run_git(repo_path, "for-each-ref", "refs/tags", f"--format={TAG_FORMAT}")
    return parse_tag_records(out, repo_name_of(repo_path))


def repo_tags_df(
    spark: SparkSession, repo_paths: list[str], failed: dict[str, str]
) -> DataFrame:
    """S2 as a DataFrame source (TAGS_SCHEMA), unique on
    (repo_name, tag_name); a duplicate keeps the batch's last row
    (``batch_table``). A repository whose scan fails is recorded in
    ``failed`` (``scan_isolated``)."""
    rows = [t for p in repo_paths for t in scan_isolated(scan_repo_tags, p, failed)]
    table = batch_table(rows, TAGS_SCHEMA, ("repo_name", "tag_name"))
    return spark.createDataFrame(table, TAGS_SCHEMA)
