"""Pure-function parser tests (no Spark, no git) — SURVEY.md §5.2(1),
fixture cases from FIXTURES.md §C."""

from __future__ import annotations

from git_etl_spark.sources.git_log import (
    FIELD_SEP,
    RECORD_SENTINEL,
    parse_git_log_text,
    parse_numstat_line,
    resolve_rename_path,
)
from git_etl_spark.sources.git_tags import (
    assemble_tag_message,
    parse_tag_records,
    strip_email_brackets,
)
from git_etl_spark.sources.language import detect_language, extension_of


# --- P1 rename rewrite (reference src/git-parser.ts:84-99 cases) ---------

def test_rename_simple():
    assert resolve_rename_path("src/{old.js => new.js}") == "src/new.js"


def test_rename_dir_segment():
    assert (
        resolve_rename_path("a/{lib => core}/util.ts") == "a/core/util.ts"
    )


def test_rename_empty_old_side():
    assert resolve_rename_path("{ => single}/file.ts") == "single/file.ts"


def test_rename_empty_new_side():
    assert resolve_rename_path("x/{old => }/f.ts") == "x/f.ts"


def test_rename_plain_path_unchanged():
    assert resolve_rename_path("plain/path/file.py") == "plain/path/file.py"


def test_rename_multiple_occurrences():
    assert (
        resolve_rename_path("{a => b}/m/{c => d}/f") == "b/m/d/f"
    )


# --- P2 numstat ----------------------------------------------------------

def test_numstat_normal():
    assert parse_numstat_line("10\t2\tsrc/main.py") == {
        "file_path": "src/main.py",
        "additions": 10,
        "deletions": 2,
    }


def test_numstat_binary_dashes():
    assert parse_numstat_line("-\t-\timage.png") == {
        "file_path": "image.png",
        "additions": 0,
        "deletions": 0,
    }


def test_numstat_path_with_spaces():
    fc = parse_numstat_line("1\t0\tdocs/my file name.md")
    assert fc["file_path"] == "docs/my file name.md"


def test_numstat_malformed_returns_none():
    assert parse_numstat_line("garbage") is None
    assert parse_numstat_line("1\t2") is None
    assert parse_numstat_line("") is None


# --- S1 sentinel block parser ---------------------------------------------

def _block(sha, email, name, epoch, parents, subject, numstat=()):
    header = FIELD_SEP.join([sha, email, name, str(epoch), parents, subject])
    return RECORD_SENTINEL + header + ("\n" + "\n".join(numstat) if numstat else "")


def test_parse_log_basic_commit():
    text = _block(
        "a" * 40, "a@x.io", "Alice", 1700000000, "p1",
        "feat: add thing", ["3\t1\tsrc/a.py", "2\t0\tsrc/b.py"],
    )
    [c] = parse_git_log_text(text, "repo1", "main")
    assert c["sha"] == "a" * 40
    assert c["additions"] == 5 and c["deletions"] == 1
    assert c["files_changed"] == 2
    assert not c["is_merge"]
    assert c["committed_at"].year == 2023
    assert c["file_changes"][0]["file_path"] == "src/a.py"


def test_parse_log_merge_commit_no_numstat():
    # plain `git log --numstat` emits no stats for merges (SURVEY §7.3)
    text = _block("b" * 40, "b@x.io", "Bob", 1700000100, "p1 p2", "Merge branch")
    [c] = parse_git_log_text(text, "r", "main")
    assert c["is_merge"]
    assert c["additions"] == 0 and c["files_changed"] == 0


def test_parse_log_subject_with_pipe_and_sep_safety():
    text = _block("c" * 40, "c@x.io", "Cara", 1700000200, "", "fix: a|b|c {weird}")
    [c] = parse_git_log_text(text, "r", "main")
    assert c["message"] == "fix: a|b|c {weird}"


def test_parse_log_multiple_blocks_and_garbage():
    text = (
        _block("d" * 40, "d@x.io", "D", 1700000300, "", "one", ["1\t1\tf"])
        + "\n"
        + _block("e" * 40, "e@x.io", "E", 1700000400, "", "two")
        + RECORD_SENTINEL  # trailing empty block
        + "\nnot-a-header"
    )
    commits = parse_git_log_text(text, "r", "main")
    assert [c["message"] for c in commits] == ["one", "two"]


def test_parse_log_rename_resolved_in_file_changes():
    text = _block(
        "f" * 40, "f@x.io", "F", 1700000500, "", "mv",
        ["0\t0\tsrc/{old.js => new.js}"],
    )
    [c] = parse_git_log_text(text, "r", "main")
    assert c["file_changes"][0]["file_path"] == "src/new.js"


# --- S2 tag parsing --------------------------------------------------------

def _tag_rec(*fields):
    from git_etl_spark.sources.git_tags import FIELD_SEP as TSEP, RECORD_SEP

    return TSEP.join(fields) + RECORD_SEP


def test_parse_annotated_tag():
    text = _tag_rec(
        "v1.0.0", "tag", "1" * 40, "2" * 40,
        "Rel Bot", "<rel@x.io>", "1700000000", "Release v1", "notes body\n",
    )
    [t] = parse_tag_records(text, "repo1")
    assert t["is_annotated"]
    assert t["sha"] == "2" * 40  # peeled commit, not the tag object
    assert t["tagger_email"] == "rel@x.io"
    assert t["message"] == "Release v1\n\nnotes body"
    assert t["tag_date"].year == 2023


def test_parse_lightweight_tag():
    text = _tag_rec(
        "v0.1", "commit", "3" * 40, "", "", "", "", "subject ignored", "",
    )
    [t] = parse_tag_records(text, "repo1")
    assert not t["is_annotated"]
    assert t["sha"] == "3" * 40
    assert t["tagger_name"] is None
    assert t["tagger_email"] is None
    assert t["tag_date"] is None
    assert t["message"] is None


def test_parse_tag_subject_with_pipes():
    # the reference's '|' delimiter would break here (src/git-parser.ts:308-309)
    text = _tag_rec(
        "v2", "tag", "4" * 40, "5" * 40,
        "T", "<t@x.io>", "1700000001", "a|b|c", "",
    )
    [t] = parse_tag_records(text, "r")
    assert t["message"] == "a|b|c"


def test_tag_invalid_timestamp_is_null():
    text = _tag_rec(
        "v3", "tag", "6" * 40, "7" * 40, "T", "<t@x.io>", "0", "s", "",
    )
    [t] = parse_tag_records(text, "r")
    assert t["tag_date"] is None  # F7: only ts > 0 is valid


def test_strip_email_brackets():
    assert strip_email_brackets("<a@b.c>") == "a@b.c"
    assert strip_email_brackets("a@b.c") == "a@b.c"


def test_assemble_tag_message():
    assert assemble_tag_message("subj", "") == "subj"
    assert assemble_tag_message("subj", " body \n") == "subj\n\nbody"


# --- A3/P11/P12 language detection ----------------------------------------

def test_extension_of():
    assert extension_of("a/b/c.PY") == "py"
    assert extension_of("Makefile") is None
    assert extension_of("x/.gitignore") == "gitignore"
    # git ls-files C-quotes non-ASCII names (core.quotePath)
    assert extension_of('"na\\303\\257ve.py"') == "py"
    assert extension_of('"d\\303\\251p/Makefile"') is None


def test_detect_language_argmax():
    files = ["a.py", "b.py", "c.ts", "README.md", "Makefile"]
    assert detect_language(files) == "Python"


def test_detect_language_ignores_unknown_exts():
    assert detect_language(["a.md", "b.txt", "LICENSE"]) is None
    assert detect_language([]) is None


def test_detect_language_quoted_paths():
    # `git ls-files` output for été.py, naïve.py and a.go
    files = ['"\\303\\251t\\303\\251.py"', '"na\\303\\257ve.py"', "a.go"]
    assert detect_language(files) == "Python"


def test_detect_language_tie_breaks_on_extension():
    # 1×py vs 1×go → alphabetical ext wins deterministically
    assert detect_language(["x.py", "y.go"]) == "Go"
