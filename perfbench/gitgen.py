"""Deterministic synthetic git repositories for the ETL workloads.

Each repository is written with one ``git fast-import`` stream built
from a seed, so the same seed always gives the same commits, shas and
tags. The generator also returns what the five warehouse tables must
hold, which is what the correctness check compares against.

Shape of every repository:

- a linear ``main`` history; every ``MERGE_EVERY`` commits a two-commit
  side branch that only adds new files is merged back (merge commits
  carry no numstat under plain ``git log``, so they count 0/0/0);
- each ordinary commit touches 1-5 files. A touched file either is new
  (``additions`` = its line count) or drops its first ``d`` lines and
  appends ``n`` new ones. Every line is unique, so git's minimal diff
  reports exactly ``+n -d`` and the expected numstat is known without
  running git. Files are never deleted, so rename detection never
  fires;
- annotated and lightweight tags on a fixed cadence;
- an *append batch* built in the same stream on ``refs/perfbench/next``
  plus one annotated tag, hidden until ``Repo.append()`` moves ``main``
  and the tag ref onto it with two ``update-ref`` calls.
"""

from __future__ import annotations

import os
import random
import subprocess
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timezone

AUTHORS = 50
MERGE_EVERY = 50
TAG_EVERY = 400
EXTENSIONS = ("py", "py", "py", "ts", "go", "md")
BASE_EPOCH = 1_600_000_000
APPEND_TAG = "perfbench-append"


def accumulate(into: dict, key, vals) -> None:
    """Add ``vals`` elementwise to the list stored under ``key``."""
    cur = into.setdefault(key, [0] * len(vals))
    for i, v in enumerate(vals):
        cur[i] += v


@dataclass
class Expected:
    """What the warehouse must hold after an ETL run."""

    commits: Counter = field(default_factory=Counter)  # repo -> rows
    author_commits: Counter = field(default_factory=Counter)  # email -> rows
    author_names: dict = field(default_factory=dict)  # email -> name
    merges: int = 0
    # 'YYYY-MM-DD' -> [commits, additions, deletions]
    days: dict = field(default_factory=dict)
    # (repo, path) -> [changes, additions, deletions]
    files: dict = field(default_factory=dict)
    # (repo, tag) -> (is_annotated, peeled commit sha)
    tags: dict = field(default_factory=dict)

    @property
    def additions(self) -> int:
        return sum(v[1] for v in self.days.values())

    @property
    def deletions(self) -> int:
        return sum(v[2] for v in self.days.values())

    @property
    def file_changes(self) -> int:
        return sum(v[0] for v in self.files.values())

    def merged(self, other: "Expected") -> "Expected":
        out = Expected(
            commits=self.commits + other.commits,
            author_commits=self.author_commits + other.author_commits,
            author_names={**self.author_names, **other.author_names},
            merges=self.merges + other.merges,
            tags={**self.tags, **other.tags},
        )
        for src in (self, other):
            for k, v in src.days.items():
                accumulate(out.days, k, v)
            for k, v in src.files.items():
                accumulate(out.files, k, v)
        return out


@dataclass
class Repo:
    path: str
    # the append batch's head commit and tag object; None without a batch
    next_head: str | None = None
    next_tag_obj: str | None = None

    def append(self) -> None:
        """Publish the append batch: move ``main`` and the tag onto it."""
        if self.next_head is None:
            return
        _git(self.path, "update-ref", "refs/heads/main", self.next_head)
        _git(self.path, "update-ref", f"refs/tags/{APPEND_TAG}", self.next_tag_obj)


class _Stream:
    """Builds one fast-import stream and the expectations it implies."""

    def __init__(self, rng: random.Random, repo_name: str, epoch: int):
        self.rng = rng
        self.repo = repo_name
        self.epoch = epoch
        self.parts: list[bytes] = []
        self.mark = 0
        self.files: dict[str, list[str]] = {}  # main's tree: path -> lines
        self.paths: list[str] = []  # keys of ``files``, for O(1) choice
        self.line_no = 0

    # -- low-level writers ------------------------------------------------
    def _data(self, text: str) -> None:
        raw = text.encode()
        self.parts.append(b"data %d\n" % len(raw) + raw + b"\n")

    def _line(self, text: str) -> None:
        self.parts.append(text.encode() + b"\n")

    def _new_lines(self, path: str, n: int) -> list[str]:
        out = []
        for _ in range(n):
            self.line_no += 1
            out.append(f"{path} line {self.line_no} {self.rng.getrandbits(32):08x}")
        return out

    def _who(self, exp: Expected) -> tuple[str, str]:
        i = self.rng.randrange(AUTHORS)
        name, email = f"Author {i:02d}", f"author{i:02d}@example.com"
        exp.author_names[email] = name
        return name, email

    def _tick(self) -> int:
        self.epoch += self.rng.randint(60, 7200)
        return self.epoch

    def _header(self, ref: str, name: str, email: str, msg: str) -> int:
        self.mark += 1
        ts = self._tick()
        self.day = datetime.fromtimestamp(ts, tz=timezone.utc).strftime("%Y-%m-%d")
        self._line(f"commit {ref}")
        self._line(f"mark :{self.mark}")
        self._line(f"author {name} <{email}> {ts} +0000")
        self._line(f"committer {name} <{email}> {ts} +0000")
        self._data(msg)
        return self.mark

    def _write_file(self, path: str, lines: list[str]) -> None:
        self._line(f"M 100644 inline {path}")
        self._data("".join(ln + "\n" for ln in lines))

    def _count(self, exp: Expected, email: str,
               changes: dict[str, tuple[int, int]], merge: bool = False) -> None:
        """Record the commit just written; ``changes`` maps each touched
        path to its (additions, deletions)."""
        exp.commits[self.repo] += 1
        exp.author_commits[email] += 1
        exp.merges += int(merge)
        accumulate(exp.days, self.day, (1, sum(a for a, _ in changes.values()),
                                        sum(d for _, d in changes.values())))
        for path, (a, d) in changes.items():
            accumulate(exp.files, (self.repo, path), (1, a, d))

    # -- commits -----------------------------------------------------------
    def commit(self, ref: str, parent: int | None, exp: Expected) -> int:
        name, email = self._who(exp)
        mark = self._header(ref, name, email,
                            f"{self.repo}: change {self.mark + 1}")
        if parent is not None:
            self._line(f"from :{parent}")
        changes: dict[str, tuple[int, int]] = {}
        for _ in range(self.rng.randint(1, 5)):
            if self.paths and self.rng.random() < 0.8:
                path = self.rng.choice(self.paths)
                if path in changes:
                    continue
                old = self.files[path]
                d = self.rng.randint(0, min(4, len(old) - 1))
                n = self.rng.randint(1, 6)
                new = old[d:] + self._new_lines(path, n)
                changes[path] = (n, d)
            else:
                ext = self.rng.choice(EXTENSIONS)
                path = f"src/m{self.rng.randrange(40)}/f{self.mark}_{len(changes)}.{ext}"
                new = self._new_lines(path, self.rng.randint(3, 12))
                changes[path] = (len(new), 0)
                self.paths.append(path)
            self.files[path] = new
            self._write_file(path, new)
        self._line("")
        self._count(exp, email, changes)
        return mark

    def merge_side_branch(self, main_tip: int, exp: Expected) -> int:
        """Two side commits that add files, then a merge into main."""
        tip = main_tip
        added: dict[str, list[str]] = {}
        for _ in range(2):
            name, email = self._who(exp)
            parent = tip
            tip = self._header("refs/perfbench/side", name, email,
                               f"{self.repo}: side {self.mark + 1}")
            self._line(f"from :{parent}")
            path = f"side/s{self.mark}.py"
            lines = self._new_lines(path, self.rng.randint(3, 8))
            added[path] = lines
            self._write_file(path, lines)
            self._line("")
            self._count(exp, email, {path: (len(lines), 0)})
        name, email = self._who(exp)
        mark = self._header("refs/heads/main", name, email,
                            f"{self.repo}: merge {self.mark + 1}")
        self._line(f"from :{main_tip}")
        self._line(f"merge :{tip}")
        for path, lines in added.items():
            self._write_file(path, lines)
            self.files[path] = lines
            self.paths.append(path)
        self._line("")
        self._count(exp, email, {}, merge=True)
        return mark

    def tag(self, name: str, target: int, annotated: bool, exp: Expected) -> None:
        if annotated:
            who, email = self._who(Expected())
            self._line(f"tag {name}")
            self._line(f"from :{target}")
            self._line(f"tagger {who} <{email}> {self._tick()} +0000")
            self._data(f"Release {name}\n\nNotes for {name}.\n")
        else:
            self._line(f"reset refs/tags/{name}")
            self._line(f"from :{target}")
            self._line("")
        exp.tags[(self.repo, name)] = (annotated, target)  # mark; sha later

    def history(self, n_commits: int, exp: Expected, first_tag_annotated: bool) -> int:
        """``main`` from the root: ``n_commits`` commits, merges included,
        tagged ``v1``, ``v2``, ... alternating annotated and lightweight,
        at least one tag. Returns the tip's mark."""
        tip = None
        made = 0
        n_tags = 0
        while made < n_commits:
            if made and made % MERGE_EVERY == 0 and n_commits - made >= 3:
                tip = self.merge_side_branch(tip, exp)
                made += 3
                continue
            tip = self.commit("refs/heads/main", tip, exp)
            made += 1
            if made % TAG_EVERY == 0:
                n_tags += 1
                self.tag(f"v{n_tags}", tip,
                         annotated=(n_tags % 2 == 1) == first_tag_annotated, exp=exp)
        if n_tags == 0:
            self.tag("v1", tip, annotated=first_tag_annotated, exp=exp)
        return tip


def _git(path: str, *args: str, stdin: bytes | None = None) -> str:
    out = subprocess.run(["git", "-C", path, *args], input=stdin,
                         capture_output=True, check=True)
    return out.stdout.decode()


def build_repo(path: str, seed: int, n_commits: int, n_append: int,
               ) -> tuple[Repo, Expected, Expected]:
    """Create the repository at ``path``; return it with the expected
    contents of its base history and of its append batch."""
    rng = random.Random(f"{seed}:{os.path.basename(path)}")
    name = os.path.basename(path)
    s = _Stream(rng, name, BASE_EPOCH + rng.randrange(86_400 * 30))
    base, extra = Expected(), Expected()
    next_tip = s.history(n_commits, base, first_tag_annotated=rng.random() < 0.5)
    if n_append:
        for _ in range(n_append):
            next_tip = s.commit("refs/perfbench/next", next_tip, extra)
        s.tag(APPEND_TAG, next_tip, annotated=True, exp=extra)
    os.makedirs(path)
    subprocess.run(["git", "init", "-q", "-b", "main", path], check=True)
    marks = os.path.join(path, ".git", "perfbench-marks")
    _git(path, "fast-import", "--quiet", f"--export-marks={marks}",
         stdin=b"".join(s.parts))
    sha = {}
    with open(marks) as fh:
        for ln in fh:
            m, h = ln.split()
            sha[int(m[1:])] = h
    for exp in (base, extra):
        exp.tags = {k: (ann, sha[mark]) for k, (ann, mark) in exp.tags.items()}
    # an index (not a work tree) so `git ls-files` lists the tracked files
    _git(path, "read-tree", "main")
    repo = Repo(path)
    if n_append:
        repo.next_head = sha[next_tip]
        repo.next_tag_obj = _git(path, "rev-parse", f"refs/tags/{APPEND_TAG}").strip()
        _git(path, "update-ref", "-d", f"refs/tags/{APPEND_TAG}")
    return repo, base, extra


def build_repos(root: str, seed: int, n_repos: int, commits_per_repo: int,
                append_repos: int, append_commits: int,
                ) -> tuple[list[Repo], Expected, Expected]:
    """``n_repos`` repositories under ``root``. The first ``append_repos``
    of them carry an append batch of ``append_commits`` commits in total."""
    per = append_commits // max(append_repos, 1)
    with ThreadPoolExecutor(max_workers=4) as pool:
        built = list(pool.map(
            lambda i: build_repo(os.path.join(root, f"repo{i:03d}"), seed,
                                 commits_per_repo, per if i < append_repos else 0),
            range(n_repos)))
    base, extra = Expected(), Expected()
    for _, b, e in built:
        base, extra = base.merged(b), extra.merged(e)
    return [r for r, _, _ in built], base, extra
