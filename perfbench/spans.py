"""Span tracer for the traced benchmark run.

``Tracer.install()`` wraps the layers' public functions where their
callers look them up (for example the ``repo_commits_df`` name inside
``plans.git_pipeline``), so every call records a span: name, start,
end, parent and a few counts. Untraced runs never call ``install`` and
run the program unmodified. Spans stay in memory; ``dump`` writes them
out once the run is over.

The ETL scans run on a thread pool. A span opened on a thread with no
open span of its own takes the innermost span open on the main thread
as its parent, which is the ``repo_commits_df`` call that started the
pool.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counts: dict = field(default_factory=dict)


# (module, attribute, span name): the attribute is replaced on the module
# the caller resolves it from
ETL_SITES = [
    ("git_etl_spark.sources.git_log", "current_branch", "git_log.current_branch"),
    ("git_etl_spark.sources.git_log", "scan_repo_commits", "git_log.scan"),
    ("git_etl_spark.sources.git_log", "parse_git_log_text", "git_log.parse"),
    ("git_etl_spark.plans.git_pipeline", "repo_commits_df", "git_log.repo_commits_df"),
    ("git_etl_spark.plans.git_pipeline", "list_tracked_files", "language.ls_files"),
    ("git_etl_spark.plans.git_pipeline", "detect_language", "language.detect"),
    ("git_etl_spark.sources.git_tags", "scan_repo_tags", "git_tags.scan"),
    ("git_etl_spark.plans.git_pipeline", "repo_tags_df", "git_tags.repo_tags_df"),
    ("git_etl_spark.plans.git_pipeline", "explode_file_changes", "git_pipeline.plan"),
    ("git_etl_spark.plans.git_pipeline", "aggregate_authors", "git_pipeline.plan"),
    ("git_etl_spark.plans.git_pipeline", "repo_metadata", "git_pipeline.plan"),
    ("git_etl_spark.plans.git_pipeline", "summary_stats", "git_pipeline.summary"),
    ("git_etl_spark.plans.git_pipeline", "write_staging", "upsert.write_staging"),
    ("git_etl_spark.plans.git_pipeline", "publish_all", "upsert.publish"),
    ("git_etl_spark.plans.git_pipeline", "upsert_parquet", "upsert.merge"),
]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, **counts) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        self.spans.append(Span(name, time.perf_counter(), parent=parent,
                               counts=counts))
        idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        idx = self.open(name, **counts)
        try:
            yield self.spans[idx]
        finally:
            self.close(idx)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.open(name)
            try:
                if name == "git_log.parse":
                    self.spans[idx].counts["bytes"] = len(args[0].encode())
                elif name.startswith("upsert.") and name != "upsert.publish":
                    # write_staging(df, final_path) / upsert_parquet(spark, df, path, ...)
                    path = args[1] if name == "upsert.write_staging" else args[2]
                    self.spans[idx].counts["table"] = path.rstrip("/").rsplit("/", 1)[-1]
                return fn(*args, **kwargs)
            finally:
                self.close(idx)

        return traced

    def install(self) -> None:
        for mod_name, attr, span_name in ETL_SITES:
            mod = importlib.import_module(mod_name)
            setattr(mod, attr, self.wrap(getattr(mod, attr), span_name))

    # -- analysis ------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that child spans cover
        (children on a thread pool overlap, so their union is taken)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for i, s in enumerate(self.spans):
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(i, []), key=lambda c: c.start):
                if cur_end is None or c.start > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = c.start, c.end
                else:
                    cur_end = max(cur_end, c.end)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[i] = (s.end - s.start) - covered
        return out

    def by_name(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, total duration, total self time."""
        selfs = self.self_times()
        agg: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            a = agg.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            a["calls"] += 1
            a["total_s"] += s.end - s.start
            a["self_s"] += selfs[i]
        return agg

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, "name": s.name, "start": s.start,
                                     "end": s.end, "parent": s.parent,
                                     **s.counts}) + "\n")
