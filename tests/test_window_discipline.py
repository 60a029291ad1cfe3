"""Structural guard for the partitionless-window discipline.

A ``Window.orderBy(...)`` without a ``partitionBy`` funnels every row
through ONE task — the classic 100 TB killer when the input is
corpus-sized. The repo's standing rule (audited per-site in VERDICT
r11/r12): every such site must run over a bounded / re-aggregated
input and say so. This test walks the operator sources with ``ast``
and asserts the rule *structurally*, so a new unbounded global window
cannot slip into a future query unnoticed (VERDICT r12 task 7).

The justification must live in the ENCLOSING FUNCTION's source
(docstring or comment) and match :data:`_JUSTIFIED` — the vocabulary
the existing audited sites already use. When this test fails on a new
site, bound the window's input and document the bound, or partition
the window.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PACKAGE_ROOT = Path(__file__).resolve().parent.parent / "git_etl_spark"

# Names a window-spec chain may start from. ``_W`` / ``W`` are the
# import aliases used in operator modules.
_WINDOW_ALIASES = {"Window", "_W", "W"}

# The justification vocabulary of the audited sites: a named bound
# ("bounded", "rollup", "aggregated" series/input) or a measured
# crossover below which the single-task window wins.
_JUSTIFIED = re.compile(r"crossover|bounded|rollup|aggregated", re.I)


def _chain(node: ast.AST) -> tuple[str | None, list[str]]:
    """(root Name id, method names) of an attribute/call chain."""
    methods: list[str] = []
    cur = node
    while True:
        if isinstance(cur, ast.Call):
            cur = cur.func
        elif isinstance(cur, ast.Attribute):
            methods.append(cur.attr)
            cur = cur.value
        elif isinstance(cur, ast.Name):
            return cur.id, methods
        else:
            return None, methods


def _partitionless_window_sites() -> list[tuple[Path, int, str, str]]:
    """(file, lineno, enclosing function name, enclosing source) for
    every ``Window…orderBy(…)`` chain with no ``partitionBy`` in it.

    Chains rooted at a *variable* (``w.orderBy(...)`` where ``w =
    Window.partitionBy(...)``) are out of scope by construction — the
    partitioning decision was made at the variable's definition, which
    is itself a ``Window.…`` chain this walker sees.
    """
    sites: list[tuple[Path, int, str, str]] = []
    for path in sorted(PACKAGE_ROOT.rglob("*.py")):
        src = path.read_text()
        tree = ast.parse(src)
        lines = src.splitlines()
        funcs = [
            n
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "orderBy"
            ):
                continue
            root, methods = _chain(node)
            if root not in _WINDOW_ALIASES or "partitionBy" in methods:
                continue
            enclosing = [
                f
                for f in funcs
                if f.lineno <= node.lineno <= (f.end_lineno or f.lineno)
            ]
            if enclosing:
                f = min(
                    enclosing, key=lambda f: (f.end_lineno or 0) - f.lineno
                )
                fname = f.name
                fsrc = "\n".join(lines[f.lineno - 1 : f.end_lineno])
            else:
                fname = "<module>"
                lo = max(0, node.lineno - 20)
                fsrc = "\n".join(lines[lo : node.lineno + 3])
            sites.append((path, node.lineno, fname, fsrc))
    return sites


def test_every_partitionless_window_names_its_bound_or_replacement():
    sites = _partitionless_window_sites()
    # the discipline has real subjects — if the walker ever finds zero
    # sites the detection itself broke (there are 17 audited ones)
    assert len(sites) >= 10, (
        f"window-site walker found only {len(sites)} sites — "
        "detection regressed?"
    )
    offenders = [
        f"{p.relative_to(PACKAGE_ROOT.parent)}:{ln} in {fn}()"
        for p, ln, fn, fsrc in sites
        if not _JUSTIFIED.search(fsrc)
    ]
    assert not offenders, (
        "partitionless Window.orderBy sites without a documented "
        "bound:\n  "
        + "\n  ".join(offenders)
        + "\nEither bound the window's input (and say so in the "
        "function), or partition the window."
    )
