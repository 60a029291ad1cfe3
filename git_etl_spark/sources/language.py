"""Repository language detection — SURVEY.md §2.5 A3, §2.3 P11/P12.

Extension histogram over tracked files with an argmax restricted to a
known-language map (reference ``src/git-parser.ts:214-264``). The map
is a module constant; as a DataFrame op the same lookup is a broadcast
join (see operators/joins.py::join_broadcast_lookup).
"""

from __future__ import annotations

from collections import Counter

# 18 languages, as the reference's map (src/git-parser.ts:233-252)
EXTENSION_LANGUAGES: dict[str, str] = {
    "ts": "TypeScript",
    "js": "JavaScript",
    "tsx": "TypeScript",
    "jsx": "JavaScript",
    "py": "Python",
    "go": "Go",
    "rs": "Rust",
    "java": "Java",
    "c": "C",
    "cpp": "C++",
    "cs": "C#",
    "rb": "Ruby",
    "php": "PHP",
    "swift": "Swift",
    "kt": "Kotlin",
    "scala": "Scala",
    "sh": "Shell",
    "nix": "Nix",
}


def extension_of(file_path: str) -> str | None:
    """P11: lowercase extension; files without a dot have none
    (reference ``src/git-parser.ts:227-231``). A path git printed
    C-quoted (``"na\\303\\257ve.py"``: non-ASCII bytes under the
    default ``core.quotePath``) is read without its surrounding
    quotes."""
    if len(file_path) > 1 and file_path[0] == file_path[-1] == '"':
        file_path = file_path[1:-1]
    name = file_path.rsplit("/", 1)[-1]
    if "." not in name:
        return None
    ext = name.rsplit(".", 1)[-1].lower()
    return ext or None


def detect_language(files: list[str]) -> str | None:
    """A3: most frequent *known-language* extension wins; ties break
    alphabetically on extension for determinism (the reference's Map
    iteration order is insertion order — an implicit tie-break we make
    explicit)."""
    counts = Counter(
        ext for f in files if (ext := extension_of(f)) in EXTENSION_LANGUAGES
    )
    if not counts:
        return None
    best_ext = min(counts, key=lambda e: (-counts[e], e))
    return EXTENSION_LANGUAGES[best_ext]
