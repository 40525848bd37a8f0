"""Dead-code tripwire: every top-level function, class and method in
``etl_stream_spark/`` must be named somewhere outside its own
definition — in the package, the tests, the scripts, the benchmark or
the driver entry point. A definition nobody names has no caller.

Pure AST + regex over the source tree; no Spark session.

Not counted as callers: the import lists and ``__all__`` of the
package's ``__init__.py`` files (exporting a name does not use it).
Exempt: dunder methods (Python invokes them) and the callbacks Spark
invokes by name — ``StreamingQueryListener.on*`` and the
``StatefulProcessor`` ``handle*``/``init``/``close`` methods.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "etl_stream_spark"
SEARCH_DIRS = ("etl_stream_spark", "tests", "scripts", "perfbench")
SEARCH_FILES = ("bench.py", "__spark_entry__.py")

_WORD = re.compile(r"\w+")


def _spark_callback(bases: set[str], name: str) -> bool:
    if "StreamingQueryListener" in bases and name.startswith("on"):
        return True
    return "StatefulProcessor" in bases and (
        name.startswith("handle") or name in ("init", "close")
    )


def _definitions(path: Path, tree: ast.Module):
    """``(name, first_line, last_line)`` of every top-level function and
    class, and of every method of a top-level class, minus exemptions."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node.name, node.lineno, node.end_lineno
        elif isinstance(node, ast.ClassDef):
            yield node.name, node.lineno, node.end_lineno
            bases = {ast.unparse(b).rsplit(".", 1)[-1] for b in node.bases}
            for item in node.body:
                if not isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                name = item.name
                if name.startswith("__") and name.endswith("__"):
                    continue
                if _spark_callback(bases, name):
                    continue
                yield name, item.lineno, item.end_lineno


def _export_lines(tree: ast.Module) -> set[int]:
    """Lines of an ``__init__.py``'s imports and ``__all__`` lists."""
    lines: set[int] = set()
    for node in tree.body:
        exports = isinstance(node, (ast.Import, ast.ImportFrom)) or (
            isinstance(node, (ast.Assign, ast.AugAssign))
            and "__all__" in ast.unparse(node).split("=", 1)[0]
        )
        if exports:
            lines.update(range(node.lineno, node.end_lineno + 1))
    return lines


def _search_files() -> list[Path]:
    files = [p for d in SEARCH_DIRS for p in sorted((ROOT / d).rglob("*.py"))]
    return files + [ROOT / f for f in SEARCH_FILES if (ROOT / f).exists()]


def test_every_package_definition_has_a_caller():
    words: Counter = Counter()
    defs = []
    for path in _search_files():
        src = path.read_text()
        lines = src.splitlines()
        in_package = PACKAGE in path.parents
        counted = lines
        if in_package:
            tree = ast.parse(src)
            if path.name == "__init__.py":
                skip = _export_lines(tree)
                counted = [ln for i, ln in enumerate(lines, 1) if i not in skip]
            for name, first, last in _definitions(path, tree):
                own = _WORD.findall("\n".join(lines[first - 1 : last]))
                defs.append((path, name, first, own.count(name)))
        words.update(_WORD.findall("\n".join(counted)))
    unused = sorted(
        f"{path.relative_to(ROOT)}:{first} {name}"
        for path, name, first, own in defs
        if words[name] <= own
    )
    assert not unused, "definitions with no caller:\n" + "\n".join(unused)
