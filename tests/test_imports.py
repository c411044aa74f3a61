"""Unused imports in the package, found with the stdlib ``ast`` (the repo
has no linter): every name a module imports must be read somewhere in that
module or be re-exported through its ``__all__``."""

from __future__ import annotations

import ast
import pathlib

import html_parser_spark

PACKAGE = pathlib.Path(html_parser_spark.__file__).parent


def unused_imports(source: str) -> list[str]:
    """Names bound by ``import`` / ``from ... import`` that the module never
    reads. A name read only inside a quoted annotation counts as read;
    ``from __future__`` imports and star imports are not names."""
    tree = ast.parse(source)
    bound: dict[str, int] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                bound[a.asname or a.name.split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                if a.name != "*":
                    bound[a.asname or a.name] = node.lineno
    read: set[str] = set()
    quoted = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            read.add(node.id)
        elif isinstance(node, (ast.arg, ast.AnnAssign)) and node.annotation:
            quoted.append(node.annotation)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) \
                and node.returns:
            quoted.append(node.returns)
        elif (isinstance(node, ast.Assign)
              and any(isinstance(t, ast.Name) and t.id == "__all__"
                      for t in node.targets)):
            read.update(ast.literal_eval(node.value))
    for ann in quoted:  # "FlatDOM" / "Optional[int]" as a string
        for c in ast.walk(ann):
            if isinstance(c, ast.Constant) and isinstance(c.value, str):
                read.update(n.id for n in ast.walk(ast.parse(c.value,
                                                             mode="eval"))
                            if isinstance(n, ast.Name))
    return sorted(f"{name} (line {line})" for name, line in bound.items()
                  if name not in read)


def test_package_has_no_unused_imports():
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        names = unused_imports(path.read_text())
        if names:
            found[str(path.relative_to(PACKAGE))] = names
    assert found == {}


def test_check_catches_a_planted_unused_import():
    src = ("from __future__ import annotations\n"
           "import os, re\n"
           "from typing import Any, Optional\n"
           "__all__ = ['Any']\n"
           "def f(x: 'Optional[int]'):\n"
           "    return re.sub('a', 'b', x)\n")
    assert unused_imports(src) == ["os (line 2)"]
