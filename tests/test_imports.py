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


# -- definitions nothing reads ------------------------------------------------

ROOT = PACKAGE.parent
DEFINING = [*sorted(PACKAGE.rglob("*.py")), ROOT / "__spark_entry__.py"]
READING = [*DEFINING, ROOT / "bench.py",
           *(p for d in ("scripts", "tests", "perfbench")
             for p in sorted((ROOT / d).rglob("*.py")))]


def module_definitions(source: str) -> dict[str, int]:
    """Module-level functions, classes and assigned names (dunders such as
    ``__all__`` aside), each with its line."""
    found: dict[str, int] = {}
    for node in ast.parse(source).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            found[node.name] = node.lineno
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        found[n.id] = node.lineno
    return {k: v for k, v in found.items()
            if not (k.startswith("__") and k.endswith("__"))}


def names_read(source: str) -> set[str]:
    """Identifiers a module reads: loaded names and attribute names,
    f-string fields included. ``__all__`` strings and import lines are
    not reads."""
    read = set()
    for n in ast.walk(ast.parse(source)):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            read.add(n.id)
        elif isinstance(n, ast.Attribute):
            read.add(n.attr)
    return read


def unread_definitions(defining: dict[str, str],
                       reading: list[str]) -> list[str]:
    """``label: name (line n)`` for every module-level definition in the
    ``defining`` sources that no source in ``reading`` reads."""
    read = set().union(*map(names_read, reading))
    return sorted(f"{label}: {name} (line {line})"
                  for label, src in defining.items()
                  for name, line in module_definitions(src).items()
                  if name not in read)


def test_every_module_level_definition_is_read():
    defining = {str(p.relative_to(ROOT)): p.read_text() for p in DEFINING}
    assert unread_definitions(
        defining, [p.read_text() for p in READING]) == []


def test_check_catches_a_planted_unread_definition():
    defining = {"m.py": ("LIMIT = 3\n"
                         "_USED, _SPARE = 1, 2\n"
                         "__all__ = ['dead']\n"
                         "def used():\n"
                         "    return _USED\n"
                         "def dead():\n"
                         "    pass\n"
                         "class Gone:\n"
                         "    pass\n")}
    reader = ("import m\n"
              "from m import dead\n"
              "m.used()\n"
              "print(f'{m.LIMIT}')\n")
    assert unread_definitions(defining, [*defining.values(), reader]) == [
        "m.py: Gone (line 8)", "m.py: _SPARE (line 2)",
        "m.py: dead (line 6)"]
