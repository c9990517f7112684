"""Every ``:func:`` / ``:data:`` / ``:class:`` cross-reference in the
package's source names something that exists, so a docstring cannot
keep pointing at a function after it is deleted or renamed.

- A name qualified from the top (``venus_spark.x.y``) is imported.
- Another qualified name (``_core.side_by_side``) is resolved through
  the namespace of the module whose source holds the reference.
- An unqualified name must be defined somewhere in ``venus_spark/``: a
  function or class at any depth, or a module- or class-level
  assignment."""

from __future__ import annotations

import ast
import importlib
import pathlib
import re

import venus_spark

PKG = pathlib.Path(venus_spark.__file__).parent
REF = re.compile(r":(?:func|data|class):`~?([A-Za-z_][\w.]*)(?:\(\))?`")


def _module_name(path: pathlib.Path) -> str:
    parts = path.relative_to(PKG.parent).with_suffix("").parts
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _defined_names() -> set[str]:
    names: set[str] = set()
    for path in PKG.rglob("*.py"):
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names.add(node.name)
        scopes = [tree] + [n for n in ast.walk(tree) if isinstance(n, ast.ClassDef)]
        for scope in scopes:
            for node in scope.body:
                targets = (
                    node.targets if isinstance(node, ast.Assign)
                    else [node.target] if isinstance(node, ast.AnnAssign)
                    else []
                )
                names.update(t.id for t in targets if isinstance(t, ast.Name))
    return names


def _resolves_qualified(name: str, home: str) -> bool:
    parts = name.split(".")
    if parts[0] == "venus_spark":
        for cut in range(len(parts), 0, -1):
            try:
                obj = importlib.import_module(".".join(parts[:cut]))
            except ImportError:
                continue
            rest = parts[cut:]
            break
        else:
            return False
    else:
        obj, rest = importlib.import_module(home), parts
    for attr in rest:
        if not hasattr(obj, attr):
            return False
        obj = getattr(obj, attr)
    return True


def test_docstring_references_resolve():
    defined = _defined_names()
    dangling = []
    for path in sorted(PKG.rglob("*.py")):
        home = _module_name(path)
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            for name in REF.findall(line):
                ok = (
                    _resolves_qualified(name, home) if "." in name
                    else name in defined
                )
                if not ok:
                    dangling.append(f"{path.relative_to(PKG.parent)}:{lineno}: {name}")
    assert not dangling, "dangling docstring references:\n" + "\n".join(dangling)
