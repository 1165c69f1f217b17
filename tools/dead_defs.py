"""List package definitions that no non-test code references.

Usage:

    python tools/dead_defs.py [repo_root]

Scans every top-level function, class and class method defined under
``nettopologysuite_spark/`` and looks for a reference to its name in the
repository's Python files: a bare name, an attribute, an imported name or
a string constant equal to it (registries and ``getattr`` look names up by
string). A reference inside the definition's own body (recursion) does not
count. Each unreferenced definition prints as

    DEAD      path:line  qualname    no reference anywhere
    TESTONLY  path:line  qualname    referenced only under tests/

followed by the two counts. Names are matched without types, so a method
sharing its name with any other referenced attribute reads as used: the
list is a lower bound, and a report, not a gate (the exit status is 0).
Dunder methods are skipped; Python calls them implicitly.
"""

from __future__ import annotations

import ast
import sys
from collections import defaultdict
from pathlib import Path

PACKAGE = "nettopologysuite_spark"
SKIP_DIRS = {".git", "spark-warehouse", "__pycache__"}


def _py_files(root: Path) -> list[Path]:
    return sorted(
        p for p in root.rglob("*.py")
        if not SKIP_DIRS.intersection(p.relative_to(root).parts)
    )


def _definitions(tree: ast.Module):
    """(node, qualname) for top-level functions/classes and their methods."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node, node.name
        if isinstance(node, ast.ClassDef):
            for item in node.body:
                if (isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef))
                        and not (item.name.startswith("__") and item.name.endswith("__"))):
                    yield item, f"{node.name}.{item.name}"


def _references(tree: ast.Module):
    """(name, enclosing definition nodes) for every name-like reference."""
    out = []

    def visit(node, enclosing):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            enclosing = enclosing + (node,)
        if isinstance(node, ast.Name):
            out.append((node.id, enclosing))
        elif isinstance(node, ast.Attribute):
            out.append((node.attr, enclosing))
        elif isinstance(node, ast.alias):
            out.append((node.name.rsplit(".", 1)[-1], enclosing))
        elif isinstance(node, ast.Constant) and isinstance(node.value, str) \
                and node.value.isidentifier():
            out.append((node.value, enclosing))
        for child in ast.iter_child_nodes(node):
            visit(child, enclosing)

    visit(tree, ())
    return out


def scan(root: Path) -> list[tuple[str, str, int, str]]:
    """(kind, path, line, qualname) per unreferenced package definition."""
    defs = []                    # (path, node, qualname)
    refs = defaultdict(list)     # name -> [(in_tests, enclosing nodes)]
    for path in _py_files(root):
        rel = path.relative_to(root)
        tree = ast.parse(path.read_text(), filename=str(rel))
        if rel.parts[0] == PACKAGE:
            defs.extend((rel, node, qual) for node, qual in _definitions(tree))
        in_tests = rel.parts[0] == "tests"
        for name, enclosing in _references(tree):
            refs[name].append((in_tests, enclosing))
    found = []
    for rel, node, qual in defs:
        users = [t for t, enclosing in refs[node.name] if node not in enclosing]
        if not users:
            found.append(("DEAD", str(rel), node.lineno, qual))
        elif all(users):
            found.append(("TESTONLY", str(rel), node.lineno, qual))
    return found


def main(argv: list[str]) -> int:
    root = Path(argv[1]) if len(argv) > 1 else Path(__file__).resolve().parent.parent
    found = scan(root)
    for kind, path, line, qual in found:
        print(f"{kind:<9} {path}:{line}  {qual}")
    dead = sum(kind == "DEAD" for kind, *_ in found)
    print(f"{dead} DEAD, {len(found) - dead} TESTONLY")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
