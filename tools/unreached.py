"""List the package's top-level functions that no caller outside the
package and its tests reaches.

Usage: python tools/unreached.py

The roots are ``__spark_entry__.py``, ``bench.py``, ``perfbench/*.py``
and ``tools/*.py`` (this script excepted). A top-level ``def`` under ``dbscan_pyspark_spark/``
is reached when its name is referenced (as a name, an attribute or an
imported name) by a root or by a def already reached; module-level
statements of the package other than imports count as reached code too,
since they run on import. Prints ``file:line  lines  name`` for every
def left unreached, then the total.

This is a name-based heuristic, not a call graph: two defs with the
same name are reached together, a name read through a string
(``getattr``, ``import_module``) is not seen, and a def reached only by
an unreached one is unreached too. Treat its list as candidates for a
caller check, not as a proof.
"""

from __future__ import annotations

import ast
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "dbscan_pyspark_spark"
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(nodes) -> set[str]:
    """Every name a list of AST nodes references."""
    out = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rsplit(".", 1)[-1])
    return out


def _py_files(*parts) -> list[str]:
    top = os.path.join(ROOT, *parts)
    if top.endswith(".py"):
        return [top]
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs if f.endswith(".py")
    )


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def main() -> int:
    roots = ["__spark_entry__.py", "bench.py", "perfbench", "tools"]
    reached = set()
    for r in roots:
        for path in _py_files(r):
            if path != os.path.abspath(__file__):
                reached |= _names([_parse(path)])

    defs = []  # (relative path, node); classes only carry their bodies
    for path in _py_files(PACKAGE):
        mod = _parse(path)
        rel = os.path.relpath(path, ROOT)
        for node in mod.body:
            if isinstance(node, _DEFS):
                defs.append((rel, node))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                reached |= _names([node])

    todo = [d for d in defs if d[1].name in reached]
    done = set()
    while todo:
        rel, node = todo.pop()
        if (rel, node.name) in done:
            continue
        done.add((rel, node.name))
        new = _names([node]) - reached
        reached |= new
        todo += [d for d in defs if d[1].name in new]

    unreached = [
        (rel, node) for rel, node in defs
        if not isinstance(node, ast.ClassDef) and node.name not in reached
    ]
    n_lines = 0
    for rel, node in unreached:
        lines = node.end_lineno - node.lineno + 1
        n_lines += lines
        print(f"{rel}:{node.lineno}  {lines}  {node.name}")
    print(f"total: {len(unreached)} defs, {n_lines} lines")
    return 0


if __name__ == "__main__":
    sys.exit(main())
