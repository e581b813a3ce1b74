"""Dead-code gate: every undecorated top-level function or class in the
package must be referenced somewhere in the repository.

A reference is any ``Name``, ``Attribute`` or import alias in any
``.py`` file of the checkout (package, tests, tools, bench).  Decorated
definitions are exempt: a decorator such as ``@register`` or
``@atexit.register`` is itself the reference that keeps them alive.
Pure ``ast`` scan, no Spark.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "streaming_forex_data_pipeline_spark"


def _py_files():
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [
            d for d in dirs if not d.startswith(".") and d != "__pycache__"
        ]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(root, f)


def _scan():
    """(defs, refs): undecorated top-level package defs as
    {name: "path:line"}, and every name referenced anywhere."""
    defs, refs = {}, set()
    for path in _py_files():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        rel = os.path.relpath(path, REPO)
        if rel.startswith(PACKAGE + os.sep):
            for node in tree.body:
                if (
                    isinstance(
                        node,
                        (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef),
                    )
                    and not node.decorator_list
                ):
                    defs[node.name] = f"{rel}:{node.lineno}"
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                refs.add(node.id)
            elif isinstance(node, ast.Attribute):
                refs.add(node.attr)
            elif isinstance(node, ast.alias):
                refs.add(node.name.rsplit(".", 1)[-1])
                if node.asname:
                    refs.add(node.asname)
    return defs, refs


def test_every_top_level_def_is_referenced():
    defs, refs = _scan()
    assert len(defs) > 100, "scan found too few package defs"
    dead = sorted(f"{loc} {name}" for name, loc in defs.items() if name not in refs)
    assert not dead, "unreferenced top-level defs (delete them):\n" + "\n".join(
        dead
    )
