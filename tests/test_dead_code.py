"""Dead-code guard: every top-level, undecorated function or class in
``piper_spark/`` must be referenced somewhere outside its own
definition, in some Python file of the repository.

Decorated definitions are exempt: ``@register`` keys are reached
through the registry, and other decorators also make a name reachable
without a textual reference. A name used only inside its own body
(recursion, its docstring) still counts as unreferenced.
"""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _python_files() -> list[str]:
    out = []
    for root, dirs, files in os.walk(ROOT):
        dirs[:] = [
            d for d in dirs
            if not d.startswith(".") and d not in ("__pycache__", "spark-warehouse")
        ]
        out.extend(os.path.join(root, f) for f in files if f.endswith(".py"))
    return out


def test_no_unreferenced_top_level_definitions():
    sources = {}
    for path in _python_files():
        with open(path, encoding="utf-8") as fh:
            sources[path] = fh.read()
    total = Counter()
    for text in sources.values():
        total.update(_IDENT.findall(text))

    pkg = os.path.join(ROOT, "piper_spark") + os.sep
    dead = []
    for path, text in sources.items():
        if not path.startswith(pkg):
            continue
        lines = text.splitlines()
        for node in ast.parse(text).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.decorator_list:
                continue
            own = "\n".join(lines[node.lineno - 1 : node.end_lineno])
            if total[node.name] - _IDENT.findall(own).count(node.name) == 0:
                dead.append(f"{os.path.relpath(path, ROOT)}:{node.lineno} {node.name}")
    assert not dead, "unreferenced definitions:\n" + "\n".join(dead)
