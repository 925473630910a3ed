"""No package module or script imports the repo-root bench.py.

bench.py is the top of the stack: it reads each query's role from the
registry (``registry.tagged``) like every other reader does. A script
that imported ``bench`` for a query list would bring back a second
source of truth for the headline set. This scan fails on any such
import under ``hpat_jl_spark/`` or ``scripts/``.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_imports(path: str) -> list[str]:
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            names = [node.module or ""]
        else:
            continue
        if any(n == "bench" or n.startswith("bench.") for n in names):
            found.append(f"{os.path.relpath(path, REPO)}:{node.lineno}")
    return found


def test_no_module_imports_bench():
    found = [
        use
        for top in ("hpat_jl_spark", "scripts")
        for root, _dirs, files in os.walk(os.path.join(REPO, top))
        for f in files
        if f.endswith(".py")
        for use in _bench_imports(os.path.join(root, f))
    ]
    assert not found
