"""Every streaming query the package starts names its checkpoint.

A stream either keeps a persistent checkpoint (an explicit
``checkpointLocation`` option, checkpointed through Spark's default
manager, which may sit on HDFS or an object store) or is a bounded
replay over a fresh temporary checkpoint, which starts through
``plans/streaming._start_bounded``: the FileSystem-based checkpoint
manager and the narrowed state width are set there and nowhere else.
This scan fails on any other ``.start()`` call in the package source,
so a new replay cannot bypass the helper unseen.
"""

from __future__ import annotations

import ast
import os

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "hpat_jl_spark"
)
HELPER = "_start_bounded"


def _chain_sets_checkpoint(node: ast.AST) -> bool:
    """Whether a method chain ending at ``node`` calls
    ``.option("checkpointLocation", ...)``."""
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Call):
            func = node.func
            if (
                isinstance(func, ast.Attribute)
                and func.attr == "option"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value == "checkpointLocation"
            ):
                return True
            node = func
        else:
            node = node.value
    return False


def _unchecked_starts(path: str) -> list[str]:
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    inside_helper = {
        id(node)
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef) and fn.name == HELPER
        for node in ast.walk(fn)
    }
    return [
        f"{os.path.relpath(path, PACKAGE)}:{node.lineno}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "start"
        and id(node) not in inside_helper
        and not _chain_sets_checkpoint(node.func.value)
    ]


def test_every_stream_start_names_its_checkpoint():
    found = [
        start
        for root, _dirs, files in os.walk(PACKAGE)
        for f in files
        if f.endswith(".py")
        for start in _unchecked_starts(os.path.join(root, f))
    ]
    assert not found

