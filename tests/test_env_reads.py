"""The package reads no environment variable beyond the three it is
started with: every other setting is a module constant, an argument or a
Spark conf.  A new ``os.environ`` knob fails here."""

from __future__ import annotations

import ast
import pathlib

import tsforge_spark

ALLOWED = {"SPARK_GRAFT_CPUS", "TSF_DRIVER_MEM", "PYTHONPATH"}


def _env_keys(tree: ast.AST, where: str):
    """The variable name of every environment access in ``tree``:
    ``environ[k]``, ``environ.get(k)`` (any method), ``k in environ``
    and ``getenv(k)``.  A key that is not a string literal, or a use of
    ``environ`` as a whole, yields a ``<non-literal …>`` marker."""
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    for node in ast.walk(tree):
        name = getattr(node, "attr", getattr(node, "id", None))
        if isinstance(node, ast.Call) and getattr(
            node.func, "attr", getattr(node.func, "id", None)
        ) == "getenv":
            key = node.args[0] if node.args else None
        elif name == "environ" and isinstance(node, (ast.Attribute, ast.Name)):
            up = parents.get(node)
            if isinstance(up, ast.Subscript) and up.value is node:
                key = up.slice
            elif isinstance(up, ast.Attribute) and isinstance(
                parents.get(up), ast.Call
            ):
                call = parents[up]
                key = call.args[0] if call.args else None
            elif isinstance(up, ast.Compare) and up.left is not node:
                key = up.left
            else:
                key = None
        else:
            continue
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            yield key.value
        else:
            yield f"<non-literal at {where}:{node.lineno}>"


def test_env_key_walker_sees_every_access_form():
    src = (
        "import os\nfrom os import environ, getenv\n"
        "os.environ['A']\nos.environ.get('B', '1')\n'C' in environ\n"
        "getenv('D')\nos.getenv('E')\nos.environ.get(name)\ndict(os.environ)\n"
    )
    got = list(_env_keys(ast.parse(src), "t.py"))
    assert sorted(k for k in got if "<" not in k) == list("ABCDE")
    assert sum("<non-literal" in k for k in got) == 2, got


def test_package_reads_only_known_env_vars():
    root = pathlib.Path(tsforge_spark.__file__).parent
    found = {
        key
        for path in sorted(root.rglob("*.py"))
        for key in _env_keys(ast.parse(path.read_text()), str(path.relative_to(root)))
    }
    assert found == ALLOWED, sorted(found - ALLOWED)
