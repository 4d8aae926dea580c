"""Library code reads environment variables only for deployment settings
(session sizing and placement), never to switch between code paths."""

from __future__ import annotations

import ast
import pathlib

import e2e_ocsf_cyber_lakehouse_blueprint_spark as pkg

DEPLOYMENT_SETTINGS = {
    # session.py: cores, master, scratch dirs, driver memory, extra conf
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_MASTER",
    "SPARK_LOCAL_DIRS_OVERRIDE",
    "SPARK_GRAFT_TMPFS",
    "SPARK_DRIVER_MEMORY",
    "SPARK_GRAFT_CONF",
    # timing.py: opt-in stderr probes, until phase metrics replace them
    "SPARK_GRAFT_TIMING",
}


def _is_environ(node: ast.AST) -> bool:
    """``os.environ`` or a bare ``environ`` imported from os."""
    if isinstance(node, ast.Attribute):
        return node.attr == "environ"
    return isinstance(node, ast.Name) and node.id == "environ"


def _env_reads(tree: ast.AST):
    """(lineno, name node) for every os.environ.get / os.environ[...] /
    os.getenv read in the tree."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if ((f.attr == "get" and _is_environ(f.value))
                    or (f.attr == "getenv" and isinstance(f.value, ast.Name)
                        and f.value.id == "os")):
                yield node.lineno, node.args[0] if node.args else None
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
            if node.func.id == "getenv":
                yield node.lineno, node.args[0] if node.args else None
        elif (isinstance(node, ast.Subscript) and isinstance(node.ctx, ast.Load)
              and _is_environ(node.value)):
            yield node.lineno, node.slice


def test_env_reads_are_deployment_settings():
    root = pathlib.Path(pkg.__file__).parent
    seen, bad = set(), []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for lineno, arg in _env_reads(tree):
            where = f"{path.relative_to(root)}:{lineno}"
            if not (isinstance(arg, ast.Constant) and isinstance(arg.value, str)):
                bad.append(f"{where}: name is not a string literal")
            elif arg.value not in DEPLOYMENT_SETTINGS:
                bad.append(f"{where}: {arg.value}")
            else:
                seen.add(arg.value)
    assert not bad, "env reads outside the deployment settings: " + "; ".join(bad)
    # every allowed name is still read: drop a setting here when its read goes
    assert seen == DEPLOYMENT_SETTINGS


def test_walker_finds_every_read_form():
    src = (
        "import os\nfrom os import environ, getenv\n"
        "a = os.environ.get('A')\nb = os.environ['B']\nc = os.getenv('C')\n"
        "d = environ.get('D')\ne = getenv('E')\nos.environ['F'] = '1'\n"
    )
    names = {arg.value for _, arg in _env_reads(ast.parse(src))}
    assert names == {"A", "B", "C", "D", "E"}
