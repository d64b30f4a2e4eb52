"""The registry keeps its declaration order.

``REGISTRY`` is the ``queries.py`` literal followed by the entries
``queries_pipeline.register`` adds, in source order.  Importing the
module reads no files and reorders nothing, so every importer (the bench,
the oracle checks, an external checker that samples a prefix) sees the
same sequence.  The registry's other structural checks live here too:
every entry has an oracle and every bench query is registered.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys

import hbase_tohdfs_spark
from hbase_tohdfs_spark.queries import REGISTRY

PKG = os.path.dirname(os.path.abspath(hbase_tohdfs_spark.__file__))
ROOT = os.path.dirname(PKG)


def _dict_keys(node: ast.Dict) -> list[str]:
    return [k.value for k in node.keys]


def _literal_keys() -> list[str]:
    with open(os.path.join(PKG, "queries.py"), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    for node in tree.body:
        if (
            isinstance(node, ast.AnnAssign)
            and isinstance(node.target, ast.Name)
            and node.target.id == "REGISTRY"
        ):
            return _dict_keys(node.value)
    raise AssertionError("REGISTRY literal not found in queries.py")


def _registered_keys() -> list[str]:
    with open(os.path.join(PKG, "queries_pipeline.py"), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    register = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "register"
    )
    keys: list[str] = []
    for node in ast.walk(register):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "update"
        ):
            keys += _dict_keys(node.args[0])
    return keys


def test_registry_is_in_declaration_order():
    expected = _literal_keys() + _registered_keys()
    assert len(expected) == len(set(expected)) == 100
    assert list(REGISTRY) == expected


def test_every_entry_has_an_oracle():
    missing = [n for n, spec in REGISTRY.items() if spec.oracle is None]
    assert missing == [], f"oracle=None entries get only rows-only checks: {missing}"


def test_bench_queries_exist():
    from bench import BENCH_QUERIES

    assert all(n in REGISTRY for n in BENCH_QUERIES)


def test_import_reads_no_correctness_history():
    probe = (
        "import sys\n"
        "opened = []\n"
        "def hook(event, args):\n"
        "    if event == 'open' and 'CORRECTNESS_r' in str(args[0]):\n"
        "        opened.append(str(args[0]))\n"
        "sys.addaudithook(hook)\n"
        "import hbase_tohdfs_spark.queries\n"
        "print(len(opened))\n"
    )
    env = dict(os.environ, PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "0", out.stdout
