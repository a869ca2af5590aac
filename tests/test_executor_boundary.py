"""Guards on the executor boundary, over the AST of every ``tsrollup/*.py``
module and ``__spark_entry__.py``.

Arrow is the one batch format between Spark and the package's Python
workers: any reference to a pandas executor API (``mapInPandas``,
``pandas_udf``, ``applyInPandas``, ``applyInPandasWithState``) fails.

``tsrollup.io.pin`` is the one place a frame is materialized for reuse: any
other call of ``localCheckpoint`` or ``checkpoint`` fails.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PANDAS_APIS = {"mapInPandas", "pandas_udf", "applyInPandas",
               "applyInPandasWithState"}
PIN_APIS = {"localCheckpoint", "checkpoint"}


def _sources() -> list[Path]:
    return sorted(ROOT.glob("tsrollup/*.py")) + [ROOT / "__spark_entry__.py"]


def _refs(tree: ast.AST) -> list[tuple[str, int]]:
    """(name, line) of every Name, Attribute and imported alias in ``tree``
    — a call, a decorator or an import of an API all count. The line is the
    one holding the name itself (the end of a dotted chain)."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            out.append((node.attr, node.end_lineno))
        elif isinstance(node, ast.alias):
            out.append((node.name.rsplit(".", 1)[-1], node.lineno))
    return out


def test_guard_sees_every_form():
    src = ("from pyspark.sql.functions import pandas_udf\n"
           "@F.pandas_udf('long')\ndef f(s): return s\n"
           "df.mapInPandas(f, 's long')\n"
           "df.groupBy('k').applyInPandas(f, 's long')\n"
           "df.groupBy('k').applyInPandasWithState(f, 's long', 'b long',"
           " 'append', 'NoTimeout')\n")
    assert sorted({n for n, _ in _refs(ast.parse(src))} & PANDAS_APIS) \
        == sorted(PANDAS_APIS)


def test_no_pandas_executor_api():
    bad = [f"{p.relative_to(ROOT)}:{line} {name}"
           for p in _sources()
           for name, line in _refs(ast.parse(p.read_text()))
           if name in PANDAS_APIS]
    assert not bad, bad


def _pin_calls(tree: ast.AST, skip: ast.AST | None = None) -> list[int]:
    """Lines of every call of a method named in ``PIN_APIS`` in ``tree``,
    outside the subtree ``skip``. Calls, not names: ``tsrollup.checkpoint``
    is also a module."""
    inside = {id(n) for n in ast.walk(skip)} if skip is not None else set()
    return [n.lineno for n in ast.walk(tree)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and n.func.attr in PIN_APIS and id(n) not in inside]


def test_only_io_pin_materializes():
    assert _pin_calls(ast.parse(
        "from tsrollup import checkpoint\ncheckpoint.refresh(x)\n"
        "df.localCheckpoint(eager=False)\ndf.checkpoint()\n")) == [3, 4]
    bad = []
    for p in _sources():
        tree = ast.parse(p.read_text())
        pin = None
        if p.name == "io.py":
            pin = next((n for n in tree.body if isinstance(n, ast.FunctionDef)
                        and n.name == "pin"), None)
        bad += [f"{p.relative_to(ROOT)}:{line}"
                for line in _pin_calls(tree, pin)]
    assert not bad, bad
