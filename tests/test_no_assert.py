"""Guards in the engine must survive ``python -O``, which strips every
``assert`` statement: a check raises a real exception or is not there."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "kcl_akka_stream_spark"


def test_engine_has_no_assert_statements():
    found = [
        f"{path.relative_to(PKG.parent)}:{node.lineno}"
        for path in sorted(PKG.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Assert)
    ]
    assert found == []
