"""One implementation per computation: no two engine functions (nested
ones included) may carry the same body.  A copied body is two places to
fix one bug -- a streaming twin that copies its batch query's finalize
can drift from the oracle both share without any test noticing."""

from __future__ import annotations

import ast
import pathlib
from collections import defaultdict

PKG = pathlib.Path(__file__).resolve().parents[1] / "kcl_akka_stream_spark"

#: Bodies below this many AST nodes are idiom (a two-line delegate, a
#: guard-and-return), not a computation worth sharing.
MIN_NODES = 40


def _bodies():
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                body = body[1:]  # the docstring is prose, not code
            module = ast.Module(body=body, type_ignores=[])
            size = sum(1 for _ in ast.walk(module)) - 1
            if size >= MIN_NODES:
                where = f"{path.relative_to(PKG.parent)}:{node.lineno} {node.name}"
                yield ast.dump(module), where


def test_no_two_engine_functions_share_a_body():
    seen = defaultdict(list)
    for dump, where in _bodies():
        seen[dump].append(where)
    assert [w for w in seen.values() if len(w) > 1] == []


def test_one_float_dot_product():
    # Every dot product, norm and cosine goes through
    # operators/similarity.py's ``dot``/``cosine`` Column fold; a SQL-string
    # copy of the fold is a second implementation that can drift from the
    # one the oracles pin.
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "aggregate(zip_with(" in "".join(node.value.split())
            ):
                sites.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert sites == []
