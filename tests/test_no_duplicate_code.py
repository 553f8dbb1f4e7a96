"""One implementation per computation: no two engine functions (nested
ones included) may carry the same body, and no two places in engine
functions or classes may carry the same run of statements.  A copied body
or block is two places to fix one bug -- a streaming twin that copies its
batch query's finalize can drift from the oracle both share without any
test noticing."""

from __future__ import annotations

import ast
import pathlib
from collections import defaultdict

PKG = pathlib.Path(__file__).resolve().parents[1] / "kcl_akka_stream_spark"

#: Bodies and statement runs below this many AST nodes are idiom (a
#: two-line delegate, a guard-and-return), not a computation worth sharing.
MIN_NODES = 40

_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _size(node: ast.AST) -> int:
    return sum(1 for _ in ast.walk(node))


def _code(body: list[ast.stmt]) -> list[ast.stmt]:
    if (
        body
        and isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Constant)
        and isinstance(body[0].value.value, str)
    ):
        return body[1:]  # the docstring is prose, not code
    return body


def _bodies():
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            module = ast.Module(body=_code(node.body), type_ignores=[])
            if _size(module) - 1 >= MIN_NODES:
                where = f"{path.relative_to(PKG.parent)}:{node.lineno} {node.name}"
                yield ast.dump(module), where


def test_no_two_engine_functions_share_a_body():
    seen = defaultdict(list)
    for dump, where in _bodies():
        seen[dump].append(where)
    assert [w for w in seen.values() if len(w) > 1] == []


def statement_runs(source: str, filename: str = "<source>"):
    """``(key, line)`` for every statement list inside a function or class
    body of ``source`` and every start index in it: the shortest run of
    consecutive statements from there whose AST node count reaches
    ``MIN_NODES``, keyed by the ``ast.dump`` of its statements (names
    kept, positions not dumped)."""
    tree = ast.parse(source, filename)
    done = set()
    for scope in ast.walk(tree):
        if not isinstance(scope, _SCOPES):
            continue
        for node in ast.walk(scope):
            for field, stmts in ast.iter_fields(node):
                if not (
                    isinstance(stmts, list)
                    and stmts
                    and isinstance(stmts[0], ast.stmt)
                    and id(stmts) not in done
                ):
                    continue
                done.add(id(stmts))
                if isinstance(node, _SCOPES) and field == "body":
                    stmts = _code(stmts)
                sizes = [_size(s) for s in stmts]
                for i in range(len(stmts)):
                    total = 0
                    for j in range(i, len(stmts)):
                        total += sizes[j]
                        if total >= MIN_NODES:
                            run = ast.Module(body=stmts[i : j + 1], type_ignores=[])
                            yield ast.dump(run), stmts[i].lineno
                            break


def _shared_runs(sources: dict[str, str]) -> list[list[str]]:
    seen = defaultdict(list)
    for name, source in sources.items():
        for key, line in statement_runs(source, name):
            seen[key].append(f"{name}:{line}")
    return [w for w in seen.values() if len(w) > 1]


def test_no_two_engine_places_share_a_statement_run():
    sources = {
        str(path.relative_to(PKG.parent)): path.read_text()
        for path in sorted(PKG.rglob("*.py"))
    }
    assert _shared_runs(sources) == []


def _twins(n_consts: int) -> str:
    # Each twin ends in the same two statements: ``v`` is 5 + n_consts
    # nodes and ``w = v`` is 5, so the shared run is 10 + n_consts nodes.
    shared = f"    v = ({'1, ' * n_consts})\n    w = v\n"
    return f"def f():\n    x = 0\n{shared}\n\ndef g():\n    y = 1\n{shared}"


def test_statement_run_check_flags_a_shared_40_node_run():
    assert _shared_runs({"twins.py": _twins(30)}) == [["twins.py:3", "twins.py:9"]]


def test_statement_run_check_passes_a_shared_39_node_run():
    assert _shared_runs({"twins.py": _twins(29)}) == []


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
