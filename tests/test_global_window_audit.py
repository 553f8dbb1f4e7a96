"""VERDICT r14 #4: the global-window audit must be COMPLETE (every
unpartitioned ``Window.orderBy`` site in the package classified by its
relation bound) and CURRENT (no stale rows), so the next data-sized
global sort cannot land silently (the r14 ``text_heaps_law`` failure
mode)."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "kcl_akka_stream_spark",
)


def _scan_source(src: str):
    """(enclosing-function, lineno) of every ``Window.orderBy(...)`` call
    whose receiver is the bare ``Window`` class -- i.e. a window spec
    with NO partitionBy.  ``Window.partitionBy(...).orderBy(...)`` has an
    Attribute receiver and never matches.  AST, not regex: multi-line
    and aliased-argument calls count."""
    tree = ast.parse(src)
    spans = []

    def walk_fn(node, stack):
        for child in ast.iter_child_nodes(node):
            if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                spans.append(
                    (child.lineno, child.end_lineno, ".".join(stack + [child.name]))
                )
                walk_fn(child, stack + [child.name])
            else:
                walk_fn(child, stack)

    walk_fn(tree, [])
    out = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "orderBy"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "Window"
        ):
            enclosing = [
                fn
                for (a, b, fn) in spans
                if a <= node.lineno <= (b or 10**9)
            ]
            # innermost enclosing function = the longest dotted name
            out.append(
                (enclosing[-1] if enclosing else "<module>", node.lineno)
            )
    return out


def _scan_package():
    found: dict[tuple[str, str], int] = {}
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG)
            with open(path) as fh:
                for func, _line in _scan_source(fh.read()):
                    key = (rel, func.split(".")[-1])
                    found[key] = found.get(key, 0) + 1
    return found


def test_audit_table_matches_sites_exactly():
    from kcl_akka_stream_spark.plans.hygiene import GLOBAL_WINDOW_AUDIT

    actual = _scan_package()
    declared = {k: n for k, (n, _note) in GLOBAL_WINDOW_AUDIT.items()}
    missing = {k: v for k, v in actual.items() if k not in declared}
    stale = {k: v for k, v in declared.items() if k not in actual}
    assert not missing, (
        "unclassified Window.orderBy (no partitionBy) sites -- add a "
        f"GLOBAL_WINDOW_AUDIT row stating the relation bound: {missing}"
    )
    assert not stale, f"stale GLOBAL_WINDOW_AUDIT rows: {stale}"
    wrong = {
        k: (declared[k], actual[k])
        for k in actual
        if declared[k] != actual[k]
    }
    assert not wrong, f"site-count drift (declared, actual): {wrong}"


def test_every_row_carries_a_bound_note():
    from kcl_akka_stream_spark.plans.hygiene import GLOBAL_WINDOW_AUDIT

    for key, (n, note) in GLOBAL_WINDOW_AUDIT.items():
        assert isinstance(n, int) and n >= 1, key
        # a real classification, not a waiver: names a bound class
        assert len(note) >= 30, key
        assert any(
            w in note
            for w in ("bounded", "literal", "k-row", "10-row")
        ), key


def test_scanner_catches_engineered_global_window():
    # engineered red: a data-sized global window planted in synthetic
    # source MUST be found by the exact scanner the audit uses...
    planted = (
        "def sneaky(df):\n"
        "    from pyspark.sql import Window\n"
        "    w = Window.orderBy(\n"
        "        'doc_id')\n"
        "    return df.select(F.row_number().over(w))\n"
    )
    assert _scan_source(planted) == [("sneaky", 3)]
    # ...while a partitioned window never trips it
    fine = (
        "def fine(df):\n"
        "    w = Window.partitionBy('k').orderBy('doc_id')\n"
        "    return df.select(F.row_number().over(w))\n"
    )
    assert _scan_source(fine) == []
