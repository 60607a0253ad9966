"""The one owner of persisted intermediates (operators/dedup.py::Staging).

Pins live in a ``Staging`` block: a result takes them over with
``own``, the block releases everything else on exit — and everything
when an exception escapes it. The guard below keeps it the ONLY way the
dedup-family modules persist a frame or touch the ownership attribute.
"""

from __future__ import annotations

import ast
from pathlib import Path

from cql_xmlpipe_spark.operators import dedup as DD

PKG = Path(__file__).resolve().parents[1] / "cql_xmlpipe_spark"
#: modules whose every ``.persist(`` must go through ``Staging.pin``
PERSIST_GUARDED = {"operators/dedup.py", "plans/extensions.py", "dedup_cli.py"}


def _scoped(tree: ast.AST):
    """Yield (node, enclosing class names, enclosing function names)."""

    def walk(node, classes, funcs):
        for child in ast.iter_child_nodes(node):
            c, f = classes, funcs
            if isinstance(child, ast.ClassDef):
                c = classes + (child.name,)
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                f = funcs + (child.name,)
            yield child, c, f
            yield from walk(child, c, f)

    yield from walk(tree, (), ())


def test_pins_go_through_staging():
    offenders, pin_persists = [], 0
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for node, classes, funcs in _scoped(ast.parse(path.read_text())):
            in_staging = rel == "operators/dedup.py" and classes[-1:] == ("Staging",)
            if (
                isinstance(node, ast.Attribute) and node.attr == "_xmlpipe_cached"
            ) or (isinstance(node, ast.Constant) and node.value == "_xmlpipe_cached"):
                if not in_staging:
                    offenders.append(f"{rel}:{node.lineno}: _xmlpipe_cached")
            if (
                rel in PERSIST_GUARDED
                and isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "persist"
            ):
                if in_staging and funcs[-1:] == ("pin",):
                    pin_persists += 1
                else:
                    offenders.append(f"{rel}:{node.lineno}: .persist(")
    assert not offenders, offenders
    assert pin_persists == 1  # the guard sees the one sanctioned call


def test_staging_hands_pins_to_result(spark):
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    with DD.Staging() as st:
        kept = st.pin(spark.range(5))
        out = st.own(kept.select("id"))
    assert kept.is_cached  # handed to ``out``: survives the block
    with DD.Staging() as scratch:
        tmp = scratch.pin(spark.range(3))
    assert not tmp.is_cached  # never handed on: released at exit
    with DD.Staging() as outer:
        taken = outer.adopt(out)
        outer.own(taken)
    assert kept.is_cached  # adopt moved the pin; nothing released
    DD.unpersist_intermediates(out)
    assert not kept.is_cached and cache.isEmpty()
