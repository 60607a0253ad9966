"""The one owner of persisted intermediates (operators/dedup.py::Staging).

Pins and checkpoint tables live in a ``Staging`` block: a result takes
them over with ``own``, the block releases everything else on exit —
and everything when an exception escapes it. The guard below keeps it
the ONLY way the dedup-family modules persist or checkpoint a frame or
touch the ownership attribute.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from cql_xmlpipe_spark.operators import dedup as DD

PKG = Path(__file__).resolve().parents[1] / "cql_xmlpipe_spark"
#: modules whose every ``.persist(`` must go through ``Staging.pin`` and
#: every ``.localCheckpoint(`` through ``Staging.checkpoint``
PERSIST_GUARDED = {
    "operators/dedup.py", "operators/kmeans.py", "plans/extensions.py", "dedup_cli.py",
}


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
    offenders, sanctioned = [], {"pin": 0, "checkpoint": 0}
    calls = {"persist": "pin", "localCheckpoint": "checkpoint"}
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
                and node.func.attr in calls
            ):
                method = calls[node.func.attr]
                if in_staging and funcs[-1:] == (method,):
                    sanctioned[method] += 1
                else:
                    offenders.append(f"{rel}:{node.lineno}: .{node.func.attr}(")
    assert not offenders, offenders
    # the guard sees the one sanctioned call of each
    assert sanctioned == {"pin": 1, "checkpoint": 1}


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


def _persisted(spark) -> set[int]:
    """Ids of the RDDs the context holds in storage (caches and
    checkpoints alike)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_checkpoint_tables_follow_ownership(spark):
    """A checkpoint table is owned like a pin: the one a round loop
    supersedes is released when the block exits, the last one rides
    the result until it is released."""
    before = _persisted(spark)
    with DD.Staging() as st:
        first = st.checkpoint(spark.range(4))
        last = st.checkpoint(first.select((first.id + 1).alias("id")), supersedes=first)
        out = st.own(last.select("id"))
    assert len(_persisted(spark) - before) == 1  # ``first`` is gone
    assert sorted(r.id for r in out.collect()) == [1, 2, 3, 4]
    DD.unpersist_intermediates(out, blocking=True)
    assert _persisted(spark) <= before


@pytest.mark.parametrize("name", ["dedup_minhash_groups", "semdedup_prune"])
def test_release_leaves_no_persisted_rdd(spark, sf_dir, name):
    """After ``unpersist_intermediates`` a query holds no storage: the
    connected-components and Lloyd round tables are checkpoints, not
    cache entries, and were left behind before ``Staging`` owned them.
    (Compared by id: earlier tests' unreleased frames may be cleaned up
    meanwhile, so the count alone can drop.)"""
    from cql_xmlpipe_spark.plans import QUERIES

    before = _persisted(spark)
    out = QUERIES[name](spark, sf_dir)
    assert out.count() > 0
    DD.unpersist_intermediates(out, blocking=True)
    assert _persisted(spark) <= before
