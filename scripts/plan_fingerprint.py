"""Fingerprint the logical plan and Spark job count of registered queries.

Usage: python scripts/plan_fingerprint.py SF_DIR NAME [NAME ...] [--dump DIR]

For each query NAME (a key of ``cql_xmlpipe_spark.plans.QUERIES``) it
builds the query over SF_DIR, then prints one line:

    NAME  <sha256 prefix>  jobs=<build>/<total>  py4j=<n>  compiles=<first>/<warm>

The rendering is the optimized logical tree, one ``simpleString`` per
node, descending into each ``InMemoryRelation``'s cached input plan (the
physical plan AQE started from, not the one it settled on), with
expression ids (``#123``) and ``plan_id`` tags stripped. The raw plan
string is not stable between two runs of the same code: AQE runtime
choices inside cached frames, codegen and stage numbers vary. So are the
counters that name lambda variables (``x_21``: they depend on how many
lambdas the process built before) and the object hashes of folded array
literals (``UnsafeArrayData@582dcbb3``); both are stripped too. What is
left is stable, so equal hashes at two commits mean the same logical work.

``jobs`` counts the Spark jobs the call started: while the query is built
(eager guards, collects, model fits) and in total after one ``collect()``.
``py4j`` counts the commands the Python driver sent to the JVM while the
query was built: each Column-API call is one or more round trips, so this
is the plan-build cost that the timings of a small query mostly show.
``compiles`` counts the classes Spark's code generator compiled during
that call and during a second, warm call of the same query (built and
collected again). The warm count is 0 when the session's codegen cache
holds the query's working set. Summed over the names of one run, the
first counts give the distinct classes that query set needs, the figure
the codegen cache size in ``session.py`` is chosen from.
``--dump DIR`` also writes each rendering to ``DIR/NAME.txt`` for diffing.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import re
import sys
import threading
from contextlib import contextmanager
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

_IN_MEMORY = "org.apache.spark.sql.execution.columnar.InMemoryRelation"
_ADAPTIVE = "org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec"


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def render(node, depth: int = 0) -> list[str]:
    """Indented ``simpleString`` lines of a plan tree (logical or
    physical), descending into cached relations' input plans."""
    lines = ["  " * depth + node.simpleString(1000)]
    cls = node.getClass().getName()
    if cls == _IN_MEMORY:
        cached = node.cacheBuilder().cachedPlan()
        if cached.getClass().getName() == _ADAPTIVE:
            cached = cached.inputPlan()
        lines += render(cached, depth + 1)
    for child in _seq(node.children()):
        lines += render(child, depth + 1)
    return lines


def normalize(text: str) -> str:
    text = re.sub(r"#\d+L?", "", text)
    text = re.sub(r",?\s*plan_id=\d+", "", text)
    text = re.sub(r"(lambda [A-Za-z]\w*?)_\d+\b", r"\1", text)
    return re.sub(r"@[0-9a-f]+\b", "", text)


def _last_job(sc) -> int:
    return max(sc.statusTracker().getJobIdsForGroup(None) or [-1])


def _compiles(sc) -> int:
    """Classes Spark's code generator has compiled in this JVM so far."""
    metrics = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@contextmanager
def py4j_commands(sc):
    """Count the py4j commands this thread sends while the block runs
    (other threads, e.g. a streaming query's callbacks, share the client);
    yields a one-item list holding the running count."""
    client = sc._gateway._gateway_client
    send, sent, me = client.send_command, [0], threading.get_ident()

    def counting(*args, **kwargs):
        if threading.get_ident() == me:
            sent[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        yield sent
    finally:
        client.send_command = send


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("names", nargs="+")
    ap.add_argument("--dump", help="write each rendering to DIR/NAME.txt")
    args = ap.parse_args(argv)

    from cql_xmlpipe_spark.operators.dedup import unpersist_intermediates
    from cql_xmlpipe_spark.plans import QUERIES
    from cql_xmlpipe_spark.session import get_spark

    spark = get_spark("plan-fingerprint")
    sc = spark.sparkContext
    if args.dump:
        Path(args.dump).mkdir(parents=True, exist_ok=True)
    for name in args.names:
        spark.catalog.clearCache()
        start, cold = _last_job(sc), _compiles(sc)
        gc.collect()  # a freed JVM reference is a command too; free the last query's first
        with py4j_commands(sc) as sent:
            df = QUERIES[name](spark, args.sf_dir)
        built = _last_job(sc)
        text = normalize(
            "\n".join(render(df._jdf.queryExecution().optimizedPlan()))
        )
        df.collect()
        total = _last_job(sc)
        unpersist_intermediates(df)
        digest = hashlib.sha256(text.encode()).hexdigest()[:16]
        spark.catalog.clearCache()
        warm = _compiles(sc)
        df = QUERIES[name](spark, args.sf_dir)
        df.collect()
        unpersist_intermediates(df)
        print(
            f"{name}  {digest}  jobs={built - start}/{total - start}  py4j={sent[0]}"
            f"  compiles={warm - cold}/{_compiles(sc) - warm}",
            flush=True,
        )
        if args.dump:
            (Path(args.dump) / f"{name}.txt").write_text(text + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
