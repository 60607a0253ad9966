"""Workloads: the calls each one replays, and how each call is built,
executed and checked.  Every call goes through the engine's public API
only (``plans.QUERIES``, ``spark.sql`` over ``register_views``, and the
``operators.xmlpipe`` assembly and sinks)."""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from check import DocsetSink, docs_digest, norm_rows, rows_digest, scale_output

TPCH = [
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
    "q5_local_supplier_volume", "q7_volume_shipping", "q8_market_share",
    "q9_product_profit", "q17_small_quantity_revenue", "q21_late_suppliers",
]
#: text rosters (collapse -> LSH -> verify -> connected components) and
#: embedding k-means pruning; ``dedup_embedding_groups`` (~7 s a call on a
#: 4-core host) and ``dedup_incremental_rosters`` (~20 s) are left out so a
#: run keeps two timed passes inside the benchmark's time budget
DEDUP = ["dedup_minhash_groups", "semdedup_prune"]

LINEITEM_SQL = "SELECT * FROM lineitem"
LINEITEM_KEYS = ["l_orderkey", "l_linenumber"]
ORDERS_SQL = (
    "SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice, o_orderdate FROM orders"
)
ORDERS_KEYS = ["o_orderkey"]


@dataclass
class Outcome:
    """What one execution of a call delivered."""

    rows: int = 0
    first_s: float | None = None  # call start -> first result row at the caller
    sink_write_s: float = 0.0
    output_bytes: int = 0
    problems: list[str] = field(default_factory=list)


class QueryCall:
    """``QUERIES[name](spark, data_dir)``, consumed with ``collect()``."""

    kind = "query"

    def __init__(self, name: str):
        self.name = self.oracle = name
        self.expect: str | None = None
        self.oracle_rows: list[str] = []

    def set_oracle(self, cols, rows) -> None:
        self.oracle_rows = norm_rows(cols, rows)
        self.expect = rows_digest(cols, rows)

    def build(self, ctx):
        return ctx.queries[self.name](ctx.spark, ctx.data_dir)

    def execute(self, ctx, df, t_call: float) -> tuple[Outcome, object]:
        rows = df.collect()
        return Outcome(rows=len(rows), first_s=time.perf_counter() - t_call), rows

    def check(self, ctx, df, out: Outcome, rows, verify: bool) -> None:
        if verify:
            got = norm_rows(df.columns, rows)
            if got != self.oracle_rows:
                only_s = sorted(set(got) - set(self.oracle_rows))[:1]
                only_o = sorted(set(self.oracle_rows) - set(got))[:1]
                out.problems.append(
                    f"rows differ from oracle: {len(got)} vs {len(self.oracle_rows)}; "
                    f"first spark-only {only_s!r}, oracle-only {only_o!r}"
                )
        elif rows_digest(df.columns, rows) != self.expect:
            out.problems.append("result digest differs from the verified digest")


class StreamCall:
    """``cli.main``'s path: ``spark.sql`` -> ``xml_documents`` ->
    ``write_docset_stream`` into a counting sink."""

    kind = "stream"

    def __init__(self, name: str, sql: str, keys: list[str], oracle: str):
        self.name, self.sql, self.keys, self.oracle = name, sql, keys, oracle
        self.expect: tuple[int, int] | None = None

    def set_oracle(self, cols, rows) -> None:
        xml = cols.index("xml")
        self.expect = docs_digest(r[xml] for r in rows)

    def build(self, ctx):
        return ctx.xml_documents(ctx.spark.sql(self.sql), self.keys)

    def execute(self, ctx, docs, t_call: float) -> tuple[Outcome, object]:
        sink = DocsetSink()
        n = ctx.write_docset_stream(docs, sink)
        first = None if sink.first_doc_at is None else sink.first_doc_at - t_call
        out = Outcome(rows=n, first_s=first, sink_write_s=sink.write_s, output_bytes=sink.bytes)
        return out, sink

    def check(self, ctx, docs, out: Outcome, sink, verify: bool) -> None:
        out.problems += sink.problems(self.expect)
        if out.rows != sink.n:
            out.problems.append(f"write_docset_stream returned {out.rows}, sink saw {sink.n}")


class ScaleCall(StreamCall):
    """The same documents through ``write_docset_scale``; the files are
    read back and checked after the timed interval."""

    kind = "scale"

    def execute(self, ctx, docs, t_call: float) -> tuple[Outcome, object]:
        out_dir = os.path.join(ctx.work_dir, f"scale-{self.name}")
        ctx.write_docset_scale(docs, out_dir)
        return Outcome(), out_dir

    def check(self, ctx, docs, out: Outcome, out_dir, verify: bool) -> None:
        problems, got, size = scale_output(out_dir)
        out.rows, out.output_bytes = got[0], size
        out.problems += problems
        if got != self.expect:
            out.problems.append(f"scale docs (count, digest) {got} != oracle {self.expect}")
        shutil.rmtree(out_dir, ignore_errors=True)


def workload_calls(name: str) -> tuple[list, list[str]]:
    """(calls, tables the calls read) for one workload."""
    if name == "xmlpipe_export":
        return [
            StreamCall("stream_lineitem", LINEITEM_SQL, LINEITEM_KEYS, "xmlpipe_lineitem_export"),
            StreamCall("stream_orders", ORDERS_SQL, ORDERS_KEYS, "xmlpipe_orders_export"),
            ScaleCall("scale_lineitem", LINEITEM_SQL, LINEITEM_KEYS, "xmlpipe_lineitem_export"),
        ], ["lineitem", "orders"]
    if name == "tpch_sql":
        return [QueryCall(q) for q in TPCH], [
            "lineitem", "orders", "customer", "supplier", "part", "nation", "region",
        ]
    if name == "dedup_rosters":
        return [QueryCall(q) for q in DEDUP], ["documents", "embeddings"]
    raise KeyError(name)


WORKLOADS = ["xmlpipe_export", "tpch_sql", "dedup_rosters"]
#: untimed passes before timing, the first of them verified row for row
#: against the oracles; each workload's count is how many passes its call
#: times take to stop falling in a fresh JVM on a 4-core host
WARMUP_PASSES = {"xmlpipe_export": 3, "tpch_sql": 2, "dedup_rosters": 2}
