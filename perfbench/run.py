#!/usr/bin/env python3
"""Benchmark of the cql_xmlpipe_spark engine, run from the repository root:

    python3 perfbench/run.py --workload xmlpipe_export --seed 1 --seconds 10 --trace 0

One run = one workload in one driver process (``local[N]``, N <= nproc),
as a closed loop: one caller, each call starts when the previous returned.

1. Make the input tables from ``--seed`` under ``.perfbench/`` (datagen.py).
2. Set up the engine three times (cold start, then two session restarts):
   ``session.get_spark`` -> ``sources.registry.register_views`` -> a count
   of each table the workload reads.
3. Warm-up passes (``WARMUP_PASSES``), untimed; in the first, every
   result is checked row for row against its DuckDB ``ORACLE`` entry.
4. Timed passes, in a seed-shuffled call order per pass, until
   ``--seconds`` have passed; every timed result is checked against the
   verified digest.  With ``--trace 1`` untraced and traced passes
   alternate, and per-layer counters are read around each call.

The report goes to stdout; its last line is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``.  README.md defines every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
if BENCH_DIR not in sys.path:
    sys.path.insert(0, BENCH_DIR)

import datagen  # noqa: E402
from check import Oracle  # noqa: E402
from probe import MB, Engine, RssSampler, Tracer, catalyst_ms, cpu_ticks  # noqa: E402
from workloads import WARMUP_PASSES, WORKLOADS, workload_calls  # noqa: E402

END_TO_END = {"setup_s": "s", "pass_s": "s", "first_result_s": "s"}
#: per-layer metrics every workload reports (0 where the layer is off its path)
PER_LAYER = {
    "session.start_s": "s", "sources.register_s": "s", "setup.warmup_s": "s",
    "sources.scan_s": "s", "sources.scan_tasks": "count",
    "plans.build_s": "s", "plans.catalyst_ms": "ms", "plans.exec_s": "s",
    "spark.build_jobs": "count", "spark.exec_jobs": "count", "spark.stages": "count",
    "spark.skipped_stages": "count", "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.core_util": "ratio", "spark.failed_tasks": "count",
    "operators.pinned_after_call": "count", "operators.pinned_mb_after_call": "MB",
    "xmlpipe.stream_jobs": "count", "xmlpipe.scale_tasks": "count", "xmlpipe.output_mb": "MB",
    "proc.peak_rss_mb": "MB", "trace.pass_s": "s", "trace.overhead_s": "s",
}
#: reported and written to the trace file, but only meaningful on some workloads
DETAIL = {
    "functions.doc_id_s": "s", "xmlpipe.assemble_s": "s", "xmlpipe.stream_drain_s": "s",
    "xmlpipe.sink_wait_s": "s", "xmlpipe.scale_write_s": "s",
    "stream_docs_per_s": "1/s", "scale_docs_per_s": "1/s", "first_doc_s": "s",
    "peak_rss_mb": "MB", "failed_ratio": "ratio",
}
SETUP_CYCLES = 3
DEADLINE_S = 150.0  # start no pass that could end after this


def pin_env(root: str, work: str) -> dict[str, str]:
    """Engine knobs for this host, set before the JVM starts."""
    nproc = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        # half the cores: the JVM's own threads, the Python driver and the
        # Python workers run beside the task threads and need the rest
        "SPARK_GRAFT_CPUS": str(max(1, min(4, nproc) // 2)),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(2, int(ram_gb // 4)))}g",
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_SUBMIT_OPTS": f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    return {"nproc": str(nproc), "ram_gb": f"{ram_gb:.1f}", **{
        k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}}


class Ctx:
    """What a call needs: the session, the data and the engine's API."""

    def __init__(self, data_dir: str, work_dir: str):
        from cql_xmlpipe_spark.operators import xmlpipe
        from cql_xmlpipe_spark.plans import QUERIES

        self.spark = None
        self.data_dir, self.work_dir = data_dir, work_dir
        self.queries = QUERIES
        self.xml_documents = xmlpipe.xml_documents
        self.write_docset_stream = xmlpipe.write_docset_stream
        self.write_docset_scale = xmlpipe.write_docset_scale


def _median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def _mean(values) -> float:
    return float(statistics.fmean(values)) if values else 0.0


class Bench:
    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.t_start = time.perf_counter()
        self.ctx: Ctx | None = None
        self.env: dict[str, str] = {}
        self.work = os.path.join(root, ".perfbench")
        self.data_dir = os.path.join(self.work, f"data-{args.seed}")
        self.calls, self.tables = workload_calls(args.workload)
        self.warmup_passes = WARMUP_PASSES[args.workload]
        self.rng = random.Random(args.seed)
        self.tracer = Tracer()
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}
        self.passes: list[dict] = []  # one record per timed pass
        self.steal_share = 0.0

    # -- set-up -----------------------------------------------------------
    def make_data(self) -> dict[str, int]:
        shutil.rmtree(self.data_dir, ignore_errors=True)
        tables = datagen.make_tables(self.args.seed, self.args.scale)
        datagen.write_tables(tables, self.data_dir)
        self.bands = os.path.join(self.data_dir, "minhash_bands.parquet")
        datagen.write_band_keys(tables["documents"].column("text").to_pylist(), self.bands)
        return {k: v.num_rows for k, v in tables.items()}

    def setup_cycle(self, t_cold: float | None = None) -> float:
        """get_spark -> register_views -> one count per workload table.
        The cold cycle is timed from ``t_cold`` (before the engine import);
        later cycles restart the session in the running JVM."""
        cold = t_cold is not None
        t0 = t_cold if cold else time.perf_counter()
        if not cold:
            self.ctx.spark.stop()
        from cql_xmlpipe_spark.session import get_spark
        from cql_xmlpipe_spark.sources.registry import register_views

        t1 = time.perf_counter()
        spark = get_spark("perfbench")
        t2 = time.perf_counter()
        register_views(spark, self.data_dir)
        t3 = time.perf_counter()
        for t in self.tables:
            spark.table(t).count()
        self.ctx.spark = spark
        if cold:
            self.layer["session.start_s"] = t2 - t1
            self.layer["sources.register_s"] = t3 - t2
        return time.perf_counter() - t0

    def load_oracles(self) -> None:
        from cql_xmlpipe_spark.plans import ORACLE
        from cql_xmlpipe_spark.sources.registry import TABLES

        oracle = Oracle(self.data_dir, TABLES, self.bands)
        try:
            for call in self.calls:
                call.set_oracle(*oracle.rows(ORACLE[call.oracle]))
        finally:
            oracle.close()

    # -- calls ------------------------------------------------------------
    def run_call(self, call, verify: bool, acc: dict | None, pass_sid: int | None):
        """Build, execute and check one call.  Returns (seconds, outcome);
        seconds covers build + execute only.  ``acc`` collects per-layer
        counters when the pass is traced."""
        self.attempted += 1
        ctx, eng, tr = self.ctx, self.engine, self.tracer
        cid = self.attempted
        try:
            if acc is None:
                t0 = time.perf_counter()
                df = call.build(ctx)
                out, res = call.execute(ctx, df, t0)
                seconds = time.perf_counter() - t0
            else:
                eng.take()
                with tr.span(f"call:{call.name}", pass_sid, cid) as csid:
                    t0 = time.perf_counter()
                    with tr.span("plans.build", csid, cid):
                        df = call.build(ctx)
                    t1 = time.perf_counter()
                    built = eng.take()
                    t2 = time.perf_counter()
                    with tr.span(f"exec.{call.kind}", csid, cid) as esid:
                        out, res = call.execute(ctx, df, t0)
                    t3 = time.perf_counter()
                    if out.sink_write_s:
                        tr.add("xmlpipe.sink", out.sink_write_s, esid, cid)
                ran = eng.take()
                seconds = (t1 - t0) + (t3 - t2)
                self._account(acc, call, df, out, t1 - t0, t3 - t2, built, ran)
            call.check(ctx, df, out, res, verify)
        except Exception as exc:  # noqa: BLE001 - a failed call is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            seconds, out = 0.0, None
            self._fail(call, f"{type(exc).__name__}: {str(exc)[:300]}")
        else:
            if out.problems:
                self._fail(call, "; ".join(out.problems))
            if acc is not None:
                acc["xmlpipe.output_mb"] += out.output_bytes / MB
                n, mb = eng.pinned()
                acc["operators.pinned_after_call"] += n
                acc["operators.pinned_mb_after_call"] += mb
        self.engine.reset(ctx.spark)
        return seconds, out

    def _fail(self, call, why: str) -> None:
        self.failed += 1
        self.problems.append(f"{call.name}: {why}")
        print(f"FAILED {call.name}: {why}", file=sys.stderr)

    def _account(self, acc, call, df, out, build_s, exec_s, built, ran) -> None:
        acc["plans.build_s"] += build_s
        acc["plans.exec_s"] += exec_s
        acc["plans.catalyst_ms"] += catalyst_ms(df)
        acc["spark.build_jobs"] += built.get("jobs", 0)
        acc["spark.exec_jobs"] += ran.get("jobs", 0)
        for k in (set(built) | set(ran)) - {"jobs"}:
            acc[f"spark.{k}"] += built.get(k, 0) + ran.get(k, 0)
        acc[f"call.{call.name}_s"] += build_s + exec_s
        if call.kind == "stream":
            acc["xmlpipe.stream_jobs"] += ran.get("jobs", 0)
            acc["xmlpipe.stream_drain_s"] += exec_s
            acc["xmlpipe.sink_wait_s"] += exec_s - out.sink_write_s
        elif call.kind == "scale":
            acc["xmlpipe.scale_tasks"] += ran.get("tasks", 0)
            acc["xmlpipe.scale_write_s"] += exec_s

    def run_pass(self, traced: bool) -> dict:
        order = list(self.calls)
        self.rng.shuffle(order)
        acc = defaultdict(float) if traced else None
        rec = {"traced": traced, "calls": {}, "first": [],
               "stream_docs": 0, "stream_s": 0.0, "scale_docs": 0, "scale_s": 0.0}
        with self.tracer.span("pass") if traced else nullcontext() as psid:
            for call in order:
                seconds, out = self.run_call(call, False, acc, psid)
                rec["calls"][call.name] = seconds
                if out is None:
                    continue
                if out.first_s is not None:
                    rec["first"].append((call.name, out.first_s))
                if call.kind in ("stream", "scale"):
                    rec[f"{call.kind}_docs"] += out.rows
                    rec[f"{call.kind}_s"] += seconds
        rec["pass_s"] = sum(rec["calls"].values())
        if traced:
            cores = int(os.environ["SPARK_GRAFT_CPUS"])
            acc["spark.core_util"] = acc["spark.task_run_s"] / (rec["pass_s"] * cores)
            rec["layer"] = dict(acc)
        return rec

    # -- traced decomposition (outside the pass spans) --------------------
    def decompose(self) -> None:
        from cql_xmlpipe_spark.operators.xmlpipe import with_doc_id, xml_documents
        from cql_xmlpipe_spark.sources.registry import load_table

        spark, eng = self.ctx.spark, self.engine

        def timed_force(df) -> tuple[float, dict]:
            """Compute every row and column of ``df``, writing nothing."""
            eng.take()
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0, eng.take()

        with self.tracer.span("decompose") as dsid:
            scan_s = scan_tasks = 0.0
            for t in self.tables:
                with self.tracer.span(f"sources.scan:{t}", dsid):
                    s, c = timed_force(load_table(spark, t, self.data_dir))
                scan_s += s
                scan_tasks += c.get("tasks", 0)
            doc_id_s = assemble_s = 0.0
            seen = set()
            for call in self.calls:
                if call.kind != "stream" or call.sql in seen:
                    continue
                seen.add(call.sql)
                bare = spark.sql(call.sql)
                with self.tracer.span(f"decompose:{call.name}", dsid):
                    t_bare, _ = timed_force(bare)
                    t_id, _ = timed_force(with_doc_id(bare, call.keys))
                    t_xml, _ = timed_force(xml_documents(bare, call.keys))
                doc_id_s += t_id - t_bare
                assemble_s += t_xml - t_id
        self.layer.update({
            "sources.scan_s": scan_s, "sources.scan_tasks": scan_tasks,
            "functions.doc_id_s": doc_id_s, "xmlpipe.assemble_s": assemble_s,
        })

    # -- the run ----------------------------------------------------------
    def timed_phase(self) -> float:
        seconds, trace = self.args.seconds, bool(self.args.trace)
        t0 = time.perf_counter()
        longest = 0.0
        stolen0, ticks0 = cpu_ticks()
        with RssSampler() as rss:
            while True:
                traced = trace and len(self.passes) % 2 == 1
                t = time.perf_counter()
                self.passes.append(self.run_pass(traced))
                longest = max(longest, time.perf_counter() - t)
                done = time.perf_counter() - t0 >= seconds
                kinds = {p["traced"] for p in self.passes}
                if done and (not trace or kinds == {True, False}):
                    break
                if time.perf_counter() - self.t_start + longest > DEADLINE_S:
                    break
        stolen1, ticks1 = cpu_ticks()
        self.steal_share = (stolen1 - stolen0) / max(1, ticks1 - ticks0)
        return rss.peak_mb

    def run(self) -> dict:
        args = self.args
        rows = self.make_data()
        t_cold = time.perf_counter()
        self.ctx = Ctx(self.data_dir, self.work)  # imports pyspark and the engine
        cycles = [self.setup_cycle(t_cold)]
        self.load_oracles()
        for _ in range(SETUP_CYCLES - 1):
            cycles.append(self.setup_cycle())
        spark = self.ctx.spark
        self.engine = Engine(spark)
        info = {
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "spark": spark.version, "python": sys.version.split()[0],
            "data": os.path.relpath(self.data_dir, self.root), "seed": str(args.seed),
            "rows": ",".join(f"{k}={v}" for k, v in rows.items()),
        }
        t = time.perf_counter()
        for i in range(self.warmup_passes):
            order = list(self.calls)
            self.rng.shuffle(order)
            for call in order:
                self.run_call(call, i == 0, None, None)
        warmup = time.perf_counter() - t
        self.layer["setup.warmup_s"] = warmup
        setup_s = _median(cycles) + warmup
        peak_mb = self.timed_phase()
        if args.trace:
            self.decompose()
        return self.metrics(setup_s, peak_mb, cycles, info)

    def metrics(self, setup_s: float, peak_mb: float, cycles, info) -> dict:
        plain = [p for p in self.passes if not p["traced"]]
        streams = {c.name for c in self.calls if c.kind == "stream"}
        traced = [p for p in self.passes if p["traced"]]
        calls = {f"call.{c.name}_s": _median([p["calls"][c.name] for p in plain])
                 for c in self.calls}
        firsts = defaultdict(list)  # call -> first-result seconds per pass
        for p in plain:
            for name, first in p["first"]:
                firsts[name].append(first)
        e2e = {
            "setup_s": setup_s,
            "pass_s": sum(calls.values()),
            "first_result_s": _mean([_median(v) for v in firsts.values()]),
        }
        detail = {
            "first_doc_s": _mean([_median(v) for c, v in firsts.items() if c in streams]),
            "stream_docs_per_s": _median(
                [p["stream_docs"] / p["stream_s"] for p in plain if p["stream_s"]]),
            "scale_docs_per_s": _median(
                [p["scale_docs"] / p["scale_s"] for p in plain if p["scale_s"]]),
            "peak_rss_mb": peak_mb,
            "failed_ratio": self.failed / max(1, self.attempted),
        }
        layer = {k: 0.0 for k in PER_LAYER}
        layer.update(self.layer)
        layer["proc.peak_rss_mb"] = peak_mb
        if traced:
            keys = set().union(*(p["layer"] for p in traced))
            for k in keys:
                layer[k] = _median([p["layer"].get(k, 0.0) for p in traced])
            layer["trace.pass_s"] = _median([p["pass_s"] for p in traced])
            layer["trace.overhead_s"] = layer["trace.pass_s"] - e2e["pass_s"]
        return {"e2e": e2e, "detail": detail, "layer": layer, "calls": calls,
                "cycles": cycles, "info": info, "passes": len(plain), "traced_passes": len(traced)}


def shutdown(ctx) -> None:
    """Stop the session and the JVM (its Python workers go with it) and
    wait until the JVM has exited."""
    from pyspark import SparkContext

    if ctx is not None and ctx.spark is not None:
        ctx.spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - the JVM ignored stdin closing
            proc.kill()
            proc.wait(timeout=30)


def report(bench: Bench, m: dict, trace: bool) -> dict:
    a = bench.args
    print(f"# perfbench workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    print("# env " + " ".join(f"{k}={v}" for k, v in {**bench.env, **m["info"]}.items()))
    print(f"# host: {bench.steal_share:.1%} of CPU time stolen by the hypervisor "
          "during the timed passes (wall times inflate with it)")
    print(f"# passes untraced={m['passes']} traced={m['traced_passes']} "
          f"setup cycles={' '.join(f'{c:.3f}' for c in m['cycles'])} s")
    print("# end-to-end")
    for k, unit in END_TO_END.items():
        print(f"  {k:<32} {m['e2e'][k]:>14.6f} {unit}")
    for k in m["detail"]:
        print(f"  {k:<32} {m['detail'][k]:>14.6f} {DETAIL[k]}")
    for i, p in enumerate(bench.passes):
        calls = " ".join(f"{k}={v:.3f}" for k, v in p["calls"].items())
        print(f"# pass {i} traced={int(p['traced'])} {calls}")
    print("# per call (median over untraced passes)")
    for k, v in m["calls"].items():
        print(f"  {k:<32} {v:>14.6f} s")
    if trace:
        units = {**PER_LAYER, **DETAIL}
        print("# per-layer (median over traced passes; setup and decomposition once per run)")
        for k in sorted(m["layer"]):
            if not k.startswith("call."):
                print(f"  {k:<32} {m['layer'][k]:>14.6f} {units.get(k, 's')}")
        print("# self time by span (all traced passes and the decomposition)")
        table = bench.tracer.self_times()
        for name, row in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
            print(f"  {name:<40} n={row['count']:<5} total={row['total_s']:10.4f} s "
                  f"self={row['self_s']:10.4f} s")
        path = os.path.join(bench.work, f"trace-{a.workload}-{a.seed}.json")
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"args": vars(a), "metrics": m, "spans": bench.tracer.spans}, fh)
        print(f"# trace written to {os.path.relpath(path, bench.root)}")
    for p in bench.problems:
        print(f"# FAILED {p}")
    names = PER_LAYER if trace else END_TO_END
    values = m["layer"] if trace else m["e2e"]
    return {k: {"value": values[k], "unit": unit} for k, unit in names.items()}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input row-count multiplier")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "cql_xmlpipe_spark")):
        print("perfbench: run from the root of a cql_xmlpipe_spark checkout", file=sys.stderr)
        return 2
    bench = Bench(args, root)
    bench.env = pin_env(root, bench.work)
    sys.path.insert(0, root)
    try:
        m = bench.run()
    finally:
        shutdown(bench.ctx)
        shutil.rmtree(bench.data_dir, ignore_errors=True)
    metrics = report(bench, m, bool(args.trace))
    print(json.dumps({"correct": bench.failed == 0, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
