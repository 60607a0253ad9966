"""Self-test of the benchmark harness on tiny inputs (lineitem ~6k rows).

    python3 -m pytest perfbench/tests -q     # from the repository root

Checks that every metric BENCHMARK.json names prints with its unit, that
a wrong checksum counts as a failure, that a frame left persisted shows in
``operators.pinned_after_call``, and that the status-store counters move.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
BENCH = os.path.join(ROOT, "perfbench")
SCALE = "0.15"
sys.path.insert(0, BENCH)


def _result(trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "xmlpipe_export",
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", SCALE],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_every_named_metric_prints_with_its_unit(trace, section):
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    res = _result(trace)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec[section]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())


def test_injected_faults_are_caught_and_counters_move(monkeypatch):
    import run
    from workloads import QueryCall

    class WrongChecksum(QueryCall):
        def set_oracle(self, cols, rows):
            super().set_oracle(cols, rows)
            self.expect = "0" * 64  # verify passes row for row; timed calls must fail

    class LeavesFramePinned(QueryCall):
        def build(self, ctx):
            df = super().build(ctx).persist()
            df.count()
            return df

    monkeypatch.chdir(ROOT)
    args = run.parse_args(["--workload", "tpch_sql", "--seed", "3", "--seconds", "0.1",
                           "--trace", "1", "--scale", SCALE])
    bench = run.Bench(args, ROOT)
    bench.calls = [WrongChecksum("q1_pricing_summary"), LeavesFramePinned("q3_shipping_priority")]
    bench.env = run.pin_env(ROOT, bench.work)
    try:
        m = bench.run()
    finally:
        run.shutdown(bench.ctx)
        shutil.rmtree(bench.data_dir, ignore_errors=True)
    unverified_passes = bench.warmup_passes - 1 + m["passes"] + m["traced_passes"]
    assert bench.failed == unverified_passes
    assert all(p.startswith("q1_pricing_summary: result digest") for p in bench.problems)
    layer = m["layer"]
    assert layer["operators.pinned_after_call"] >= 1
    assert layer["operators.pinned_mb_after_call"] > 0
    for k in ("spark.exec_jobs", "spark.stages", "spark.tasks", "spark.task_run_s",
              "plans.catalyst_ms", "sources.scan_tasks"):
        assert layer[k] > 0, k
