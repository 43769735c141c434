"""Tiny-size smoke test of the benchmark itself: sf0.001 tables and two
small deliveries.

    python3 -m pytest perfbench/test_smoke.py -q

For every workload it runs the benchmark untraced and traced and checks
that every metric BENCHMARK.json names is printed with its unit, that no
operation failed, that the spans of each traced operation nest so that
the layers' self times plus the benchmark's own time add up to the
operation's wall, and that the layer spans cover at least 90% of every
operation's wall.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
TINY_ETL = json.dumps({"base_rows": 2000, "cycles": 2, "files_per_cycle": 2, "rows_per_file": 500})
SEED = 4242


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
           "--data", os.path.join(HERE, "data", "sf0.001"), "--etl-sizes", TINY_ETL]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    for name, m in result["metrics"].items():  # printed by name with its unit
        assert any(ln.split()[:1] == [name] and ln.split()[-1] == m["unit"] for ln in lines[:-1])
    return result


def check_nesting(path: str) -> None:
    with open(path) as fh:
        spans = [json.loads(ln) for ln in fh]
    by_id = {s["id"]: s for s in spans}
    ops = [s for s in spans if s["layer"] == "bench"]
    assert ops
    for root in ops:
        recs = [s for s in spans if s["op"] == root["name"]]
        kids: dict[int, list] = {}
        for s in recs:
            if s["id"] != root["id"]:
                parent = by_id[s["parent"]]
                assert parent["start"] <= s["start"] <= s["end"] <= parent["end"]
                kids.setdefault(s["parent"], []).append(s)
        for sibs in kids.values():
            sibs.sort(key=lambda s: s["start"])
            assert all(a["end"] <= b["start"] for a, b in zip(sibs, sibs[1:]))
        self_sum = sum(
            (s["end"] - s["start"]) - sum(k["end"] - k["start"] for k in kids.get(s["id"], ()))
            for s in recs
        )
        assert self_sum == pytest.approx(root["end"] - root["start"], rel=1e-6)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload(workload):
    plain = run(workload, 0)
    assert set(plain["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert {n: m["unit"] for n, m in plain["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert plain["failed"] == 0 and plain["correct"]
    assert plain["metrics"]["success_rate"]["value"] == 1.0  # error_rate 0

    traced = run(workload, 1)
    assert {n: m["unit"] for n, m in traced["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert traced["failed"] == 0 and traced["correct"]
    assert traced["metrics"]["trace.reconcile_err"]["value"] < 0.10
    check_nesting(os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-seed{SEED}.jsonl"))
