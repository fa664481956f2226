"""Tiny-size self-test of the benchmark: every metric BENCHMARK.json names
is printed with its unit, and the traced run's spans nest.

    python3 -m pytest kgbench/tests -q

Each case starts its own Spark JVM, so the module takes a few minutes.
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SEED = 3


def run_bench(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
         "--size", "60"],
        capture_output=True, text=True, timeout=600, cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_printed_with_units(workload):
    result = run_bench(workload, trace=0)
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for name, value in result["metrics"].items():
        assert value["value"] > 0, name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_layers_and_span_nesting(workload):
    result = run_bench(workload, trace=1)
    assert result["correct"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want

    with open(os.path.join(ROOT, ".kgbench_work",
                           f"trace-{workload}-{SEED}.json")) as fh:
        spans = {s["id"]: s for s in json.load(fh)["spans"]}
    assert spans
    children: dict = {}
    for s in spans.values():
        assert s["end"] >= s["start"], s
        if s["parent"] is None:
            assert s["name"] == "op", s
            continue
        parent = spans[s["parent"]]
        assert parent["op"] == s["op"], s
        assert parent["start"] <= s["start"] and s["end"] <= parent["end"], s
        children.setdefault(parent["id"], []).append(s)
    for sid, kids in children.items():
        parent = spans[sid]
        covered, reach = 0.0, parent["start"]
        for k in sorted(kids, key=lambda k: k["start"]):
            lo, hi = max(k["start"], reach), k["end"]
            if hi > lo:
                covered += hi - lo
                reach = hi
        assert parent["end"] - parent["start"] - covered >= 0, (parent, kids)
