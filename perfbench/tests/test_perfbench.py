"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark once per workload (about 30-50 s each).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import api_reads  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402
import rulegen  # noqa: E402
import run  # noqa: E402
import segment_refresh  # noqa: E402

BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_seed_reproduces_tables():
    a, b = datagen.generate(7, 0.001), datagen.generate(7, 0.001)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    other = datagen.generate(8, 0.001)
    assert not other["events"].equals(a["events"])
    assert all(other[t].num_rows == a[t].num_rows for t in datagen.TABLES)


def test_seed_reproduces_rules_clock_and_requests():
    assert rulegen.generate(3, 50) == rulegen.generate(3, 50)
    assert rulegen.generate(3, 50) != rulegen.generate(4, 50)
    assert segment_refresh.clock_steps(3, 5) == segment_refresh.clock_steps(3, 5)
    ids = [1, 2, 3]
    assert api_reads.request_stream(3, 0, ids) == api_reads.request_stream(3, 0, ids)
    assert api_reads.request_stream(3, 0, ids) != api_reads.request_stream(3, 1, ids)


def test_rule_mix_has_every_kind():
    kinds = [s.kind for s in rulegen.generate(11, 200)]
    for kind, share in (("base", 0.6), ("extend", 0.3), ("compound", 0.1)):
        assert abs(kinds.count(kind) / len(kinds) - share) < 0.1


def test_two_request_blocks_hold_the_mix():
    from collections import Counter

    stream = api_reads.request_stream(3, 0, [1, 2])
    mix = Counter(route for block in stream[:2] for route, _, _ in block)
    assert mix == {"sample": 6, "category_totals": 3, "daily_totals": 3, "summary": 2, "users": 4, "catalog": 2}


def test_metric_names_match_benchmark_json():
    assert [m["name"] for m in BENCHMARK["end_to_end"]] == list(run.UNITS)
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == run.UNITS
    assert [(m["name"], m["unit"], m["better"]) for m in BENCHMARK["per_layer"]] == [
        tuple(m) for m in layers.METRICS
    ]
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(run.WORKLOADS)


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    section = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in BENCHMARK[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
