from __future__ import annotations

import json
import os
import re

from perfbench import report, workloads
from perfbench.trace import self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_metric_name_is_well_formed_and_unique():
    bench = _bench()
    metrics = bench["end_to_end"] + bench["per_layer"]
    names = [m["name"] for m in metrics] + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for n in names + list(report.per_layer_units()) + list(report.END_TO_END):
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", n) and NAME.fullmatch(n), n
    for m in metrics:
        assert UNIT.fullmatch(m["unit"]), m


def test_benchmark_json_matches_what_the_run_reports():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == report.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == report.per_layer_units()
    assert len(bench["per_layer"]) <= 128
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    assert any(m["name"] == "setup_s" for m in bench["end_to_end"])
    assert max(m["bound"] for m in bench["end_to_end"]) <= 0.25


def test_self_time_excludes_children():
    spans = [
        {"id": 0, "name": "iteration", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "pipeline.run", "parent": 0, "start": 1.0, "end": 7.0},
        {"id": 2, "name": "provider.submit", "parent": 1, "start": 2.0, "end": 5.0},
        {"id": 3, "name": "jsonl.sink", "parent": 2, "start": 3.0, "end": 4.0},
    ]
    assert self_times(spans) == {0: 4.0, 1: 3.0, 2: 2.0, 3: 1.0}
    assert sum(self_times(spans).values()) == 10.0


def test_trace_overhead_pairs_each_traced_iteration_with_its_neighbours():
    # warm makespans fall 1 s per iteration; tracing adds 0.5 s
    measured = [
        {"it": i, "traced": i % 2 == 0, "makespan": 10.0 - i + 0.5 * (i % 2 == 0)}
        for i in range(1, 6)
    ]
    assert report._paired_overheads(measured) == [0.5, 0.5]
