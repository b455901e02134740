"""Every metric BENCHMARK.json names is printed, with its declared unit,
and the readable report carries each workload's own metric names."""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import pytest

from perfbench import run, workload
from perfbench.trace import Tracer

SPEC_PATH = os.path.join(run.ROOT, "BENCHMARK.json")


@pytest.fixture(scope="module")
def spec():
    with open(SPEC_PATH) as f:
        return json.load(f)


def fake_result(name: str) -> dict:
    report = {
        "warehouse_load": {"job_s": [30.0, "s"], "load_s": [12.0, "s"],
                           "maintain_s": [1.0, "s"], "read_s": [0.4, "s"],
                           "stored_bytes_per_live_byte": [1.1, "ratio"]},
        "query_mix": {"rounds": [3, "count"]},
        "catalog_cold": {},
    }[name]
    return {
        "workload": name,
        "setup_s": 9.5,
        "run_s": 21.0,
        "op_samples": [0.1 * i for i in range(1, 31)],
        "op_names": workload.OP_NAMES[name],
        "series": {"x_s": [1.0, 2.0]},
        "report": report,
        "attempted": 30,
        "failures": [],
        "host": {"calibration_s": 0.09, "cores": 4, "steal_ratio": 0.01},
    }


def check_line(line: dict, declared: list[dict]) -> None:
    assert set(line["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        printed = line["metrics"][m["name"]]
        assert printed["unit"] == m["unit"], m["name"]
        assert isinstance(printed["value"], (int, float)), m["name"]


def test_end_to_end_metrics_printed_with_units(spec):
    for name in workload.WORKLOADS:
        line = run.result_line(fake_result(name), 0, traced=False)
        check_line(line, spec["end_to_end"])
        assert line["correct"] and line["failed"] == 0


def test_per_layer_metrics_printed_with_units(spec):
    t = Tracer("r", enabled=True)
    with t.span("bench/setup"):
        with t.span("session/get_session"):
            pass
    with t.span("bench/run"):
        with t.span("plans/build_warm"):
            pass
        with t.span("spark/catalyst"):
            pass
    fake_run = SimpleNamespace(tracer=t, cores=4, layer={}, units=1)
    per_layer = workload.layer_metrics(
        fake_run, 2.0, {"calibration_s": 0.09, "steal_ratio": 0.01}
    )
    line = run.result_line({"per_layer": per_layer, "attempted": 1}, 0, traced=True)
    check_line(line, spec["per_layer"])


@pytest.mark.parametrize("name, expected", [
    ("warehouse_load", ["setup_s", "job_s", "load_s", "merge_p50_s",
                        "maintain_s", "stored_bytes_per_live_byte", "failed_ratio"]),
    ("query_mix", ["setup_s", "mix_round_s", "query_p50_s", "query_tail_s",
                   "failed_ratio"]),
    ("catalog_cold", ["setup_s", "sweep_s", "cold_query_p50_s",
                      "cold_query_tail_s", "failed_ratio"]),
])
def test_report_names_each_workload_metric(name, expected):
    result = fake_result(name)
    if name != "warehouse_load":
        result["report"] = {}
    lines = run.report_lines(result, 0)
    printed = {line.split(":")[0] for line in lines}
    assert set(expected) <= printed
    assert any("host.calibration_s" in line and "host.steal_ratio" in line
               for line in lines)


def test_failed_run_is_not_correct():
    line = run.result_line(fake_result("query_mix"), 2, traced=False)
    assert not line["correct"] and line["failed"] == 2
