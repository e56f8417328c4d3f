"""BENCHMARK.json names exactly the metrics the command prints."""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _result(traced: bool) -> dict:
    qs = {"a": (0.1, 0.9), "b": (0.2, 0.3)}
    passes = [{"wall": 3.0, "queries": qs, "traced": traced}]
    passes += [{"wall": 2.0 + i / 10, "queries": qs, "traced": traced and i % 2 == 0} for i in range(4)]
    res = {"setup_s": 9.0, "passes": passes, "n_queries": 2, "attempted": 12, "failures": [],
           "verify_s": 1.0, "stop_s": 0.5}
    if traced:
        names = ("plans.build_s", "plans.action_s", *run.LAYER_METRICS, *run.ENGINE_METRICS, *run.STREAM_METRICS)
        res["per_query"] = {
            f"p{p}:{q}": {"wall_s": 1.0, **dict.fromkeys(names, 0.5)} for p in (0, 1, 3) for q in qs
        }
    return res


def test_end_to_end_names_and_units():
    metrics, _ = run._end_to_end(_result(False), 2**30, 2**20)
    assert {n: u for n, (_, u) in metrics.items()} == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}


def test_per_layer_names_and_units():
    metrics, _ = run._per_layer(_result(True))
    assert {n: u for n, (_, u) in metrics.items()} == {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def test_workloads_match():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
