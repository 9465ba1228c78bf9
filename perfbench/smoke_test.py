"""Smoke test of the benchmark itself, on tiny inputs (sf 0.001).

Runs a few operations of each workload and asserts that

- every end-to-end metric is printed with its unit, and the JSON's metric
  names and units are the ones ``BENCHMARK.json`` declares;
- a deliberately wrong reference answer is counted as a failure.

Run from the root of a checkout: ``python3 perfbench/smoke_test.py``
(about two minutes on 4 cores), or under pytest.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402

TINY = datagen.Sizes(sf=0.001, documents=40, embeddings=40)
WORK = os.path.join(run.WORK, "smoke")


def _declared() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in bench["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in bench["per_layer"]},
    }


def _run(workload: str, trace: bool, corrupt: bool):
    rep = run.run(workload, seed=7, seconds=1, trace=trace, sizes=TINY,
                  corrupt_reference=corrupt, work=WORK, log=lambda msg: None)
    return rep, *run.format_report(workload, 7, trace, rep)


def check_llm_pipeline_clean() -> None:
    declared = _declared()
    rep, lines, result = _run("llm_pipeline", trace=False, corrupt=False)
    for name, unit in declared["end_to_end"].items():
        assert any(line.startswith(f"{name} ") and f" {unit}" in line for line in lines), name
    assert any(line.startswith("fail_ratio ") for line in lines)
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared["end_to_end"]
    assert result["failed"] == 0 and result["correct"], lines
    assert result["attempted"] >= 2 * len(rep["e2e"]["_kinds"])


def check_flight_serving_wrong_reference_fails() -> None:
    declared = _declared()
    rep, lines, result = _run("flight_serving", trace=True, corrupt=True)
    for name, unit in declared["end_to_end"].items():
        assert any(line.startswith(f"{name} ") and f" {unit}" in line for line in lines), name
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared["per_layer"]
    # the corrupted answer fails its attempt and its retry
    assert result["failed"] >= 2 and not result["correct"], result
    assert result["attempted"] > result["failed"]
    share = sum(v for k, v in rep["layers"].items() if k.startswith("self."))
    assert abs(share - 1.0) < 1e-6, share


def test_llm_pipeline_clean():
    check_llm_pipeline_clean()


def test_flight_serving_wrong_reference_fails():
    check_flight_serving_wrong_reference_fails()


if __name__ == "__main__":
    check_llm_pipeline_clean()
    check_flight_serving_wrong_reference_fails()
    print("perfbench smoke test: ok")
