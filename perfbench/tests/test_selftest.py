"""Self-test of the benchmark: each workload at a tiny size.

    python3 -m pytest perfbench/tests -q

Runs ``perfbench/run.py`` as a benchmark harness would, from the repo
root, and checks the result line against ``BENCHMARK.json``: every metric
named there is emitted with its unit, a traced run gives each layer its
workload calls a non-zero value, the outputs check out, and a
corrupted output (one fact row dropped) counts as failed. Takes a few
minutes: every run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "5", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines else None), proc.stderr


def test_spec_matches_emitter():
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import metrics

    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == metrics.PER_LAYER
    assert all(m["better"] == "lower" for m in SPEC["end_to_end"])
    assert {m["name"] for m in SPEC["per_layer"] if m["better"] == "higher"} == \
        metrics.HIGHER_IS_BETTER
    assert [w["name"] for w in SPEC["workloads"]] == ["catalog", "pipeline"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_emitted_with_unit(workload, trace):
    rc, out, err = bench(workload, trace)
    assert rc == 0, err[-3000:]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in out["metrics"].items()}
    values = {k: v["value"] for k, v in out["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in values.values())
        return
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import metrics

    own = metrics.LAYERS_OF[workload]
    # a traced-minus-untraced difference may have either sign
    zero = sorted(k for k in own - metrics.MAY_BE_ZERO
                  if (values[k] == 0 if k.startswith("trace.overhead.") else values[k] <= 0))
    assert not zero, f"{workload} layers that read 0: {zero}"
    assert all(values[k] == 0 for k in set(values) - own)


def test_dropped_fact_row_counts_as_failed():
    rc, out, err = bench("pipeline", 0, "--inject", "drop-fact-row")
    assert rc == 0, err[-3000:]
    assert out["correct"] is False and out["failed"] >= 1


def test_refuses_to_run_without_the_program(tmp_path):
    rc, out, _ = bench("catalog", 0, cwd=str(tmp_path))
    assert rc != 0 and out is None
