"""Smoke tests for the benchmark, at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs through the command line once untraced and once
traced; every metric BENCHMARK.json names must be printed with its unit.
A deliberately corrupted final state must be counted as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402
from perfbench import workloads as wl  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _cli(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
            "--seconds", "1", "--trace", str(trace), "--tiny",
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    res = _cli(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())


def _args(workload: str) -> argparse.Namespace:
    return argparse.Namespace(workload=workload, seed=5, seconds=1.0, trace=0, tiny=True)


def test_corrupted_final_state_counts_as_failed(monkeypatch):
    from go_cdc_spark import schemas

    loop = wl.cdc_loop

    def loop_then_corrupt(spark, inst, seconds, tracer=None):
        out = loop(spark, inst, seconds, tracer)
        if seconds:  # the timed loop, not the warm-up: overwrite one seeded key
            row = ("u", 2_000_000_000, 0, 0, *inst.lookup_keys[0], "py", "corrupted")
            inst.lake.apply_batch(
                spark.createDataFrame([row], schemas.EVENT_SCHEMA), epoch_key="corrupt"
            )
        return out

    monkeypatch.setattr(wl, "cdc_loop", loop_then_corrupt)
    res = bench.run(_args("tail_mor_read"))
    assert not res["correct"]
    assert res["failed"] == 2  # the final state and the final lookup


def test_corrupted_query_output_counts_as_failed(monkeypatch):
    loop = wl.dedup_loop

    def loop_then_corrupt(spark, sf_dir, n_rows, seconds, tracer=None):
        out = loop(spark, sf_dir, n_rows, seconds, tracer)
        if seconds:  # the timed loop, whose last pass the gate checks
            q = out.outputs["dedup_jaccard"]
            assert len(q), "the tiny corpus must yield jaccard pairs"
            out.outputs["dedup_jaccard"] = pd.concat([q, q.head(1)], ignore_index=True)
        return out

    monkeypatch.setattr(wl, "dedup_loop", loop_then_corrupt)
    res = bench.run(_args("dedup_pass"))
    assert not res["correct"]
    assert res["failed"] == 1
