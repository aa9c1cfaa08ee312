"""Self-tests for the benchmark: generator determinism, the declared
metric set, a tiny smoke run of every workload, and the refusal to run
outside a movingspark checkout.

    python3 -m pytest perfbench/tests -q

The smoke runs start a Spark session each (about a minute apiece).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize(
    "workload, fn", [("traj_kernels", gen.gen_events), ("spatial_joins", gen.gen_events),
                     ("doc_pipeline", gen.gen_docs)]
)
def test_generator_deterministic_per_seed(workload, fn):
    a = fn(workload, 7, "tiny")
    assert a.equals(fn(workload, 7, "tiny"))
    assert not a.equals(fn(workload, 8, "tiny"))
    assert a.num_rows > 0


def test_events_schema_matches_registry_input():
    t = gen.gen_events("spatial_joins", 1, "tiny")
    assert [f.name for f in t.schema] == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    y = t.column("event_id").to_numpy() % 100
    assert y.min() >= 0 and y.max() <= 99
    assert len(set(t.column("event_id").to_pylist())) == t.num_rows


def test_declared_metrics_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


def _run(workload, trace, cwd=ROOT, script=None):
    cmd = [sys.executable, script or os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_tiny_smoke_run_is_correct_and_prints_every_metric(workload):
    p = _run(workload, 0)
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.END_TO_END
    assert out["metrics"]["ok_ops_frac"]["value"] == 1.0
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_prints_every_layer_metric():
    p = _run("spatial_joins", 1)
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    assert out["correct"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.PER_LAYER
    detail = json.loads(lines[-2])["detail"]
    assert detail["notes"]["self_times_within_wall_x_cores"]
    assert "gmap.call_s" in detail["absent_layers"]  # no grouped kernel on this workload
    # the doc job's layers are measured here too, not only on doc_pipeline
    for layer in ("ingest.explode_s", "ingest.points_out", "ingest.span_invariant_s",
                  "checkpoint.write_s", "checkpoint.resume_s", "checkpoint.bytes_written"):
        assert layer not in detail["absent_layers"]
        assert out["metrics"][layer]["value"] > 0
    assert out["metrics"]["proximity.candidates"]["value"] > out["metrics"]["proximity.pairs_out"]["value"]


def test_refuses_to_run_outside_a_checkout():
    bare = os.path.join(BENCH, ".cache", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".cache", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = _run("traj_kernels", 0, cwd=bare, script=os.path.join(bare, "perfbench", "run.py"))
        assert p.returncode != 0
        assert '"metrics"' not in p.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
