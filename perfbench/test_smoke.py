"""Smoke test of the benchmark itself, on tiny corpora:

    python3 -m pytest perfbench/test_smoke.py -q

Every workload prints every end-to-end metric, the traced run prints
every per-layer metric, the names and units match BENCHMARK.json, and
every correctness gate passes with fail_ratio == 0. Takes a few minutes
(one Spark session per run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)


def _bench(workload: str, trace: int, seed: int) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


def _declared(key: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def test_block_counts_match_generator():
    import corpus
    from joern_spark.generator import conv_block_counts

    assert (corpus.block_counts(1000, 3000) == conv_block_counts(3000)[1000:]).all()


def test_catalog_matches_benchmark_json():
    import metrics

    assert _declared("end_to_end") == {k: u for k, (u, _) in metrics.END_TO_END.items()}
    assert _declared("per_layer") == {k: u for k, (u, _) in metrics.PER_LAYER.items()}


@pytest.mark.parametrize("workload", ["build", "query", "ingest"])
def test_workload_prints_every_metric_and_passes_gates(workload):
    for seed in (1, 2):
        res, out = _bench(workload, 0, seed)
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        assert {k: v["unit"] for k, v in res["metrics"].items()} == _declared("end_to_end")
        assert all(v["value"] > 0 for v in res["metrics"].values())
        assert f"{workload}.fail_ratio = 0 ratio" in out


def test_traced_run_prints_every_per_layer_metric():
    res, _ = _bench("build", 1, 3)
    assert res["correct"] and res["failed"] == 0
    assert {k: v["unit"] for k, v in res["metrics"].items()} == _declared("per_layer")
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["trace.self_sum_s"] + m["trace.unattributed_s"] == pytest.approx(m["trace.wall_s"])
    assert m["manifest.buckets_skipped_ratio"] == 1.0
