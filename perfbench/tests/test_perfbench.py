"""The benchmark's own tests, at tiny scale.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each workload BENCHMARK.json lists runs once untraced (correct, every
end-to-end metric with its unit) and once traced with a wrong answer planted
(every per-layer metric with its unit, the layers the workload drives
showing work, the wrong answer counted as a failed operation and the exit
status 1). Each run is its own process with its own Spark session, as the
benchmark runs.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, run  # noqa: E402

TINY = ["--seed", "7", "--seconds", "0.1", "--scale", "0.05"]
# the listed workloads, and layers each drives that must show work in a traced run
DRIVEN = {
    "batch_etl": [
        "aliccp.silver_to_gold.jobs",
        "feature_views.get_historical_features.jobs",
        "joins.asof.candidate_rows_per_entity",
        "dedup.minhash_lsh.jobs",
        "dedup.minhash_lsh.candidate_pairs_per_doc",
    ],
    "online_serving": ["feature_views.get_online_features.jobs", "dictionary.fit_dictionaries.jobs"],
}


def _run(script: str, *args: str, status: int = 0) -> dict:
    proc = subprocess.run(
        [sys.executable, script, *args], cwd=ROOT, capture_output=True, text=True, timeout=600, check=False
    )
    assert proc.returncode == status, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_benchmark_json_lists_the_metrics_run_emits():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in bench["workloads"]} == set(DRIVEN)


def test_inputs_and_truth_depend_only_on_the_seed(tmp_path):
    a = inputs.aliccp(np.random.default_rng(5), str(tmp_path / "a"), 500)
    b = inputs.aliccp(np.random.default_rng(5), str(tmp_path / "b"), 500)
    c = inputs.aliccp(np.random.default_rng(6), str(tmp_path / "c"), 500)
    assert a.gold_digest == b.gold_digest != c.gold_digest
    with open(a.skeleton_csv, "rb") as fa, open(b.skeleton_csv, "rb") as fb:
        assert fa.read() == fb.read()


def test_digest_ignores_row_order_and_sees_one_cell():
    cols = {"k": np.arange(100, dtype=np.int64), "v": np.arange(100, dtype=np.int64) % 7}
    perm = np.random.default_rng(0).permutation(100)
    assert inputs.digest(cols) == inputs.digest({k: v[perm] for k, v in cols.items()})
    changed = dict(cols, v=cols["v"].copy())
    changed["v"][3] += 1
    assert inputs.digest(changed) != inputs.digest(cols)


def test_missing_engine_exits_nonzero_without_a_result(tmp_path):
    bare = tmp_path / "bare"
    shutil.copytree(os.path.join(ROOT, "perfbench"), bare / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "online_serving", *TINY],
        cwd=bare, capture_output=True, text=True, timeout=120, check=False,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.parametrize("workload", DRIVEN)
def test_untraced_run_is_correct_and_emits_every_end_to_end_metric(workload):
    result = _run("perfbench/run.py", "--workload", workload, *TINY, "--trace", "0")
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: m["unit"] for k, m in result["metrics"].items()} == run.END_TO_END
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", DRIVEN)
def test_traced_run_emits_per_layer_metrics_and_counts_a_wrong_answer(workload):
    script = os.path.join("perfbench", "tests", "plant_wrong_answer.py")
    result = _run(script, "--workload", workload, *TINY, "--trace", "1", status=1)
    assert {k: m["unit"] for k, m in result["metrics"].items()} == run.per_layer_units()
    assert all(result["metrics"][name]["value"] > 0 for name in DRIVEN[workload])
    assert result["failed"] >= 1 and not result["correct"]
