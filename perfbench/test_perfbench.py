"""The benchmark's own tests, at a tiny size. Each runs the command line in a
fresh process, as the benchmark is run for real.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from perfbench import layers  # noqa: E402
from perfbench.run import END_TO_END  # noqa: E402

TINY = "0.5"


def run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", TINY, "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0, lines[-2:] if lines else proc.returncode
    report = json.loads(lines[-2].split("perfbench report: ", 1)[1])
    return report, json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["ingest_dense", "sparse_upsert_read", "curation_queries"])
def test_smoke(workload):
    report, result = run(workload, 11, 0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == dict(END_TO_END)
    assert report["wrappers_removed"] is True

    report, result = run(workload, 11, 1)
    assert result["correct"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == dict(layers.catalog())
    assert report["wrappers_removed"] is True
    if workload != "curation_queries":
        split = report["batch_split"]
        assert split
        for row in split:
            parts = (
                row["pre_merge_s"] + row["merge_self_s"] + sum(row["parts"].values())
                + row["post_merge_s"]
            )
            assert abs(parts - row["batch_s"]) < 1e-6, row
            assert "write_data_files_s" in row["parts"] and "commit_s" in row["parts"]


@pytest.mark.parametrize("workload", ["ingest_dense", "sparse_upsert_read"])
def test_counts_repeat_for_a_seed_and_change_with_it(workload):
    a, _ = run(workload, 21, 1)
    b, _ = run(workload, 21, 1)
    c, _ = run(workload, 22, 0)
    assert a["counters"] == b["counters"]
    assert a["counters"]["input_digest"] != c["counters"]["input_digest"]
