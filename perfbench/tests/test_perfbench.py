"""Self-tests of the benchmark: tiny runs of every workload.

    python3 -m pytest perfbench/tests -q

Each run starts a local Spark session, so the module takes a few
minutes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import expect, run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
NAME = re.compile(r"[A-Za-z0-9_.-]+")
TINY = ["--seed", "3", "--seconds", "0", "--scale", "0.01"]


def _run(capsys, *argv) -> tuple[dict, dict]:
    assert run.main(list(argv)) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def test_spec_names_match_workloads_and_pattern():
    parts = [p for w in SPEC["workloads"] for p in w["name"].split("-")]
    assert sorted(parts) == sorted(WORKLOADS)
    for group in ("workloads", "end_to_end", "per_layer"):
        for m in SPEC[group]:
            assert NAME.fullmatch(m["name"]), m["name"]
    assert {m["name"] for m in SPEC["end_to_end"]} == {"setup_s", "first_pass_s", "rows_per_s", "peak_rss_mb"}


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_tiny_run_passes_its_checks(capsys, workload):
    record, out = _run(capsys, "--workload", workload, *TINY)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0, record["errors"]
    assert set(out["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in out["metrics"].values())
    assert record["failed_frac"] == {"value": 0.0, "unit": "frac"}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_traced_run_emits_every_layer_metric(capsys, workload):
    record, out = _run(capsys, "--workload", workload, *TINY, "--trace", "1")
    assert out["correct"], record["errors"]
    units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == units
    assert out["metrics"]["spark.tasks"]["value"] > 0
    for q in record["ops_median_s"]:
        assert out["metrics"][f"op.{q}_s"]["value"] > 0


def test_wrong_expectation_counts_as_failed(capsys, monkeypatch):
    good = expect.ann_topk
    monkeypatch.setattr(expect, "ann_topk", lambda n: {k: v + 1 for k, v in good(n).items()})
    record, out = _run(capsys, "--workload", "ann_topk", *TINY)
    assert not out["correct"]
    assert out["failed"] == out["attempted"]
    assert record["failed_frac"]["value"] > 0


def test_fails_without_the_library():
    # a directory holding only BENCHMARK.json and the benchmark, kept
    # inside the checkout's scratch directory
    bare = os.path.join(run.WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "geo_join", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, env=env, capture_output=True, text=True, timeout=120,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
