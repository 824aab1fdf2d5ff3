"""Smoke tests of the benchmark itself, at a tiny input scale.

    python3 -m pytest perfbench/tests -q

Each workload runs once end to end in a subprocess (about a minute each: a
fresh Spark JVM per run) and must print a result that matches the metric
lists of BENCHMARK.json.
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
sys.path[:0] = [BENCH, ROOT]

import corpus  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    CONTRACT = json.load(_f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=300, check=False)


def test_inputs_depend_only_on_seed():
    a, b = corpus.page_corpus(7, 50), corpus.page_corpus(7, 50)
    assert a["html"] == b["html"] and a["expected"] == b["expected"]
    assert corpus.page_corpus(8, 50)["html"] != a["html"]
    assert corpus.curate_docs(7, 200) == corpus.curate_docs(7, 200)


def test_pages_keep_the_flavor_mix():
    mix = corpus.page_properties(corpus.page_corpus(3, 5000))["flavor_mix"]
    assert set(mix) == {"clean", "empty", "ml", "pdf", "soup"}
    assert 0.7 < mix["clean"] < 0.85


def test_curate_corpus_plants_what_it_claims():
    props = corpus.curate_properties(corpus.curate_docs(3, 2000))
    assert props["rows"] == 2000
    assert 300 <= props["hosts"] <= 333
    assert 0.015 < props["exact_dup_share"] < 0.035


@pytest.mark.parametrize("workload,trace", [
    ("extract_pages", 1), ("curate", 1), ("extract_pages", 0)])
def test_run_prints_every_metric(workload, trace):
    proc = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds",
                "1", "--trace", str(trace), "--scale", "0.05")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    names = CONTRACT["per_layer" if trace else "end_to_end"]
    assert [*result["metrics"]] == [m["name"] for m in names]
    for m in names:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", "extract_pages", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
