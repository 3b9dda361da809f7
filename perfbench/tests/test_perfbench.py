"""Tests of the benchmark itself (not part of the library suite).

Run from the repository root:

    python -m pytest perfbench/tests -q

Each case starts one benchmark process with a Spark session on small
inputs, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import uuid

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import proc  # noqa: E402


def bench(*args, cwd=ROOT):
    """Run the benchmark; every process it started must have ended
    when it exits."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), *args]
    tag = f"test-{os.getpid()}-{uuid.uuid4().hex}"
    env = {**os.environ, proc.TAG_VAR: tag}
    p = subprocess.run(
        cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=300
    )
    left = proc.tagged(tag)
    assert not left, f"processes outlived the run: {left}"
    lines = p.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return p, lines, result


def small(workload, seed, trace, *extra):
    return bench(
        "--workload", workload, "--seed", str(seed), "--seconds", "1",
        "--trace", str(trace), "--size", "small", *extra,
    )


def assert_shape(result):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)


@pytest.fixture(scope="module")
def clean_cdc():
    return small("cdc_steady", 3, 0)


def test_end_to_end_metrics_printed_with_units_and_samples(clean_cdc):
    p, lines, result = clean_cdc
    assert p.returncode == 0, p.stderr[-3000:]
    assert_shape(result)
    assert result["correct"] and result["failed"] == 0
    for m in SPEC["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got == {"value": got["value"], "unit": m["unit"]}
        assert got["value"] > 0
        pat = rf"^metric {re.escape(m['name'])} = \S+ {re.escape(m['unit'])} \(samples=\d+\)$"
        assert any(re.match(pat, ln) for ln in lines), m["name"]
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}


def test_traced_run_prints_every_per_layer_metric():
    p, lines, result = small("curate_neardup", 4, 1)
    assert p.returncode == 0, p.stderr[-3000:]
    assert_shape(result)
    assert result["correct"], lines
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["curation.run_s"] > 0
    assert m["spark.jobs"] > 0
    assert any(ln.startswith("span curation.run ") for ln in lines)
    assert m["job.update_table_s"] == 0 and m["stream.batch_s"] == 0


def test_traced_cdc_run_measures_the_streaming_layer():
    p, lines, result = small("cdc_steady", 5, 1)
    assert p.returncode == 0, p.stderr[-3000:]
    assert_shape(result)
    assert result["correct"], lines
    m = {k: v["value"] for k, v in result["metrics"].items()}
    for name in ("job.update_table_s", "updates.rows", "stream.batch_s",
                 "stream.batch_rows", "stream.docs_per_s",
                 "stream.compaction_s"):
        assert m[name] > 0, name
    assert 0.6 <= m["stream.dup_recall"] <= 1.0
    assert m["curation.run_s"] == 0
    assert any(ln.startswith("span stream.compaction ") for ln in lines)


def test_corrupted_target_row_fails_the_check(clean_cdc):
    p, lines, result = small("cdc_steady", 3, 0, "--corrupt-after", "1")
    assert p.returncode == 0, p.stderr[-3000:]
    assert_shape(result)
    assert not result["correct"]
    assert result["failed"] >= 1
    base = clean_cdc[2]
    assert (
        result["failed"] / result["attempted"]
        > base["failed"] / base["attempted"]
    )
    assert any("target lineitem differs" in ln for ln in lines)


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p, lines, result = bench(
        "--workload", "cdc_steady", "--seed", "1", "--seconds", "1",
        "--trace", "0", cwd=tmp_path,
    )
    assert p.returncode != 0
    assert result is None
