"""Tests of the benchmark itself, in its fast mode (sf0.001 inputs, a 1x
medallion source, one pass).  Run from the checkout root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
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

import datagen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--fast", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return proc, (json.loads(lines[-1]) if lines else None)


_CACHE: dict = {}


def result(workload: str, trace: int, *extra: str) -> dict:
    key = (workload, trace, extra)
    if key not in _CACHE:
        proc, out = _run(workload, trace, *extra)
        assert proc.returncode == 0, proc.stderr[-3000:]
        _CACHE[key] = out
    return _CACHE[key]


def test_medallion_inputs_are_byte_identical_per_seed(tmp_path):
    star = datagen.star_tables(str(tmp_path / "sf"), 0.001)
    orders = os.path.join(star, "orders.parquet")
    a = datagen.medallion_source(orders, str(tmp_path / "a"), 5, 2, 3, 100, 10)
    b = datagen.medallion_source(orders, str(tmp_path / "b"), 5, 2, 3, 100, 10)
    c = datagen.medallion_source(orders, str(tmp_path / "c"), 6, 2, 3, 100, 10)
    for x, y in zip([a["source"], *a["batches"]], [b["source"], *b["batches"]]):
        assert filecmp.cmp(x, y, shallow=False), x
    assert not filecmp.cmp(a["source"], c["source"], shallow=False)


def test_star_tables_are_byte_identical(tmp_path):
    a = datagen.star_tables(str(tmp_path / "a"), 0.001)
    b = datagen.star_tables(str(tmp_path / "b"), 0.001)
    for t in datagen.TABLES:
        name = f"{t}.parquet"
        assert filecmp.cmp(os.path.join(a, name), os.path.join(b, name),
                           shallow=False), name


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_end_to_end_metric_is_printed_with_its_unit(workload):
    out = result(workload, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_layer_metric_is_printed_with_its_unit(workload):
    out = result(workload, 1)
    assert out["correct"] and out["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want


def test_build_jobs_match_the_measured_dedup_round_trips():
    # 12 (q_training_pipeline) + 10 (q_curation_pipeline_v2)
    # + 2 (q_ann_bruteforce) eager jobs while the plans are built
    assert result("llm_curation", 1)["metrics"]["queries.build_jobs"]["value"] == 24


def test_star_sql_builds_its_plans_without_jobs():
    out = result("star_sql", 1)
    assert out["correct"]
    assert out["metrics"]["queries.build_jobs"]["value"] == 0
    assert out["metrics"]["dedup.jobs"]["value"] == 0


def test_medallion_trace_sees_the_table_layer():
    m = {k: v["value"] for k, v in result("medallion_upsert", 1)["metrics"].items()}
    assert m["table.commits"] > 0 and m["table.merge_s"] > 0
    assert m["pipeline.rows_in"] > m["pipeline.rows_out"] > 0


def test_a_corrupted_query_result_is_caught():
    out = result("llm_curation", 0, "--corrupt", "q_dedup_exact")
    assert not out["correct"]
    assert out["failed"] >= 1
    assert out["metrics"]["ok_ratio"]["value"] < 1.0


def test_without_the_package_it_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc, out = _run("llm_curation", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert out is None
