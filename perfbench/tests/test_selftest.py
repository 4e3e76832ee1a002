"""Self-test of the benchmark: one short run of each workload, untraced and
traced, at the benchmark's own scale (sf 0.001).

    python3 -m pytest perfbench/tests -q

Each run starts its own Spark session, so the whole file takes a few
minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import defaultdict

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path[:0] = [os.path.join(ROOT, "perfbench"), ROOT]

from layers import SECONDS as LAYER_SECONDS  # noqa: E402
from layers import UNITS as PER_LAYER_UNITS  # noqa: E402
from run import END_TO_END_UNITS, WALL_UNITS  # noqa: E402

WORKLOADS = ["medallion", "lake_queries", "curation"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def _result(proc: subprocess.CompletedProcess) -> tuple[list[str], dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    record = json.loads(lines[-2])["record"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, record["failures"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    return lines, result, record


def test_benchmark_json_names_match_the_runner():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == PER_LAYER_UNITS
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    lines, result, record = _result(_run(workload, 0))
    assert record["error_rate"] == 0.0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == END_TO_END_UNITS
    for name, unit in {**END_TO_END_UNITS, **WALL_UNITS}.items():
        assert record["end_to_end"][name] > 0
        assert any(line.startswith(f"{name} ") and line.endswith(f" {unit}") for line in lines)
    assert record["processes_left"] == []


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_every_layer(workload):
    _, result, record = _result(_run(workload, 1))
    assert {k: v["unit"] for k, v in result["metrics"].items()} == PER_LAYER_UNITS
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    if workload == "medallion":
        assert all(metrics[f"medallion.{h}_share"] > 0 for h in record["per_query"])
        assert metrics["sinks.write_calls"] > 0 and metrics["sinks.bytes_written"] > 0
        assert metrics["stored_bytes_per_input_byte"] > 1
    else:
        assert metrics["suite.build_share"] > 0 and metrics["suite.build_py4j_calls"] > 0
    assert metrics["catalyst.plan_s"] > 0 and metrics["sources.load_calls"] > 0
    assert metrics["exec.jobs"] > 0 and metrics["exec.tasks"] > 0
    assert set(record["layer_seconds"]) == set(LAYER_SECONDS)

    with open(os.path.join(ROOT, record["record_path"])) as fh:
        spans = json.load(fh)["spans"]
    assert spans
    children = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]] += s["t1"] - s["t0"]
    for s in spans:
        assert children[s["sid"]] <= s["t1"] - s["t0"] + 1e-9, s
        if s["parent"] is not None:
            assert s["req"].startswith(spans[s["parent"]]["req"]), s


def test_refuses_to_run_without_the_engine():
    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
        ignore=shutil.ignore_patterns("__pycache__", "tests"),
    )
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = _run("medallion", 0, cwd=bare)
        assert proc.returncode != 0
        assert '"metrics"' not in proc.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def test_checker_flags_a_wrong_result_and_ends_when_closed(tmp_path, monkeypatch):
    import checks
    import datagen
    import duckdb
    from datalake_nba_dmc_spark.sources import TABLES
    from datalake_nba_dmc_spark.suite import load_all

    data = str(tmp_path / "data")
    datagen.generate(data, 0.001, 42)
    monkeypatch.setenv("PYTHONPATH", ROOT)
    name = "tpch_q1_pricing_summary"
    oracle = load_all()[name].oracle
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t + '.parquet')}'")
    right = con.execute(oracle).df()
    wrong = right.copy()
    wrong.iloc[0, -1] = wrong.iloc[0, -1] + 1

    checker = checks.Checker(data)
    try:
        assert checker.call("check_query", name, oracle, right) is None
        assert checker.call("check_query", name, oracle, wrong).startswith("hash ")
        assert checker.call("check_query", name, oracle, right.iloc[1:]).startswith("rows ")
    finally:
        checker.close()
    assert checker.proc.returncode == 0
