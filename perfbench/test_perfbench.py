"""The benchmark's own tests.  From the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

They run the benchmark on its tiny inputs (``--scale tiny``: the sf0.001
base tables, lineitem = 6,000 rows), so each run costs one JVM start.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def assert_metrics(res: dict, declared: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert set(res["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_emits_every_end_to_end_metric(workload):
    rec, res = result(bench("--workload", workload, "--seed", "3", "--trace", "0",
                            "--scale", "tiny"))
    assert_metrics(res, SPEC["end_to_end"])
    assert res["correct"] and res["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        assert res["metrics"][m["name"]]["value"] > 0, m["name"]
    assert rec["host"]["nproc"] >= 1 and rec["inputs"]["rows"] > 0


def test_tiny_traced_run_emits_every_per_layer_metric():
    rec, res = result(bench("--workload", "export_etl", "--seed", "3", "--trace", "1",
                            "--scale", "tiny"))
    assert_metrics(res, SPEC["per_layer"])
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["cli.cold_s"] > 0 and m["cli.jobs"] >= 1
    assert m["sinks.output_rows"] > 0 and m["sinks.tasks"] > 0
    assert m["export.export_s"] >= m["sinks.write_output_s"] > 0
    # the known failing pairs fail on every seed, and only they do
    assert {f.split(":")[0] for f in rec["failures"]} == {
        "parquet->avro", "parquet->arrow", "csv->arrow", "sqlite->avro"}
    # every op of the traced pass carries its own layer counters
    assert all(op["layers"] for op in rec["ops"])
    # driver-side readers: the arrow reader loads the whole file, SQLite
    # only the pushed-down result; the distributed scans load nothing
    for op in rec["ops"]:
        source = op["op"].split("->")[0]
        rows = op["layers"]["sources.driver_rows"]
        if source == "arrow":
            assert rows == rec["inputs"]["rows"]
        elif source == "sqlite":
            assert 0 < rows < rec["inputs"]["rows"] and op["rows"] in (None, rows)
        else:
            assert rows == 0


def test_injected_failures_are_counted_and_the_run_goes_on():
    proc = bench("--workload", "export_etl", "--seed", "3", "--trace", "0",
                 "--scale", "tiny", "--inject-raise", "sqlite->csv",
                 "--inject-corrupt", "arrow->parquet")
    rec, res = result(proc)
    assert res["attempted"] == 24  # every op ran, none dropped
    errors = {f.split(": ", 1)[0]: f for f in rec["failures"]}
    assert "injected failure" in errors["sqlite->csv"]
    assert errors["arrow->parquet"].split(": ")[1] == "check"
    assert res["failed"] == len(rec["failures"]) >= 2
    assert res["correct"] is False  # a corrupted output is a wrong answer
    ok = res["metrics"]["ok_ratio"]["value"]
    assert ok == pytest.approx((res["attempted"] - res["failed"]) / res["attempted"])


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "export_etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_tail_percentile_keeps_ten_samples_beyond():
    import run

    pct, v = run.tail([float(i) for i in range(1, 41)])
    assert v == 30.0 and pct == 75.0
    assert run.tail([float(i) for i in range(1, 12)]) == (100.0, 11.0)


def test_driver_floor_counts_only_uncovered_span_time():
    import spans

    span = [{"op": "0:q", "name": "sinks", "parent": None, "t0": 0.0, "t1": 1000.0}]
    log = {"jobs": {0: {"t0": 10.0, "group": "pb|0:q|sinks"}},
           "stage_job": {0: 0, 1: 0},
           "stages": {0: dict(_stage(), t0=100.0, t1=400.0),
                      1: dict(_stage(), t0=300.0, t1=600.0)}}
    d = spans.fold(log, span)["0:q"]
    assert d["sinks.driver_floor_s"] == pytest.approx(0.5)
    assert d["sinks.commit_s"] == pytest.approx(0.4)
    assert d["sinks.jobs"] == 1 and d["sinks.stages"] == 2


def _stage() -> dict:
    keys = ("tasks", "failed_tasks", "executor_run_s", "executor_cpu_s", "gc_s",
            "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_fetch_wait_s",
            "spill_bytes", "python_bytes_sent", "python_bytes_received",
            "input_rows", "input_bytes")
    return dict.fromkeys(keys, 0)
