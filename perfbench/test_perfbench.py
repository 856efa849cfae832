"""Smoke tests of the benchmark itself, on the scale-0.001 fixture tables.

    python3 -m pytest perfbench -q

Each workload runs once end to end; the tests check that every metric
named in BENCHMARK.json is printed with its unit, that a corrupted result
is counted as a failure, and that the timed action computes every output
column of the queries whose columns ``count()`` would prune.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SMOKE_DATA = ROOT / "perfbench" / "data" / "sf0.001"

# Runs run.main on the smoke tables; with ``corrupt``, every DuckDB answer
# loses its first row.
RUN = """
import sys
sys.path.insert(0, {root!r})
from perfbench import run, workloads
run.DATA_DIR = run.ROOT / {data!r}
if {corrupt!r}:
    answer = workloads.Workload.oracle_frame
    workloads.Workload.oracle_frame = lambda self, sql: answer(self, sql).iloc[1:]
sys.exit(run.main(sys.argv[1:]))
"""


def _run(workload: str, trace: int, *, corrupt: bool = False) -> tuple[dict, dict]:
    script = RUN.format(root=str(ROOT), data=str(SMOKE_DATA.relative_to(ROOT)), corrupt=corrupt)
    args = ["--workload", workload, "--seed", "1", "--seconds", "0", "--trace", str(trace)]
    res = subprocess.run([sys.executable, "-c", script, *args], cwd=ROOT, capture_output=True,
                         text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-3000:]
    context, result = (json.loads(line) for line in res.stdout.strip().splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return context, result


def _assert_metrics(result: dict, specs: list[dict]) -> None:
    assert set(result["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_emits_every_end_to_end_metric(workload):
    context, result = _run(workload, 0)
    assert result["correct"] and result["failed"] == 0, context["failures"]
    assert context["fail_ratio"] == 0
    _assert_metrics(result, SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0, m["name"]


def test_traced_run_emits_every_per_layer_metric():
    context, result = _run("lakehouse_rw", 1)
    assert result["correct"], context["failures"]
    _assert_metrics(result, SPEC["per_layer"])
    assert result["metrics"]["trace.max_unattributed_share"]["value"] < 0.1
    assert Path(context["trace_file"]).is_file()


def test_corrupted_result_raises_fail_ratio():
    context, result = _run("lakehouse_rw", 0, corrupt=True)
    assert not result["correct"]
    assert result["failed"] > 0
    assert context["fail_ratio"] > 0


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    from healthcare_etl_spark.session import get_spark

    session = get_spark(app_name="perfbench-tests", cpus=2)
    yield session
    session.stop()


@pytest.mark.parametrize("name", ["q_window_running_sum", "q_semantic_dedup"])
def test_timed_action_computes_every_column(spark, name):
    """A UDF over all output columns runs once per row under the timed
    action; under ``count()`` Catalyst prunes it and it never runs."""
    from pyspark.sql import functions as F

    from healthcare_etl_spark.plans.registry import get_registry
    from perfbench.harness import sink

    touched = spark.sparkContext.accumulator(0)

    def touch(*_cols):
        touched.add(1)
        return 1

    df = get_registry()[name].fn(spark, str(SMOKE_DATA))
    probe = df.withColumn("_touch", F.udf(touch, "int")(*df.columns))
    probe.count()
    assert touched.value == 0
    rows = sink(probe)
    assert rows > 0 and touched.value == rows
