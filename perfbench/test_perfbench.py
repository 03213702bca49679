"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end tests copy the checkout's program and benchmark into a
temporary directory and run the benchmark from a different directory,
with no PYTHONPATH, so nothing works by accident of the caller's cwd.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import calib  # noqa: E402
import run  # noqa: E402


def _copy_checkout(dest: str, with_program: bool = True) -> str:
    ignore = shutil.ignore_patterns("__pycache__", "*.pyc")
    shutil.copytree(HERE, os.path.join(dest, "perfbench"), ignore=ignore)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dest)
    if with_program:
        shutil.copytree(os.path.join(ROOT, "sim_spark"), os.path.join(dest, "sim_spark"), ignore=ignore)
    return dest


def _run(checkout: str, cwd: str, workload: str) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "0"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


def test_runs_from_another_cwd_and_counts_a_wrong_pin(tmp_path):
    """Python workers import sim_spark whatever the cwd (every decode key
    runs a mapInPandas over sim_spark functions), and a result whose
    hash differs from its pin is counted as failed."""
    checkout = _copy_checkout(str(tmp_path / "checkout"))
    pins_path = os.path.join(checkout, "perfbench", "pins.json")
    with open(pins_path) as f:
        pins = json.load(f)
    wrong = "multimodal_png_decode"
    pins["keys"][wrong]["sha256"] = "0" * 64
    with open(pins_path, "w") as f:
        json.dump(pins, f)
    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()

    p = _run(checkout, str(elsewhere), "decode")

    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] == 1, p.stderr[-3000:]
    assert result["attempted"] > len(run.WORKLOADS["decode"].keys)
    assert result["metrics"]["ok_share"]["value"] < 1.0
    record_path = re.search(r"full record in (\S+)", p.stderr).group(1)
    with open(os.path.join(str(elsewhere), record_path)) as f:
        record = json.load(f)
    assert list(record["problems"]) == [wrong]
    assert "oracle hash mismatch" in record["problems"][wrong]


def test_fails_without_the_program(tmp_path):
    checkout = _copy_checkout(str(tmp_path), with_program=False)
    p = _run(checkout, checkout, "relational")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def _plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"#\d+L?|plan_id=\d+", "#", plan)


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, ROOT)
    from sim_spark.session import get_spark

    s = get_spark("perfbench-test", cpus=2)
    yield s
    s.stop()


def test_calibration_plan_ignores_parent_session_confs(spark):
    before = [_plan(df) for df in calib.frames(calib.session(spark))]
    parent_before = [_plan(df) for df in calib.frames(spark)]
    saved = {k: spark.conf.get(k) for k in (
        "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")}
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        after = [_plan(df) for df in calib.frames(calib.session(spark))]
        parent_after = [_plan(df) for df in calib.frames(spark)]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert parent_before != parent_after  # the confs do shape this job's plan
    assert before == after


def test_tail_keeps_ten_samples_above():
    values = [float(i) for i in range(1, 41)]
    value, pct = run.tail(values)
    assert value == 30.0 and sum(v > value for v in values) == 10
    assert pct == 75.0
