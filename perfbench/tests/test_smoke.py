"""Tiny end-to-end runs of each workload (few ops, the sf0.001
fixtures), traced, plus the refusal to run outside a checkout.

Run from the repository root: ``python3 -m pytest perfbench/tests``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import batch, query, run
from perfbench.metrics import END_TO_END, PER_LAYER

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def tmp_root(tmp_path_factory):
    saved = dict(os.environ)
    tmp = str(tmp_path_factory.mktemp("perfbench"))
    run._pin_env(tmp, 2)
    yield tmp
    os.environ.clear()
    os.environ.update(saved)


@pytest.fixture
def small(monkeypatch):
    monkeypatch.setattr(batch, "BULK_RECORDS", 200)
    monkeypatch.setattr(query, "SF_DIR", query.SMOKE_DIR)


@pytest.mark.parametrize("workload", ["serve", "batch"])
def test_traced_smoke_run(workload, tmp_root, small, tmp_path):
    args = argparse.Namespace(workload=workload, seed=7, seconds=1.0, trace=1)
    metrics, detail, ops = run.measure(args, str(tmp_path), 2)
    assert ops.attempted > 0 and ops.failed == 0, ops.errors
    assert detail["ops_failed_ratio"] == 0
    assert set(metrics) == set(PER_LAYER)
    assert metrics["session.get_spark_s"][0] > 0
    assert metrics["harness.tracing_overhead_pct"][0] > 0
    busy = {
        "serve": ("store.append.p50_ms", "catalog.calls", "manifest.publish.calls", "spark.serve.append.jobs"),
        "batch": ("store.bulk_append.parquet_s", "store.space_amp", "streaming.source.batches",
                  "spark.batch.mirror.tasks", "suite.q_tpch1.exec_s", "suite.q_tpch1.jobs"),
    }[workload]
    for name in busy:
        assert metrics[name][0] > 0, name


def test_untraced_smoke_run_prints_end_to_end(tmp_root, small, tmp_path):
    args = argparse.Namespace(workload="serve", seed=3, seconds=1.0, trace=0)
    metrics, _detail, ops = run.measure(args, str(tmp_path), 2)
    assert ops.failed == 0, ops.errors
    assert set(metrics) == set(END_TO_END)
    assert all(v > 0 for v, _unit in metrics.values())


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
