"""The measurement rules: percentiles, open-loop lateness, span self
time, process-tree CPU, and the event-log fold."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import eventlog
from perfbench.harness import INF, OpenLoop, Ops, Span, Tracer, covered, median, percentile, self_times, tail_percentile, tree_cpu_s
from perfbench.metrics import END_TO_END, PER_LAYER


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_failed_ops_miss_every_limit():
    xs = [1.0] * 95 + [INF] * 5
    assert percentile(xs, 90) == 1.0
    assert percentile(xs, 99) == INF


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(list(range(100)))[0] == 90.0
    assert tail_percentile(list(range(1000)))[0] == 99.0
    assert tail_percentile(list(range(10_000)))[0] == 99.9
    assert tail_percentile(list(range(40)))[0] == 75.0
    assert tail_percentile(list(range(12)))[0] == 50.0
    q, v = tail_percentile(list(range(100)))
    assert sum(1 for x in range(100) if x > v) >= 10


def test_median():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 2, 3]) == 2.5


def test_ops_counts_and_checks():
    ops = Ops()
    ops.ok()
    assert ops.check(True, "fine")
    assert not ops.check(False, "broken")
    ops.fail("boom")
    assert (ops.attempted, ops.failed) == (4, 2)
    assert ops.errors == ["broken", "boom"]


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def now(self):
        return self.t

    def sleep(self, dt):
        self.t += dt


def test_open_loop_waits_when_early_and_reports_lateness():
    clk = FakeClock()
    loop = OpenLoop(rate_per_s=2.0, n_ops=4, t0=0.0)
    assert loop.due(3) == 1.5
    assert loop.wait_until_due(0, clk.now, clk.sleep) == 0.0
    assert loop.wait_until_due(1, clk.now, clk.sleep) == 0.0
    assert clk.t == 0.5
    clk.t = 1.8  # a stall: op 2 was due at 1.0
    assert loop.wait_until_due(2, clk.now, clk.sleep) == pytest.approx(0.8)
    assert clk.t == 1.8  # late ops are sent at once
    with pytest.raises(ValueError):
        OpenLoop(0, 1)


def test_covered_merges_overlaps():
    assert covered([]) == 0
    assert covered([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_self_time_subtracts_children_once():
    spans = [
        Span("root", 0.0, 10.0, None, 0, 0),
        Span("a", 1.0, 4.0, 0, 0, 1),
        Span("b", 3.0, 5.0, 0, 0, 2),  # overlaps a: covered once
        Span("a.x", 1.0, 2.0, 1, 0, 3),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(6.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)


def test_tracer_nests_spans_and_shares_op_id():
    tr = Tracer(True)
    tr.wrap("outer", tr.wrap("inner", lambda: None))()
    tr.wrap("next", lambda: None)()
    outer, inner, nxt = (tr.by_name(n)[0] for n in ("outer", "inner", "next"))
    assert inner.parent == outer.sid and inner.op == outer.op
    assert nxt.parent is None and nxt.op != outer.op
    off = Tracer(False)
    off.wrap("x", lambda: off.count("c"))()
    assert off.spans == [] and off.counts == {}


def _ev(**kw):
    return json.dumps(kw)


CANNED = [
    _ev(Event="SparkListenerApplicationStart", **{"App ID": "app-1"}),
    _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1],
        "Properties": {"spark.jobGroup.id": "serve.append"}}),
    _ev(Event="SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 0},
        "Properties": {"spark.jobGroup.id": "serve.append"}}),
    _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
        "Executor Run Time": 1500, "Executor CPU Time": 1_000_000_000,
        "Memory Bytes Spilled": 10, "Disk Bytes Spilled": 5,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}}),
    _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": {
        "Executor Run Time": 500, "Executor CPU Time": 250_000_000}}),
    _ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [2],
        "Properties": {"spark.jobGroup.id": "run-uuid"}}),
    _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {"Executor Run Time": 10}}),
    _ev(Event="SparkListenerJobStart", **{"Job ID": 2, "Stage IDs": [3], "Properties": {}}),
    _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 3, "Task Metrics": {"Executor Run Time": 99}}),
    '{"Event": "SparkListenerTaskEnd", "Stage',  # cut mid-line
]


BURN = """
import sys, time
t = time.process_time()
while time.process_time() - t < 0.3:
    pass
sys.stdout.write("x")
sys.stdout.flush()
time.sleep(30)
"""


def test_tree_cpu_counts_live_children():
    before = tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", BURN], stdout=subprocess.PIPE)
    try:
        child.stdout.read(1)  # it has burnt its CPU and is still running
        during = tree_cpu_s()
    finally:
        child.kill()
        child.wait()
    assert during - before >= 0.25
    assert tree_cpu_s(child.pid) == 0.0  # an exited process counts nothing


def test_eventlog_fold_per_group():
    out = eventlog.fold(CANNED, aliases={"run-uuid": "batch.mirror"})
    a = out["serve.append"]
    assert a["jobs"] == 1 and a["tasks"] == 2
    assert a["exec_run_s"] == pytest.approx(2.0)
    assert a["exec_cpu_s"] == pytest.approx(1.25)
    assert a["shuffle_write_bytes"] == 100 and a["spill_bytes"] == 15
    assert out["batch.mirror"]["tasks"] == 1
    assert set(out) == {"serve.append", "batch.mirror"}  # untagged jobs are dropped


def test_eventlog_fold_dir_prefers_finished_log(tmp_path):
    (tmp_path / "app-1.inprogress").write_text("\n".join(CANNED[:2]))
    assert eventlog.fold_dir(str(tmp_path), "app-1")["serve.append"]["jobs"] == 1
    with pytest.raises(FileNotFoundError):
        eventlog.fold_dir(str(tmp_path), "app-2")


def test_benchmark_json_matches_metric_lists():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["serve", "batch"]
